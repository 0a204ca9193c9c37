#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify's parquet
dumps against DuckDB running oracle_sql.json on the same sf directory.
Every key of oracle_sql.json must have an output directory; one without
(the query threw in Verify) counts as NO OUTPUT, a FAIL.
Usage: python3 tools/check.py /tmp/verify_out /root/testdata/sf0.01
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for stable compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df

def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    qdirs = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
    n_pass = n_fail = n_rowsonly = 0
    # a query that threw in Verify leaves no directory: it still counts
    for q in sorted(set(oracle) - set(qdirs)):
        print(f"{q}: NO OUTPUT"); n_fail += 1
    for q in qdirs:
        files = glob.glob(os.path.join(outdir, q, "*.parquet"))
        if not files:
            print(f"{q}: NO OUTPUT"); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if q not in oracle:
            if len(got) == 0:
                print(f"{q}: rows-only EMPTY -> FAIL")
                n_fail += 1
            else:
                print(f"{q}: rows-only ({len(got)} rows)")
                n_rowsonly += 1
            continue
        try:
            exp = con.sql(oracle[q]).df()
        except Exception as e:
            print(f"{q}: ORACLE SQL ERROR: {e}"); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"{q}: SCHEMA MISMATCH spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"{q}: ROWCOUNT MISMATCH spark={len(g)} duck={len(e)}")
            n_fail += 1; continue
        for c in g.columns:
            if g[c].dtype != e[c].dtype:
                print(f"{q}: dtype note: col {c} spark={g[c].dtype} duck={e[c].dtype}")
        ok = True
        for c in g.columns:
            a, b = g[c], e[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                aa = a.astype(float).to_numpy(); bb = b.astype(float).to_numpy()
                same = (np.isnan(aa) & np.isnan(bb)) | (aa == bb)
                exact = bool(same.all())
                close = bool(np.allclose(np.nan_to_num(aa), np.nan_to_num(bb),
                                         rtol=1e-9, atol=1e-9))
                if not exact:
                    bad = int((~same).sum())
                    print(f"{q}: col {c}: {bad} inexact values "
                          f"({'close' if close else 'FAR'}) "
                          f"e.g. {aa[~same][:3]} vs {bb[~same][:3]}")
                    ok = ok and close  # tolerate close-but-not-bitwise, flag it
            else:
                if not a.astype(object).equals(b.astype(object)):
                    neq = (a.astype(object) != b.astype(object))
                    print(f"{q}: col {c}: {int(neq.sum())} mismatches "
                          f"e.g. {a[neq][:3].tolist()} vs {b[neq][:3].tolist()}")
                    ok = False
        if ok:
            print(f"{q}: OK ({len(g)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"\nPASS={n_pass} FAIL={n_fail} ROWS_ONLY={n_rowsonly}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
