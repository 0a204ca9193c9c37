#!/usr/bin/env python3
"""Diff two `graft.Explain` plan dumps, query by query, after normalising
what changes from run to run.

Usage:
    sbt "runMain graft.Explain q62_ann_ivf q104_pq_adc" > before.txt
    # ... change the code, then dump the same queries again ...
    sbt "runMain graft.Explain q62_ann_ivf q104_pq_adc" > after.txt
    python3 tools/plandiff.py before.txt after.txt

Each dump is split at its `========== <query> ==========` headers; Spark's
log lines and sbt's own lines are dropped. Before comparing, every line is
normalised:

    expression ids       vec_id#123L          -> vec_id#N
    exchange plan ids    [plan_id=2186]       -> [plan_id=N]
    RDD ids              MapPartitionsRDD[12] -> MapPartitionsRDD[N]
    lambda variables     x_17                 -> x_N
    source labels        Similarity.scala:412 -> Similarity.scala:N
    identity hashes      [J@720da195          -> [J@HASH
    temp-dir suffixes    /tmp/graft_pqidx1497 -> /tmp/graft_pqidxN

Prints a unified diff per query that differs and a one-line summary; exits
1 when any query differs or is missing from one side, else 0.

Caveat: the column order of an `Expand` (Spark's rewrite of several
distinct aggregates, e.g. q50_cardinality and q265_profile) follows hash
order over expression ids, which depends on everything the JVM planned
before it. Those plans can differ between two dumps of unchanged code when
the dumps hold different query lists; compare them from a run of those
queries alone on both sides.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
NOISE = [
    re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (INFO|WARN|ERROR|DEBUG) "),
    re.compile(r"^\[(info|success|warn|error)\] "),
    re.compile(r"^Using Spark's default log4j profile"),
]
RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@HASH"),
    (re.compile(r"(/[A-Za-z_]+?)\d{6,}(?=/|\]|\s|$)"), r"\1N"),
]
EXPAND_ORDER = ("q50_cardinality", "q265_profile")


def normalise(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line.rstrip()


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not any(p.match(line) for p in NOISE):
                out[name].append(normalise(line))
    # trailing blank lines carry no plan
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    a, b = sections(args.before), sections(args.after)
    names = sorted(set(a) | set(b))
    changed = []
    for n in names:
        if n not in a or n not in b:
            print(f"=== {n}: only in {'after' if n not in a else 'before'}")
            changed.append(n)
            continue
        if a[n] == b[n]:
            continue
        changed.append(n)
        print(f"=== {n}")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a[n], b[n], "before", "after", n=2, lineterm=""))
    print(f"plandiff: {len(names)} queries, {len(changed)} differ"
          + (f": {' '.join(changed)}" if changed else ""))
    present = [n for n in EXPAND_ORDER if n in names]
    if present:
        print("plandiff: caveat — the Expand column order of "
              f"{', '.join(present)} follows expression-id hash order; "
              "compare those from a run of them alone on both sides")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
