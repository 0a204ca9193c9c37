package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Fixtures and oracle CTE helpers shared by two or more query families. */
private[graft] object QueryFixtures {

  /** The sf table `name` under `dir`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** All event queries treat `ts` as int64 nanoseconds since the epoch;
    * ordering and gap arithmetic are identical to timestamp semantics.
    *
    * The physical encoding of `ts` has varied across testdata generations:
    * TIMESTAMP(NANOS) (readable only as int64 under the legacy flag) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false). Normalize every encoding to
    * int64 nanos here so the 5 events-family queries are encoding-agnostic —
    * the DuckDB oracles already are (they use `epoch_ns(ts)`).
    * `inferTimestampNTZ=false` makes Spark read annotated-NTZ micros as
    * plain TIMESTAMP whose internal value IS the stored epoch-micros, so
    * `unix_micros` recovers it exactly, independent of session time zone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw // TIMESTAMP(NANOS) legacy path
      case _: org.apache.spark.sql.types.TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case _ => // TIMESTAMP_NTZ fallback; sessions here run with UTC session tz
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }

  /** One full dedup "pass" as a reusable CTE chain over `src` (a CTE of
    * (doc_id, text)), name-suffixed with `sfx` so two passes compose in a
    * single statement (q96). Mirrors Dedup.dedupCorpus exactly:
    * exact-hash min-id keep, the engine's minhash arithmetic, banded LSH
    * with the 2..1000 combined bucket cap, bigram-Jaccard ≥ 0.6 removal
    * of the larger id. Ends with `out$sfx` = surviving (doc_id, text).
    */
  def dedupPassSql(sfx: String, src: String): String =
    raw"""keep$sfx AS (
      |  SELECT min(doc_id) AS doc_id FROM $src WHERE text IS NOT NULL
      |  GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      |  UNION ALL SELECT doc_id FROM $src WHERE text IS NULL),
      |surv$sfx AS (SELECT a.doc_id, a.text FROM $src a JOIN keep$sfx k ON k.doc_id = a.doc_id),
      |tk$sfx AS (SELECT doc_id,
      |  CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
      |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
      |  FROM surv$sfx),
      |sh$sfx AS (SELECT doc_id,
      |  CASE WHEN len(w) = 0 THEN ['']
      |       WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
      |       ELSE list_transform(range(1, len(w)), j -> w[j] || ' ' || w[j+1]) END AS sh
      |  FROM tk$sfx),
      |h$sfx AS (SELECT doc_id, list_transform(sh, s -> list_reduce(
      |    list_prepend(0::BIGINT, list_transform(regexp_extract_all(s, '.'),
      |      c -> ascii(c)::BIGINT)),
      |    (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS hs FROM sh$sfx),
      |sig$sfx AS (SELECT doc_id, i,
      |  list_min(list_transform(hs, v ->
      |    (((2 * i + 1) * 104729) % 1000000007 * v + (i * 12582917 + 7)) % 1000000007)) AS mh
      |  FROM h$sfx CROSS JOIN range(16) t(i)),
      |band$sfx AS (SELECT doc_id, i // 4 AS b, string_agg(mh::VARCHAR, ',' ORDER BY i) AS key
      |  FROM sig$sfx GROUP BY doc_id, i // 4),
      |ok$sfx AS (SELECT b, key FROM band$sfx GROUP BY b, key
      |  HAVING count(*) BETWEEN 2 AND 1000),
      |pairs$sfx AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
      |  FROM band$sfx x JOIN band$sfx y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
      |  JOIN ok$sfx ON ok$sfx.b = x.b AND ok$sfx.key = x.key),
      |ws$sfx AS (SELECT s.doc_id,
      |  CASE WHEN d.text IS NULL THEN NULL ELSE list_distinct(s.sh) END AS ws
      |  FROM sh$sfx s JOIN surv$sfx d ON d.doc_id = s.doc_id),
      |jc$sfx AS (SELECT p.id1, p.id2,
      |  len(list_intersect(x.ws, y.ws)) AS i2,
      |  len(list_distinct(list_concat(x.ws, y.ws))) AS u2
      |  FROM pairs$sfx p JOIN ws$sfx x ON x.doc_id = p.id1 JOIN ws$sfx y ON y.doc_id = p.id2),
      |removed$sfx AS (SELECT DISTINCT id2 FROM jc$sfx WHERE i2 * 1.0 / u2 >= 0.6),
      |out$sfx AS (SELECT s.doc_id, s.text FROM surv$sfx s
      |  WHERE NOT EXISTS (SELECT 1 FROM removed$sfx r WHERE r.id2 = s.doc_id))""".stripMargin

  /** One BM25 oracle, referenced by BOTH q75 (direct) and q79 (through
    * the inverted index) — a one-sided edit can't break their invariant.
    */
  val Bm25OracleSql: String =
    """WITH base AS (
        |  SELECT doc_id, trim(lower(text)) AS lt FROM documents
        |  WHERE text IS NOT NULL),
        |dls AS (SELECT doc_id, lt,
        |  CASE WHEN lt = '' THEN 0
        |       ELSE len(regexp_split_to_array(lt, '\s+')) END AS dl
        |  FROM base),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        |toks AS (SELECT doc_id, dl,
        |  unnest(regexp_split_to_array(lt, '\s+')) AS term FROM dls),
        |hits AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1)
        |SELECT h.doc_id,
        |  round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1) /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25,
        |  count(*) AS n_terms
        |FROM hits h CROSS JOIN stats JOIN dfreq USING (term)
        |GROUP BY 1""".stripMargin

  /** One unrolled BPE training step for the q151 oracle: pair counts over
    * the bracket-encoded vocabulary (lateral range over the symbol list,
    * 1-based, overlapping adjacent pairs), deterministic argmax, literal
    * left-to-right replace — the exact recipe of `Bpe.train`.
    */
  def bpeStepSql(k: Int): String =
    raw"""p$k AS (SELECT s[i] AS a, s[i + 1] AS b,
       |    CAST(sum(freq) AS BIGINT) AS c
       |  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i
       |    FROM (SELECT freq, regexp_extract_all(enc, '<([^>]*)>', 1) AS s
       |      FROM e${k - 1}))
       |  GROUP BY 1, 2),
       |b$k AS (SELECT a, b, c FROM p$k ORDER BY c DESC, a ASC, b ASC
       |  LIMIT 1),
       |e$k AS (SELECT freq,
       |    replace(enc, '<' || b$k.a || '><' || b$k.b || '>',
       |      '<' || b$k.a || b$k.b || '>') AS enc
       |  FROM e${k - 1} CROSS JOIN b$k)""".stripMargin

  /** The BPE training CTE chain (word counts → e0 → b1/e1 … b_n/e_n),
    * shared by q151 and q158.
    */
  def bpeCtes(nMerges: Int): String = {
    val steps = (1 to nMerges).map(bpeStepSql).mkString(",\n")
    raw"""toks AS (SELECT
       |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY word),
       |e0 AS (SELECT freq, regexp_replace(word, '(.)', '<\1>', 'g') AS enc
       |  FROM w0),
       |$steps""".stripMargin
  }

  /** The SimHash recompute CTE chain (tk → th → bits → sim), shared by
    * q36, the q170 Hamming-ball pair oracle, and (over the exact-tier
    * survivors) the q177 tiered-dedup oracle. Blank docs are excluded
    * at tk (they have no tokens to vote). `src` names the source
    * relation (must have doc_id, text).
    */
  def simhashCtes(src: String = "documents"): String =
    raw"""tk AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
       |  FROM $src WHERE coalesce(trim(text), '') <> ''),
       |th AS (SELECT doc_id,
       |  ((1299709 * h0 + 31) % 1000000007) * 1073741824
       |    + ((104729 * h0 + 7) % 1000000007) AS h
       |  FROM (SELECT doc_id, list_reduce(
       |    list_prepend(0::BIGINT, list_transform(regexp_extract_all(tok, '.'),
       |      c -> ascii(c)::BIGINT)),
       |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS h0 FROM tk)),
       |bits AS (SELECT doc_id, b,
       |  sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN range(60) t(b) GROUP BY 1, 2),
       |sim AS (SELECT doc_id,
       |  sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
       |  FROM bits GROUP BY 1)""".stripMargin

  /** The engine-wide polynomial hash as a DuckDB expression over `s`. */
  def phSql(s: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
    s"list_transform(regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT))," +
    s" (acc, ch) -> (acc * 31 + ch) % 1000000007)"

  /** Shared CTE chain for q155/q156: positioned tokens with truncated
    * context for both relations, the three LM count tables from the
    * doc_id % 3 <> 0 split, the five-way backoff join, and per-doc
    * `stats` — `NgramLm.backoffDocStats` replayed, all integer (DuckDB
    * sum() is HUGEINT, hence the casts).
    */
  def backoffLmCtes: String =
    raw"""lmbase AS (SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |    AND doc_id % 3 <> 0),
       |abase AS (SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |lmp AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w) + 1), i -> i - 1)) AS pos,
       |    unnest(w) AS w0,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      i -> CASE WHEN i >= 2 THEN w[i - 1] END)) AS w1,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      i -> CASE WHEN i >= 3 THEN w[i - 2] END)) AS w2
       |  FROM lmbase),
       |p AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w) + 1), i -> i - 1)) AS pos,
       |    unnest(w) AS w0,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      i -> CASE WHEN i >= 2 THEN w[i - 1] END)) AS w1,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      i -> CASE WHEN i >= 3 THEN w[i - 2] END)) AS w2
       |  FROM abase),
       |tri AS (SELECT w2, w1, w0, CAST(count(*) AS BIGINT) AS c3 FROM lmp
       |  WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
       |bi AS (SELECT w1, w0, CAST(count(*) AS BIGINT) AS c2 FROM lmp
       |  WHERE w1 IS NOT NULL GROUP BY 1, 2),
       |uni AS (SELECT w0, CAST(count(*) AS BIGINT) AS c1 FROM lmp
       |  GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lmp),
       |j AS (SELECT p.doc_id, p.pos,
       |    CASE WHEN p.pos >= 2 AND t.c3 IS NOT NULL THEN 3
       |         WHEN p.pos >= 1 AND b.c2 IS NOT NULL THEN 2
       |         ELSE 1 END AS ord,
       |    CASE WHEN p.pos >= 2 AND t.c3 IS NOT NULL THEN t.c3
       |         WHEN p.pos >= 1 AND b.c2 IS NOT NULL THEN b.c2
       |         ELSE coalesce(u.c1, 0) END AS num,
       |    CASE WHEN p.pos >= 2 AND t.c3 IS NOT NULL THEN bc.c2
       |         WHEN p.pos >= 1 AND b.c2 IS NOT NULL THEN uc.c1
       |         ELSE tot.n END AS den
       |  FROM p
       |  LEFT JOIN tri t ON t.w2 = p.w2 AND t.w1 = p.w1 AND t.w0 = p.w0
       |  LEFT JOIN bi b ON b.w1 = p.w1 AND b.w0 = p.w0
       |  LEFT JOIN uni u ON u.w0 = p.w0
       |  LEFT JOIN bi bc ON bc.w1 = p.w2 AND bc.w0 = p.w1
       |  LEFT JOIN uni uc ON uc.w0 = p.w1
       |  CROSS JOIN tot),
       |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN ord = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tri,
       |  CAST(sum(CASE WHEN ord = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bi,
       |  CAST(sum(CASE WHEN ord = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_uni,
       |  CAST(sum(num) AS BIGINT) AS sum_num,
       |  CAST(sum(den) AS BIGINT) AS sum_den
       |FROM j GROUP BY doc_id)""".stripMargin

  /** The q186 URL chain (u0 → nf → sa → lo → p1 → qp → pl → tr →
    * canon → hosts → sfxr → rules → hm → rm → best → reg) — shared by
    * the q186 canonicalization oracle and the q189 domain-rank oracle.
    * Replays `TextFns.urlCanonicalize` (userinfo-tolerant port strip,
    * query-anchored tracking removal, parameter sort via
    * `list_filter`/`list_sort`) and the PSL-rule `registeredDomains`
    * (plain/wildcard/exception forms, exception > most-labels
    * precedence) pattern-for-pattern under RE2/DuckDB.
    */
  def urlChainCtes: String =
    raw"""u0 AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
         |    (CASE WHEN doc_id % 11 = 5 THEN 'User:Pw@' ELSE '' END) ||
         |    (CASE WHEN doc_id % 10 = 3
         |          THEN 'x' || (doc_id % 20) || '.Blog.CK'
         |          WHEN doc_id % 10 = 7
         |          THEN (CASE WHEN doc_id % 20 = 7 THEN 'WWW.CK'
         |                ELSE 'Sub.WWW.CK' END)
         |          WHEN doc_id % 5 = 0
         |          THEN 'Sub.site' || (doc_id % 20) || '.CO.UK'
         |          ELSE 'WWW.Site' || (doc_id % 20) || '.Com' END) ||
         |    (CASE WHEN doc_id % 4 = 0 THEN ':80'
         |          WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN ''
         |          ELSE '/Path/' || (doc_id % 7) END) ||
         |    (CASE WHEN doc_id % 3 = 0
         |          THEN '?utm_source=x&id=' || (doc_id % 30)
         |          WHEN doc_id % 3 = 1 AND (doc_id // 420) % 2 = 0
         |          THEN '?id=' || (doc_id % 30) || '&utm_campaign=Y&b=2'
         |          WHEN doc_id % 3 = 1
         |          THEN '?b=2&id=' || (doc_id % 30) || '&utm_campaign=Y'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END) AS url
         |  FROM documents),
         |nf AS (SELECT doc_id, url,
         |    regexp_replace(url, '#.*$$', '') AS s1 FROM u0),
         |sa AS (SELECT *, regexp_extract(s1,
         |    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS auth FROM nf),
         |lo AS (SELECT doc_id, url,
         |    CASE WHEN auth = '' THEN s1
         |         ELSE lower(auth) || substr(s1, len(auth) + 1) END AS s2
         |  FROM sa),
         |p1 AS (SELECT doc_id, url, regexp_replace(regexp_replace(s2,
         |    '^(http://(?:[^/?#@]*@)?[^/?#:]*):80([/?#].*)?$$', '\1\2'),
         |    '^(https://(?:[^/?#@]*@)?[^/?#:]*):443([/?#].*)?$$', '\1\2')
         |    AS s3 FROM lo),
         |qp AS (SELECT doc_id, url,
         |    regexp_extract(s3, '^([^?]*)', 1) AS pre,
         |    regexp_extract(s3, '^[^?]*\?(.*)$$', 1) AS qs FROM p1),
         |pl AS (SELECT doc_id, url, pre,
         |    list_sort(list_filter(str_split(qs, '&'), p ->
         |      p <> '' AND NOT regexp_matches(p,
         |        '^(utm_[^&=]*|fbclid)='))) AS plist FROM qp),
         |tr AS (SELECT doc_id, url,
         |    CASE WHEN len(plist) = 0 THEN pre
         |         ELSE pre || '?' || array_to_string(plist, '&') END AS s7
         |  FROM pl),
         |canon AS (SELECT doc_id, url, regexp_replace(s7,
         |    '^([a-z][a-z0-9+.-]*://[^/?#]+)$$', '\1/') AS canonical
         |  FROM tr),
         |hosts AS (SELECT doc_id, url, canonical,
         |    CASE WHEN regexp_extract(url,
         |        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) = '' THEN NULL
         |      ELSE lower(regexp_replace(regexp_replace(
         |        regexp_extract(url,
         |          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
         |        '^[^@]*@', ''), ':[0-9]*$$', '')) END AS host
         |  FROM canon),
         |sfxr(sraw) AS (VALUES ('com'), ('org'), ('co.uk'), ('*.ck'),
         |  ('!www.ck'), ('// comment lines and blanks are ignored'),
         |  ('')),
         |rules AS (SELECT DISTINCT
         |    CASE WHEN r LIKE '!%' THEN 2
         |         WHEN r LIKE '*.%' THEN 1 ELSE 0 END AS kind,
         |    CASE WHEN r LIKE '!%' THEN substr(r, 2)
         |         WHEN r LIKE '*.%' THEN substr(r, 3) ELSE r END AS base
         |  FROM (SELECT lower(trim(sraw)) AS r FROM sfxr)
         |  WHERE r <> '' AND r NOT LIKE '//%'),
         |hm AS (SELECT DISTINCT host FROM hosts WHERE host IS NOT NULL),
         |rm AS (SELECT h.host, r.kind,
         |    CASE WHEN r.kind = 1 THEN regexp_extract(
         |        substr(h.host, 1, len(h.host) - len(r.base) - 1),
         |        '([^.]+)$$', 1) || '.' || r.base
         |      ELSE r.base END AS sfs
         |  FROM hm h JOIN rules r ON
         |    CASE WHEN r.kind = 1 THEN h.host LIKE '%.' || r.base
         |         ELSE h.host = r.base OR h.host LIKE '%.' || r.base END),
         |best AS (SELECT host, kind, sfs FROM rm
         |  QUALIFY row_number() OVER (PARTITION BY host
         |    ORDER BY (kind = 2) DESC, len(str_split(sfs, '.')) DESC,
         |      len(sfs) DESC, sfs DESC) = 1),
         |reg AS (SELECT host,
         |    CASE WHEN kind = 2 THEN sfs
         |         WHEN host = sfs THEN NULL
         |         ELSE regexp_extract(
         |             substr(host, 1, len(host) - len(sfs) - 1),
         |             '([^.]+)$$', 1) || '.' || sfs END AS registered_domain
         |  FROM best)""".stripMargin

  /** Deterministic synthetic URL fixture shared by q186/q189: one URL
    * per doc with mixed scheme/host case, `user:pass@` userinfo before
    * default ports, co.uk hosts plus a wildcard-PSL `.ck` family (and
    * its `!www.ck` exception), tracking params, fragments — and, for
    * the `doc_id % 3 == 1` branch, the SAME parameter multiset in two
    * different orders keyed on `doc_id div 420` parity, so docs 420
    * apart carry order-permuted (distinct) URLs that must collapse to
    * one canonical form under the parameter sort. Plus the canonical
    * form and host from [[graft.functions.TextFns]].
    */
  def urlFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
      when(id % 11 === 5, lit("User:Pw@")).otherwise(lit("")),
      when(id % 10 === 3, concat(lit("x"), id % 20, lit(".Blog.CK")))
        .when(id % 10 === 7,
          when(id % 20 === 7, lit("WWW.CK")).otherwise(lit("Sub.WWW.CK")))
        .when(id % 5 === 0, concat(lit("Sub.site"), id % 20, lit(".CO.UK")))
        .otherwise(concat(lit("WWW.Site"), id % 20, lit(".Com"))),
      when(id % 4 === 0, lit(":80"))
        .when(id % 4 === 1, lit(":443")).otherwise(lit("")),
      when(id % 7 === 0, lit("")).otherwise(concat(lit("/Path/"), id % 7)),
      when(id % 3 === 0, concat(lit("?utm_source=x&id="), id % 30))
        .when(id % 3 === 1 && expr("doc_id div 420") % 2 === 0,
          concat(lit("?id="), id % 30, lit("&utm_campaign=Y&b=2")))
        .when(id % 3 === 1,
          concat(lit("?b=2&id="), id % 30, lit("&utm_campaign=Y")))
        .otherwise(lit("")),
      when(id % 2 === 0, lit("#Frag")).otherwise(lit("")))
    t(s, dir, "documents").select(id, url.as("url"))
      .withColumn("canonical", TextFns.urlCanonicalize(col("url")))
      .withColumn("host", TextFns.urlHost(col("url")))
  }
}
