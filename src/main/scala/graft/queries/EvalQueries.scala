package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryFixtures._

/** Evaluation-metric queries: `EvalMetrics`.
  */
object EvalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // SQUAD-STYLE EM + TOKEN F1 (Rajpurkar et al. 2016 official scorer
    // semantics): normalization (lowercase, punct -> space, article
    // removal) then exact match and multiset-token F1 on a ppm
    // lattice. Three planted prediction behaviors: case/punct-mangled
    // exact answers, overlapping slices, disjoint slices. ROW-LOCAL
    // higher-order functions -- no explode, no join, no shuffle.
    // q227: the SQuAD normalizer + multiset-overlap F1 replayed on
    // DuckDB list ops (empty-list reduce guarded by CASE).
    QuerySpec("q227_eval_em_f1", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = split(trim(col("text")), " ")
      val ref = concat(lit("The "),
        array_join(slice(w, lit(1), lit(8)), " "), lit("."))
      val pred = when(col("doc_id") % 3 === 0,
          concat(upper(array_join(slice(w, lit(1), lit(8)), " ")),
            lit("!")))
        .when(col("doc_id") % 3 === 1,
          array_join(slice(w, lit(3), lit(8)), " "))
        .otherwise(array_join(slice(w, lit(12), lit(6)), " "))
      EvalMetrics.emF1(
        t(s, dir, "documents").select(col("doc_id"),
          pred.as("pred"), ref.as("ref")),
        "pred", "ref")
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |pr AS (SELECT doc_id,
         |    -- DuckDB out-of-range list slices are NULL where Spark's
         |    -- are empty: coalesce to '' (short docs)
         |    COALESCE(CASE WHEN doc_id % 3 = 0
         |        THEN upper(array_to_string(w[1:8], ' ')) || '!'
         |      WHEN doc_id % 3 = 1 THEN array_to_string(w[3:10], ' ')
         |      ELSE array_to_string(w[12:17], ' ') END, '') AS pred,
         |    'The ' || array_to_string(w[1:8], ' ') || '.' AS ref
         |  FROM d),
         |nm AS (SELECT doc_id, pred, ref,
         |    -- official remove_punc: DELETE string.punctuation chars
         |    list_filter(regexp_split_to_array(
         |      regexp_replace(lower(pred), '[!-/:-@\[-`{-~]', '', 'g'),
         |      '\s+'),
         |      t -> t <> '' AND t <> 'a' AND t <> 'an' AND t <> 'the')
         |      AS tp,
         |    list_filter(regexp_split_to_array(
         |      regexp_replace(lower(ref), '[!-/:-@\[-`{-~]', '', 'g'),
         |      '\s+'),
         |      t -> t <> '' AND t <> 'a' AND t <> 'an' AND t <> 'the')
         |      AS tr
         |  FROM pr),
         |ov AS (SELECT doc_id, pred, ref, tp, tr,
         |    CASE WHEN len(tp) = 0 THEN 0
         |      ELSE list_reduce(list_transform(list_distinct(tp),
         |        t -> least(len(list_filter(tp, x -> x = t)),
         |          len(list_filter(tr, x -> x = t)))), (a, b) -> a + b)
         |      END AS olap
         |  FROM nm)
         |SELECT doc_id, pred, ref,
         |  -- array_to_string([]) is NULL in DuckDB, '' in Spark
         |  COALESCE(array_to_string(tp, ' '), '')
         |    = COALESCE(array_to_string(tr, ' '), '') AS em,
         |  CASE WHEN len(tp) + len(tr) = 0 THEN CAST(1000000 AS BIGINT)
         |    ELSE CAST(floor(CAST(olap AS DOUBLE) * 2000000
         |      / (len(tp) + len(tr))) AS BIGINT) END AS f1_ppm
         |FROM ov""".stripMargin),

    // UNBIASED PASS@K (Chen et al. 2021): per problem of 8 samples
    // with a deterministic ~30% solve rate, 1 - C(n-c,k)/C(n,k) as an
    // exact integer product ratio on the ppm lattice; one map-side-
    // combined agg + constant arithmetic.
    // q228: the product-ratio estimator replayed with the same
    // per-factor floors and DOUBLE division.
    QuerySpec("q228_pass_at_k", (s, dir) => {
      import graft.operators.EvalMetrics
      val samples = t(s, dir, "documents").select(
        floor(col("doc_id") / lit(8.0)).cast("long").as("problem"),
        ((col("doc_id") * 7) % 10 < 3).as("ok"))
      EvalMetrics.passAtK(samples, "problem", "ok", k = 3)
    },
      raw"""WITH s AS (SELECT doc_id // 8 AS problem,
         |    (doc_id * 7) % 10 < 3 AS ok FROM documents),
         |a AS (SELECT problem, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM s GROUP BY problem)
         |SELECT problem, n, c,
         |  CAST(1000000 - floor(CAST(greatest(n - c, 0)
         |      * greatest(n - c - 1, 0) * greatest(n - c - 2, 0)
         |      AS DOUBLE) * 1000000
         |    / (n * (n - 1) * (n - 2))) AS BIGINT) AS pass_at_k_ppm
         |FROM a""".stripMargin),

    // BLEU SUFFICIENT STATISTICS: clipped 1..4-gram matches + totals +
    // lengths per (candidate, reference) pair, and the exact geometric
    // precision product on the ppm lattice -- the translation-eval
    // sibling of q227's EM/F1, sharing its row-local no-shuffle shape.
    // Three candidate shapes per doc: exact echo (perfect), shifted
    // window (partial n-gram overlap), 3-token stub (t4 = 0 -> null).
    // q238: the clipped n-gram stats replayed list-for-list; grams
    // join on chr(31) exactly like the Spark side's control-char
    // separator, and every out-of-range slice coalesces to ''/[]
    // (DuckDB NULL vs Spark empty).
    QuerySpec("q238_bleu_stats", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = split(trim(col("text")), " ")
      val ref = array_join(slice(w, lit(1), lit(10)), " ")
      val cand = when(col("doc_id") % 3 === 0, ref)
        .when(col("doc_id") % 3 === 1,
          array_join(slice(w, lit(3), lit(10)), " "))
        .otherwise(array_join(slice(w, lit(1), lit(3)), " "))
      EvalMetrics.bleuStats(
        t(s, dir, "documents").select(col("doc_id"),
          cand.as("cand"), ref.as("ref")),
        "cand", "ref")
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |pr AS (SELECT doc_id,
         |    COALESCE(array_to_string(w[1:10], ' '), '') AS ref,
         |    COALESCE(CASE WHEN doc_id % 3 = 0
         |        THEN array_to_string(w[1:10], ' ')
         |      WHEN doc_id % 3 = 1 THEN array_to_string(w[3:12], ' ')
         |      ELSE array_to_string(w[1:3], ' ') END, '') AS cand
         |  FROM d),
         |tk AS (SELECT doc_id, cand, ref,
         |    list_filter(regexp_split_to_array(trim(cand), '\s+'),
         |      t -> t <> '') AS c,
         |    list_filter(regexp_split_to_array(trim(ref), '\s+'),
         |      t -> t <> '') AS r
         |  FROM pr),
         |g AS (SELECT doc_id, cand, ref, c, r,
         |    c AS gc1, r AS gr1,
         |    list_transform(range(0, greatest(len(c) - 1, 0)),
         |      i -> array_to_string(c[i+1:i+2], chr(31))) AS gc2,
         |    list_transform(range(0, greatest(len(r) - 1, 0)),
         |      i -> array_to_string(r[i+1:i+2], chr(31))) AS gr2,
         |    list_transform(range(0, greatest(len(c) - 2, 0)),
         |      i -> array_to_string(c[i+1:i+3], chr(31))) AS gc3,
         |    list_transform(range(0, greatest(len(r) - 2, 0)),
         |      i -> array_to_string(r[i+1:i+3], chr(31))) AS gr3,
         |    list_transform(range(0, greatest(len(c) - 3, 0)),
         |      i -> array_to_string(c[i+1:i+4], chr(31))) AS gc4,
         |    list_transform(range(0, greatest(len(r) - 3, 0)),
         |      i -> array_to_string(r[i+1:i+4], chr(31))) AS gr4
         |  FROM tk),
         |st AS (SELECT doc_id, cand, ref,
         |    CAST(len(c) AS BIGINT) AS cand_len,
         |    CAST(len(r) AS BIGINT) AS ref_len,
         |    CAST(CASE WHEN len(gc1) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc1), t -> least(
         |        len(list_filter(gc1, x -> x = t)),
         |        len(list_filter(gr1, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m1,
         |    CAST(len(gc1) AS BIGINT) AS t1,
         |    CAST(CASE WHEN len(gc2) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc2), t -> least(
         |        len(list_filter(gc2, x -> x = t)),
         |        len(list_filter(gr2, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m2,
         |    CAST(len(gc2) AS BIGINT) AS t2,
         |    CAST(CASE WHEN len(gc3) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc3), t -> least(
         |        len(list_filter(gc3, x -> x = t)),
         |        len(list_filter(gr3, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m3,
         |    CAST(len(gc3) AS BIGINT) AS t3,
         |    CAST(CASE WHEN len(gc4) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc4), t -> least(
         |        len(list_filter(gc4, x -> x = t)),
         |        len(list_filter(gr4, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m4,
         |    CAST(len(gc4) AS BIGINT) AS t4
         |  FROM g)
         |SELECT doc_id, cand, ref, cand_len, ref_len,
         |  m1, t1, m2, t2, m3, t3, m4, t4,
         |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0
         |    THEN CAST(floor(CAST(m1 * m2 * m3 * m4 AS DOUBLE) * 1000000
         |      / (t1 * t2 * t3 * t4)) AS BIGINT) END AS prec_geo_ppm
         |FROM st""".stripMargin),

    // ROUGE-L: LCS-based precision/recall/F on the ppm lattice -- the
    // summarization/instruction-dedup metric. Candidates exercise the
    // DP: token substitution (LCS = n-1), shifted window, and full
    // REVERSAL (the worst case for any shortcut). The oracle replays
    // the row DP as a recursive CTE carrying the LCS row as a list
    // (the q224 Viterbi pattern, with the within-row dependency
    // eliminated by the prefix-max identity).
    // q239: the LCS row DP as a recursive CTE carrying the row as a
    // list (q224 pattern); the within-row dependency is gone via the
    // prefix-max identity new[j] = max(prev[j], max_{k<=j}(prev[k-1]
    // + eq(i,k))) — valid because LCS rows are monotone.
    QuerySpec("q239_rouge_l", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = split(trim(col("text")), " ")
      val ref = slice(w, lit(1), lit(10))
      val cand = when(col("doc_id") % 3 === 0,
          transform(ref, (t, i) => when(i === 3, lit("zzz")).otherwise(t)))
        .when(col("doc_id") % 3 === 1, slice(w, lit(4), lit(10)))
        .otherwise(reverse(ref))
      EvalMetrics.rougeL(
        t(s, dir, "documents").select(col("doc_id"),
          array_join(cand, " ").as("cand"),
          array_join(ref, " ").as("ref")),
        "cand", "ref")
    },
      raw"""WITH RECURSIVE d AS (SELECT doc_id,
         |    str_split(trim(text), ' ') AS w FROM documents),
         |px AS (SELECT doc_id,
         |    COALESCE(w[1:10], CAST([] AS VARCHAR[])) AS r0 FROM d),
         |pc AS (SELECT px.doc_id, r0,
         |    CASE WHEN px.doc_id % 3 = 0 THEN
         |        list_transform(range(1, len(r0) + 1),
         |          j -> CASE WHEN j = 4 THEN 'zzz' ELSE r0[j] END)
         |      WHEN px.doc_id % 3 = 1 THEN
         |        COALESCE(d.w[4:13], CAST([] AS VARCHAR[]))
         |      ELSE list_reverse(r0) END AS c0
         |  FROM px JOIN d ON d.doc_id = px.doc_id),
         |tk AS (SELECT doc_id,
         |    COALESCE(array_to_string(c0, ' '), '') AS cand,
         |    COALESCE(array_to_string(r0, ' '), '') AS ref,
         |    c0 AS c, r0 AS r FROM pc),
         |lcs AS (
         |  SELECT doc_id, c, r, 0 AS i,
         |    list_transform(range(0, len(r) + 1), x -> 0) AS dp FROM tk
         |  UNION ALL
         |  SELECT doc_id, c, r, i + 1,
         |    list_transform(range(0, len(r) + 1), j ->
         |      CASE WHEN j = 0 THEN 0
         |        ELSE greatest(dp[j + 1], list_max(
         |          list_transform(range(1, j + 1), k ->
         |            dp[k] + CASE WHEN c[i + 1] = r[k] THEN 1
         |              ELSE 0 END))) END) AS dp
         |  FROM lcs WHERE i < len(c)),
         |fin AS (SELECT doc_id, dp[len(r) + 1] AS lcs FROM lcs
         |  WHERE i = len(c))
         |SELECT tk.doc_id, cand, ref,
         |  CAST(len(c) AS BIGINT) AS cand_len,
         |  CAST(len(r) AS BIGINT) AS ref_len,
         |  CAST(fin.lcs AS BIGINT) AS lcs_len,
         |  CAST(CASE WHEN len(c) + len(r) = 0 THEN 1000000
         |    WHEN len(c) = 0 THEN 0
         |    ELSE floor(CAST(fin.lcs AS DOUBLE) * 1000000 / len(c))
         |    END AS BIGINT) AS rouge_p_ppm,
         |  CAST(CASE WHEN len(c) + len(r) = 0 THEN 1000000
         |    WHEN len(r) = 0 THEN 0
         |    ELSE floor(CAST(fin.lcs AS DOUBLE) * 1000000 / len(r))
         |    END AS BIGINT) AS rouge_r_ppm,
         |  CAST(CASE WHEN len(c) + len(r) = 0 THEN 1000000
         |    ELSE floor(CAST(fin.lcs AS DOUBLE) * 2000000
         |      / (len(c) + len(r))) END AS BIGINT) AS rouge_f_ppm
         |FROM tk JOIN fin ON fin.doc_id = tk.doc_id""".stripMargin),

    // SELF-INSTRUCT ROUGE-L DEDUP: candidate instructions vs a bounded
    // seed pool -- max LCS-F per candidate with min-seed-id argmax,
    // keep = best F under 0.7. Candidates every 5th doc, seeds every
    // 20th (a subset -- those candidates self-match at 10^6 and drop,
    // the correct verdict); 8-token heads keep the DP bounded.
    // q249: the q239 recursive LCS DP keyed by (candidate, seed) over
    // the bounded cross, then a candidate-partitioned argmax.
    QuerySpec("q249_rouge_dedup", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = split(trim(col("text")), " ")
      val head8 = array_join(slice(w, lit(1), lit(8)), " ")
      val docs = t(s, dir, "documents")
      val cands = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), head8.as("itext"))
      val pool = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("sid"), head8.as("stext"))
      EvalMetrics.rougeDedup(cands, "doc_id", "itext", pool, "sid",
        "stext", thresholdPpm = 700000L)
    },
      raw"""WITH RECURSIVE d AS (SELECT doc_id,
         |    str_split(trim(text), ' ') AS w FROM documents),
         |cd AS (SELECT doc_id AS cand_id,
         |    COALESCE(w[1:8], CAST([] AS VARCHAR[])) AS c
         |  FROM d WHERE doc_id % 5 = 0),
         |sp AS (SELECT doc_id AS sid,
         |    COALESCE(w[1:8], CAST([] AS VARCHAR[])) AS r
         |  FROM d WHERE doc_id % 20 = 0),
         |pr AS (SELECT cand_id, sid, c, r FROM cd, sp),
         |lcs AS (
         |  SELECT cand_id, sid, c, r, 0 AS i,
         |    list_transform(range(0, len(r) + 1), x -> 0) AS dp FROM pr
         |  UNION ALL
         |  SELECT cand_id, sid, c, r, i + 1,
         |    list_transform(range(0, len(r) + 1), j ->
         |      CASE WHEN j = 0 THEN 0
         |        ELSE greatest(dp[j + 1], list_max(
         |          list_transform(range(1, j + 1), k ->
         |            dp[k] + CASE WHEN c[i + 1] = r[k] THEN 1
         |              ELSE 0 END))) END) AS dp
         |  FROM lcs WHERE i < len(c)),
         |fin AS (SELECT cand_id, sid, dp[len(r) + 1] AS lcs FROM lcs
         |  WHERE i = len(c)),
         |f AS (SELECT p.cand_id, p.sid,
         |    CAST(CASE WHEN len(p.c) + len(p.r) = 0 THEN 1000000
         |      ELSE floor(CAST(fin.lcs AS DOUBLE) * 2000000
         |        / (len(p.c) + len(p.r))) END AS BIGINT) AS fppm
         |  FROM pr p JOIN fin ON fin.cand_id = p.cand_id
         |    AND fin.sid = p.sid)
         |SELECT cand_id, fppm AS best_f_ppm, sid AS best_seed,
         |  fppm < 700000 AS keep
         |FROM f QUALIFY row_number() OVER (PARTITION BY cand_id
         |  ORDER BY fppm DESC, sid ASC) = 1""".stripMargin),

    // COHEN'S KAPPA: agreement between two deterministic raters over
    // the corpus -- exact integer lattice, a single scalar row.
    // q256: the kappa lattice — N·agree and the marginal product sum
    // as integers, one DOUBLE division + floor.
    QuerySpec("q256_kappa", (s, dir) => {
      import graft.operators.EvalMetrics
      val rated = t(s, dir, "documents").select(
        when(col("doc_id") % 3 === 0, lit("good")).otherwise(lit("bad"))
          .as("r1"),
        when((col("doc_id") * 7) % 10 < 4, lit("good"))
          .otherwise(lit("bad")).as("r2"))
      EvalMetrics.cohensKappa(rated, "r1", "r2")
    },
      raw"""WITH b AS (SELECT
         |    CASE WHEN doc_id % 3 = 0 THEN 'good' ELSE 'bad' END AS r1,
         |    CASE WHEN (doc_id * 7) % 10 < 4 THEN 'good' ELSE 'bad'
         |      END AS r2
         |  FROM documents),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS agree
         |  FROM b),
         |m1 AS (SELECT r1 AS k, count(*) AS n1 FROM b GROUP BY 1),
         |m2 AS (SELECT r2 AS k, count(*) AS n2 FROM b GROUP BY 1),
         |rc AS (SELECT CAST(COALESCE(sum(n1 * n2), 0) AS BIGINT)
         |    AS sum_rc
         |  FROM m1 JOIN m2 USING (k))
         |SELECT n, agree, sum_rc,
         |  CASE WHEN n * n = sum_rc THEN NULL
         |    ELSE CAST(floor(CAST(n * agree - sum_rc AS DOUBLE) * 1000000
         |      / (n * n - sum_rc)) AS BIGINT) END AS kappa_ppm
         |FROM t CROSS JOIN rc""".stripMargin),

    // CORPUS BLEU: the q238 per-segment statistics summed per system
    // (doc_id mod 3) FIRST, then the geometric precision product on
    // the sums -- corpus BLEU is not a mean of segment scores; BP
    // inputs (length sums) ride along for the caller-side exp.
    // q270: the q238 segment stats summed per system FIRST, then the
    // geometric product on the sums — in IEEE double with the exact
    // factor order the Spark side uses (corpus Πs overflow int64).
    QuerySpec("q270_corpus_bleu", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = split(trim(col("text")), " ")
      val ref = array_join(slice(w, lit(1), lit(10)), " ")
      val cand = when(col("doc_id") % 3 === 0, ref)
        .when(col("doc_id") % 3 === 1,
          array_join(slice(w, lit(3), lit(10)), " "))
        .otherwise(array_join(slice(w, lit(1), lit(3)), " "))
      val stats = EvalMetrics.bleuStats(
        t(s, dir, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(3L)).as("sys"),
          cand.as("cand"), ref.as("ref")),
        "cand", "ref")
      EvalMetrics.corpusBleu(stats, Seq("sys"))
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |pr AS (SELECT doc_id,
         |    COALESCE(array_to_string(w[1:10], ' '), '') AS ref,
         |    COALESCE(CASE WHEN doc_id % 3 = 0
         |        THEN array_to_string(w[1:10], ' ')
         |      WHEN doc_id % 3 = 1 THEN array_to_string(w[3:12], ' ')
         |      ELSE array_to_string(w[1:3], ' ') END, '') AS cand
         |  FROM d),
         |tk AS (SELECT doc_id, cand, ref,
         |    list_filter(regexp_split_to_array(trim(cand), '\s+'),
         |      t -> t <> '') AS c,
         |    list_filter(regexp_split_to_array(trim(ref), '\s+'),
         |      t -> t <> '') AS r
         |  FROM pr),
         |g AS (SELECT doc_id, c, r,
         |    c AS gc1, r AS gr1,
         |    list_transform(range(0, greatest(len(c) - 1, 0)),
         |      i -> array_to_string(c[i+1:i+2], chr(31))) AS gc2,
         |    list_transform(range(0, greatest(len(r) - 1, 0)),
         |      i -> array_to_string(r[i+1:i+2], chr(31))) AS gr2,
         |    list_transform(range(0, greatest(len(c) - 2, 0)),
         |      i -> array_to_string(c[i+1:i+3], chr(31))) AS gc3,
         |    list_transform(range(0, greatest(len(r) - 2, 0)),
         |      i -> array_to_string(r[i+1:i+3], chr(31))) AS gr3,
         |    list_transform(range(0, greatest(len(c) - 3, 0)),
         |      i -> array_to_string(c[i+1:i+4], chr(31))) AS gc4,
         |    list_transform(range(0, greatest(len(r) - 3, 0)),
         |      i -> array_to_string(r[i+1:i+4], chr(31))) AS gr4
         |  FROM tk),
         |st AS (SELECT doc_id,
         |    CAST(len(c) AS BIGINT) AS cand_len,
         |    CAST(len(r) AS BIGINT) AS ref_len,
         |    CAST(CASE WHEN len(gc1) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc1), t -> least(
         |        len(list_filter(gc1, x -> x = t)),
         |        len(list_filter(gr1, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m1,
         |    CAST(len(gc1) AS BIGINT) AS t1,
         |    CAST(CASE WHEN len(gc2) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc2), t -> least(
         |        len(list_filter(gc2, x -> x = t)),
         |        len(list_filter(gr2, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m2,
         |    CAST(len(gc2) AS BIGINT) AS t2,
         |    CAST(CASE WHEN len(gc3) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc3), t -> least(
         |        len(list_filter(gc3, x -> x = t)),
         |        len(list_filter(gr3, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m3,
         |    CAST(len(gc3) AS BIGINT) AS t3,
         |    CAST(CASE WHEN len(gc4) = 0 THEN 0 ELSE list_reduce(
         |      list_transform(list_distinct(gc4), t -> least(
         |        len(list_filter(gc4, x -> x = t)),
         |        len(list_filter(gr4, x -> x = t)))), (a, b) -> a + b)
         |      END AS BIGINT) AS m4,
         |    CAST(len(gc4) AS BIGINT) AS t4
         |  FROM g),
         |agg AS (SELECT CAST(doc_id % 3 AS BIGINT) AS sys,
         |    CAST(sum(m1) AS BIGINT) AS m1, CAST(sum(t1) AS BIGINT) AS t1,
         |    CAST(sum(m2) AS BIGINT) AS m2, CAST(sum(t2) AS BIGINT) AS t2,
         |    CAST(sum(m3) AS BIGINT) AS m3, CAST(sum(t3) AS BIGINT) AS t3,
         |    CAST(sum(m4) AS BIGINT) AS m4, CAST(sum(t4) AS BIGINT) AS t4,
         |    CAST(sum(cand_len) AS BIGINT) AS cand_len_sum,
         |    CAST(sum(ref_len) AS BIGINT) AS ref_len_sum,
         |    CAST(count(*) AS BIGINT) AS n_segments
         |  FROM st GROUP BY 1)
         |SELECT sys, m1, t1, m2, t2, m3, t3, m4, t4,
         |  cand_len_sum, ref_len_sum, n_segments,
         |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0
         |    THEN CAST(floor(CAST(m1 AS DOUBLE) * CAST(m2 AS DOUBLE)
         |      * CAST(m3 AS DOUBLE) * CAST(m4 AS DOUBLE) * 1000000
         |      / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
         |        * CAST(t3 AS DOUBLE) * CAST(t4 AS DOUBLE)))
         |      AS BIGINT) END AS prec_geo_ppm
         |FROM agg""".stripMargin),

    // FLEISS' KAPPA: three deterministic raters over every document
    // (long form via explode) -- multi-rater agreement, integer-exact
    // to one final division; the oracle replays the same integer
    // algebra.
    // q274: Fleiss' integer algebra replayed — cell counts from the
    // three unioned rater columns, S2/C2 sums, one division + floor.
    QuerySpec("q274_fleiss_kappa", (s, dir) => {
      import graft.operators.EvalMetrics
      val r = t(s, dir, "documents").select(col("doc_id"),
        explode(array(
          when(col("doc_id") % 3 === 0, "good")
            .when(col("doc_id") % 3 === 1, "bad").otherwise("meh"),
          when((col("doc_id") * 7) % 10 < 4, "good").otherwise("bad"),
          when((col("doc_id") * 13) % 5 < 2, "good").otherwise("meh")))
          .as("label"))
      EvalMetrics.fleissKappa(r, "doc_id", "label")
    },
      raw"""WITH r AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'good'
         |      WHEN doc_id % 3 = 1 THEN 'bad' ELSE 'meh' END AS l1,
         |    CASE WHEN (doc_id * 7) % 10 < 4 THEN 'good'
         |      ELSE 'bad' END AS l2,
         |    CASE WHEN (doc_id * 13) % 5 < 2 THEN 'good'
         |      ELSE 'meh' END AS l3
         |  FROM documents),
         |lng AS (SELECT doc_id AS i, l1 AS l FROM r
         |  UNION ALL SELECT doc_id, l2 FROM r
         |  UNION ALL SELECT doc_id, l3 FROM r),
         |cells AS (SELECT i, l, CAST(count(*) AS BIGINT) AS nik
         |  FROM lng GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items,
         |    CAST(3 AS BIGINT) AS n_raters,
         |    CAST(sum(nik * nik) AS BIGINT) AS s2 FROM cells),
         |ck AS (SELECT l, CAST(sum(nik) AS BIGINT) AS c FROM cells
         |  GROUP BY 1),
         |c2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM ck)
         |SELECT n_items, n_raters, s2, sum_c2,
         |  CASE WHEN (n_items * n_raters) * (n_items * n_raters)
         |      = sum_c2 THEN NULL
         |    ELSE CAST(floor(CAST((s2 - n_items * n_raters)
         |      * (n_items * n_raters)
         |      - sum_c2 * (n_raters - 1) AS DOUBLE) * 1000000
         |      / ((n_raters - 1) * ((n_items * n_raters)
         |        * (n_items * n_raters) - sum_c2))) AS BIGINT)
         |    END AS kappa_ppm
         |FROM tot, c2""".stripMargin),

    // MRR@10 of the first purchase in each user's event ranking
    // ((ts, event_id) order) -- reciprocal ranks exact on the ppm
    // lattice, misses count as zero, corpus mean attached.
    // q293: reciprocal ranks exact on the ppm lattice (integer div),
    // first purchase within rank 10 per user, misses zero, corpus
    // mean by integer division.
    QuerySpec("q293_mrr", (s, dir) => {
      import graft.operators.EvalMetrics
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ranked = events(s, dir).select(col("user_id"),
          col("ts"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("rel"))
        .withColumn("rank", row_number().over(w))
      EvalMetrics.mrrAtK(ranked, "user_id", "rank", "rel", k = 10)
    },
      raw"""WITH e AS (SELECT user_id AS query, epoch_ns(ts) AS ts,
         |    event_id AS id,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS rel
         |  FROM events),
         |r AS (SELECT query, rel, row_number() OVER (
         |    PARTITION BY query ORDER BY ts, id) AS rnk FROM e),
         |pq AS (SELECT query, min(CASE WHEN rel = 1 AND rnk <= 10
         |    THEN rnk END) AS first_rank FROM r GROUP BY query),
         |rr AS (SELECT query, CAST(first_rank AS BIGINT) AS first_rank,
         |    CAST(CASE WHEN first_rank IS NULL THEN 0
         |      ELSE 1000000 // first_rank END AS BIGINT) AS rr_ppm
         |  FROM pq),
         |f AS (SELECT CAST(sum(rr_ppm) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS nq FROM rr)
         |SELECT rr.query, rr.first_rank, rr.rr_ppm,
         |  CAST(f.s // f.nq AS BIGINT) AS mrr_ppm
         |FROM rr, f""".stripMargin),

    // PAIRWISE WIN RATES: synthetic judge verdicts over model pairs
    // (user-id arithmetic), canonicalized with verdict flips, the
    // tie-splitting half-count lattice.
    // q297: canonicalized pairs with verdict flips, the half-count
    // tie-splitting win rate by integer division.
    QuerySpec("q297_winrate", (s, dir) => {
      import graft.operators.EvalMetrics
      val ev = events(s, dir)
      val a = pmod(col("user_id"), lit(5L))
      val b = pmod(col("user_id") * 3 + 1, lit(5L))
      EvalMetrics.winRate(
        ev.select(a.as("ma"), b.as("mb"),
            pmod(floor(col("value") * 100).cast("long"), lit(3L))
              .as("w"))
          .filter(col("ma") =!= col("mb")),
        "ma", "mb", "w")
    },
      raw"""WITH r AS (SELECT ((user_id % 5) + 5) % 5 AS ma,
         |    (((user_id * 3 + 1) % 5) + 5) % 5 AS mb,
         |    ((CAST(floor(value * 100) AS BIGINT) % 3) + 3) % 3 AS w
         |  FROM events),
         |f AS (SELECT CAST(least(ma, mb) AS BIGINT) AS m_lo,
         |    CAST(greatest(ma, mb) AS BIGINT) AS m_hi,
         |    CASE WHEN ma <= mb THEN w
         |      ELSE CASE WHEN w = 0 THEN 0 WHEN w = 1 THEN 2
         |        ELSE 1 END END AS wf
         |  FROM r WHERE ma <> mb)
         |SELECT m_lo, m_hi, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN wf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS wins_lo,
         |  CAST(sum(CASE WHEN wf = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS wins_hi,
         |  CAST(sum(CASE WHEN wf = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ties,
         |  CAST((1000000 * (2 * sum(CASE WHEN wf = 1 THEN 1 ELSE 0
         |    END) + sum(CASE WHEN wf = 0 THEN 1 ELSE 0 END)))
         |    // (2 * count(*)) AS BIGINT) AS winrate_lo_ppm
         |FROM f GROUP BY 1, 2""".stripMargin),

    // EXPECTED CALIBRATION ERROR, fully integer-exact: synthetic
    // classifier confidences on the ppm lattice vs a deterministic
    // label rule, 10 bins, per-bin gaps |1e6*pos - conf_sum|.
    // q303: integer-exact ECE -- per-bin |1e6*pos - conf_sum| gaps,
    // integer-div fold, top-bin clamp.
    QuerySpec("q303_ece", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.ece(
        t(s, dir, "documents").select(
          pmod(col("doc_id") * 37987, lit(1000001L)).as("conf"),
          when(col("doc_id") % 7 < 3, 1L).otherwise(0L).as("y")),
        "conf", "y", bins = 10)
    },
      raw"""WITH r AS (SELECT
         |    ((doc_id * 37987) % 1000001 + 1000001) % 1000001 AS c,
         |    CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |b AS (SELECT least(9, (c * 10) // 1000000) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS pos,
         |    CAST(sum(c) AS BIGINT) AS conf_sum
         |  FROM r GROUP BY 1),
         |f AS (SELECT CAST(sum(abs(1000000 * pos - conf_sum))
         |      AS BIGINT) AS g,
         |    CAST(sum(n) AS BIGINT) AS n_total FROM b)
         |SELECT CAST(bin AS BIGINT) AS bin, n, pos, conf_sum,
         |  CAST((1000000 * pos) // n AS BIGINT) AS acc_ppm,
         |  CAST(conf_sum // n AS BIGINT) AS conf_mean_ppm,
         |  f.n_total, CAST(f.g // f.n_total AS BIGINT) AS ece_micro
         |FROM b, f""".stripMargin),

    // BRIER SCORE per source for the q303 synthetic classifier --
    // integer-exact mean squared error on the ppm lattice.
    // q305: integer residuals squared, one integer division to micro.
    QuerySpec("q305_brier", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.brierScore(
        t(s, dir, "documents").select(col("source"),
          pmod(col("doc_id") * 37987, lit(1000001L)).as("conf"),
          when(col("doc_id") % 7 < 3, 1L).otherwise(0L).as("y")),
        "source", "conf", "y")
    },
      raw"""WITH r AS (SELECT source AS key,
         |    ((doc_id * 37987) % 1000001 + 1000001) % 1000001 AS c,
         |    CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |d AS (SELECT key, c - 1000000 * y AS d FROM r)
         |SELECT key, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(d * d) // (count(*) * 1000000) AS BIGINT)
         |    AS brier_micro
         |FROM d GROUP BY key""".stripMargin),

    // ROC AUC per source via the Mann-Whitney midrank lattice --
    // integer-exact, ties half-credited.
    // q306: the q273 midrank machinery with the label as the group,
    // folded to AUC by one integer division.
    QuerySpec("q306_auc", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.aucPpm(
        t(s, dir, "documents").select(col("source"),
          pmod(col("doc_id") * 37987, lit(1000001L)).as("conf"),
          when(col("doc_id") % 7 < 3, 1L).otherwise(0L).as("y")),
        "source", "conf", "y")
    },
      raw"""WITH r AS (SELECT source AS key,
         |    ((doc_id * 37987) % 1000001 + 1000001) % 1000001 AS v,
         |    CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |counts AS (SELECT key, v,
         |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(y) AS BIGINT) AS c1
         |  FROM r GROUP BY key, v),
         |rk AS (SELECT *, CAST(COALESCE(sum(c0 + c1) OVER (
         |    PARTITION BY key ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS below FROM counts),
         |f AS (SELECT key, CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c1 * (2 * below + c0 + c1 + 1)) AS BIGINT)
         |      AS r1x2
         |  FROM rk GROUP BY key)
         |SELECT key, n0 AS n_neg, n1 AS n_pos,
         |  CASE WHEN n0 * n1 = 0 THEN NULL
         |    ELSE CAST((1000000 * (r1x2 - n1 * (n1 + 1)))
         |      // (2 * n0 * n1) AS BIGINT) END AS auc_ppm
         |FROM f""".stripMargin),

    // BRADLEY-TERRY STRENGTHS over the q297 win-rate ledger: 4 MM
    // rounds on the pure integer lattice (ties half-counted), the
    // oracle replays every round in SQL.
    // q313: Bradley-Terry -- the q297 ledger, then four MM rounds
    // replayed verbatim on the integer lattice (t/raw/normalize all
    // integer division, the 1-ppm floor via greatest).
    QuerySpec("q313_bradley_terry", (s, dir) => {
      import graft.operators.EvalMetrics
      val ev = events(s, dir)
      val a = pmod(col("user_id"), lit(5L))
      val b = pmod(col("user_id") * 3 + 1, lit(5L))
      val ledger = EvalMetrics.winRate(
        ev.select(a.as("ma"), b.as("mb"),
            pmod(floor(col("value") * 100).cast("long"), lit(3L))
              .as("w"))
          .filter(col("ma") =!= col("mb")),
        "ma", "mb", "w")
      EvalMetrics.bradleyTerry(ledger, iters = 4)
    },
      raw"""WITH r AS (SELECT ((user_id % 5) + 5) % 5 AS ma,
         |    (((user_id * 3 + 1) % 5) + 5) % 5 AS mb,
         |    ((CAST(floor(value * 100) AS BIGINT) % 3) + 3) % 3 AS w
         |  FROM events),
         |f AS (SELECT CAST(least(ma, mb) AS BIGINT) AS m_lo,
         |    CAST(greatest(ma, mb) AS BIGINT) AS m_hi,
         |    CASE WHEN ma <= mb THEN w
         |      ELSE CASE WHEN w = 0 THEN 0 WHEN w = 1 THEN 2
         |        ELSE 1 END END AS wf
         |  FROM r WHERE ma <> mb),
         |led AS (SELECT m_lo, m_hi, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN wf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins_lo,
         |    CAST(sum(CASE WHEN wf = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS wins_hi,
         |    CAST(sum(CASE WHEN wf = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ties
         |  FROM f GROUP BY 1, 2),
         |ed AS MATERIALIZED (
         |  SELECT m_lo AS i, m_hi AS j, 2 * wins_lo + ties AS w2,
         |    2 * n AS n2 FROM led
         |  UNION ALL
         |  SELECT m_hi, m_lo, 2 * wins_hi + ties, 2 * n FROM led),
         |mdl AS MATERIALIZED (SELECT i AS model,
         |    CAST(sum(w2) AS BIGINT) AS w2,
         |    CAST(sum(n2) AS BIGINT) AS n2
         |  FROM ed GROUP BY i),
         |p0 AS (SELECT model, CAST(1000000 AS BIGINT) AS p FROM mdl),
         |d1 AS (SELECT ed.i, sum((1000000000 * ed.n2)
         |      // (pa.p + pb.p)) AS d
         |  FROM ed JOIN p0 pa ON pa.model = ed.i
         |    JOIN p0 pb ON pb.model = ed.j GROUP BY ed.i),
         |r1 AS MATERIALIZED (SELECT m.model,
         |    (1000000000 * m.w2) // d1.d AS raw
         |  FROM mdl m JOIN d1 ON d1.i = m.model),
         |p1 AS MATERIALIZED (SELECT model, greatest(1, (1000000 * raw)
         |    // (SELECT sum(raw) FROM r1)) AS p FROM r1),
         |d2 AS (SELECT ed.i, sum((1000000000 * ed.n2)
         |      // (pa.p + pb.p)) AS d
         |  FROM ed JOIN p1 pa ON pa.model = ed.i
         |    JOIN p1 pb ON pb.model = ed.j GROUP BY ed.i),
         |r2 AS MATERIALIZED (SELECT m.model,
         |    (1000000000 * m.w2) // d2.d AS raw
         |  FROM mdl m JOIN d2 ON d2.i = m.model),
         |p2 AS MATERIALIZED (SELECT model, greatest(1, (1000000 * raw)
         |    // (SELECT sum(raw) FROM r2)) AS p FROM r2),
         |d3 AS (SELECT ed.i, sum((1000000000 * ed.n2)
         |      // (pa.p + pb.p)) AS d
         |  FROM ed JOIN p2 pa ON pa.model = ed.i
         |    JOIN p2 pb ON pb.model = ed.j GROUP BY ed.i),
         |r3 AS MATERIALIZED (SELECT m.model,
         |    (1000000000 * m.w2) // d3.d AS raw
         |  FROM mdl m JOIN d3 ON d3.i = m.model),
         |p3 AS MATERIALIZED (SELECT model, greatest(1, (1000000 * raw)
         |    // (SELECT sum(raw) FROM r3)) AS p FROM r3),
         |d4 AS (SELECT ed.i, sum((1000000000 * ed.n2)
         |      // (pa.p + pb.p)) AS d
         |  FROM ed JOIN p3 pa ON pa.model = ed.i
         |    JOIN p3 pb ON pb.model = ed.j GROUP BY ed.i),
         |r4 AS MATERIALIZED (SELECT m.model,
         |    (1000000000 * m.w2) // d4.d AS raw
         |  FROM mdl m JOIN d4 ON d4.i = m.model),
         |p4 AS (SELECT model, greatest(1, (1000000 * raw)
         |    // (SELECT sum(raw) FROM r4)) AS p FROM r4)
         |SELECT mdl.model, mdl.w2, mdl.n2,
         |  CAST(p4.p AS BIGINT) AS p_ppm
         |FROM mdl JOIN p4 ON p4.model = mdl.model""".stripMargin),

    // NDCG@10 per source: graded relevance pmod(doc_id,4), ranks by
    // doc id -- position terms on the fixed ln/ln2 micro lattice,
    // ideal ordering via a source-partitioned rank window.
    // q317: nDCG@10 -- position terms floored on the ln/ln2 micro
    // lattice in the engine's exact op order, ideal ordering by
    // (rel DESC, rank), one integer division for the ratio.
    QuerySpec("q317_ndcg", (s, dir) => {
      import graft.operators.EvalMetrics
      val ranked = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          pmod(col("doc_id"), lit(4L)).as("rel"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id")))
          .cast("long"))
      EvalMetrics.ndcgAtK(ranked, "source", "rank", "rel", k = 10)
    },
      raw"""WITH r AS (SELECT source AS query,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY doc_id) AS BIGINT) AS rnk,
         |    ((doc_id % 4) + 4) % 4 AS rel
         |  FROM documents),
         |ip AS (SELECT query, rnk, rel,
         |    CAST(row_number() OVER (PARTITION BY query
         |      ORDER BY rel DESC, rnk) AS BIGINT) AS ipos
         |  FROM r),
         |tm AS (SELECT query,
         |    CASE WHEN rnk <= 10 THEN CAST(floor(CAST(rel AS DOUBLE)
         |      * 1000000 * ln(2.0::DOUBLE)
         |      / ln(CAST(rnk + 1 AS DOUBLE))) AS BIGINT)
         |      ELSE 0 END AS dterm,
         |    CASE WHEN ipos <= 10 THEN CAST(floor(CAST(rel AS DOUBLE)
         |      * 1000000 * ln(2.0::DOUBLE)
         |      / ln(CAST(ipos + 1 AS DOUBLE))) AS BIGINT)
         |      ELSE 0 END AS iterm
         |  FROM ip)
         |SELECT query, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(dterm) AS BIGINT) AS dcg_micro,
         |  CAST(sum(iterm) AS BIGINT) AS idcg_micro,
         |  CASE WHEN sum(iterm) = 0 THEN NULL
         |    ELSE CAST((1000000 * sum(dterm)) // sum(iterm) AS BIGINT)
         |    END AS ndcg_ppm
         |FROM tm GROUP BY query""".stripMargin),

    // AVERAGE PRECISION per source: ranks by doc id, binary relevance
    // doc_id % 3 == 0 -- each relevant position contributes a floored
    // ppm precision@k term, the sum divided by the positive count.
    // q321: average precision -- running relevant count over the
    // rank order, floored ppm precision terms at relevant rows, one
    // integral division by the positive count.
    QuerySpec("q321_avg_precision", (s, dir) => {
      import graft.operators.EvalMetrics
      val ranked = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          when(pmod(col("doc_id"), lit(3L)) === 0L, 1L).otherwise(0L)
            .as("rel"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id")))
          .cast("long"))
      EvalMetrics.averagePrecision(ranked, "source", "rank", "rel")
    },
      raw"""WITH r AS (SELECT source AS query,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY doc_id) AS BIGINT) AS rnk,
         |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
         |  FROM documents),
         |c AS (SELECT query, rnk, rel,
         |    CAST(sum(rel) OVER (PARTITION BY query ORDER BY rnk)
         |      AS BIGINT) AS relcnt
         |  FROM r)
         |SELECT query, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(rel) AS BIGINT) AS n_pos,
         |  CASE WHEN sum(rel) = 0 THEN NULL
         |    ELSE CAST(sum(CASE WHEN rel = 1
         |      THEN (1000000 * relcnt) // rnk ELSE 0 END)
         |      // sum(rel) AS BIGINT) END AS ap_ppm
         |FROM c GROUP BY query""".stripMargin),

    // KRIPPENDORFF'S ALPHA per event type: users as units, the
    // centi-value residue mod 4 as the nominal rating -- variable
    // ratings per unit (the shape Fleiss cannot take), unit quotients
    // floored to micro, DECIMAL final fold.
    // q328: Krippendorff's alpha -- unit coincidence quotients
    // floored to micro, category totals over pairable rows, the
    // (N-1)*Do/De fold on HUGEINT.
    QuerySpec("q328_krippendorff", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.krippendorffAlpha(
        events(s, dir).select(col("event_type"),
          col("user_id").as("unit"),
          pmod(floor(col("value") * 100).cast("long"), lit(4L))
            .as("rating")),
        "event_type", "unit", "rating")
    },
      raw"""WITH r AS (SELECT event_type AS grp, user_id AS unit,
         |    ((CAST(floor(value * 100) AS BIGINT) % 4) + 4) % 4 AS v
         |  FROM events),
         |cells AS (SELECT grp, unit, v,
         |    CAST(count(*) AS BIGINT) AS nuc
         |  FROM r GROUP BY 1, 2, 3),
         |units AS (SELECT grp, unit, CAST(sum(nuc) AS BIGINT) AS mu
         |  FROM cells GROUP BY 1, 2),
         |paired AS (SELECT c.grp, c.unit, c.v, c.nuc, u.mu
         |  FROM cells c JOIN units u
         |    ON u.grp = c.grp AND u.unit = c.unit
         |  WHERE u.mu >= 2),
         |du AS (SELECT grp, unit,
         |    (1000000 * sum(nuc * (mu - nuc))) // (max(mu) - 1)
         |      AS duv
         |  FROM paired GROUP BY grp, unit),
         |dofold AS (SELECT grp, sum(CAST(duv AS HUGEINT))
         |    AS do_micro FROM du GROUP BY grp),
         |cats AS (SELECT grp, v, CAST(sum(nuc) AS BIGINT) AS nc
         |  FROM paired GROUP BY grp, v),
         |catfold AS (SELECT grp, CAST(sum(nc) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS ncat
         |  FROM cats GROUP BY grp),
         |defold AS (SELECT c.grp,
         |    sum(CAST(c.nc AS HUGEINT) * (f.nn - c.nc)) AS de,
         |    CAST(max(f.nn) AS BIGINT) AS nn,
         |    CAST(max(f.ncat) AS BIGINT) AS ncat
         |  FROM cats c JOIN catfold f ON f.grp = c.grp
         |  GROUP BY c.grp),
         |us AS (SELECT grp,
         |    CAST(sum(CASE WHEN mu >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_units,
         |    CAST(sum(CASE WHEN mu < 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dropped_units
         |  FROM units GROUP BY grp)
         |SELECT us.grp, us.n_units, us.n_dropped_units,
         |  CAST(COALESCE(defold.nn, 0) AS BIGINT) AS n_pairable,
         |  CAST(COALESCE(defold.ncat, 0) AS BIGINT) AS n_categories,
         |  CASE WHEN defold.nn IS NULL OR defold.nn < 2
         |      OR defold.de <= 0 THEN NULL
         |    ELSE CAST(1000000 - (CAST(defold.nn - 1 AS HUGEINT)
         |      * dofold.do_micro) // defold.de AS BIGINT)
         |    END AS alpha_ppm
         |FROM us LEFT JOIN dofold ON dofold.grp = us.grp
         |LEFT JOIN defold ON defold.grp = us.grp""".stripMargin),

    // SEASONAL-NAIVE BACKTEST (m=24) on the hourly value sums per
    // event type -- integer MAE/sMAPE/MASE; mase >= 1e6 reads "the
    // daily cycle buys nothing over yesterday's hour".
    // q340: seasonal-naive backtest -- two lags, per-row floored
    // sMAPE terms, three integral divisions.
    QuerySpec("q340_backtest", (s, dir) => {
      import graft.operators.EvalMetrics
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 3600000000000L)) div 3600000000000L")
            .as("h"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("v")).as("hv"))
      EvalMetrics.seasonalNaiveBacktest(hourly, "event_type", "h",
        "h", "hv", m = 24)
    },
      raw"""WITH hr AS (SELECT event_type AS key,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000
         |      + 3600000000000) % 3600000000000)) // 3600000000000
         |      AS h,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |hv AS (SELECT key, CAST(h AS BIGINT) AS h,
         |    CAST(sum(v) AS BIGINT) AS hv
         |  FROM hr GROUP BY 1, 2),
         |lg AS (SELECT key, hv,
         |    lag(hv, 24) OVER (PARTITION BY key ORDER BY h, h) AS f,
         |    lag(hv, 1) OVER (PARTITION BY key ORDER BY h, h) AS p
         |  FROM hv),
         |ev AS (SELECT key, abs(hv - f) AS em, abs(hv - p) AS e1,
         |    abs(hv) + abs(f) AS den
         |  FROM lg WHERE f IS NOT NULL),
         |sm AS (SELECT key, em, e1, CASE WHEN den = 0 THEN 0
         |    ELSE (2000000 * em) // den END AS smt FROM ev)
         |SELECT key, CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST((1000000::HUGEINT * sum(CAST(em AS HUGEINT)))
         |    // CAST(count(*) AS HUGEINT) AS BIGINT) AS mae_micro,
         |  CAST(sum(CAST(smt AS HUGEINT))
         |    // CAST(count(*) AS HUGEINT) AS BIGINT) AS smape_ppm,
         |  CASE WHEN CAST(sum(e1) AS BIGINT) <= 0 THEN NULL
         |    ELSE CAST((1000000::HUGEINT * sum(CAST(em AS HUGEINT)))
         |      // CAST(sum(e1) AS HUGEINT) AS BIGINT)
         |    END AS mase_ppm
         |FROM sm GROUP BY key""".stripMargin),

    // WORD ERROR RATE between consecutive documents' 10-token
    // prefixes -- codegen'd Levenshtein over the per-pair ASCII
    // vocabulary encoding (distance is bijection-invariant).
    // q345: WER -- the same tokenization, a per-pair ASCII vocab
    // encoding (any bijection preserves edit distance), DuckDB's
    // levenshtein on the single-byte encodings.
    QuerySpec("q345_wer", (s, dir) => {
      import graft.operators.EvalMetrics
      val d = t(s, dir, "documents").select(col("doc_id"),
        expr(raw"""array_join(slice(split(text, '\\s+'), 1, 10),
          ' ')""").as("txt"))
      val pairs = d.select(col("doc_id").as("id"),
          col("txt").as("hyp"))
        .join(d.select((col("doc_id") - 1L).as("__id2"),
          col("txt").as("ref")), col("id") === col("__id2"))
        .select(col("id"), col("hyp"), col("ref"))
      EvalMetrics.wordErrorRate(pairs, "id", "hyp", "ref")
    },
      raw"""WITH d AS (SELECT doc_id,
         |    array_to_string(string_split_regex(text, '\s+')[1:10],
         |      ' ') AS txt
         |  FROM documents),
         |pr AS (SELECT a.doc_id AS id, a.txt AS hyp, b.txt AS ref
         |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
         |tk AS (SELECT id,
         |    list_filter(string_split_regex(trim(hyp), '\s+'),
         |      x -> x <> '') AS h,
         |    list_filter(string_split_regex(trim(ref), '\s+'),
         |      x -> x <> '') AS r
         |  FROM pr),
         |vc AS (SELECT id, h, r,
         |    list_sort(list_distinct(list_concat(h, r))) AS vocab
         |  FROM tk),
         |en AS (SELECT id, h, r,
         |    COALESCE(array_to_string(list_transform(h,
         |      x -> chr(list_position(vocab, x) + 32)), ''), '')
         |      AS eh,
         |    COALESCE(array_to_string(list_transform(r,
         |      x -> chr(list_position(vocab, x) + 32)), ''), '')
         |      AS er
         |  FROM vc)
         |SELECT id, CAST(len(h) AS BIGINT) AS n_hyp,
         |  CAST(len(r) AS BIGINT) AS n_ref,
         |  CAST(levenshtein(eh, er) AS BIGINT) AS dist,
         |  CASE WHEN len(r) = 0 THEN NULL
         |    ELSE CAST((1000000 * levenshtein(eh, er))
         |      // len(r) AS BIGINT) END AS wer_ppm
         |FROM en""".stripMargin),

    // PINBALL LOSS at q=0.9 of the seasonal-naive hourly forecast
    // (the q340 feeder) -- under-prediction charged 9x harder; the
    // quantile-forecast scorer next to MASE's median view.
    // q347: pinball loss -- the lag-24 forecast, the asymmetric
    // per-row charge, one integral division for the mean.
    QuerySpec("q347_pinball", (s, dir) => {
      import graft.operators.EvalMetrics
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 3600000000000L)) div 3600000000000L")
            .as("h"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("v")).as("hv"))
        .withColumn("f", expr(
          "lag(hv, 24) OVER (PARTITION BY event_type ORDER BY h)"))
        .filter(col("f").isNotNull)
      EvalMetrics.pinballLossPpm(hourly, "event_type", "hv", "f",
        qPpm = 900000L)
    },
      raw"""WITH hr AS (SELECT event_type AS key,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000
         |      + 3600000000000) % 3600000000000)) // 3600000000000
         |      AS h,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |hv AS (SELECT key, CAST(h AS BIGINT) AS h,
         |    CAST(sum(v) AS BIGINT) AS hv
         |  FROM hr GROUP BY 1, 2),
         |lg AS (SELECT key, hv,
         |    lag(hv, 24) OVER (PARTITION BY key ORDER BY h) AS f
         |  FROM hv),
         |ev AS (SELECT key,
         |    CASE WHEN hv >= f THEN 900000 * (hv - f)
         |      ELSE 100000 * (f - hv) END AS loss
         |  FROM lg WHERE f IS NOT NULL)
         |SELECT key, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(loss) AS BIGINT) AS sum_loss_ppm,
         |  CAST(sum(CAST(loss AS HUGEINT))
         |    // CAST(count(*) AS HUGEINT) AS BIGINT)
         |    AS mean_loss_ppm
         |FROM ev GROUP BY key""".stripMargin),

    // HOSMER-LEMESHOW RANK DECILES of the value-derived confidence
    // against the event-id-parity label -- exact O and sum-conf E
    // chi-square inputs per equal-count decile.
    // q348: Hosmer-Lemeshow -- the rank window, integer decile
    // bucketing, exact O and sum-conf E per bucket.
    QuerySpec("q348_hl_deciles", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.hosmerLemeshowDeciles(events(s, dir)
        .select(col("event_type"), col("event_id"),
          least(lit(1000000L), floor(col("value") * 10000)
            .cast("long")).as("conf"),
          pmod(col("event_id"), lit(2L)).as("lab")),
        "event_type", "event_id", "conf", "lab")
    },
      raw"""WITH e AS (SELECT event_type AS key, event_id AS tie,
         |    least(1000000, CAST(floor(value * 10000) AS BIGINT))
         |      AS conf,
         |    CAST(event_id % 2 AS BIGINT) AS lab FROM events),
         |rk AS (SELECT key, conf, lab,
         |    CAST(row_number() OVER (PARTITION BY key
         |      ORDER BY conf, tie) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS tot
         |  FROM e)
         |SELECT key, CAST(((r - 1) * 10) // tot AS BIGINT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(lab) AS BIGINT)
         |    AS o,
         |  CAST(sum(conf) AS BIGINT) AS e_ppm
         |FROM rk GROUP BY 1, 2""".stripMargin),

    // ISOTONIC (PAVA-minimax) FIT of the daily value sums per event
    // type on the micro lattice -- the monotone pooling that makes a
    // reliability diagram readable, applied to the q337 daily
    // series.
    // q350: isotonic minimax -- prefix sums, the (j,k) segment-mean
    // lattice, min over k >= i then max over j <= i, replayed with
    // the same integral truncations.
    QuerySpec("q350_isotonic", (s, dir) => {
      import graft.operators.EvalMetrics
      val daily = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
            .as("d"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("v")).as("dv"))
      EvalMetrics.isotonicFitMicro(daily, "event_type", "d", "d",
        "dv")
    },
      raw"""WITH dl AS (SELECT event_type AS grp,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000
         |      + 86400000000000) % 86400000000000))
         |      // 86400000000000 AS d,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |dv2 AS (SELECT grp, CAST(d AS BIGINT) AS d,
         |    CAST(sum(v) AS BIGINT) AS dv FROM dl GROUP BY 1, 2),
         |p0 AS (SELECT grp AS key, d AS ts, d AS tie, dv AS v,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY d)
         |      AS BIGINT) AS pos,
         |    CAST(sum(dv) OVER (PARTITION BY grp ORDER BY d
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps
         |  FROM dv2),
         |jj AS (SELECT key, pos AS j, ps - v AS pjm1 FROM p0),
         |kk AS (SELECT key, pos AS k, ps AS prek FROM p0),
         |pjk AS (SELECT jj.key, jj.j, kk.k,
         |    (1000000 * (kk.prek - jj.pjm1)) // (kk.k - jj.j + 1)
         |      AS av
         |  FROM jj JOIN kk ON kk.key = jj.key AND jj.j <= kk.k),
         |inr AS (SELECT i.key, i.pos, pjk.j, min(pjk.av) AS mn
         |  FROM p0 i JOIN pjk ON pjk.key = i.key
         |    AND pjk.j <= i.pos AND pjk.k >= i.pos
         |  GROUP BY 1, 2, 3),
         |ft AS (SELECT key, pos, CAST(max(mn) AS BIGINT)
         |    AS iso_micro
         |  FROM inr GROUP BY 1, 2)
         |SELECT p0.key, p0.ts, p0.tie, p0.v, ft.iso_micro
         |FROM p0 JOIN ft ON ft.key = p0.key
         |  AND ft.pos = p0.pos""".stripMargin),

    // CUMULATIVE GAINS / LIFT TABLE of the value-derived score
    // against the parity label -- the discrimination view next to
    // q348's calibration; bucket-0 lift is the headline.
    // q351: gains table -- the desc rank window, integer bucketing,
    // cumulative sums, capture/lift divisions (lift on HUGEINT).
    QuerySpec("q351_gains", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.gainsTable(events(s, dir)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 10000).cast("long").as("score"),
          pmod(col("event_id"), lit(2L)).as("lab")),
        "event_type", "event_id", "score", "lab", nBuckets = 10)
    },
      raw"""WITH e AS (SELECT event_type AS key, event_id AS tie,
         |    CAST(floor(value * 10000) AS BIGINT) AS s,
         |    CAST(event_id % 2 AS BIGINT) AS l FROM events),
         |rk AS (SELECT key, l,
         |    CAST(row_number() OVER (PARTITION BY key
         |      ORDER BY s DESC, tie) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS tot
         |  FROM e),
         |bk AS (SELECT key, ((r - 1) * 10) // tot AS bucket,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(l) AS BIGINT) AS o,
         |    CAST(max(tot) AS BIGINT) AS tot
         |  FROM rk GROUP BY 1, 2),
         |cm AS (SELECT key, bucket, n, o, tot,
         |    CAST(sum(n) OVER (PARTITION BY key ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         |    CAST(sum(o) OVER (PARTITION BY key ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_o,
         |    CAST(sum(o) OVER (PARTITION BY key) AS BIGINT) AS toto
         |  FROM bk)
         |SELECT key, CAST(bucket AS BIGINT) AS bucket, n, o,
         |  cum_n, cum_o,
         |  CASE WHEN toto <= 0 THEN NULL
         |    ELSE CAST((1000000 * cum_o) // toto AS BIGINT)
         |    END AS capture_ppm,
         |  CASE WHEN toto <= 0 THEN NULL
         |    ELSE CAST((1000000::HUGEINT * cum_o * tot)
         |      // (CAST(toto AS HUGEINT) * cum_n) AS BIGINT)
         |    END AS lift_ppm
         |FROM cm""".stripMargin),

    // QUADRATIC-WEIGHTED KAPPA between two user-residue raters per
    // event type -- the ordinal agreement with (i-j)^2 penalties,
    // one DECIMAL division.
    // q357: weighted kappa -- (i,j) cells, marginal cross grid,
    // one HUGEINT division.
    QuerySpec("q357_weighted_kappa", (s, dir) => {
      import graft.operators.EvalMetrics
      EvalMetrics.weightedKappa(events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(4L)).as("r1"),
          pmod(col("user_id") + pmod(col("event_id"), lit(3L)),
            lit(4L)).as("r2")),
        "event_type", "r1", "r2", maxCat = 4)
    },
      raw"""WITH e AS (SELECT event_type AS key,
         |    CAST(user_id % 4 AS BIGINT) AS i,
         |    CAST((user_id + event_id % 3) % 4 AS BIGINT) AS j
         |  FROM events),
         |cl AS (SELECT key, i, j, CAST(count(*) AS BIGINT) AS o
         |  FROM e GROUP BY 1, 2, 3),
         |nm AS (SELECT key, CAST(sum(o) AS BIGINT) AS n,
         |    CAST(sum((i - j) * (i - j) * o) AS BIGINT) AS num
         |  FROM cl GROUP BY 1),
         |rt AS (SELECT key, i, CAST(sum(o) AS BIGINT) AS ri FROM cl
         |  GROUP BY 1, 2),
         |ct AS (SELECT key, j, CAST(sum(o) AS BIGINT) AS cj FROM cl
         |  GROUP BY 1, 2),
         |dn AS (SELECT rt.key,
         |    sum((rt.i - ct.j) * (rt.i - ct.j)
         |      * CAST(rt.ri AS HUGEINT) * ct.cj) AS den
         |  FROM rt JOIN ct ON ct.key = rt.key GROUP BY 1)
         |SELECT nm.key, nm.n, nm.num,
         |  CASE WHEN dn.den <= 0 THEN NULL
         |    ELSE CAST(1000000 - (1000000::HUGEINT * nm.n * nm.num)
         |      // dn.den AS BIGINT) END AS kappa_w_ppm
         |FROM nm JOIN dn ON dn.key = nm.key""".stripMargin),

    // CRONBACH'S ALPHA over a synthetic complete design (user
    // residues x event-id-residue items, cell scores = value sums
    // mod 11) -- exact integer moments, one DECIMAL truncation; the
    // complete-design refusal is the operator's own gate.
    // q358: Cronbach's alpha -- the synthetic complete design, the
    // item/total moment folds, one HUGEINT truncation.
    QuerySpec("q358_cronbach", (s, dir) => {
      import graft.operators.EvalMetrics
      val cells = events(s, dir)
        .groupBy(pmod(col("user_id"), lit(2L)).as("key"),
          pmod(col("user_id"), lit(100L)).as("resp"),
          pmod(col("event_id"), lit(3L)).as("item"))
        .agg(pmod(sum(floor(col("value") * 100).cast("long")),
          lit(11L)).as("score"))
      EvalMetrics.cronbachAlpha(cells, "key", "resp", "item",
        "score")
    },
      raw"""WITH cell AS (SELECT ((user_id % 2) + 2) % 2 AS key,
         |    ((user_id % 100) + 100) % 100 AS r,
         |    ((event_id % 3) + 3) % 3 AS i,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |sc AS (SELECT key, r, i,
         |    ((CAST(sum(v) AS BIGINT) % 11) + 11) % 11 AS s
         |  FROM cell GROUP BY 1, 2, 3),
         |ki AS (SELECT key, CAST(count(DISTINCT i) AS BIGINT) AS k
         |  FROM sc GROUP BY 1),
         |pr AS (SELECT key, r, CAST(sum(s) AS BIGINT) AS t
         |  FROM sc GROUP BY 1, 2),
         |rf AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(t AS HUGEINT) * t) AS st2,
         |    CAST(sum(t) AS BIGINT) AS st
         |  FROM pr GROUP BY 1),
         |it1 AS (SELECT key, i, CAST(sum(s) AS BIGINT) AS si,
         |    CAST(sum(s * s) AS BIGINT) AS qi
         |  FROM sc GROUP BY 1, 2),
         |it2 AS (SELECT key, sum(CAST(qi AS HUGEINT)) AS sq,
         |    sum(CAST(si AS HUGEINT) * si) AS ss2
         |  FROM it1 GROUP BY 1)
         |SELECT CAST(rf.key AS BIGINT) AS key, rf.n, ki.k,
         |  CASE WHEN ki.k < 2
         |      OR (rf.n::HUGEINT * rf.st2
         |        - rf.st::HUGEINT * rf.st) <= 0 THEN NULL
         |    ELSE CAST((1000::HUGEINT * ki.k
         |      * ((rf.n::HUGEINT * rf.st2 - rf.st::HUGEINT * rf.st)
         |        - (rf.n::HUGEINT * it2.sq - it2.ss2)))
         |      // ((ki.k - 1)
         |        * (rf.n::HUGEINT * rf.st2
         |          - rf.st::HUGEINT * rf.st)) AS BIGINT)
         |    END AS alpha_milli
         |FROM rf JOIN ki ON ki.key = rf.key
         |JOIN it2 ON it2.key = rf.key""".stripMargin),

    // SEQUENTIAL PAVA on the q350 series -- the O(n) pool-stack walk
    // that must land bit-for-bit on the n^3 minimax oracle
    // (truncation commutes with min/max, so the lattice fits agree
    // exactly).
    // q371: sequential PAVA — gated against the SAME n^3 minimax
    // oracle as q350 (the definition both factorings must meet).
    QuerySpec("q371_isotonic_large", (s, dir) => {
      import graft.operators.EvalMetrics
      val daily = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
            .as("d"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("v")).as("dv"))
      EvalMetrics.isotonicFitLarge(daily, "event_type", "d", "d",
        "dv")
    },
      raw"""WITH dl AS (SELECT event_type AS grp,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000
         |      + 86400000000000) % 86400000000000))
         |      // 86400000000000 AS d,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |dv2 AS (SELECT grp, CAST(d AS BIGINT) AS d,
         |    CAST(sum(v) AS BIGINT) AS dv FROM dl GROUP BY 1, 2),
         |p0 AS (SELECT grp AS key, d AS ts, d AS tie, dv AS v,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY d)
         |      AS BIGINT) AS pos,
         |    CAST(sum(dv) OVER (PARTITION BY grp ORDER BY d
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps
         |  FROM dv2),
         |jj AS (SELECT key, pos AS j, ps - v AS pjm1 FROM p0),
         |kk AS (SELECT key, pos AS k, ps AS prek FROM p0),
         |pjk AS (SELECT jj.key, jj.j, kk.k,
         |    (1000000 * (kk.prek - jj.pjm1)) // (kk.k - jj.j + 1)
         |      AS av
         |  FROM jj JOIN kk ON kk.key = jj.key AND jj.j <= kk.k),
         |inr AS (SELECT i.key, i.pos, pjk.j, min(pjk.av) AS mn
         |  FROM p0 i JOIN pjk ON pjk.key = i.key
         |    AND pjk.j <= i.pos AND pjk.k >= i.pos
         |  GROUP BY 1, 2, 3),
         |ft AS (SELECT key, pos, CAST(max(mn) AS BIGINT)
         |    AS iso_micro
         |  FROM inr GROUP BY 1, 2)
         |SELECT p0.key, p0.ts, p0.tie, p0.v, ft.iso_micro
         |FROM p0 JOIN ft ON ft.key = p0.key
         |  AND ft.pos = p0.pos""".stripMargin),

    // MASE of a deterministic shrink forecast (9/10 of the actual)
    // against the weekly seasonal-naive scale over the q337 daily
    // series -- one lag window + one fold, n_eval cancelling in the
    // cross-multiplied division.
    // q372: MASE of the shrink forecast vs weekly seasonal naive —
    // one lag window + one HUGEINT cross-multiplied fold.
    QuerySpec("q372_mase", (s, dir) => {
      import graft.operators.EvalMetrics
      val daily = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
            .as("d"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("v")).as("dv"))
        .withColumn("f", expr("(dv * 9L) div 10L"))
      EvalMetrics.maseForecast(daily, "event_type", "d", "d", "dv",
        "f", m = 7)
    },
      raw"""WITH dl AS (SELECT event_type AS key,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000
         |      + 86400000000000) % 86400000000000))
         |      // 86400000000000 AS d,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |dv2 AS (SELECT key, CAST(d AS BIGINT) AS d,
         |    CAST(sum(v) AS BIGINT) AS dv FROM dl GROUP BY 1, 2),
         |fc AS (SELECT key, d, dv, (dv * 9) // 10 AS f,
         |    lag(dv, 7) OVER (PARTITION BY key ORDER BY d) AS nv
         |  FROM dv2),
         |ag AS (SELECT key, CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(sum(abs(dv - f)) AS BIGINT) AS ef,
         |    CAST(sum(abs(dv - nv)) AS BIGINT) AS en
         |  FROM fc WHERE nv IS NOT NULL GROUP BY 1)
         |SELECT key, n_eval,
         |  CAST((1000000::HUGEINT * ef) // n_eval AS BIGINT)
         |    AS mae_f_micro,
         |  CASE WHEN en <= 0 THEN NULL
         |    ELSE CAST((1000000::HUGEINT * ef) // en AS BIGINT)
         |    END AS mase_ppm
         |FROM ag""".stripMargin)
  )
}
