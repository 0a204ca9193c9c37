package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.functions.TextFns
import graft.queries.QueryFixtures._

/** Curation queries: `Curation`, `QualityModel`, `Anonymize` and
  * `SemiStructured`.
  */
object CurationQueries {

  /** q158 oracle: the trained merge rows (b1…b4) applied to every doc
    * word as a chained literal replace (left-to-right, the greedy merge
    * semantics), symbol counts summed per doc (out-of-alphabet words
    * count 1), then q71's cumulative-sum packing replay on the BPE
    * counts.
    */
  private def bpePackOracleSql(nMerges: Int, budget: Int): String = {
    val enc0 = raw"regexp_replace(word, '(.)', '<\1>', 'g')"
    val applied = (1 to nMerges).foldLeft(enc0) { (acc, k) =>
      s"replace($acc,\n          '<' || b$k.a || '><' || b$k.b || " +
        s"'>', '<' || b$k.a || b$k.b || '>')"
    }
    val crossB = (1 to nMerges).map(k => s"CROSS JOIN b$k").mkString(" ")
    raw"""WITH ${bpeCtes(nMerges)},
       |docw AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |seg AS (SELECT doc_id,
       |    CASE WHEN regexp_matches(word, '^[a-z0-9]+$$') THEN
       |      len(regexp_extract_all($applied, '<([^>]*)>', 1))
       |    ELSE 1 END AS c
       |  FROM docw $crossB),
       |cnts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS bpe_toks
       |  FROM seg GROUP BY doc_id),
       |alld AS (SELECT d.doc_id, coalesce(c.bpe_toks, 0) AS bpe_toks
       |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |  LEFT JOIN cnts c ON c.doc_id = d.doc_id),
       |d2 AS (SELECT doc_id, doc_id % 8 AS shard,
       |    least(bpe_toks, $budget) AS toks FROM alld),
       |c2 AS (SELECT *, sum(toks) OVER (PARTITION BY shard
       |    ORDER BY doc_id) AS cum FROM d2)
       |SELECT shard, CAST(floor((cum - toks) / $budget.0) AS BIGINT)
       |    AS bin,
       |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS fill,
       |  round(CAST(sum(toks) AS BIGINT) / $budget.0, 6) AS fill_ratio
       |FROM c2 GROUP BY 1, 2""".stripMargin
  }

  /** q160 oracle: the full Gopher repetition battery — per-n top-gram
    * argmax CTEs and duplicated-gram coverage CTEs (within-doc rep →
    * gaps-and-islands merge → char sum over covered positions), flags by
    * integer cross-multiplication. Generated per n; thresholds are the
    * paper's, as exact rationals.
    */
  private def gopherRepOracleSql: String = {
    val topSpec = Seq((2, 1L, 5L), (3, 9L, 50L), (4, 4L, 25L))
    val dupSpec = Seq((5, 3L, 20L), (6, 7L, 50L), (7, 13L, 100L),
      (8, 3L, 25L), (9, 11L, 100L), (10, 1L, 10L))
    def gramsFor(n: Int, withPos: Boolean): String = {
      val pos = if (withPos)
        s"unnest(list_transform(range(1, len(w) - $n + 2), " +
          "p -> p - 1)) AS pos,"
      else ""
      raw"""SELECT doc_id, $pos
         |    unnest(list_transform(range(1, len(w) - $n + 2),
         |      p -> array_to_string(w[p:p + $n - 1], ' '))) AS g
         |  FROM base WHERE len(w) >= $n""".stripMargin
    }
    val topCtes = topSpec.map { case (n, _, _) =>
      raw"""t$n AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS cov
         |  FROM (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |    FROM (${gramsFor(n, withPos = false)}) GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, g ASC) = 1)""".stripMargin
    }
    val dupCtes = dupSpec.map { case (n, _, _) =>
      raw"""g$n AS (${gramsFor(n, withPos = true)}),
         |r$n AS (SELECT doc_id, g FROM g$n GROUP BY 1, 2
         |  HAVING count(*) >= 2),
         |m$n AS (SELECT g$n.doc_id, CAST(g$n.pos AS BIGINT) AS pos,
         |    CAST(g$n.pos + $n AS BIGINT) AS e
         |  FROM g$n JOIN r$n USING (doc_id, g)),
         |x$n AS (SELECT doc_id, pos, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM m$n),
         |y$n AS (SELECT doc_id, pos, e,
         |    CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END AS nw
         |  FROM x$n),
         |z$n AS (SELECT doc_id, pos, e,
         |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM y$n),
         |sp$n AS (SELECT doc_id, min(pos) AS s, max(e) AS en
         |  FROM z$n GROUP BY doc_id, grp),
         |cv$n AS (SELECT sp.doc_id,
         |    CAST(sum(t.len) + count(*) AS BIGINT) AS lenpos
         |  FROM sp$n sp JOIN toksall t ON t.doc_id = sp.doc_id
         |    AND t.pos >= sp.s AND t.pos < sp.en
         |  GROUP BY sp.doc_id),
         |ns$n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsp
         |  FROM sp$n GROUP BY doc_id),
         |d$n AS (SELECT cv.doc_id, cv.lenpos - ns.nsp AS cov
         |  FROM cv$n cv JOIN ns$n ns USING (doc_id))""".stripMargin
    }
    def cond(alias: String, num: Long, den: Long) =
      s"$alias.cov IS NULL OR $den * $alias.cov <= $num * m.n_chars"
    val flags =
      topSpec.map { case (n, num, den) =>
        s"  CAST(CASE WHEN ${cond(s"t$n", num, den)} THEN 1 ELSE 0 END" +
          s" AS BIGINT) AS r_top$n"
      } ++ dupSpec.map { case (n, num, den) =>
        s"  CAST(CASE WHEN ${cond(s"d$n", num, den)} THEN 1 ELSE 0 END" +
          s" AS BIGINT) AS r_dup$n"
      }
    val keepSum = (topSpec.map { case (n, num, den) =>
      s"(CASE WHEN ${cond(s"t$n", num, den)} THEN 1 ELSE 0 END)"
    } ++ dupSpec.map { case (n, num, den) =>
      s"(CASE WHEN ${cond(s"d$n", num, den)} THEN 1 ELSE 0 END)"
    }).mkString("\n    + ")
    val joins = (topSpec.map(t => s"t${t._1}") ++
      dupSpec.map(d => s"d${d._1}"))
      .map(a => s"LEFT JOIN $a ON $a.doc_id = m.doc_id").mkString("\n")
    raw"""WITH base AS (SELECT doc_id,
       |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\s+')
       |    END AS w
       |  FROM documents WHERE text IS NOT NULL),
       |m AS (SELECT doc_id,
       |    CAST(CASE WHEN len(w) > 0
       |      THEN list_sum(list_transform(w, x -> length(x)))
       |        + len(w) - 1
       |      ELSE 0 END AS BIGINT) AS n_chars
       |  FROM base),
       |toksall AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      p -> CAST(p - 1 AS BIGINT))) AS pos,
       |    unnest(list_transform(range(1, len(w) + 1),
       |      p -> CAST(length(w[p]) AS BIGINT))) AS len
       |  FROM base),
       |${topCtes.mkString(",\n")},
       |${dupCtes.mkString(",\n")}
       |SELECT m.doc_id, m.n_chars,
       |${flags.mkString(",\n")},
       |  CAST(CASE WHEN $keepSum = 9 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM m
       |$joins""".stripMargin
  }

  /** The six Gopher rule conditions over the m2/top CTE columns — shared
    * by the q157 oracle and the q162 data-card keep recomputation.
    */
  private def gopherRuleConds(minWords: Long,
      minStops: Long): Seq[String] = Seq(
    s"n_words BETWEEN $minWords AND 100000",
    "n_words > 0 AND sum_wlen >= 3 * n_words AND sum_wlen <= 10 * n_words",
    "10 * n_sym <= n_words",
    "5 * n_alpha >= 4 * n_words",
    s"n_stop >= $minStops",
    "top.top2_cnt IS NULL OR 5 * top.top2_cnt * top.top2_len <= n_chars")

  private def gopherKeepSum(minWords: Long, minStops: Long): String =
    gopherRuleConds(minWords, minStops)
      .map(c => s"(CASE WHEN $c THEN 1 ELSE 0 END)").mkString("\n    + ")

  /** q157 oracle: the Gopher rule set with division-free integer
    * comparisons, mirroring `Curation.gopherQualityFlags` term-for-term.
    */
  private def gopherOracleSql(minWords: Long, minStops: Long): String = {
    def r(name: String, cond: String) =
      s"CAST(CASE WHEN $cond THEN 1 ELSE 0 END AS BIGINT) AS $name"
    val conds = gopherRuleConds(minWords, minStops)
    val names = Seq("r_words", "r_wlen", "r_sym", "r_alpha", "r_stop",
      "r_rep")
    val flags = names.zip(conds)
      .map { case (n, c) => "  " + r(n, c) }.mkString(",\n")
    val keepSum = gopherKeepSum(minWords, minStops)
    raw"""WITH $gopherBaseCtes
       |SELECT m2.doc_id, n_words,
       |$flags,
       |  CAST(CASE WHEN $keepSum = 6 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM m2 LEFT JOIN top ON top.doc_id = m2.doc_id""".stripMargin
  }

  /** The Gopher rule-stat CTEs (base → m2 + top-bigram argmax), shared by
    * q157 and q162.
    */
  private def gopherBaseCtes: String = {
    val nstop = graft.operators.Curation.GopherStops.map(s =>
      s"(CASE WHEN list_contains(w, '$s') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    raw"""base AS (SELECT doc_id, text,
       |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\s+')
       |    END AS w
       |  FROM documents WHERE text IS NOT NULL),
       |m AS (SELECT doc_id, text, w,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
       |    AS BIGINT) AS sum_wlen,
       |  CAST(length(text) - length(replace(text, '#', ''))
       |    + (length(text) - length(replace(text, '...', ''))) / 3
       |    AS BIGINT) AS n_sym,
       |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
       |    AS BIGINT) AS n_alpha,
       |  CAST($nstop AS BIGINT) AS n_stop
       |  FROM base),
       |m2 AS (SELECT *, CASE WHEN n_words > 0 THEN sum_wlen + n_words - 1
       |    ELSE 0 END AS n_chars FROM m),
       |bg AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)),
       |      p -> w[p] || ' ' || w[p + 1])) AS g
       |  FROM base WHERE len(w) >= 2),
       |bgc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM bg
       |  GROUP BY 1, 2),
       |top AS (SELECT doc_id, c AS top2_cnt,
       |    CAST(length(g) AS BIGINT) AS top2_len FROM bgc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY c DESC, g ASC) = 1)""".stripMargin
  }

  /** Unrolled batch-perceptron oracle for q152: the feature CTE mirrors
    * `QualityModel.docFeatures` count-for-count; each epoch CTE recomputes
    * the exact integer update w ← w + Σ_{y(w·x)≤0} y·x.
    */
  private def perceptronOracleSql(epochs: Int,
      averaged: Boolean = false): String = {
    val d = 5
    val js = 0 until d
    def dotW(alias: String) =
      js.map(j => s"$alias.w$j * x$j").mkString(" + ")
    val feats =
      raw"""f AS (SELECT doc_id,
         |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
         |  CAST(1 AS BIGINT) AS x0,
         |  CAST(CASE WHEN trim(text) = '' THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
         |    AS BIGINT) AS x1,
         |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
         |    AS BIGINT) AS x2,
         |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    AS BIGINT) AS x3,
         |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
         |    t -> lower(t) IN ('the','a','an','and','or','of','to','in',
         |      'is','it','for','on','with','as','at','by','this','that')))
         |    AS BIGINT) AS x4
         |  FROM documents WHERE text IS NOT NULL)""".stripMargin
    val w0 = "w0 AS (SELECT " +
      js.map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ") + ")"
    val steps = (1 to epochs).map { e =>
      val g = s"g$e AS (SELECT\n" + js.map(j =>
        s"  CAST(coalesce(sum(CASE WHEN y * (${dotW("w")}) <= 0" +
        s" THEN y * x$j ELSE 0 END), 0) AS BIGINT) AS d$j")
        .mkString(",\n") + s"\n  FROM f CROSS JOIN w${e - 1} w)"
      val w = s"w$e AS (SELECT " +
        js.map(j => s"w.w$j + g.d$j AS w$j").mkString(", ") +
        s" FROM w${e - 1} w CROSS JOIN g$e g)"
      g + ",\n" + w
    }.mkString(",\n")
    val wRows = js.map { j =>
      if (j == 0)
        s"SELECT 'w' AS kind, CAST(0 AS BIGINT) AS k, w0 AS v FROM w$epochs"
      else s"UNION ALL SELECT 'w', $j, w$j FROM w$epochs"
    }.mkString("\n")
    if (!averaged)
      raw"""WITH $feats,
         |$w0,
         |$steps,
         |pred AS (SELECT doc_id,
         |  CAST(CASE WHEN (${dotW("w")}) > 0 THEN 1 ELSE -1 END AS BIGINT)
         |    AS v
         |  FROM f CROSS JOIN w$epochs w)
         |$wRows
         |UNION ALL SELECT 'pred', doc_id, v FROM pred""".stripMargin
    else {
      // Σ_e w_e per feature (qualified references — every w_e CTE carries
      // the same column names); sign(Σw·x) ≡ sign(avg(w)·x), no division
      val wsJoin = (1 to epochs).map(e => s"w$e").mkString(" CROSS JOIN ")
      val ws = "ws AS (SELECT " + js.map(j =>
        (1 to epochs).map(e => s"w$e.w$j").mkString(" + ") + s" AS w$j")
        .mkString(", ") + s" FROM $wsJoin)"
      val wsumRows = js.map(j =>
        s"UNION ALL SELECT 'wsum', $j, w$j FROM ws").mkString("\n")
      raw"""WITH $feats,
         |$w0,
         |$steps,
         |$ws,
         |pred AS (SELECT doc_id,
         |  CAST(CASE WHEN (${dotW("w")}) > 0 THEN 1 ELSE -1 END AS BIGINT)
         |    AS v
         |  FROM f CROSS JOIN ws w)
         |$wRows
         |$wsumRows
         |UNION ALL SELECT 'pred', doc_id, v FROM pred""".stripMargin
    }
  }

  /** Shared CTE chain for q191/q196: the hashed char-n-gram LID
    * scorer — token wrap, bigram/trigram bucket hashes as nested
    * ord(substr()) arithmetic, the dense closed-form weight lattice,
    * per-(doc, class) sums, margins `mg` and argmax `pr`.
    */
  private def ngramLidCtes: String =
    raw"""cls(lang, p, bias) AS (VALUES
         |  ('en', 5, -1), ('de', 11, 0), ('fr', 17, 1)),
         |wt AS (SELECT r.range AS bucket, c.lang,
         |    (r.range * c.p) % 7 - 3 AS weight
         |  FROM range(0, 1000) r CROSS JOIN cls c),
         |tok AS (SELECT doc_id,
         |    '<' || unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
         |      || '>' AS wd
         |  FROM documents WHERE coalesce(trim(text), '') <> ''),
         |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(wd)),
         |    i -> (ord(substr(wd, i, 1)) * 31
         |        + ord(substr(wd, i + 1, 1))) % 1000)) AS b
         |  FROM tok),
         |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(wd) - 1),
         |    i -> ((ord(substr(wd, i, 1)) * 31
         |         + ord(substr(wd, i + 1, 1))) * 31
         |         + ord(substr(wd, i + 2, 1))) % 1000)) AS b
         |  FROM tok WHERE len(wd) >= 3),
         |feats AS (SELECT doc_id, b FROM g2
         |  UNION ALL SELECT doc_id, b FROM g3),
         |sc AS (SELECT f.doc_id, w.lang, CAST(sum(w.weight) AS BIGINT) AS s
         |  FROM feats f JOIN wt w ON w.bucket = f.b GROUP BY 1, 2),
         |mg AS (SELECT d.doc_id, c.lang,
         |    CAST(c.bias + COALESCE(sc.s, 0) AS BIGINT) AS margin
         |  FROM documents d CROSS JOIN cls c
         |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = c.lang),
         |pr AS (SELECT doc_id, lang AS pl FROM mg
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY margin DESC, lang) = 1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Overlapping token-window chunking (RAG / long-context splitting):
    // 16-token windows every 12 tokens, tail-preserving. Pure map-side
    // sequence explode; the oracle re-derives every chunk boundary.
    // window=16, stride=12; the spine is sized FROM the data (max nc) so
    // the oracle can never silently truncate a long document's chunks
    QuerySpec("q86_chunk_windows", (s, dir) => {
      import graft.operators.Curation
      Curation.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        window = 16, stride = 12)
    },
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT *, CASE WHEN n <= 16 THEN 1
        |    ELSE CAST(ceil((n - 16) / 12.0) AS INT) + 1 END AS nc FROM d),
        |spine AS (SELECT unnest(range(0, (SELECT CAST(max(nc) AS BIGINT) FROM c))) AS i)
        |SELECT doc_id, t.i AS chunk_idx,
        |  CAST(least(16, n - t.i * 12) AS BIGINT) AS n_tokens,
        |  toks[CAST(t.i * 12 + 1 AS INT)] AS head,
        |  toks[CAST(t.i * 12 + least(16, n - t.i * 12) AS INT)] AS tail
        |FROM c, spine t WHERE t.i < c.nc""".stripMargin),

    // Mean unigram surprisal per doc under the corpus' own unigram
    // distribution — the no-model text-quality outlier score. Term counts
    // broadcast (vocabulary-sized); corpus shuffles only for aggs.
    QuerySpec("q88_unigram_surprisal", (s, dir) => {
      import graft.operators.Curation
      Curation.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), round(col("surprisal"), 6).as("surprisal"),
          col("n_tokens"))
    },
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt)
        |SELECT doc_id, round(avg(-ln(c / t)), 6) AS surprisal,
        |  count(*) AS n_tokens
        |FROM tok JOIN cnt USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin),

    // Interpolated bigram surprisal (λ=0.5 backoff to unigram): the LM
    // fluency score over corpus-estimated bigram/unigram models — first
    // position unigram-only, bigram counts joined on a keyed shuffle.
    // λ=0.5 keeps both interpolation weights exact in binary, so the
    // oracle's literals are bit-identical to the engine's.
    QuerySpec("q101_bigram_surprisal", (s, dir) => {
      import graft.operators.Curation
      Curation.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text",
          lambda = 0.5)
        .select(col("doc_id"), round(col("surprisal"), 6).as("surprisal"),
          col("n_tokens"))
    },
      """WITH base AS (SELECT doc_id, trim(lower(text)) AS lt FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> ''),
        |nz AS (SELECT doc_id, regexp_split_to_array(lt, '\s+') AS w,
        |  len(regexp_split_to_array(lt, '\s+')) AS n FROM base),
        |uc AS (SELECT term, count(*) AS cu
        |  FROM (SELECT unnest(w) AS term FROM nz) GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t FROM uc),
        |inst AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(w)), j -> w[j])) AS w1,
        |  unnest(list_transform(range(1, len(w)), j -> w[j + 1])) AS w2
        |  FROM nz WHERE n >= 2),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM inst GROUP BY 1, 2),
        |iterm AS (SELECT i.doc_id,
        |  -ln(0.5 * (cb / cu1.cu) + 0.5 * (cu2.cu / t)) AS s
        |  FROM inst i JOIN bc USING (w1, w2)
        |  JOIN uc cu1 ON cu1.term = i.w1
        |  JOIN uc cu2 ON cu2.term = i.w2 CROSS JOIN tot),
        |isum AS (SELECT doc_id, sum(s) AS bs FROM iterm GROUP BY 1),
        |ft AS (SELECT nz.doc_id, -ln(uc.cu / t) AS fs, nz.n
        |  FROM nz JOIN uc ON uc.term = nz.w[1] CROSS JOIN tot)
        |SELECT ft.doc_id,
        |  round((fs + coalesce(bs, 0)) / n, 6) AS surprisal,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM ft LEFT JOIN isum ON isum.doc_id = ft.doc_id""".stripMargin),

    // Semantic decontamination: corpus vectors too close (cosine) to any
    // "benchmark" vector (vec_id % 101 == 0) — the embedding-space
    // complement of q69's n-gram matching. Bench broadcast, cosines
    // map-side, only the hit agg shuffles.
    QuerySpec("q89_semantic_decontam", (s, dir) => {
      import graft.operators.Curation
      val emb = t(s, dir, "embeddings")
      Curation.semanticDecontaminate(
        emb.filter(col("vec_id") % 101 =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 101 === 0), "embedding", threshold = 0.3)
        .select(col("vec_id"), col("n_hits"),
          round(col("max_cos"), 4).as("max_cos"))
    },
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 101 = 0 AND embedding IS NOT NULL),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id % 101 <> 0 AND embedding IS NOT NULL),
        |z AS (SELECT c.vec_id, b.vec_id AS bid,
        |    unnest(cv) AS x, unnest(bv) AS y FROM c, b),
        |s AS (SELECT vec_id, bid,
        |    CASE WHEN sum(x * x) = 0 OR sum(y * y) = 0 THEN 0.0
        |      ELSE sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) END AS cos
        |  FROM z GROUP BY 1, 2)
        |SELECT vec_id, count(*) AS n_hits, round(max(cos), 4) AS max_cos
        |FROM s WHERE cos >= 0.3 GROUP BY vec_id""".stripMargin),

    // Decontamination: flag corpus docs sharing a word 3-gram with the
    // "benchmark" slice (doc_id % 97 == 0). Benchmark grams broadcast;
    // corpus side explodes map-side — the 100 TB shape.
    QuerySpec("q69_decontaminate", (s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && TextFns.tokenCount(col("text")) >= 3)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Curation.decontaminate(docs, "doc_id", "text", bench, "text", n = 3)
        .select(col("doc_id"), col("hits").cast("long").as("hits"))
    },
      """WITH eligible AS (
        |  SELECT doc_id, trim(lower(text)) AS lt FROM documents
        |  WHERE text IS NOT NULL
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lt, '\s+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(lt, '\s+')) + 1)) AS pos
        |  FROM eligible),
        |tri AS (
        |  SELECT DISTINCT doc_id,
        |    w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
        |      || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM toks
        |  QUALIFY lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
        |bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 97 = 0)
        |SELECT t.doc_id, count(*) AS hits
        |FROM tri t JOIN bench b ON b.g = t.g
        |GROUP BY 1""".stripMargin),

    // Deterministic stratified hash sampling: per-language dyadic
    // fractions (exact in both engines' integer arithmetic), decision a
    // pure function of doc_id — reproducible, map-side, no RNG state.
    QuerySpec("q70_stratified_sample", (s, dir) => {
      import s.implicits._
      import graft.operators.Curation
      val fr = Seq(("en", 0.5), ("de", 0.25), ("es", 0.125),
        ("fr", 0.75), ("zh", 0.0625)).toDF("lang", "fraction")
      Curation.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "lang", fr)
        .select(col("doc_id"), col("lang"))
    },
      """WITH fr AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25),
        |  ('es', 0.125), ('fr', 0.75), ('zh', 0.0625)) AS t(lang, fraction))
        |SELECT doc_id, d.lang
        |FROM documents d JOIN fr ON fr.lang = d.lang
        |WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 2147483648
        |      < CAST(fraction * 2147483648 AS BIGINT)""".stripMargin),

    // Sequence packing: cumulative-sum bin assignment into 256-token
    // context windows, sharded so no task sees the whole corpus; output
    // is the per-bin occupancy audit.
    QuerySpec("q71_pack_sequences", (s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          TextFns.tokenCount(col("text")).cast("long").as("toks0"))
      val packed = Curation.packSequences(docs, "doc_id", "toks0",
        budget = 256, shardCol = "shard")
      Curation.packingStats(packed, "toks0", budget = 256, shardCol = "shard")
    },
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT),
        |          256) AS toks
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT *, sum(toks) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |  FROM d)
        |SELECT shard, CAST(floor((cum - toks) / 256.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS fill,
        |  round(CAST(sum(toks) AS BIGINT) / 256.0, 6) AS fill_ratio
        |FROM c GROUP BY 1, 2""".stripMargin),

    // PII redaction: plant deterministic emails/phones/SSNs, scrub to
    // typed placeholders, count per class. Pure codegen regexp — and the
    // oracle re-runs the identical regex chain in DuckDB.
    QuerySpec("q72_redact_pii", (s, dir) => {
      import graft.operators.Curation
      val planted = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          when(col("doc_id") % 3 === 0, lit(" ssn 123-45-6789"))
            .otherwise(lit(""))).as("text"))
      Curation.redactPii(planted, "text")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ssn"),
          col("text").as("redacted"))
    },
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || doc_id ||
        |    '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |step AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |      AS after_email
        |  FROM planted),
        |step2 AS (
        |  SELECT *, regexp_replace(after_email, '\d{3}-\d{2}-\d{4}', '<SSN>', 'g')
        |    AS after_ssn
        |  FROM step)
        |SELECT doc_id,
        |  len(regexp_split_to_array(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_email,
        |  len(regexp_split_to_array(after_ssn,
        |    '\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}')) - 1 AS n_phone,
        |  len(regexp_split_to_array(after_email, '\d{3}-\d{2}-\d{4}')) - 1 AS n_ssn,
        |  regexp_replace(after_ssn,
        |    '\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}', '<PHONE>', 'g') AS redacted
        |FROM step2""".stripMargin),

    // BM25 relevance against a literal probe query — corpus stats as a
    // broadcast 1-row agg, term explode filtered before the shuffle.
    QuerySpec("q75_bm25", (s, dir) => {
      import graft.operators.Curation
      Curation.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"), col("n_terms"))
    },
      Bm25OracleSql),

    // Exact repeated-span detection (substring-level dedup): maximal
    // token spans whose every 6-gram repeats corpus-wide, merged per doc
    // by a gaps-and-islands window — the clip-don't-drop primitive of
    // substring dedup. The oracle re-derives every positioned n-gram,
    // corpus count, and island boundary.
    // q110: positioned 6-grams (two unnests zip positionally), corpus
    // counts on the gram text, repeated positions, per-doc island merge
    // of [pos, pos+6) with the same window arithmetic as the engine
    QuerySpec("q110_repeated_spans", (s, dir) => {
      import graft.operators.Curation
      Curation.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 6, minCount = 2)
    },
      raw"""WITH base AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |ok AS (SELECT doc_id, w FROM base WHERE len(w) >= 6),
        |grams AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 4), p -> p - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) - 4),
        |      p -> array_to_string(w[p:p+5], ' '))) AS gram
        |  FROM ok),
        |rep AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |m AS (SELECT g.doc_id, g.pos, g.pos + 6 AS e
        |  FROM grams g JOIN rep USING (gram)),
        |x AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM m),
        |y AS (SELECT doc_id, pos, e,
        |    CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END AS nw FROM x),
        |z AS (SELECT doc_id, pos, e,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM y)
        |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
        |FROM z GROUP BY doc_id, grp""".stripMargin),

    // Span CLIPPING: q110's spans excised from the normalized token
    // stream, n_removed per doc — the oracle rebuilds every clipped
    // stream token by token, so offset arithmetic, coverage tests and
    // null/edge handling all sit inside the hash.
    // q111: q110's spans → per-token coverage test → clipped stream.
    // Docs shorter than the n-gram (len < 6) have no grams, hence no
    // spans, and pass through whole; null-text docs pass through null.
    QuerySpec("q111_span_clip", (s, dir) => {
      import graft.operators.Curation
      Curation.clipRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 6, minCount = 2)
    },
      raw"""WITH base AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |ok AS (SELECT doc_id, w FROM base WHERE len(w) >= 6),
        |grams AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 4), p -> p - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) - 4),
        |      p -> array_to_string(w[p:p+5], ' '))) AS gram
        |  FROM ok),
        |rep AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |m AS (SELECT g.doc_id, g.pos, g.pos + 6 AS e
        |  FROM grams g JOIN rep USING (gram)),
        |x AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM m),
        |y AS (SELECT doc_id, pos, e,
        |    CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END AS nw FROM x),
        |z AS (SELECT doc_id, pos, e,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM y),
        |spans AS (SELECT doc_id, min(pos) AS s, max(e) AS en
        |  FROM z GROUP BY doc_id, grp),
        |toksall AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) + 1), p -> p - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) + 1), p -> w[p])) AS tok
        |  FROM base),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toksall t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s AND t.pos < sp.en)),
        |clipped AS (SELECT doc_id,
        |    coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS clipped
        |  FROM kept GROUP BY doc_id),
        |removedn AS (SELECT t.doc_id, count(*) AS nr FROM toksall t
        |  WHERE EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s AND t.pos < sp.en)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       ELSE coalesce(c.clipped, '') END AS clipped,
        |  CASE WHEN d.text IS NULL THEN 0
        |       ELSE coalesce(r.nr, 0) END AS n_removed
        |FROM documents d
        |LEFT JOIN clipped c ON c.doc_id = d.doc_id
        |LEFT JOIN removedn r ON r.doc_id = d.doc_id""".stripMargin),

    // Deterministic weighted sampling (Efraimidis–Spirakis): 100 docs
    // weighted by token count, keys from the SQL-reproducible Knuth hash
    // — the oracle recomputes every key, so hash choice, the w<=0
    // exclusion, 9-dp key rounding and tie order are all inside the hash.
    QuerySpec("q113_weighted_sample", (s, dir) => {
      import graft.operators.Curation
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("toks"))
      Curation.weightedSample(d, "doc_id", "toks", k = 100)
    },
      raw"""WITH w AS (SELECT doc_id,
        |    CASE WHEN text IS NULL THEN NULL
        |         WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |ks AS (SELECT doc_id, toks,
        |    round(pow(
        |      (((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 + 1.0) / 4294967297.0,
        |      1.0::DOUBLE / toks), 9) AS esk
        |  FROM w WHERE toks IS NOT NULL AND toks > 0)
        |SELECT doc_id, toks FROM ks ORDER BY esk DESC, doc_id LIMIT 100""".stripMargin),

    // Cross-document boilerplate: 4-token passages present in >= 3 docs
    // (the word-soup corpus repeats phrases heavily, so yield is real).
    QuerySpec("q81_boilerplate", (s, dir) => {
      import graft.operators.Curation
      Curation.boilerplatePassages(t(s, dir, "documents"), "doc_id", "text",
        k = 4, minDocs = 3)
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) + 1)) AS pos
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |p AS (SELECT doc_id, (pos - 1) // 4 AS chunk,
        |    string_agg(w, ' ' ORDER BY pos) AS passage
        |  FROM toks GROUP BY 1, 2),
        |d AS (SELECT DISTINCT doc_id, passage FROM p)
        |SELECT passage, count(*) AS n_docs FROM d
        |GROUP BY 1 HAVING count(*) >= 3""".stripMargin),

    // Token-budget corpus mixing: per-source budgets filled in
    // deterministic hash order — the reproducible data-mixture step.
    QuerySpec("q82_token_budget", (s, dir) => {
      import s.implicits._
      import graft.operators.Curation
      val budgets = Seq(("src0", 6000L), ("src1", 3000L), ("src2", 12000L))
        .toDF("source", "budget")
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("toks"))
      Curation.tokenBudgetMix(docs, "doc_id", "toks", "source", budgets)
    },
      """WITH b AS (SELECT * FROM (VALUES ('src0', 6000), ('src1', 3000),
        |  ('src2', 12000)) AS t(source, budget)),
        |d AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
        |    ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 2147483648 AS bkt
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT d.*, b.budget,
        |    sum(toks) OVER (PARTITION BY d.source ORDER BY bkt, doc_id) AS cum
        |  FROM d JOIN b ON b.source = d.source)
        |SELECT doc_id, source, toks FROM c WHERE cum <= budget""".stripMargin),

    // Temperature-scaled domain mixing (p_d ∝ n_d^τ, the mT5/XLM-R
    // resampling step): per-source budgets derived from the corpus' own
    // token masses at τ=0.5, cut by the same sharded prefix sum as q82.
    // τ=0.5 routes through IEEE-exact sqrt and the normalizer folds in
    // source order, so DuckDB reproduces every budget bit-for-bit.
    // q82's cut with budgets DERIVED from the corpus: per-source sqrt
    // token mass, normalized by a source-ordered sequential fold (the
    // operator's documented reproducibility contract).
    QuerySpec("q115_temperature_mix", (s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("toks"))
      Curation.temperatureMix(docs, "doc_id", "toks", "source",
        totalBudget = 50000L, tau = 0.5)
    },
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
        |    ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 2147483648 AS bkt
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |m AS (SELECT source, sqrt(sum(toks) * 1.0) AS w FROM d GROUP BY source),
        |tt AS (SELECT list_reduce(list(w ORDER BY source), (x, y) -> x + y) AS tot
        |  FROM m),
        |b AS (SELECT source, CAST(floor(50000.0 * w / tot) AS BIGINT) AS budget
        |  FROM m, tt),
        |c AS (SELECT d.*, b.budget,
        |    sum(toks) OVER (PARTITION BY d.source ORDER BY bkt, doc_id) AS cum
        |  FROM d JOIN b ON b.source = d.source)
        |SELECT doc_id, source, toks FROM c WHERE cum <= budget""".stripMargin),

    // SPAN-level decontamination: clip only the leaked benchmark passage
    // (merged gaps-and-islands over benchmark-matching 3-gram positions),
    // keep the rest of the document — q69 flags, q124 repairs. Benchmark
    // docs themselves clip to empty (their whole text matches).
    // q111's islands+clip SQL with the marker set = the benchmark's
    // distinct 3-grams instead of corpus-repeated grams.
    QuerySpec("q124_span_decontam", (s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
      Curation.clipContaminatedSpans(docs, "doc_id", "text", bench,
        "text", n = 3)
    },
      raw"""WITH base AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |okd AS (SELECT doc_id, w FROM base WHERE len(w) >= 3),
        |grams AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1), p -> p - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      p -> array_to_string(w[p:p+2], ' '))) AS gram
        |  FROM okd),
        |benchb AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL),
        |benchok AS (SELECT w FROM benchb WHERE len(w) >= 3),
        |bgrams AS (SELECT DISTINCT
        |    unnest(list_transform(range(1, len(w) - 1),
        |      p -> array_to_string(w[p:p+2], ' '))) AS gram
        |  FROM benchok),
        |m AS (SELECT g.doc_id, g.pos, g.pos + 3 AS e
        |  FROM grams g JOIN bgrams USING (gram)),
        |x AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM m),
        |y AS (SELECT doc_id, pos, e,
        |    CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END AS nw FROM x),
        |z AS (SELECT doc_id, pos, e,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM y),
        |spans AS (SELECT doc_id, min(pos) AS s, max(e) AS en
        |  FROM z GROUP BY doc_id, grp),
        |toksall AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) + 1), p -> p - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) + 1), p -> w[p])) AS tok
        |  FROM base),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toksall t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s AND t.pos < sp.en)),
        |clipped AS (SELECT doc_id,
        |    coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS clipped
        |  FROM kept GROUP BY doc_id),
        |removedn AS (SELECT t.doc_id, count(*) AS nr FROM toksall t
        |  WHERE EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s AND t.pos < sp.en)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       ELSE coalesce(c.clipped, '') END AS clipped,
        |  CASE WHEN d.text IS NULL THEN 0
        |       ELSE coalesce(r.nr, 0) END AS n_removed
        |FROM documents d
        |LEFT JOIN clipped c ON c.doc_id = d.doc_id
        |LEFT JOIN removedn r ON r.doc_id = d.doc_id""".stripMargin),

    // DSIR importance resampling (Xie et al. 2023): target = the
    // doc_id % 17 == 0 subset, raw = the rest; hashed unigram+bigram
    // buckets (polyHash % 1024), add-1 smoothed log-likelihood-ratio
    // weights, Gumbel-top-32 via the Knuth-hash noise. The oracle
    // recomputes the whole chain: features, both bucket distributions,
    // the broadcast log-ratio relation, per-doc weights, and the rounded
    // Gumbel ranking with the id tie-break.
    // DSIR end-to-end: hashed unigram+bigram buckets via the q24 poly
    // fold, add-1 smoothed log-ratio per bucket (doubles forced — bare
    // literals are DECIMAL), per-doc weight, then the rounded Gumbel
    // key from the Knuth hash and top-32 with the id tie-break.
    QuerySpec("q138_dsir_resample", (s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      Curation.dsirResample(docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0), "doc_id", "text", k = 32)
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH base AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |fe AS (SELECT doc_id, unnest(list_concat(
         |    list_transform(w, s -> ${poly("s")} % 1024),
         |    CASE WHEN len(w) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(w)),
         |           j -> ${poly("(w[j] || ' ' || w[j+1])")} % 1024) END)) AS b
         |  FROM base),
         |tc AS (SELECT b, count(*) AS ct FROM fe WHERE doc_id % 17 = 0
         |  GROUP BY 1),
         |ri AS (SELECT doc_id, b FROM fe WHERE doc_id % 17 <> 0),
         |rc AS (SELECT b, count(*) AS cr FROM ri GROUP BY 1),
         |tt AS (SELECT CAST(sum(ct) AS DOUBLE) AS t FROM tc),
         |rt AS (SELECT CAST(sum(cr) AS DOUBLE) AS t FROM rc),
         |lr AS (SELECT coalesce(tc.b, rc.b) AS b,
         |    ln((coalesce(ct, 0) + 1.0::DOUBLE) / (tt.t + 1024.0::DOUBLE))
         |  - ln((coalesce(cr, 0) + 1.0::DOUBLE) / (rt.t + 1024.0::DOUBLE)) AS lr
         |  FROM tc FULL JOIN rc ON tc.b = rc.b CROSS JOIN tt CROSS JOIN rt),
         |dc AS (SELECT doc_id, b, count(*) AS c FROM ri GROUP BY 1, 2),
         |wt AS (SELECT doc_id, sum(c * lr) AS weight,
         |    CAST(sum(c) AS BIGINT) AS n_features
         |  FROM dc JOIN lr USING (b) GROUP BY 1)
         |SELECT doc_id,
         |  round(weight - ln(-ln(((((((doc_id % 2147483648) + 2147483648)
         |    % 2147483648) * 2654435761) % 4294967296) + 1.0::DOUBLE)
         |    / 4294967297.0::DOUBLE)), 6) AS gumbel_key,
         |  round(weight, 6) AS weight, n_features
         |FROM wt ORDER BY gumbel_key DESC, doc_id LIMIT 32""".stripMargin
    }),

    // Per-source quality cut: keep each source's top 25% of documents by
    // the composite quality score — rank-based (no cross-source score
    // calibration), ties on doc_id. The SCALE form: score-frequency agg
    // (bounded by the 6-dp lattice) → broadcast per-source threshold →
    // map-side filter; only the single threshold-score tie set per
    // source ever meets a window. The oracle is the percent_rank
    // QUALIFY the output is proven bit-identical to.
    // Per-source quality cut: q22's quality formula, then the same
    // rank-based QUALIFY the engine's partitioned window computes —
    // percent_rank is (rank-1)/(n-1) on identical ints in both engines.
    QuerySpec("q147_quality_top_p", (s, dir) => {
      import graft.functions.TextFns
      import graft.operators.Curation
      val scored = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextFns.qualityScore(col("text")).as("quality"))
      Curation.topQualityPerGroupAtScale(scored, "source", "quality",
        "doc_id", minPercentile = 0.75)
    },
      """WITH d AS (SELECT doc_id, source, text,
        |  regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, source, text,
        |  length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0
        |    / length(text) AS pr,
        |  len(list_filter(toks, t -> lower(t) IN ('the','a','an','and',
        |    'or','of','to','in','is','it','for','on','with','as','at',
        |    'by','this','that'))) * 1.0 / len(toks) AS sr
        |  FROM d),
        |q AS (SELECT doc_id, source,
        |  round((least(length(text) / 500.0, 1.0)
        |    + (1.0 - least(pr * 5.0, 1.0))
        |    + least(sr * 4.0, 1.0)) / 3.0, 6) AS quality FROM m)
        |SELECT doc_id, source, quality FROM q
        |QUALIFY percent_rank() OVER (PARTITION BY source
        |  ORDER BY quality ASC, doc_id ASC) >= 0.75""".stripMargin),

    // COMPOSED curation chain end-to-end: dedup (keep-best-quality,
    // transitive CC) → benchmark decontamination → quality gate →
    // deterministic split, with the per-stage ledger. One relation gates
    // survivor ids, n_tokens, split labels AND the (stage, rows_in,
    // rows_out) ledger — a cross-stage interaction (e.g. dedup survivor
    // choice changing what decontamination sees) breaks the hash. The
    // oracle composes the q102/q69/q147/q70 machinery.
    // The composed chain: q102's dedup machinery (keep-best by the q147
    // quality formula), q69's trigram decontamination over the SURVIVOR
    // set, the q147 quality formula as a gate, q70's Knuth-hash split —
    // plus the ledger recomputed as stage-boundary counts.
    QuerySpec("q149_curate_chain", (s, dir) => {
      import graft.pipeline.CorpusPipeline
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0 &&
        col("text").isNotNull)
      val (curated, stats) = CorpusPipeline.curate(docs, "doc_id", "text",
        bench, "text", decontamN = 3, minTokens = 3, maxTokens = 100000,
        minQuality = 0.2, nearDupThreshold = 0.6, valFrac = 0.125,
        shingleN = 2, minhashK = 16, bands = 4)
      curated.select(lit("doc").as("kind"),
          col("doc_id").cast("string").as("key"),
          col("n_tokens").cast("long").as("a"),
          when(col("split") === "val", 1L).otherwise(0L).as("b"))
        .unionByName(stats.select(lit("stage").as("kind"),
          col("stage").as("key"), col("rows_in").as("a"),
          col("rows_out").as("b")))
    },
      (raw"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |""" + dedupPassSql("", "base") + raw""",
        |qual AS (SELECT doc_id,
        |  round((least(length(text) / 500.0, 1.0)
        |    + (1.0 - least(length(regexp_replace(text, '[^[:punct:]]', '',
        |        'g')) * 1.0 / length(text) * 5.0, 1.0))
        |    + least(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> lower(t) IN ('the','a','an','and','or','of','to','in',
        |        'is','it','for','on','with','as','at','by','this','that')))
        |      * 1.0 / len(regexp_split_to_array(trim(text), '\s+')) * 4.0,
        |      1.0)) / 3.0, 6) AS quality,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        |  FROM base),
        |edgesp AS (SELECT id1, id2 FROM jc WHERE i2 * 1.0 / u2 >= 0.6),
        |undp AS (SELECT id1, id2 FROM edgesp
        |  UNION ALL SELECT id2, id1 FROM edgesp),
        |nodesp AS (SELECT DISTINCT id1 AS id FROM undp),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodesp
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN undp u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |winp AS (SELECT c.comp, c.id AS doc_id,
        |  row_number() OVER (PARTITION BY c.comp
        |    ORDER BY q.quality DESC, c.id ASC) AS rn
        |  FROM compp c JOIN qual q ON q.doc_id = c.id),
        |removedp AS (SELECT doc_id FROM winp WHERE rn > 1),
        |dedup AS (SELECT s.doc_id, s.text FROM surv s
        |  WHERE NOT EXISTS (SELECT 1 FROM removedp r
        |    WHERE r.doc_id = s.doc_id)),
        |dtok AS (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM dedup),
        |dgr AS (SELECT doc_id, CASE WHEN len(w) < 3
        |    THEN [array_to_string(w, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(w) - 1),
        |      j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) END AS gs
        |  FROM dtok),
        |btok AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM base WHERE doc_id % 97 = 0),
        |bgr AS (SELECT DISTINCT g FROM (SELECT unnest(CASE WHEN len(w) < 3
        |    THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w) - 1),
        |      j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2]) END) AS g
        |  FROM btok) WHERE g <> ''),
        |contaminated AS (SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM dgr) d
        |  JOIN bgr ON bgr.g = d.g),
        |clean AS (SELECT d.doc_id, d.text FROM dedup d
        |  WHERE NOT EXISTS (SELECT 1 FROM contaminated c
        |    WHERE c.doc_id = d.doc_id)),
        |gated AS (SELECT c.doc_id, q.n_tokens FROM clean c
        |  JOIN qual q ON q.doc_id = c.doc_id
        |  WHERE q.n_tokens BETWEEN 3 AND 100000 AND q.quality >= 0.2),
        |n0 AS (SELECT count(*) AS n FROM base),
        |n1 AS (SELECT count(*) AS n FROM dedup),
        |n2 AS (SELECT count(*) AS n FROM clean),
        |n3 AS (SELECT count(*) AS n FROM gated)
        |SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS key, n_tokens AS a,
        |  CAST(CASE WHEN ((((doc_id % 2147483648) + 2147483648)
        |      % 2147483648) * 2654435761) % 2147483648 < 268435456
        |    THEN 1 ELSE 0 END AS BIGINT) AS b
        |FROM gated
        |UNION ALL SELECT 'stage', 'dedup', n0.n, n1.n FROM n0, n1
        |UNION ALL SELECT 'stage', 'decontaminate', n1.n, n2.n FROM n1, n2
        |UNION ALL SELECT 'stage', 'quality_gate', n2.n, n3.n FROM n2, n3"""
        ).stripMargin),

    // MODEL-BASED QUALITY FILTERING, trained in-engine: batch perceptron
    // over integer surface features (bias, tokens, punct chars, digits,
    // stopword hits) against the lang=en label — the scale shape of the
    // fastText-style classifier stage in published curation pipelines.
    // 3 epochs; each epoch is ONE map-side-combined aggregation (5 longs
    // to the driver). Exact integer arithmetic end to end, so weights and
    // every per-doc decision replay bit-identically in the oracle.
    QuerySpec("q152_perceptron_quality", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val docs = t(s, dir, "documents")
      val f = QualityModel.docFeatures(docs, "text")
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(lit(-1L)))
        .select((Seq("doc_id", "y") ++ QualityModel.featureCols).map(col): _*)
        .localCheckpoint() // 3 epochs + predict share one materialization
      val w = QualityModel.perceptronTrain(f, "y", QualityModel.featureCols,
        epochs = 3)
      val wdf = w.zipWithIndex.map { case (wi, j) => (j.toLong, wi) }
        .toDF("k", "v").select(lit("w").as("kind"), col("k"), col("v"))
      val preds = QualityModel.perceptronPredict(f, w,
          QualityModel.featureCols)
        .select(lit("pred").as("kind"), col("doc_id").as("k"),
          col("pred").as("v"))
      wdf.unionByName(preds)
    },
      perceptronOracleSql(3)),

    // AVERAGED perceptron (Freund & Schapire 1999, batch form): the
    // q152 trainer plus the epoch-sum weight vector; predictions use
    // sign(Σ_e w_e · x) — identical decisions to the average without a
    // division, so the whole gate stays exact-integer. Both weight sets
    // and every averaged decision are hashed.
    QuerySpec("q161_perceptron_averaged", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val docs = t(s, dir, "documents")
      val f = QualityModel.docFeatures(docs, "text")
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(lit(-1L)))
        .select((Seq("doc_id", "y") ++ QualityModel.featureCols).map(col): _*)
        .localCheckpoint()
      val (wf, wsum) = QualityModel.perceptronTrainAveraged(f, "y",
        QualityModel.featureCols, epochs = 3)
      val wdf = (wf.zipWithIndex.map { case (v, j) =>
          ("w", j.toLong, v)
        } ++ wsum.zipWithIndex.map { case (v, j) => ("wsum", j.toLong, v) })
        .toDF("kind", "k", "v")
      val preds = QualityModel.perceptronPredict(f, wsum,
          QualityModel.featureCols)
        .select(lit("pred").as("kind"), col("doc_id").as("k"),
          col("pred").as("v"))
      wdf.unionByName(preds)
    },
      perceptronOracleSql(3, averaged = true)),

    // CCNet-shaped LM quality filter: q155's backoff stats → integer ppm
    // trigram-hit-rate lattice → the scale-safe percentile machinery
    // (q147's threshold-from-aggregate plan, single group) keeps the
    // most-LM-fluent half. No float sums anywhere in the gate.
    // q155's stats → integer ppm hit-rate lattice → the q147 percentile
    // machinery with a single group: the CCNet-shaped "keep what the
    // reference LM finds fluent" filter, exact end to end.
    QuerySpec("q156_lm_fit_filter", (s, dir) => {
      import graft.functions.NgramLm
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val lm = docs.filter(col("doc_id") % 3 =!= 0)
      val scored = NgramLm.lmFitScores(docs, lm, "doc_id", "text")
      Curation.topQualityAtScale(scored, "lm_fit_ppm",
          "doc_id", minPercentile = 0.5)
        .select(col("doc_id"), col("lm_fit_ppm"))
    },
      (s"WITH $backoffLmCtes,\n" +
        raw"""scored AS (SELECT doc_id,
           |  CAST(floor(CAST(n_tri AS DOUBLE) * 1000000 / n_pos)
           |    AS BIGINT) AS lm_fit_ppm FROM stats)
           |SELECT doc_id, lm_fit_ppm FROM scored
           |QUALIFY percent_rank() OVER
           |  (ORDER BY lm_fit_ppm ASC, doc_id ASC) >= 0.5""".stripMargin)),

    // CCNET HEAD/MIDDLE/TAIL BUCKETS (Wenzek et al. 2020): the q156 LM
    // fluency lattice bucketed into per-source perplexity terciles by
    // integer rank -- the step CCNet runs per language before keeping
    // head+middle. Rank/tercile arithmetic all-integer, ties by id, so
    // labels replay bit-for-bit under the oracle's window rank.
    // q194: the CCNet tercile chain replayed -- the q155/q156 LM stats,
    // the ppm lattice, then a per-source (score, id) window rank and
    // the integer floor-division tercile cut.
    QuerySpec("q194_ccnet_buckets", (s, dir) => {
      import graft.functions.NgramLm
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val lm = docs.filter(col("doc_id") % 3 =!= 0)
      val scored = NgramLm.lmFitScores(docs, lm, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Curation.ccnetBuckets(scored, "source", "lm_fit_ppm", "doc_id")
        .select(col("doc_id"), col("source"), col("lm_fit_ppm"),
          col("rank"), col("n"), col("bucket"))
    },
      (s"WITH $backoffLmCtes,\n" +
        raw"""scored AS (SELECT doc_id,
           |  CAST(floor(CAST(n_tri AS DOUBLE) * 1000000 / n_pos)
           |    AS BIGINT) AS lm_fit_ppm FROM stats),
           |src AS (SELECT s.doc_id, d.source, s.lm_fit_ppm
           |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
           |rk AS (SELECT doc_id, source, lm_fit_ppm,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY lm_fit_ppm ASC, doc_id ASC) AS BIGINT) AS rank,
           |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           |  FROM src)
           |SELECT doc_id, source, lm_fit_ppm, rank, n,
           |  CASE WHEN rank > (2 * n) // 3 THEN 'head'
           |       WHEN rank > n // 3 THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM rk""".stripMargin)),

    // TOKEN-BALANCED SHARD ASSIGNMENT: docs ranked (tokens desc, id
    // asc), shard = (rank-1) mod 7 -- round-robin over the size-ranked
    // stream bounds any two shards' token-total gap by the largest
    // single doc (proof in the scaladoc), with no driver greedy loop.
    // Per-doc assignment AND the per-shard totals sit under one hash.
    // q195: the shard assignment replayed -- one window rank over
    // (n_tokens DESC, doc_id ASC), modulo 7, plus the per-shard totals.
    QuerySpec("q195_token_shards", (s, dir) => {
      import graft.functions.TextFns
      import graft.operators.Curation
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      val a = Curation.tokenBalancedShards(toks, "doc_id", "n_tokens", 7)
      a.select(lit("doc").as("kind"), col("doc_id").as("k1"),
          col("rank").as("k2"), col("shard").as("v"))
        .unionByName(a.groupBy(col("shard")).agg(
            sum(col("n_tokens")).as("__tot"),
            count(lit(1)).as("__nd"))
          .select(lit("shard").as("kind"), col("shard").as("k1"),
            col("__nd").as("k2"), col("__tot").as("v")))
    },
      raw"""WITH toks AS (SELECT doc_id,
         |    CAST(CASE WHEN trim(text) = '' THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
         |      AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL),
         |rk AS (SELECT doc_id, n_tokens,
         |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC)
         |      AS BIGINT) AS rank
         |  FROM toks),
         |a AS (SELECT doc_id, n_tokens, rank,
         |    (rank - 1) % 7 AS shard FROM rk)
         |SELECT 'doc' AS kind, doc_id AS k1, rank AS k2, shard AS v
         |FROM a
         |UNION ALL
         |SELECT 'shard', shard, CAST(count(*) AS BIGINT),
         |  CAST(sum(n_tokens) AS BIGINT)
         |FROM a GROUP BY shard""".stripMargin),

    // COMPOSED LID-BALANCED MIXTURE: the q191 hashed-n-gram LID
    // prediction becomes the DOMAIN key for the q115 temperature mix --
    // predict a language per doc, then resample per-language token
    // budgets at tau = 0.5 (the mT5/XLM-R step, language labels from
    // the model instead of metadata). Scoring lattice, argmax,
    // sqrt-temperature budgets, and the sharded prefix-sum cut all
    // interact under ONE hash (the q149/q189 composition pattern).
    // q196: the composed chain replayed -- the q191 LID CTEs, the
    // predicted language joined onto filtered token counts, then the
    // q115 temperature-mix replay (sqrt weights, source-ordered
    // normalizer fold, Knuth-hash shard buckets, per-language prefix
    // sum against the floored budget).
    QuerySpec("q196_lid_balanced_mix", (s, dir) => {
      import graft.operators.{Curation, QualityModel}
      import graft.functions.TextFns
      import s.implicits._
      val cls = Seq(("en", 5L, -1L), ("de", 11L, 0L), ("fr", 17L, 1L))
        .toDF("lang", "p", "bias")
      val w = s.range(0, 1000).select(col("id").as("bucket"))
        .crossJoin(cls)
        .select(col("bucket"), col("lang"),
          ((col("bucket") * col("p")) % 7 - 3).as("weight"))
      val b = cls.select(col("lang"), col("bias"))
      val pred = QualityModel.ngramMulticlassScore(t(s, dir, "documents"),
          "doc_id", "text", w, "bucket", "lang", "weight", b, "lang",
          "bias", nMin = 2, nMax = 3, nBuckets = 1000)
        .filter(col("is_pred") === 1)
        .select(col("doc_id"), col("cls").as("lang"))
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("toks"))
      Curation.temperatureMix(toks.join(pred, Seq("doc_id")), "doc_id",
        "toks", "lang", totalBudget = 30000L, tau = 0.5)
    },
      (s"WITH $ngramLidCtes,\n" +
        raw"""dd AS (SELECT doc_id,
           |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
           |      AS BIGINT) AS toks,
           |    ((((doc_id % 2147483648) + 2147483648) % 2147483648)
           |      * 2654435761) % 2147483648 AS bkt
           |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
           |dj AS (SELECT dd.doc_id, pr.pl AS lang, dd.toks, dd.bkt
           |  FROM dd JOIN pr ON pr.doc_id = dd.doc_id),
           |mm AS (SELECT lang, sqrt(sum(toks) * 1.0) AS w FROM dj
           |  GROUP BY lang),
           |tt AS (SELECT list_reduce(list(w ORDER BY lang),
           |    (x, y) -> x + y) AS tot FROM mm),
           |bb AS (SELECT lang, CAST(floor(30000.0 * w / tot) AS BIGINT)
           |    AS budget FROM mm, tt),
           |cc AS (SELECT dj.*, bb.budget,
           |    sum(toks) OVER (PARTITION BY dj.lang
           |      ORDER BY bkt, doc_id) AS cum
           |  FROM dj JOIN bb ON bb.lang = dj.lang)
           |SELECT doc_id, lang, toks FROM cc WHERE cum <= budget"""
          .stripMargin)),

    // DOLMA JSONL ROUND-TRIP: the corpus decorated with an adversarial
    // payload (newline, tab, quotes, backslash, BMP + astral unicode)
    // and a nested metadata struct, written as 4 JSONL shards and read
    // back under the explicit schema (FAILFAST, no inference pass).
    // The oracle is the IDENTITY over parquet -- so the gate proves
    // JSON escaping, null-field omission, and nested-struct decoding
    // are value-exact end to end.
    // q197: the identity over parquet -- the engine must reproduce the
    // exact relation AFTER its JSONL write+read round trip, proving
    // escaping (newline/tab/quote/backslash/astral), null-field
    // omission, and nested-struct decode are value-exact.
    QuerySpec("q197_jsonl_roundtrip", (s, dir) => {
      import graft.sources.JsonlDocs
      val base = scratchDir("graft_jsonl").resolve("docs").toString
      val hard = t(s, dir, "documents").select(
        concat(lit("doc-"), col("doc_id")).as("id"),
        concat(col("text"),
          lit("\nline\ttwo \"q\" \\ \u00fcn\u00ef\ud83d\ude00")).as("text"),
        col("source"),
        lit("2026-08-15").as("added"),
        struct(col("n_chars").cast("long").as("n_chars"),
          array(lit("en"), lit("de")).as("langs")).as("metadata"))
      JsonlDocs.write(hard.repartition(4), base)
      JsonlDocs.read(s, base)
        .select(col("id"), col("text"), col("source"), col("added"),
          col("metadata.n_chars").as("meta_n_chars"),
          array_join(col("metadata.langs"), ",").as("meta_langs"))
    },
      raw"""SELECT 'doc-' || doc_id AS id,
         |  text || (chr(10) || 'line' || chr(9) || 'two "q" \ '
         |    || chr(252) || 'n' || chr(239) || chr(128512)) AS text,
         |  source, '2026-08-15' AS added,
         |  CAST(n_chars AS BIGINT) AS meta_n_chars,
         |  'en,de' AS meta_langs
         |FROM documents""".stripMargin),

    // MIXED-LANGUAGE DOCUMENT FLAG: per-LINE LID (the q191 hashed
    // n-gram lattice scored line by line, CCNet's per-paragraph LID
    // discipline), then per-doc dominant-language share on the pure
    // integer lattice -- docs whose dominant language covers under 60%
    // of lines flag as mixed. Line ids = doc_id*1000 + pos (bounded by
    // the 10-token relining), ties to the smallest language name.
    // q198: per-line LID + dominant-share replayed -- the q193
    // re-lining, the q191 hash/lattice per line id (doc_id*1000+pos),
    // argmax with ties to the smallest language, integer ppm share.
    QuerySpec("q198_mixed_lang", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val relined = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("__t"))
        .select(col("doc_id"),
          expr("array_join(transform(sequence(0, " +
            "cast((size(__t) - 1) / 10 as int)), " +
            "i -> array_join(slice(__t, i * 10 + 1, 10), ' ')), '\n')")
            .as("text"))
      val lines = relined
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .toDF("doc_id", "pos", "line")
        .select((col("doc_id") * 1000 + col("pos")).as("line_id"),
          col("doc_id"), col("line").as("text"))
      val cls = Seq(("en", 5L, -1L), ("de", 11L, 0L), ("fr", 17L, 1L))
        .toDF("lang", "p", "bias")
      val w = s.range(0, 1000).select(col("id").as("bucket"))
        .crossJoin(cls)
        .select(col("bucket"), col("lang"),
          ((col("bucket") * col("p")) % 7 - 3).as("weight"))
      val b = cls.select(col("lang"), col("bias"))
      val lab = QualityModel.ngramMulticlassScore(
          lines.select(col("line_id"), col("text")), "line_id", "text",
          w, "bucket", "lang", "weight", b, "lang", "bias",
          nMin = 2, nMax = 3, nBuckets = 1000)
        .filter(col("is_pred") === 1)
        .join(lines.select(col("line_id"), col("doc_id")), Seq("line_id"))
        .select(col("doc_id"), col("cls").as("lang"))
      val agg = lab.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val wDom = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("lang").asc)
      val dom = agg.withColumn("__rn", row_number().over(wDom))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("lang").as("dom_lang"),
          col("n").as("dom_lines"))
      val tot = agg.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_lines"))
      tot.join(dom, Seq("doc_id"))
        .select(col("doc_id"), col("n_lines"), col("dom_lang"),
          col("dom_lines"),
          expr("(dom_lines * 1000000) div n_lines").as("dom_share_ppm"),
          when(expr("(dom_lines * 1000000) div n_lines") < 600000, 1L)
            .otherwise(0L).as("mixed"))
    },
      raw"""WITH d0 AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |d AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, (len(w) - 1) // 10 + 1),
         |    i -> array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')),
         |    chr(10)) AS text FROM d0),
         |ln AS (SELECT doc_id,
         |    unnest(str_split(text, chr(10))) AS line,
         |    unnest(list_transform(
         |      range(1, len(str_split(text, chr(10))) + 1),
         |      j -> CAST(j - 1 AS BIGINT))) AS pos
         |  FROM d),
         |lt AS (SELECT doc_id, pos, doc_id * 1000 + pos AS lid, line
         |  FROM ln),
         |cls(lang, p, bias) AS (VALUES
         |  ('en', 5, -1), ('de', 11, 0), ('fr', 17, 1)),
         |wt AS (SELECT r.range AS bucket, c.lang,
         |    (r.range * c.p) % 7 - 3 AS weight
         |  FROM range(0, 1000) r CROSS JOIN cls c),
         |wd AS (SELECT lid,
         |    '<' || unnest(regexp_split_to_array(trim(lower(line)), '\s+'))
         |      || '>' AS wd
         |  FROM lt WHERE coalesce(trim(line), '') <> ''),
         |g2 AS (SELECT lid, unnest(list_transform(range(1, len(wd)),
         |    i -> (ord(substr(wd, i, 1)) * 31
         |        + ord(substr(wd, i + 1, 1))) % 1000)) AS b
         |  FROM wd),
         |g3 AS (SELECT lid, unnest(list_transform(range(1, len(wd) - 1),
         |    i -> ((ord(substr(wd, i, 1)) * 31
         |         + ord(substr(wd, i + 1, 1))) * 31
         |         + ord(substr(wd, i + 2, 1))) % 1000)) AS b
         |  FROM wd WHERE len(wd) >= 3),
         |feats AS (SELECT lid, b FROM g2 UNION ALL SELECT lid, b FROM g3),
         |sc AS (SELECT f.lid, w.lang, CAST(sum(w.weight) AS BIGINT) AS s
         |  FROM feats f JOIN wt w ON w.bucket = f.b GROUP BY 1, 2),
         |mg AS (SELECT l.lid, c.lang,
         |    CAST(c.bias + COALESCE(sc.s, 0) AS BIGINT) AS margin
         |  FROM lt l CROSS JOIN cls c
         |  LEFT JOIN sc ON sc.lid = l.lid AND sc.lang = c.lang),
         |pr AS (SELECT lid, lang AS pl FROM mg
         |  QUALIFY row_number() OVER (PARTITION BY lid
         |    ORDER BY margin DESC, lang) = 1),
         |lab AS (SELECT lt.doc_id, pr.pl AS lang FROM lt
         |  JOIN pr ON pr.lid = lt.lid),
         |ag AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM lab GROUP BY 1, 2),
         |dom AS (SELECT doc_id, lang AS dom_lang, n AS dom_lines FROM ag
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY n DESC, lang ASC) = 1),
         |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_lines
         |  FROM ag GROUP BY 1)
         |SELECT t.doc_id, t.n_lines, dm.dom_lang, dm.dom_lines,
         |  (dm.dom_lines * 1000000) // t.n_lines AS dom_share_ppm,
         |  CAST(CASE WHEN (dm.dom_lines * 1000000) // t.n_lines < 600000
         |    THEN 1 ELSE 0 END AS BIGINT) AS mixed
         |FROM tot t JOIN dom dm ON dm.doc_id = t.doc_id""".stripMargin),

    // BEST-OF-N REJECTION SAMPLING: per-prompt winner (score, id
    // tie-break) from 4 candidates, then only winners whose reward
    // clears the corpus median survive -- the RFT assembly gate,
    // composed from the map-side-combined winner agg and the
    // scale-safe percentile machinery (no partitionless window).
    // q220: best-vs-rest winner (q214's tie-break) then the corpus
    // median gate via percent_rank — the q156 topQualityAtScale replay.
    QuerySpec("q220_best_of_n_gate", (s, dir) => {
      import graft.operators.{Curation, TrainPrep}
      val cands = t(s, dir, "documents").select(
        floor(col("doc_id") / lit(4.0)).cast("long").as("prompt"),
        col("doc_id").as("cand"),
        size(split(trim(col("text")), " ")).cast("long").as("score"))
      val winners = TrainPrep.bestOfN(cands, "prompt", "cand", "score")
      Curation.topQualityAtScale(winners, "score", "chosen_id",
        minPercentile = 0.5)
    },
      raw"""WITH c AS (SELECT doc_id // 4 AS prompt, doc_id AS cand,
         |    CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS score
         |  FROM documents),
         |w AS (SELECT prompt, cand, score,
         |    CAST(count(*) OVER (PARTITION BY prompt) AS INTEGER)
         |      AS n_cands,
         |    row_number() OVER (PARTITION BY prompt
         |      ORDER BY score DESC, cand DESC) AS rn
         |  FROM c),
         |win AS (SELECT prompt, cand AS chosen_id, score, n_cands
         |  FROM w WHERE rn = 1)
         |SELECT prompt, chosen_id, score, n_cands FROM win
         |QUALIFY percent_rank() OVER
         |  (ORDER BY score ASC, chosen_id ASC) >= 0.5""".stripMargin),

    // GOPHER QUALITY RULES (Rae et al. 2021, Table A1, doc-level set):
    // word-count / mean-word-length / symbol-ratio / alpha-word /
    // stop-word / top-bigram-repetition rules, every one decided by
    // division-free integer comparisons (3n ≤ Σlen ≤ 10n instead of a
    // float mean, cross-multiplied ratio bounds) — an exact gate with
    // no lattice, no rounding. The minWords bound is scaled to the
    // fixture's doc lengths; the paper's 50 is the production default.
    // Every rule replayed with the same division-free comparisons; the
    // top-bigram argmax is a QUALIFY row_number with the (count DESC,
    // gram ASC) tiebreak.
    QuerySpec("q157_gopher_rules", (s, dir) => {
      import graft.operators.Curation
      // minWords/minStops scaled to the synthetic fixture (the paper's
      // 50/2 defaults would zero out r_words/r_stop on ~80-token docs
      // drawn from a vocabulary holding only 'the' of the Gopher list);
      // both branches of every rule fire at these settings.
      Curation.gopherQualityFlags(t(s, dir, "documents"), "doc_id",
        "text", minWords = 30, minStops = 1)
    },
      gopherOracleSql(minWords = 30, minStops = 1)),

    // LEARNED TOKENIZER END-TO-END: q151's trained BPE table applied as
    // the token counter (codegen'd chained replaces, unk words count 1),
    // feeding q71's sequence packing — the "train tokenizer → count →
    // pack" chain a pretraining data pipeline actually runs. A drift
    // between training and application (merge order, alphabet, greedy
    // left-to-right semantics) breaks the packing hash.
    QuerySpec("q158_bpe_pack", (s, dir) => {
      import graft.functions.Bpe
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", nMerges = 4)
      val counted = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          Bpe.subwordCountBpe(col("text"), merges).cast("long")
            .as("bpe_toks"))
      val packed = Curation.packSequences(counted, "doc_id", "bpe_toks",
        budget = 1024, shardCol = "shard")
      Curation.packingStats(packed, "bpe_toks", budget = 1024,
        shardCol = "shard")
    },
      bpePackOracleSql(4, budget = 1024)),

    // PER-SOURCE DATA CARD: the corpus report a pipeline publishes with
    // a dataset — docs, tokens, language spread, distinct-term HLL
    // estimate (dyadic-exact), exact-dup doc count, and the Gopher keep
    // count per source, composed from the round's primitives in one
    // relation. Every column is integer or dyadic-exact.
    // Data card: per-source counts + q142's per-group HLL chain + exact
    // dup-doc counts + the q157 keep recomputation (shared CTEs/conds).
    QuerySpec("q162_corpus_report", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNotNull,
          TextFns.tokenCount(col("text")).cast("long")).otherwise(0L))
          .as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      val toks = docs
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(TextFns.tokens(lower(col("text")))).as("term"))
      val hll = Sketches.hllEstimateBy(
          Sketches.hllRegistersBy(toks, Seq("source"), "term", p = 8),
          Seq("source"), p = 8)
        .select(col("source"), col("estimate").as("distinct_terms_est"))
      val dups = docs.filter(col("text").isNotNull)
        .select(col("source"),
          md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
            .as("h"))
        .groupBy("source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .as("n_dup_docs"))
      val keep = Curation.gopherQualityFlags(docs, "doc_id", "text",
          minWords = 30, minStops = 1)
        .select(col("doc_id"), col("keep"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source").agg(sum(col("keep")).as("n_keep"))
      base.join(hll, Seq("source"), "left")
        .join(dups, Seq("source"), "left")
        .join(keep, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("distinct_terms_est"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          coalesce(col("n_keep"), lit(0L)).as("n_keep"))
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      raw"""WITH $gopherBaseCtes,
         |keepd AS (SELECT m2.doc_id,
         |    CAST(CASE WHEN ${gopherKeepSum(30, 1)} = 6 THEN 1 ELSE 0 END
         |      AS BIGINT) AS keep
         |  FROM m2 LEFT JOIN top ON top.doc_id = m2.doc_id),
         |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN text IS NOT NULL THEN
         |    (CASE WHEN trim(text) = '' THEN 0
         |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
         |    ELSE 0 END) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM documents GROUP BY source),
         |tok AS (SELECT source, unnest(
         |    regexp_split_to_array(trim(lower(text)), '\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |hsh AS (SELECT source, ${poly("s")} AS base FROM tok),
         |hh AS (SELECT source,
         |    ((201 * 104729) % 1000000007 * base + (100 * 12582917 + 7))
         |      % 1000000007 AS a1,
         |    ((203 * 104729) % 1000000007 * base + (101 * 12582917 + 7))
         |      % 1000000007 AS a2 FROM hsh),
         |mx AS (SELECT source,
         |    (a1 * a1 % 1000000007 + a1) % 1000000007 AS b1,
         |    (a2 * a2 % 1000000007 + a2) % 1000000007 AS b2 FROM hh),
         |reg AS (SELECT source, b1 % 256 AS bucket,
         |    max(CASE WHEN b2 = 0 THEN 31 ELSE 31 - length(bin(b2)) END)
         |      AS rho_max FROM mx GROUP BY 1, 2),
         |ag AS (SELECT source, count(*) AS present,
         |    sum(1.0::DOUBLE / (1::BIGINT << rho_max)) AS sm
         |  FROM reg GROUP BY 1),
         |raws AS (SELECT source, 256 - present AS v_zero,
         |    (((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE /
         |      256.0::DOUBLE)) * 256.0::DOUBLE) * 256.0::DOUBLE)
         |      / (sm + CAST(256 - present AS DOUBLE)) AS raw FROM ag),
         |est AS (SELECT source,
         |  round(CASE WHEN raw <= 640.0::DOUBLE AND v_zero > 0
         |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_zero)
         |    ELSE raw END, 6) AS distinct_terms_est FROM raws),
         |d AS (SELECT source,
         |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN c ELSE 0 END), 0)
         |      AS BIGINT) AS n_dup_docs
         |  FROM (SELECT source,
         |      md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         |        AS dh, count(*) AS c
         |    FROM documents WHERE text IS NOT NULL GROUP BY 1, 2)
         |  GROUP BY source),
         |k AS (SELECT dd.source, CAST(sum(kd.keep) AS BIGINT) AS n_keep
         |  FROM keepd kd JOIN documents dd ON dd.doc_id = kd.doc_id
         |  GROUP BY dd.source)
         |SELECT b.source, b.n_docs, b.n_tokens, b.n_langs,
         |  est.distinct_terms_est,
         |  coalesce(d.n_dup_docs, CAST(0 AS BIGINT)) AS n_dup_docs,
         |  coalesce(k.n_keep, CAST(0 AS BIGINT)) AS n_keep
         |FROM b LEFT JOIN est ON est.source = b.source
         |LEFT JOIN d ON d.source = b.source
         |LEFT JOIN k ON k.source = b.source""".stripMargin
    }),

    // THE FULL GOPHER REPETITION BATTERY (Rae et al. 2021, Table A1):
    // top-{2,3,4}-gram char fractions <= {20,18,16}% and within-doc
    // duplicated-{5..10}-gram COVERAGE fractions <= {15..10}% — overlap
    // merged gaps-and-islands so chars never double-count, thresholds
    // compared by integer cross-multiplication. Nine flags + keep.
    QuerySpec("q160_gopher_repetition", (s, dir) => {
      import graft.operators.Curation
      Curation.gopherRepetitionFlags(t(s, dir, "documents"), "doc_id",
        "text")
    },
      gopherRepOracleSql),

    // URL CANONICALIZATION + HOST + REGISTERED DOMAIN: deterministic
    // synthetic URLs (mixed scheme/host case, default and non-default
    // ports, utm/fbclid tracking params, fragments, co.uk hosts) pushed
    // through the codegen'd regexp canonicalizer, the host extractor,
    // and the bring-your-own-suffix registered-domain mapping. The
    // oracle replays the identical patterns under RE2 — two independent
    // regex engines agreeing on every canonical form (q167 discipline).
    // q186: the canonicalization chain replayed pattern-for-pattern
    // under RE2 (DuckDB) vs Java regex (engine) — two independent regex
    // engines must agree on every canonical form, host, and registered
    // domain (longest-suffix argmax, ties broken identically).
    QuerySpec("q186_url_canonical", (s, dir) => {
      import graft.operators.Curation
      import s.implicits._
      val u = urlFixture(s, dir)
      val sfx = Seq("com", "org", "co.uk", "*.ck", "!www.ck",
        "// comment lines and blanks are ignored", "").toDF("suffix")
      val reg = Curation.registeredDomains(u, "host", sfx, "suffix")
      u.join(reg, Seq("host"), "left")
        .select(col("doc_id"), col("url"), col("canonical"), col("host"),
          col("registered_domain"))
    },
      raw"""WITH ${urlChainCtes}
         |SELECT h.doc_id, h.url, h.canonical, h.host, r.registered_domain
         |FROM hosts h LEFT JOIN reg r ON r.host = h.host""".stripMargin),

    // CCNET-STYLE LINE DEDUP (apply step): documents re-lined into
    // 10-token lines (deterministically, both engines), then every line
    // whose normalized form appears in ≥2 distinct docs is dropped and
    // the survivors rebuilt in order — the line-level boilerplate strip
    // CCNet runs before document-level dedup. clean_text hash-gated
    // verbatim (newlines and all).
    // q185: the line-dedup chain replayed — same deterministic 10-token
    // re-lining, distinct-doc counts on normalized lines, NOT EXISTS
    // removal, string_agg rebuild with chr(10).
    QuerySpec("q185_line_dedup", (s, dir) => {
      import graft.operators.Curation
      val relined = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("__t"))
        .select(col("doc_id"),
          expr("array_join(transform(sequence(0, " +
            "cast((size(__t) - 1) / 10 as int)), " +
            "i -> array_join(slice(__t, i * 10 + 1, 10), ' ')), '\n')")
            .as("text"))
      Curation.lineDedup(relined, "doc_id", "text", minDocs = 2)
    },
      raw"""WITH d0 AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |d AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, (len(w) - 1) // 10 + 1),
         |    i -> array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')),
         |    chr(10)) AS text FROM d0),
         |ln AS (SELECT doc_id,
         |    unnest(str_split(text, chr(10))) AS line,
         |    unnest(list_transform(
         |      range(1, len(str_split(text, chr(10))) + 1),
         |      j -> CAST(j - 1 AS BIGINT))) AS pos
         |  FROM d),
         |nm AS (SELECT doc_id, pos, line, lower(trim(line)) AS norm
         |  FROM ln),
         |sh AS (SELECT norm FROM nm WHERE norm <> '' GROUP BY norm
         |  HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (SELECT n.doc_id, n.pos, n.line FROM nm n
         |  WHERE NOT EXISTS (SELECT 1 FROM sh WHERE sh.norm = n.norm)),
         |ct AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |    AS clean, CAST(count(*) AS BIGINT) AS nk
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id,
         |    CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines
         |  FROM d)
         |SELECT t.doc_id, COALESCE(ct.clean, '') AS clean_text,
         |  t.n_lines, t.n_lines - COALESCE(ct.nk, 0) AS dup_lines
         |FROM tot t LEFT JOIN ct ON ct.doc_id = t.doc_id""".stripMargin),

    // BLOOM-BACKED LINE DEDUP (Dolma's approach): a Bloom filter built
    // over the REFERENCE shard's normalized lines (doc_id % 4 == 0)
    // drops matching lines from the whole corpus -- one broadcast
    // <=16384-row register relation instead of lineDedup's shared-line
    // shuffle. False positives are DETERMINISTIC (fixed poly/perm/mix
    // hash lattice), so the oracle replays every membership decision,
    // FPs included, bit-for-bit.
    // q193: the Bloom line-dedup chain replayed -- q185's re-lining,
    // q150's poly/perm/mix hash lattice over each distinct normalized
    // line (reference side -> distinct register bits at m=16384, probe
    // side -> 4 per-occurrence bits), might-contain = all 4 bits set,
    // NOT EXISTS removal, ordered rebuild. False positives replay too.
    QuerySpec("q193_bloom_line_dedup", (s, dir) => {
      import graft.operators.Curation
      import graft.functions.Sketches
      val relined = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("__t"))
        .select(col("doc_id"),
          expr("array_join(transform(sequence(0, " +
            "cast((size(__t) - 1) / 10 as int)), " +
            "i -> array_join(slice(__t, i * 10 + 1, 10), ' ')), '\n')")
            .as("text"))
      val refNorms = relined.filter(col("doc_id") % 4 === 0)
        .select(explode(split(col("text"), "\n")).as("__l"))
        .select(lower(trim(col("__l"))).as("__norm"))
        .filter(col("__norm") =!= "").distinct()
      val regs = Sketches.bloomRegisters(refNorms, "__norm",
        mBits = 16384, kHashes = 4)
      Curation.bloomLineDedup(relined, "doc_id", "text", regs,
        mBits = 16384, kHashes = 4)
    },
      raw"""WITH d0 AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |d AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, (len(w) - 1) // 10 + 1),
         |    i -> array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ')),
         |    chr(10)) AS text FROM d0),
         |ln AS (SELECT doc_id,
         |    unnest(str_split(text, chr(10))) AS line,
         |    unnest(list_transform(
         |      range(1, len(str_split(text, chr(10))) + 1),
         |      j -> CAST(j - 1 AS BIGINT))) AS pos
         |  FROM d),
         |nm AS (SELECT doc_id, pos, line, lower(trim(line)) AS norm
         |  FROM ln),
         |rn AS (SELECT DISTINCT norm FROM nm
         |  WHERE doc_id % 4 = 0 AND norm <> ''),
         |rbase AS (SELECT list_reduce(list_prepend(0::BIGINT,
         |    list_transform(regexp_extract_all(norm, '.'),
         |      c -> ascii(c)::BIGINT)),
         |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS base FROM rn),
         |rb AS (SELECT DISTINCT (h * h % 1000000007 + h) % 1000000007
         |    % 16384 AS bit
         |  FROM (SELECT ((((2 * (300 + i) + 1) * 104729) % 1000000007)
         |      * base + ((300 + i) * 12582917 + 7) % 1000000007)
         |      % 1000000007 AS h
         |    FROM rbase CROSS JOIN range(4) t(i))),
         |pn AS (SELECT DISTINCT norm FROM nm WHERE norm <> ''),
         |pbase AS (SELECT norm, list_reduce(list_prepend(0::BIGINT,
         |    list_transform(regexp_extract_all(norm, '.'),
         |      c -> ascii(c)::BIGINT)),
         |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS base FROM pn),
         |pb AS (SELECT norm, (h * h % 1000000007 + h) % 1000000007
         |    % 16384 AS bit
         |  FROM (SELECT norm, ((((2 * (300 + i) + 1) * 104729)
         |      % 1000000007) * base + ((300 + i) * 12582917 + 7)
         |      % 1000000007) % 1000000007 AS h
         |    FROM pbase CROSS JOIN range(4) t(i))),
         |drp AS (SELECT p.norm FROM pb p LEFT JOIN rb ON rb.bit = p.bit
         |  GROUP BY p.norm HAVING count(rb.bit) = 4),
         |kept AS (SELECT n.doc_id, n.pos, n.line FROM nm n
         |  WHERE NOT EXISTS (SELECT 1 FROM drp WHERE drp.norm = n.norm)),
         |ct AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |    AS clean, CAST(count(*) AS BIGINT) AS nk
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id,
         |    CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines
         |  FROM d)
         |SELECT t.doc_id, COALESCE(ct.clean, '') AS clean_text,
         |  t.n_lines, t.n_lines - COALESCE(ct.nk, 0) AS dropped_lines
         |FROM tot t LEFT JOIN ct ON ct.doc_id = t.doc_id""".stripMargin),

    // LUHN-VALIDATED CREDIT-CARD REDACTION: public TEST PANs (valid
    // checksums) and lookalike digit runs (invalid) planted per doc —
    // only the checksum-passing candidates may be redacted, so a
    // pattern-only redactor over- OR under-redacting breaks the text
    // hash. The oracle replays candidate extraction (same regex under
    // RE2), the integer Luhn sum, and replace-all per valid candidate.
    // q188: candidates re-extracted under RE2, Luhn replayed as an
    // integer list fold, replacement as a replace-all list_reduce —
    // clean text and counts must match the engine's UDF exactly.
    QuerySpec("q188_ccn_redact", (s, dir) => {
      import graft.operators.Curation
      val id = col("doc_id")
      val valid = array(lit("4111111111111111"), lit("5500 0000 0000 0004"),
        lit("4012-8888-8888-1881"), lit("378282246310005"))
      val invalid = array(lit("4111111111111112"),
        lit("1234 5678 9012 3456"), lit("9999999999999"))
      val planted = t(s, dir, "documents").select(id,
        concat(coalesce(col("text"), lit("")), lit(" pay "),
          element_at(valid, (pmod(id, lit(4)) + 1).cast("int")),
          lit(" ref "),
          element_at(invalid, (pmod(id, lit(3)) + 1).cast("int")))
          .as("text"))
      Curation.redactValidatedCcn(planted, "text")
        .select(col("doc_id"), col("text").as("clean_text"), col("n_ccn"))
    },
      raw"""WITH pv(i, v) AS (VALUES (0, '4111111111111111'),
         |  (1, '5500 0000 0000 0004'), (2, '4012-8888-8888-1881'),
         |  (3, '378282246310005')),
         |pnv(i, v) AS (VALUES (0, '4111111111111112'),
         |  (1, '1234 5678 9012 3456'), (2, '9999999999999')),
         |d AS (SELECT doc_id,
         |    coalesce(text, '') || ' pay ' || v1.v || ' ref ' || v2.v
         |      AS text
         |  FROM documents
         |  JOIN pv v1 ON v1.i = doc_id % 4
         |  JOIN pnv v2 ON v2.i = doc_id % 3),
         |cand AS (SELECT doc_id, unnest(regexp_extract_all(text,
         |    '\b\d(?:[ -]?\d){12,18}\b')) AS c FROM d),
         |dg AS (SELECT doc_id, c, list_reverse(regexp_extract_all(
         |    replace(replace(c, ' ', ''), '-', ''), '.')) AS r
         |  FROM cand),
         |lv AS (SELECT doc_id, c,
         |    list_sum(list_transform(range(1, len(r) + 1),
         |      i -> CASE WHEN i % 2 = 1 THEN r[i]::INT
         |           WHEN 2 * r[i]::INT > 9 THEN 2 * r[i]::INT - 9
         |           ELSE 2 * r[i]::INT END)) % 10 = 0 AS ok
         |  FROM dg),
         |vq AS (SELECT doc_id, list(c) AS vl,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM lv WHERE ok GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN v.vl IS NULL THEN d.text
         |       ELSE list_reduce(list_prepend(d.text, v.vl),
         |         (acc, x) -> replace(acc, x, '<CCN>')) END AS clean_text,
         |  COALESCE(v.n, 0) AS n_ccn
         |FROM d LEFT JOIN vq v ON v.doc_id = d.doc_id""".stripMargin),

    // MULTICLASS EXTERNAL-MODEL SCORING (the fastText-LID shape):
    // (token, class, weight) + (class, bias) relations drive per-doc
    // per-class integer margins with a deterministic argmax — every
    // margin AND the prediction flag under the oracle.
    // q187: the multiclass scorer replayed — same VALUES weight/bias
    // tables, per-(doc, class) integer sums, argmax by (margin DESC,
    // class ASC) as a QUALIFY flag.
    QuerySpec("q187_multiclass_lid", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val w = Seq(
        ("the", "en", 3L), ("a", "en", 2L), ("table", "en", 1L),
        ("data", "de", 2L), ("table", "de", 2L), ("row", "de", 1L),
        ("query", "fr", 2L), ("value", "fr", 2L), ("join", "fr", 1L))
        .toDF("token", "lang", "weight")
      val b = Seq(("en", -1L), ("de", 0L), ("fr", 1L))
        .toDF("lang", "bias")
      QualityModel.tokenMulticlassScore(t(s, dir, "documents"), "doc_id",
        "text", w, "token", "lang", "weight", b, "lang", "bias")
        .withColumnRenamed("cls", "lang")
    },
      raw"""WITH w(token, lang, weight) AS (VALUES
         |  ('the', 'en', 3), ('a', 'en', 2), ('table', 'en', 1),
         |  ('data', 'de', 2), ('table', 'de', 2), ('row', 'de', 1),
         |  ('query', 'fr', 2), ('value', 'fr', 2), ('join', 'fr', 1)),
         |b(lang, bias) AS (VALUES ('en', -1), ('de', 0), ('fr', 1)),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
         |      AS token
         |  FROM documents WHERE coalesce(trim(text), '') <> ''),
         |sc AS (SELECT t.doc_id, w.lang, CAST(sum(w.weight) AS BIGINT)
         |    AS s
         |  FROM tok t JOIN w ON w.token = t.token GROUP BY 1, 2),
         |mg AS (SELECT d.doc_id, b.lang,
         |    CAST(b.bias + COALESCE(sc.s, 0) AS BIGINT) AS margin
         |  FROM documents d CROSS JOIN b
         |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = b.lang),
         |pr AS (SELECT doc_id, lang AS pl FROM mg
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY margin DESC, lang) = 1)
         |SELECT m.doc_id, m.lang, m.margin,
         |  CAST(CASE WHEN m.lang = p.pl THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_pred
         |FROM mg m JOIN pr p ON p.doc_id = m.doc_id""".stripMargin),

    // HASHED CHAR-N-GRAM LID: the faithful fastText-LID feature path --
    // every token wrapped <tok>, char 2/3-grams hashed h = fold(h*31+cp)
    // mod 1000, scored against a dense (bucket, class, weight) lattice
    // (weights a closed-form function of the bucket so every doc gets
    // differentiated margins), exact-long argmax. The oracle replays
    // the hash arithmetic as nested ord(substr(...)) per n -- two
    // engines agreeing on every bucket of every n-gram of the corpus.
    // q191: the hashed-n-gram LID chain replayed -- per-token <wrap>,
    // bigram/trigram bucket hashes as nested ord(substr()) arithmetic
    // (codepoint-based on both engines), the dense closed-form weight
    // lattice, per-(doc, class) sums, argmax QUALIFY flag.
    QuerySpec("q191_ngram_lid", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val cls = Seq(("en", 5L, -1L), ("de", 11L, 0L), ("fr", 17L, 1L))
        .toDF("lang", "p", "bias")
      val w = s.range(0, 1000).select(col("id").as("bucket"))
        .crossJoin(cls)
        .select(col("bucket"), col("lang"),
          ((col("bucket") * col("p")) % 7 - 3).as("weight"))
      val b = cls.select(col("lang"), col("bias"))
      QualityModel.ngramMulticlassScore(t(s, dir, "documents"), "doc_id",
        "text", w, "bucket", "lang", "weight", b, "lang", "bias",
        nMin = 2, nMax = 3, nBuckets = 1000)
        .withColumnRenamed("cls", "lang")
    },
      (s"WITH $ngramLidCtes\n" +
        raw"""SELECT m.doc_id, m.lang, m.margin,
           |  CAST(CASE WHEN m.lang = p.pl THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_pred
           |FROM mg m JOIN pr p ON p.doc_id = m.doc_id""".stripMargin)),

    // C4 HEURISTIC CLEANING (Raffel et al. 2020 §2.2): the published
    // line rules (terminal punctuation, >=3 words, no 'javascript') and
    // page rules (BYO badword list, 'lorem ipsum', '{', <5 sentences)
    // over a deterministically decorated re-lining of the corpus --
    // fixture plants every rule's trigger on doc_id/line-position
    // moduli, oracle replays construction and battery verbatim.
    // q192: the C4 battery replayed -- identical deterministic line
    // decoration (prefix/extra/suffix on doc_id & position moduli),
    // identical line keeps (terminal punct / >=3 words / no
    // \bjavascript\b), badword token join after punctuation strip,
    // page flags, sentence count on the cleaned text.
    QuerySpec("q192_c4_filter", (s, dir) => {
      import graft.operators.Curation
      import s.implicits._
      val relined = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("__t"))
        .select(col("doc_id"), expr(
          """array_join(transform(sequence(0, cast((size(__t) - 1) / 8 as int)),
            i -> concat(
              CASE WHEN (doc_id * 7 + i) % 11 = 5 THEN 'javascript '
                   ELSE '' END,
              array_join(slice(__t, i * 8 + 1, 8), ' '),
              CASE WHEN i = 0 AND doc_id % 13 = 3 THEN ' lorem ipsum'
                   WHEN i = 0 AND doc_id % 13 = 7 THEN ' { x'
                   WHEN i = 0 AND doc_id % 17 = 11 THEN ' badwordx'
                   ELSE '' END,
              CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                   WHEN (doc_id + i) % 3 = 1 THEN '?' ELSE '' END)),
            '\n')""").as("text"))
      val bw = Seq("badwordx", "badwordy").toDF("w")
      Curation.c4Filter(relined, "doc_id", "text", bw, "w")
    },
      raw"""WITH d0 AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |ln AS (SELECT doc_id,
         |    unnest(list_transform(range(0, (len(w) - 1) // 8 + 1), i ->
         |      (CASE WHEN (doc_id * 7 + i) % 11 = 5 THEN 'javascript '
         |            ELSE '' END) ||
         |      array_to_string(w[i * 8 + 1 : i * 8 + 8], ' ') ||
         |      (CASE WHEN i = 0 AND doc_id % 13 = 3 THEN ' lorem ipsum'
         |            WHEN i = 0 AND doc_id % 13 = 7 THEN ' { x'
         |            WHEN i = 0 AND doc_id % 17 = 11 THEN ' badwordx'
         |            ELSE '' END) ||
         |      (CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
         |            WHEN (doc_id + i) % 3 = 1 THEN '?' ELSE '' END)))
         |      AS line,
         |    unnest(list_transform(range(0, (len(w) - 1) // 8 + 1),
         |      i -> CAST(i AS BIGINT))) AS pos
         |  FROM d0),
         |kept AS (SELECT doc_id, pos, line FROM ln
         |  WHERE regexp_matches(trim(line), '[.!?"]$$')
         |    AND len(regexp_split_to_array(trim(line), '\s+')) >= 3
         |    AND NOT regexp_matches(lower(line), '\bjavascript\b')),
         |ct AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |    AS clean, CAST(count(*) AS BIGINT) AS nk
         |  FROM kept GROUP BY doc_id),
         |tx AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
         |    AS text, CAST(count(*) AS BIGINT) AS n_lines
         |  FROM ln GROUP BY doc_id),
         |bw(wd) AS (VALUES ('badwordx'), ('badwordy')),
         |tk AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(line), '\s+')) AS t
         |  FROM ln),
         |bad AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_id, regexp_replace(lower(t),
         |     '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') AS b FROM tk)
         |  JOIN bw ON b = wd),
         |sc AS (SELECT t.doc_id, t.n_lines,
         |    COALESCE(ct.clean, '') AS clean_text,
         |    COALESCE(ct.nk, 0) AS kept_lines,
         |    CAST(len(regexp_extract_all(COALESCE(ct.clean, ''),
         |      '[.!?]')) AS BIGINT) AS n_sentences,
         |    contains(lower(t.text), 'lorem ipsum') AS lorem,
         |    contains(t.text, '{') AS brace
         |  FROM tx t LEFT JOIN ct ON ct.doc_id = t.doc_id)
         |SELECT s.doc_id, s.clean_text, s.n_lines, s.kept_lines,
         |  s.n_sentences,
         |  CASE WHEN b.doc_id IS NOT NULL THEN 'badword'
         |       WHEN s.lorem THEN 'lorem_ipsum'
         |       WHEN s.brace THEN 'brace'
         |       WHEN s.n_sentences < 5 THEN 'few_sentences'
         |       ELSE 'kept' END AS drop_reason
         |FROM sc s LEFT JOIN bad b ON b.doc_id = s.doc_id""".stripMargin),

    // EXTERNAL-MODEL SCORING: a pretrained (token → integer weight)
    // relation drives a bag-of-words linear classifier (folded fastText
    // shape) — margin = bias + Σ count(token)·w(token), exact longs,
    // docs with no in-vocabulary tokens score exactly the bias. The
    // loader for foreign weight FILES (fastText-style text format →
    // micro-unit quantization) is spec-gated (QualityModelSpec); this
    // gate pins the scoring semantics under a fixture vocabulary.
    // q179: the external-weight linear scorer replayed — same VALUES
    // vocabulary, whitespace tokens of lower(trim(text)), integer sum +
    // bias, perceptron sign rule (margin 0 → -1).
    QuerySpec("q179_token_linear_score", (s, dir) => {
      import graft.operators.QualityModel
      import s.implicits._
      val w = Seq(("spark", 5L), ("join", 3L), ("query", 2L),
        ("slow", -4L), ("the", -1L)).toDF("token", "weight")
      QualityModel.tokenLinearScore(t(s, dir, "documents"), "doc_id",
        "text", w, "token", "weight", bias = -2L)
    },
      raw"""WITH w(token, weight) AS (VALUES ('spark', 5), ('join', 3),
         |  ('query', 2), ('slow', -4), ('the', -1)),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
         |      AS token
         |  FROM documents WHERE coalesce(trim(text), '') <> ''),
         |sc AS (SELECT t.doc_id, CAST(sum(w.weight) AS BIGINT) AS s
         |  FROM tok t JOIN w ON w.token = t.token GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(-2 + COALESCE(sc.s, 0) AS BIGINT) AS margin,
         |  CAST(CASE WHEN -2 + COALESCE(sc.s, 0) > 0 THEN 1 ELSE -1 END
         |    AS BIGINT) AS pred
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin),

    // DISTINCTIVE TERMS PER SOURCE: within-source frequency beats the
    // corpus frequency by an integer cross-multiplied lift, top-5 per
    // source ranked on (integer lift_ppm, term) — TF-IDF's intuition
    // with a cross-engine-reproducible ranking.
    // q171: per-source vs corpus term frequencies, integer lift filter,
    // row_number ranking on the exact (lift_ppm DESC, term) key.
    QuerySpec("q171_distinct_terms", (s, dir) => {
      import graft.operators.Curation
      Curation.distinctiveTermsPerGroup(t(s, dir, "documents"), "text",
        "source", minCount = 5L, liftNum = 13L, liftDen = 10L, topK = 5)
    },
      raw"""WITH toks AS (SELECT source AS grp,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |bg AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c_in
         |  FROM toks GROUP BY 1, 2),
         |gl AS (SELECT term, CAST(sum(c_in) AS BIGINT) AS c_all FROM bg
         |  GROUP BY 1),
         |gt AS (SELECT grp, CAST(sum(c_in) AS BIGINT) AS n_grp FROM bg
         |  GROUP BY 1),
         |nn AS (SELECT CAST(sum(n_grp) AS BIGINT) AS n FROM gt),
         |sc AS (SELECT b.grp, b.term, b.c_in, g.c_all, t.n_grp,
         |    CAST((1000000 * b.c_in * nn.n) // (g.c_all * t.n_grp)
         |      AS BIGINT) AS lift_ppm
         |  FROM bg b JOIN gl g USING (term) JOIN gt t USING (grp)
         |  CROSS JOIN nn
         |  WHERE b.c_in >= 5 AND 10 * b.c_in * nn.n >= 13 * g.c_all * t.n_grp)
         |SELECT grp AS source, term, c_in, c_all, n_grp, lift_ppm
         |FROM sc QUALIFY row_number() OVER (PARTITION BY grp
         |  ORDER BY lift_ppm DESC, term) <= 5""".stripMargin),

    // K-ANONYMITY APPLY: release only customers whose quasi-identifier
    // combination (nation, market segment) is shared by >= 7 records,
    // group size attached -- one count + one equi join on the same key.
    QuerySpec("q242_k_anonymity", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.kAnonymize(
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment")),
        Seq("c_nationkey", "c_mktsegment"), k = 7)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), col("qi_n"))
    },
      raw"""WITH s AS (SELECT c_nationkey, c_mktsegment,
         |    CAST(count(*) AS BIGINT) AS qi_n
         |  FROM customer GROUP BY 1, 2 HAVING count(*) >= 7)
         |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, s.qi_n
         |FROM customer c
         |JOIN s USING (c_nationkey, c_mktsegment)""".stripMargin),

    // NOISY COUNTS, geometric-mechanism shape: per key the true count
    // plus deterministic two-sided geometric(1/2) noise drawn from a
    // seeded Lehmer stream (sign bit + trailing-ones magnitude --
    // exact integer arithmetic end to end, replayed verbatim by the
    // oracle), clamped at zero.
    // q243: the seeded Lehmer noise draw replayed in exact integer
    // arithmetic — sign from bit 0, magnitude = trailing one-bits of
    // the rest via the binary string (printf('%b') here, conv(,10,2)
    // on the Spark side — same digits).
    QuerySpec("q243_noisy_counts", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.noisyCounts(
        t(s, dir, "documents").select((col("doc_id") % 97).as("key")),
        "key", seed = 7L)
    },
      raw"""WITH g AS (SELECT doc_id % 97 AS key,
         |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |u AS (SELECT key, n,
         |    ((key + 7) % 2147483647) * 48271 % 2147483647 AS l1 FROM g),
         |v AS (SELECT key, n,
         |    ((l1 + 7) % 2147483647) * 48271 % 2147483647 AS uu FROM u),
         |m AS (SELECT key, n, uu, printf('%b', uu // 2) AS b FROM v),
         |z AS (SELECT key, n, uu,
         |    CAST(length(b) - length(rtrim(b, '1')) AS BIGINT) AS mag
         |  FROM m)
         |SELECT key, n,
         |  CAST((1 - 2 * (uu % 2)) * mag AS BIGINT) AS noise,
         |  CAST(greatest(n + (1 - 2 * (uu % 2)) * mag, 0) AS BIGINT)
         |    AS noisy_n
         |FROM z""".stripMargin),

    // PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio): BM25 top-10
    // feedback docs for the q75 probe query (rounded-rank + id
    // tie-break), then the 15 strongest expansion terms by all-integer
    // (feedback df, tf, term) ranking. The corpus explode touches only
    // matches; the feedback explode touches only 10 docs.
    // q246: the q75 BM25 chain, rounded-rank top-10 feedback, then the
    // all-integer (df, tf, term) candidate ranking.
    QuerySpec("q246_prf_expand", (s, dir) => {
      import graft.operators.Curation
      Curation.prfExpand(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join"), fbK = 10, nExpand = 15)
    },
      raw"""WITH base AS (
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
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits
         |  GROUP BY 1),
         |sc AS (SELECT h.doc_id,
         |    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf
         |      * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
         |      6) AS r
         |  FROM hits h CROSS JOIN stats JOIN dfreq USING (term)
         |  GROUP BY 1),
         |fb AS (SELECT doc_id FROM sc ORDER BY r DESC, doc_id LIMIT 10),
         |ft AS (SELECT t.doc_id, t.term FROM toks t JOIN fb USING (doc_id)
         |  WHERE t.term NOT IN ('spark', 'query', 'join')
         |    AND t.term <> '')
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS fb_df,
         |  CAST(count(*) AS BIGINT) AS fb_tf
         |FROM ft GROUP BY term
         |ORDER BY fb_df DESC, fb_tf DESC, term LIMIT 15""".stripMargin),

    // GAZETTEER ENTITY TAGGING: dictionary phrases (the 3rd-4th token
    // bigram of every 50th doc) matched exactly across the corpus --
    // per (doc, entity) hit count and first position; bounded
    // broadcast dictionary, row-local slice-equality probes. Every
    // 31st doc has its spaces rewritten to tab/newline whitespace --
    // phrases occurring there MUST still tag (both sides tokenize
    // \s+; the round-15 single-space doc split silently missed them).
    // q253: the same slice-equality probes on list ops; the gazetteer
    // re-derived from the fixture's bigram formula.
    QuerySpec("q253_gazetteer", (s, dir) => {
      import graft.operators.Curation
      val docs0 = t(s, dir, "documents")
      val docs = docs0.withColumn("text",
        when(col("doc_id") % 31 === 0,
          regexp_replace(col("text"), " ", "\t\n")).otherwise(col("text")))
      val w = split(trim(col("text")), "\\s+")
      val gaz = docs.filter(col("doc_id") % 50 === 0 && size(w) >= 4)
        .select(concat(lit("e"), col("doc_id")).as("entity"),
          array_join(slice(w, lit(3), lit(2)), " ").as("phrase"))
      Curation.gazetteerTag(docs, "doc_id", "text", gaz, "entity",
        "phrase")
    },
      raw"""WITH d AS (SELECT doc_id,
         |    regexp_split_to_array(trim(CASE WHEN doc_id % 31 = 0
         |      THEN replace(text, ' ', chr(9) || chr(10))
         |      ELSE text END), '\s+') AS w
         |  FROM documents),
         |g AS (SELECT 'e' || doc_id AS entity, w[3:4] AS ph FROM d
         |  WHERE doc_id % 50 = 0 AND len(w) >= 4),
         |x AS (SELECT d.doc_id, g.entity,
         |    list_filter(range(1, len(d.w) - len(g.ph) + 2),
         |      p -> d.w[p:p + len(g.ph) - 1] = g.ph) AS hits
         |  FROM d, g)
         |SELECT doc_id, entity, CAST(len(hits) AS INTEGER) AS n_matches,
         |  CAST(hits[1] AS INTEGER) AS first_pos
         |FROM x WHERE len(hits) > 0""".stripMargin),

    // JSON NUMERIC PROFILE: the event `props` payload (enriched with a
    // planted extra key on every 5th event and CORRUPTED on every
    // 97th) profiled at $.k per event type -- present/missing split,
    // sum/min/max/distinct; get_json_object + try_cast, codegen'd,
    // one aggregation pass, malformed rows count missing (never throw).
    // q257/q258: same string surgery on props, then DuckDB's JSON
    // primitives behind a json_valid guard (Spark's get_json_object /
    // json_object_keys return null on garbage; DuckDB's throw).
    QuerySpec("q257_json_stats", (s, dir) => {
      import graft.operators.SemiStructured
      val ev = events(s, dir)
      val pr = when(col("event_id") % 97 === 0, lit("{oops"))
        .when(col("event_id") % 5 === 0,
          regexp_replace(col("props"), "\\}$", ", \"extra\": 1}"))
        .otherwise(col("props"))
      SemiStructured.jsonNumericStats(
        ev.select(col("event_type"), pr.as("p")), "p", "$.k",
        "event_type")
    },
      raw"""WITH pr AS (SELECT event_type,
         |    CASE WHEN event_id % 97 = 0 THEN '{oops'
         |      WHEN event_id % 5 = 0
         |        THEN regexp_replace(props, '\}$$', ', "extra": 1}')
         |      ELSE props END AS p
         |  FROM events),
         |v AS (SELECT event_type AS grp,
         |    CASE WHEN json_valid(p)
         |      THEN try_cast(json_extract_string(p, '$$.k') AS BIGINT)
         |      END AS v
         |  FROM pr)
         |SELECT grp,
         |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_present,
         |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_missing,
         |  CAST(COALESCE(sum(v), 0) AS BIGINT) AS sum_v,
         |  CAST(min(v) AS BIGINT) AS min_v,
         |  CAST(max(v) AS BIGINT) AS max_v,
         |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
         |FROM v GROUP BY grp""".stripMargin),

    // JSON KEY INVENTORY: per event type, how many rows carry each
    // top-level key -- schema-drift visibility, with malformed
    // payloads surfacing as __invalid__ instead of vanishing.
    QuerySpec("q258_json_keys", (s, dir) => {
      import graft.operators.SemiStructured
      val ev = events(s, dir)
      val pr = when(col("event_id") % 97 === 0, lit("{oops"))
        .when(col("event_id") % 5 === 0,
          regexp_replace(col("props"), "\\}$", ", \"extra\": 1}"))
        .otherwise(col("props"))
      SemiStructured.jsonKeyReport(
        ev.select(col("event_type"), pr.as("p")), "p", "event_type")
    },
      raw"""WITH pr AS (SELECT event_type,
         |    CASE WHEN event_id % 97 = 0 THEN '{oops'
         |      WHEN event_id % 5 = 0
         |        THEN regexp_replace(props, '\}$$', ', "extra": 1}')
         |      ELSE props END AS p
         |  FROM events),
         |k AS (SELECT event_type AS grp,
         |    unnest(CASE WHEN json_valid(p) AND json_type(p) = 'OBJECT'
         |      THEN json_keys(p) ELSE ['__invalid__'] END) AS key
         |  FROM pr)
         |SELECT grp, key, CAST(count(*) AS BIGINT) AS n
         |FROM k GROUP BY 1, 2""".stripMargin),

    // SNIPPET EXTRACTION: per matching document the 8-token window
    // with the most q75-probe-term hits (earliest on ties) and its
    // text -- the search-result highlighting pass; O(n) sliding sum
    // per doc, row-local, misses absent.
    // q261: the sliding window replayed as per-start slice sums,
    // earliest argmax via list_position.
    QuerySpec("q261_snippets", (s, dir) => {
      import graft.operators.Curation
      Curation.snippets(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join"), window = 8)
    },
      raw"""WITH d AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(trim(text)),
         |      '\s+'), t -> t <> '') AS ws
         |  FROM documents),
         |h AS (SELECT doc_id, ws,
         |    list_transform(ws, t -> CASE WHEN t IN ('spark', 'query',
         |      'join') THEN 1 ELSE 0 END) AS hit,
         |    least(8, len(ws)) AS w
         |  FROM d WHERE len(ws) > 0),
         |sc AS (SELECT doc_id, ws,
         |    list_transform(range(1, len(ws) - w + 2),
         |      p -> list_reduce(hit[p:p + w - 1], (a, b) -> a + b))
         |      AS scores
         |  FROM h),
         |b AS (SELECT doc_id, ws, list_max(scores) AS best,
         |    list_position(scores, list_max(scores)) AS start
         |  FROM sc)
         |SELECT doc_id, CAST(start AS INTEGER) AS start,
         |  CAST(best AS INTEGER) AS n_hits,
         |  array_to_string(ws[start:start + 7], ' ') AS snippet
         |FROM b WHERE best > 0""".stripMargin),

    // RIGHT-TO-BE-FORGOTTEN AUDIT: one row per deletion request
    // (every 13th user id up to 200 -- some match nothing) with the
    // event rows the cascade removes; no-match requests report 0,
    // proving they were PROCESSED, not skipped.
    // q263: tombstones re-derived, no-match requests kept via the
    // left join.
    QuerySpec("q263_forget_audit", (s, dir) => {
      import graft.operators.Anonymize
      val tomb = s.range(0, 200).filter(col("id") % 13 === 0)
        .select(col("id").as("uid"))
      Anonymize.forgetAudit(events(s, dir), "user_id", tomb, "uid")
    },
      raw"""WITH tt AS (SELECT unnest(range(0, 200)) AS u),
         |tb AS (SELECT u FROM tt WHERE u % 13 = 0),
         |c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE user_id % 13 = 0 GROUP BY 1)
         |SELECT CAST(tb.u AS BIGINT) AS "user",
         |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_removed
         |FROM tb LEFT JOIN c ON c.user_id = tb.u""".stripMargin),

    // DP NOISY SUMS, the clipped-contribution release: per key the sum
    // of per-row values clipped to +/-500 centi-units (the sensitivity
    // bound -- one row moves the sum by <= clip), plus the q243 Lehmer
    // geometric draw SCALED BY clip. No zero clamp: sums may be
    // negative. Values enter on an exact centi lattice (floor(value *
    // 100)) so both engines clip identical integers.
    // q267: clip on the exact centi lattice, then the q243 Lehmer
    // draw with the magnitude scaled by clip; no zero clamp.
    QuerySpec("q267_noisy_sums", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.noisySums(
        events(s, dir).select(pmod(col("user_id"), lit(53L)).as("key"),
          floor(col("value") * 100).cast("long").as("v")),
        "key", "v", clip = 500L, seed = 11L)
    },
      raw"""WITH e AS (SELECT CAST(user_id % 53 AS BIGINT) AS key,
         |    least(greatest(CAST(floor(value * 100) AS BIGINT), -500),
         |      500) AS cv
         |  FROM events),
         |g AS (SELECT key, CAST(sum(cv) AS BIGINT) AS clipped_sum
         |  FROM e GROUP BY 1),
         |u AS (SELECT key, clipped_sum,
         |    ((key + 11) % 2147483647) * 48271 % 2147483647 AS l1 FROM g),
         |v AS (SELECT key, clipped_sum,
         |    ((l1 + 11) % 2147483647) * 48271 % 2147483647 AS uu FROM u),
         |m AS (SELECT key, clipped_sum, uu, printf('%b', uu // 2) AS b
         |  FROM v),
         |z AS (SELECT key, clipped_sum, uu,
         |    CAST(length(b) - length(rtrim(b, '1')) AS BIGINT) AS mag
         |  FROM m)
         |SELECT key, clipped_sum,
         |  CAST((1 - 2 * (uu % 2)) * mag * 500 AS BIGINT) AS noise,
         |  CAST(clipped_sum + (1 - 2 * (uu % 2)) * mag * 500 AS BIGINT)
         |    AS noisy_sum
         |FROM z""".stripMargin),

    // L-DIVERSITY RELEASE: customers release only when their
    // quasi-identifier group (nation, segment) has >= 7 members AND
    // >= 4 distinct sensitive values (custkey mod 5 -- the derived
    // sensitive attribute keeps diversity controlled); group size and
    // diversity attached. One agg computing both + one null-safe join.
    // q268: size + distinct-sensitive per QI group, HAVING both
    // gates, re-joined onto the rows.
    QuerySpec("q268_l_diversity", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.kAnonymizeLDiverse(
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment"),
          pmod(col("c_custkey"), lit(5L)).as("sens")),
        Seq("c_nationkey", "c_mktsegment"), "sens", k = 7, l = 4)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), col("qi_n"), col("qi_l"))
    },
      raw"""WITH s AS (SELECT c_nationkey, c_mktsegment,
         |    CAST(count(*) AS BIGINT) AS qi_n,
         |    CAST(count(DISTINCT c_custkey % 5) AS BIGINT) AS qi_l
         |  FROM customer GROUP BY 1, 2
         |  HAVING count(*) >= 7 AND count(DISTINCT c_custkey % 5) >= 4)
         |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
         |  s.qi_n, s.qi_l
         |FROM customer c JOIN s USING (c_nationkey, c_mktsegment)"""
        .stripMargin),

    // RECURSIVE JSON PATH PROFILE: nested payloads (object -> object ->
    // array -> scalars, plus planted bare-scalar and malformed rows)
    // inventoried per event type -- every path within depth 4 with its
    // value class and row count; parse ONCE to variant at the root,
    // map-side variant_explode per level, one final count shuffle. The
    // oracle recurses the same paths with json_extract/json_type.
    // q269: the same path recursion with json_extract/json_keys —
    // JSON null values coalesce to the JSON 'null' literal (DuckDB
    // json_extract renders them SQL-null), invalid payloads class
    // __invalid__, number/string/bool/null map from json_type.
    QuerySpec("q269_json_paths", (s, dir) => {
      import graft.operators.SemiStructured
      val ev = events(s, dir)
      val nested = concat(lit("{\"u\":"), col("user_id"),
        lit(",\"meta\":{\"k\":"), pmod(col("user_id"), lit(7L)),
        lit(",\"t\":[\"a\","), pmod(col("user_id"), lit(3L)),
        when(col("event_id") % 5 === 0,
          lit("],\"extra\":{\"d\":true}},\"z\":null}"))
          .otherwise(lit("]},\"z\":null}")))
      val pr = when(col("event_id") % 97 === 0, lit("{oops"))
        .when(col("event_id") % 13 === 0, lit("42"))
        .otherwise(nested)
      SemiStructured.jsonPathProfile(
        ev.select(col("event_type"), pr.as("p")), "p", "event_type",
        maxDepth = 4)
    },
      raw"""WITH RECURSIVE src AS (SELECT event_type AS grp,
         |    CASE WHEN event_id % 97 = 0 THEN '{oops'
         |      WHEN event_id % 13 = 0 THEN '42'
         |      ELSE '{"u":' || user_id || ',"meta":{"k":'
         |        || (user_id % 7) || ',"t":["a",' || (user_id % 3)
         |        || CASE WHEN event_id % 5 = 0
         |          THEN '],"extra":{"d":true}},"z":null}'
         |          ELSE ']},"z":null}' END
         |      END AS p
         |  FROM events),
         |nodes AS (
         |  SELECT grp, '$$' AS path, TRY_CAST(p AS JSON) AS j, 0 AS depth
         |  FROM src
         |  UNION ALL
         |  SELECT n.grp, n.path || sfx AS path,
         |    COALESCE(json_extract(n.j, '$$' || sfx),
         |      CAST('null' AS JSON)) AS j,
         |    n.depth + 1 AS depth
         |  FROM nodes n, unnest(
         |    CASE WHEN json_type(n.j) = 'OBJECT'
         |        THEN list_transform(json_keys(n.j), k -> '.' || k)
         |      WHEN json_type(n.j) = 'ARRAY'
         |        THEN list_transform(
         |          range(CAST(json_array_length(n.j) AS BIGINT)),
         |          i -> '[' || CAST(i AS VARCHAR) || ']')
         |      ELSE [] END) AS u(sfx)
         |  WHERE n.depth < 4)
         |SELECT grp, path,
         |  CASE WHEN j IS NULL THEN '__invalid__'
         |    WHEN json_type(j) = 'OBJECT' THEN 'object'
         |    WHEN json_type(j) = 'ARRAY' THEN 'array'
         |    WHEN json_type(j) = 'VARCHAR' THEN 'string'
         |    WHEN json_type(j) IN ('UBIGINT', 'BIGINT', 'DOUBLE')
         |      THEN 'number'
         |    WHEN json_type(j) = 'BOOLEAN' THEN 'bool'
         |    ELSE 'null' END AS vtype,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM nodes GROUP BY 1, 2, 3""".stripMargin),

    // K-ANONYMITY GENERALIZATION LADDER: account balances (exact
    // centi lattice) bucketed at the FIRST width in {100, 1000,
    // 10000} dollars at which every (bucket, segment) group reaches
    // k=7 -- the oracle re-derives the chosen width itself, so the
    // row stays green across scale factors.
    // q278: per-width min group sizes as UNION branches, the first
    // passing width chosen by ladder index, floor-to-multiple buckets
    // (pmod semantics spelled ((v % w) + w) % w for negatives).
    QuerySpec("q278_generalize_k", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.generalizeToK(
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") * 100).cast("long").as("cents")),
        "cents", Seq("c_mktsegment"), k = 7,
        widths = Seq(10000L, 100000L, 1000000L))
    },
      raw"""WITH src AS (SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
         |  FROM customer),
         |mins AS (
         |  SELECT 1 AS ix, CAST(10000 AS BIGINT) AS wd,
         |    (SELECT min(c) FROM (SELECT count(*) AS c FROM src
         |      GROUP BY c_mktsegment,
         |        cents - ((cents % 10000 + 10000) % 10000))) AS mn
         |  UNION ALL
         |  SELECT 2, 100000,
         |    (SELECT min(c) FROM (SELECT count(*) AS c FROM src
         |      GROUP BY c_mktsegment,
         |        cents - ((cents % 100000 + 100000) % 100000)))
         |  UNION ALL
         |  SELECT 3, 1000000,
         |    (SELECT min(c) FROM (SELECT count(*) AS c FROM src
         |      GROUP BY c_mktsegment,
         |        cents - ((cents % 1000000 + 1000000) % 1000000)))),
         |ch AS (SELECT wd FROM mins WHERE mn >= 7 ORDER BY ix LIMIT 1),
         |wb AS (SELECT s.c_custkey, s.c_mktsegment, s.cents,
         |    CAST(s.cents - ((s.cents % ch.wd + ch.wd) % ch.wd)
         |      AS BIGINT) AS cents_gen,
         |    CAST(ch.wd AS BIGINT) AS gen_width
         |  FROM src s, ch),
         |sz AS (SELECT cents_gen, c_mktsegment,
         |    CAST(count(*) AS BIGINT) AS qi_n
         |  FROM wb GROUP BY 1, 2)
         |SELECT wb.c_custkey, wb.c_mktsegment, wb.cents, wb.cents_gen,
         |  sz.qi_n, wb.gen_width
         |FROM wb JOIN sz USING (cents_gen, c_mktsegment)""".stripMargin),

    // TYPED JSON FLATTENING: four paths of the q269 nested payload
    // projected to typed columns in one codegen pass -- malformed and
    // bare-scalar rows yield nulls, never throw.
    // q279: json_valid-guarded extraction (DuckDB throws on garbage
    // where Spark nulls), TRY_CAST per typed path.
    QuerySpec("q279_json_flatten", (s, dir) => {
      import graft.operators.SemiStructured
      val ev = events(s, dir)
      val nested = concat(lit("{\"u\":"), col("user_id"),
        lit(",\"meta\":{\"k\":"), pmod(col("user_id"), lit(7L)),
        lit(",\"t\":[\"a\","), pmod(col("user_id"), lit(3L)),
        lit("]},\"z\":null}"))
      val pr = when(col("event_id") % 97 === 0, lit("{oops"))
        .when(col("event_id") % 13 === 0, lit("42"))
        .otherwise(nested)
      SemiStructured.jsonFlatten(
          ev.select(col("event_id"), col("event_type"), pr.as("p")), "p",
          Seq(("u_id", "$.u", "BIGINT"), ("k", "$.meta.k", "BIGINT"),
            ("t1", "$.meta.t[1]", "STRING"), ("zz", "$.z", "STRING")))
        .select(col("event_id"), col("event_type"), col("u_id"),
          col("k"), col("t1"), col("zz"))
    },
      raw"""WITH src AS (SELECT event_id, event_type,
         |    CASE WHEN event_id % 97 = 0 THEN '{oops'
         |      WHEN event_id % 13 = 0 THEN '42'
         |      ELSE '{"u":' || user_id || ',"meta":{"k":'
         |        || (user_id % 7) || ',"t":["a",' || (user_id % 3)
         |        || ']},"z":null}' END AS p
         |  FROM events)
         |SELECT event_id, event_type,
         |  TRY_CAST(CASE WHEN json_valid(p)
         |    THEN json_extract_string(p, '$$.u') END AS BIGINT) AS u_id,
         |  TRY_CAST(CASE WHEN json_valid(p)
         |    THEN json_extract_string(p, '$$.meta.k') END AS BIGINT)
         |    AS k,
         |  CASE WHEN json_valid(p)
         |    THEN json_extract_string(p, '$$.meta.t[1]') END AS t1,
         |  CASE WHEN json_valid(p)
         |    THEN json_extract_string(p, '$$.z') END AS zz
         |FROM src""".stripMargin),

    // TRENDING TERMS between the two doc-id parities of the corpus:
    // add-one-smoothed frequency ratio on the exact DECIMAL lattice,
    // top 100 with the term tie-break.
    // q287: trending terms -- house tokenization, add-one-smoothed
    // ratio on HUGEINT (exact, mirroring the engine's DECIMAL), top
    // 100 by (ratio, term).
    QuerySpec("q287_trending", (s, dir) => {
      import graft.operators.Curation
      Curation.trendingTerms(
        t(s, dir, "documents").select(col("text"),
          (col("doc_id") % 2).as("p")),
        "text", "p", k = 100, minC1 = 2L)
    },
      raw"""WITH toks AS (SELECT doc_id % 2 AS p,
         |    unnest(list_filter(regexp_split_to_array(
         |      lower(trim(text)), '\s+'), x -> x <> '')) AS term
         |  FROM documents),
         |cnt AS (SELECT term,
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM toks GROUP BY term),
         |tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1 FROM cnt)
         |SELECT term, c0, c1,
         |  CAST((1000000::HUGEINT * (c1 + 1)::HUGEINT * n0::HUGEINT)
         |    // ((c0 + 1)::HUGEINT * n1::HUGEINT) AS BIGINT)
         |    AS ratio_ppm
         |FROM cnt, tot WHERE c1 >= 2
         |ORDER BY ratio_ppm DESC, term LIMIT 100""".stripMargin),

    // DISTINCTIVE TERMS per source: group-vs-rest smoothed ratio on
    // the exact DECIMAL lattice, top 20 per source with the term
    // tie-break, minCg = 3.
    // q289: group-vs-rest smoothed term scores on HUGEINT, top 20 per
    // source by (score, term) via a ranked window.
    QuerySpec("q289_distinctive", (s, dir) => {
      import graft.operators.Curation
      Curation.distinctiveTerms(
        t(s, dir, "documents").select(col("text"), col("source")),
        "text", "source", k = 20, minCg = 3L)
    },
      raw"""WITH toks AS (SELECT source AS grp,
         |    unnest(list_filter(regexp_split_to_array(
         |      lower(trim(text)), '\s+'), x -> x <> '')) AS term
         |  FROM documents),
         |cg AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c_g
         |  FROM toks GROUP BY 1, 2),
         |ct AS (SELECT term, CAST(sum(c_g) AS BIGINT) AS ct
         |  FROM cg GROUP BY term),
         |ng AS (SELECT grp, CAST(sum(c_g) AS BIGINT) AS ng
         |  FROM cg GROUP BY grp),
         |nt AS (SELECT CAST(sum(ng) AS BIGINT) AS nt FROM ng),
         |sc AS (SELECT cg.grp, cg.term, cg.c_g,
         |    ct.ct - cg.c_g AS c_rest,
         |    CAST((1000000::HUGEINT * (cg.c_g + 1)::HUGEINT
         |        * (nt.nt - ng.ng)::HUGEINT)
         |      // ((ct.ct - cg.c_g + 1)::HUGEINT * ng.ng::HUGEINT)
         |      AS BIGINT) AS score_ppm
         |  FROM cg JOIN ct USING (term) JOIN ng USING (grp)
         |    CROSS JOIN nt
         |  WHERE cg.c_g >= 3),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY grp
         |    ORDER BY score_ppm DESC, term) AS rk FROM sc)
         |SELECT grp, term, c_g, c_rest, score_ppm
         |FROM rk WHERE rk <= 20""".stripMargin),

    // JSON SCHEMA DRIFT between the event-id parities: period 1 turns
    // meta.k into a string and grows meta.v2 -- one removed+added
    // type-change pair, one added path, invalid payloads stable.
    // q295: the q269 recursion with the period as the group, pivoted
    // to per-(path, class) period counts + the drift verdict.
    QuerySpec("q295_json_drift", (s, dir) => {
      import graft.operators.SemiStructured
      val ev = events(s, dir)
      val p0 = concat(lit("{\"u\":"), col("user_id"),
        lit(",\"meta\":{\"k\":"), pmod(col("user_id"), lit(7L)),
        lit("}}"))
      val p1 = concat(lit("{\"u\":"), col("user_id"),
        lit(",\"meta\":{\"k\":\"s"), pmod(col("user_id"), lit(7L)),
        lit("\",\"v2\":["), pmod(col("user_id"), lit(3L)),
        lit("]}}"))
      val payload = when(col("event_id") % 97 === 0, lit("{oops"))
        .when(col("event_id") % 2 === 0, p0).otherwise(p1)
      SemiStructured.jsonSchemaDrift(
        ev.select((col("event_id") % 2).as("p"), payload.as("j")),
        "j", "p", maxDepth = 3)
    },
      raw"""WITH RECURSIVE src AS (SELECT event_id % 2 AS grp,
         |    CASE WHEN event_id % 97 = 0 THEN '{oops'
         |      WHEN event_id % 2 = 0 THEN '{"u":' || user_id
         |        || ',"meta":{"k":' || (user_id % 7) || '}}'
         |      ELSE '{"u":' || user_id || ',"meta":{"k":"s'
         |        || (user_id % 7) || '","v2":[' || (user_id % 3)
         |        || ']}}' END AS p
         |  FROM events),
         |nodes AS (
         |  SELECT grp, '$$' AS path, TRY_CAST(p AS JSON) AS j,
         |    0 AS depth
         |  FROM src
         |  UNION ALL
         |  SELECT n.grp, n.path || sfx AS path,
         |    COALESCE(json_extract(n.j, '$$' || sfx),
         |      CAST('null' AS JSON)) AS j,
         |    n.depth + 1 AS depth
         |  FROM nodes n, unnest(
         |    CASE WHEN json_type(n.j) = 'OBJECT'
         |        THEN list_transform(json_keys(n.j), k -> '.' || k)
         |      WHEN json_type(n.j) = 'ARRAY'
         |        THEN list_transform(
         |          range(CAST(json_array_length(n.j) AS BIGINT)),
         |          i -> '[' || CAST(i AS VARCHAR) || ']')
         |      ELSE [] END) AS u(sfx)
         |  WHERE n.depth < 3),
         |prof AS (SELECT grp, path,
         |    CASE WHEN j IS NULL THEN '__invalid__'
         |      WHEN json_type(j) = 'OBJECT' THEN 'object'
         |      WHEN json_type(j) = 'ARRAY' THEN 'array'
         |      WHEN json_type(j) = 'VARCHAR' THEN 'string'
         |      WHEN json_type(j) IN ('UBIGINT', 'BIGINT', 'DOUBLE')
         |        THEN 'number'
         |      WHEN json_type(j) = 'BOOLEAN' THEN 'bool'
         |      ELSE 'null' END AS vtype,
         |    count(*) AS n
         |  FROM nodes GROUP BY 1, 2, 3),
         |piv AS (SELECT path, vtype,
         |    CAST(COALESCE(sum(CASE WHEN grp = 0 THEN n END), 0)
         |      AS BIGINT) AS n0,
         |    CAST(COALESCE(sum(CASE WHEN grp = 1 THEN n END), 0)
         |      AS BIGINT) AS n1
         |  FROM prof GROUP BY 1, 2)
         |SELECT path, vtype, n0, n1,
         |  CASE WHEN n0 = 0 THEN 'added' WHEN n1 = 0 THEN 'removed'
         |    ELSE 'stable' END AS verdict
         |FROM piv""".stripMargin),

    // FLESCH READING EASE per document: vowel-group syllables,
    // [.!?]+ sentences, the fold in a fixed double op order --
    // unscorable (null-text / zero-word / zero-sentence) rows null.
    // q299: vowel-group syllables via regexp_extract_all, the Flesch
    // fold with every constant forced to DOUBLE (DuckDB bare decimals
    // are DECIMAL), null-propagation mirrored.
    QuerySpec("q299_readability", (s, dir) => {
      import graft.operators.Curation
      Curation.readability(t(s, dir, "documents"), "doc_id", "text")
    },
      raw"""WITH d AS (SELECT doc_id, text,
         |    CASE WHEN text IS NULL THEN NULL
         |      ELSE list_filter(regexp_split_to_array(
         |        lower(trim(text)), '\s+'), x -> x <> '') END AS w,
         |    CASE WHEN text IS NULL THEN NULL
         |      ELSE len(list_filter(regexp_split_to_array(text,
         |        '[.!?]+'), s -> trim(s) <> '')) END AS sents
         |  FROM documents),
         |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS words,
         |    CAST(sents AS BIGINT) AS sentences,
         |    CAST(list_reduce(list_prepend(0::BIGINT,
         |      list_transform(w, x -> CAST(len(regexp_extract_all(x,
         |        '[aeiouy]+')) AS BIGINT))), (a, b) -> a + b)
         |      AS BIGINT) AS syllables
         |  FROM d)
         |SELECT doc_id, words, sentences, syllables,
         |  CASE WHEN words IS NULL OR words = 0 OR sentences = 0
         |    THEN NULL
         |    ELSE CAST(floor((206.835::DOUBLE
         |      - 1.015::DOUBLE * (CAST(words AS DOUBLE)
         |        / CAST(sentences AS DOUBLE))
         |      - 84.6::DOUBLE * (CAST(syllables AS DOUBLE)
         |        / CAST(words AS DOUBLE))) * 1000) AS BIGINT) END
         |    AS flesch_milli
         |FROM s""".stripMargin),

    // KEYED PSEUDONYMIZATION of customer ids on the 2^31 lattice
    // (two public multiplicative rounds + salt), join-consistent and
    // engine-exact; the market segment rides along untouched.
    // q300: the two multiplicative rounds replayed on positive BIGINT
    // arithmetic (salt pre-reductions computed the same way).
    QuerySpec("q300_pseudonymize", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.pseudonymize(
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment")),
        Seq("c_custkey", "c_nationkey"), salt = 20260816L)
    },
      {
      val m = 1L << 31
      val salt = 20260816L
      val s1 = ((salt % m) + m) % m
      val s2 = (BigInt(7919) * salt).mod(BigInt(m)).toLong
      def rounds(c: String) =
        s"CAST((((((($c % $m + $m) % $m + $s1) % $m) * 2654435761) " +
          s"% $m + $s2) % $m) * 2246822519 % $m AS BIGINT)"
      raw"""SELECT ${rounds("c_custkey")} AS c_custkey,
         |  ${rounds("c_nationkey")} AS c_nationkey, c_mktsegment
         |FROM customer""".stripMargin
    }),

    // ENTROPY-l-DIVERSITY audit per (nation, balance-km-bucket) group
    // with the market segment sensitive -- the skew-proof gate,
    // H_micro on the exact floored-ln lattice vs ln(2).
    // q314: entropy-l-diversity -- per-(QI, sensitive) counts, the
    // floored-ln micro lattice, ln(2) gate at 693147 micro.
    QuerySpec("q314_entropy_l", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.entropyLDiversityReport(
        t(s, dir, "customer").select(
          col("c_nationkey").cast("long").as("c_nationkey"),
          (col("c_acctbal") - pmod(col("c_acctbal"), lit(2000.0)))
            .cast("long").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment",
        k = 4, l = 2)
    },
      raw"""WITH r AS (SELECT CAST(c_nationkey AS BIGINT)
         |      AS c_nationkey,
         |    CAST(c_acctbal - ((c_acctbal % 2000.0) + 2000.0)
         |      % 2000.0 AS BIGINT) AS bal_bucket,
         |    c_mktsegment
         |  FROM customer),
         |bs AS (SELECT c_nationkey, bal_bucket, c_mktsegment,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM r GROUP BY 1, 2, 3),
         |g AS (SELECT c_nationkey, bal_bucket,
         |    CAST(sum(c) AS BIGINT) AS qi_n,
         |    CAST(sum(CASE WHEN c_mktsegment IS NOT NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS qi_l,
         |    CAST(sum(CASE WHEN c_mktsegment IS NOT NULL THEN c
         |      ELSE 0 END) AS BIGINT) AS ns,
         |    CAST(sum(CASE WHEN c_mktsegment IS NOT NULL THEN
         |      CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |        * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS st
         |  FROM bs GROUP BY 1, 2),
         |h AS (SELECT c_nationkey, bal_bucket, qi_n, qi_l,
         |    CASE WHEN ns = 0 THEN NULL
         |      ELSE CAST(floor(ln(CAST(ns AS DOUBLE)) * 1000000)
         |        AS BIGINT) - st // ns END AS qi_h_micro
         |  FROM g)
         |SELECT c_nationkey, bal_bucket, qi_n, qi_l, qi_h_micro,
         |  qi_n < 4 AS suppressed_k,
         |  (qi_h_micro IS NULL OR qi_h_micro < 693147)
         |    AS suppressed_l
         |FROM h""".stripMargin),

    // T-CLOSENESS audit over (segment, nation-residue) classes with
    // the kilo-bucketed account balance as the ordered sensitive
    // attribute -- exact integer prefix-sum EMD, one integral
    // division to ppm.
    // q324: t-closeness -- the ordered-EMD prefix identity replayed:
    // class x value grid, exact HUGEINT prefix sums of
    // (c*N - g*n), one integral division to ppm.
    QuerySpec("q324_t_closeness", (s, dir) => {
      import graft.operators.Anonymize
      Anonymize.tClosenessReport(
        t(s, dir, "customer").select(col("c_mktsegment").as("seg"),
          pmod(col("c_nationkey"), lit(5L)).as("nk"),
          expr("CAST(floor(c_acctbal) AS BIGINT) div 1000").as("s")),
        Seq("seg", "nk"), "s", tPpm = 150000L)
    },
      raw"""WITH rows_ AS (SELECT c_mktsegment AS seg,
         |    CAST(((c_nationkey % 5) + 5) % 5 AS BIGINT) AS nk,
         |    CAST(floor(c_acctbal) AS BIGINT) // 1000 AS s
         |  FROM customer),
         |cells AS (SELECT seg, nk, s, CAST(count(*) AS BIGINT) AS c
         |  FROM rows_ GROUP BY 1, 2, 3),
         |dom AS (SELECT s AS v, CAST(sum(c) AS BIGINT) AS g
         |  FROM cells GROUP BY s),
         |ds AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(g) AS BIGINT) AS nn FROM dom),
         |grp AS (SELECT seg, nk, CAST(count(*) AS BIGINT) AS qi_n
         |  FROM rows_ GROUP BY 1, 2),
         |grid AS (SELECT grp.seg, grp.nk, grp.qi_n, dom.v, dom.g,
         |    ds.m, ds.nn FROM grp CROSS JOIN dom CROSS JOIN ds),
         |pf AS (SELECT grid.seg, grid.nk, grid.qi_n, grid.m, grid.nn,
         |    grid.v,
         |    sum(CAST(COALESCE(cells.c, 0) AS HUGEINT) * grid.nn
         |      - CAST(grid.g AS HUGEINT) * grid.qi_n)
         |      OVER (PARTITION BY grid.seg, grid.nk ORDER BY grid.v)
         |      AS prefix
         |  FROM grid LEFT JOIN cells ON cells.seg = grid.seg
         |    AND cells.nk = grid.nk AND cells.s = grid.v),
         |em AS (SELECT seg, nk, qi_n, m, nn,
         |    sum(abs(prefix)) AS emd_num
         |  FROM pf GROUP BY 1, 2, 3, 4, 5),
         |fin AS (SELECT seg, nk, qi_n, m AS n_values,
         |    CASE WHEN m = 1 THEN 0
         |      ELSE CAST((1000000 * emd_num)
         |        // (CAST(m - 1 AS HUGEINT) * qi_n * nn) AS BIGINT)
         |      END AS emd_ppm
         |  FROM em)
         |SELECT seg, nk, qi_n, n_values, emd_ppm,
         |  emd_ppm > 150000 AS suppressed_t
         |FROM fin""".stripMargin)
  )
}
