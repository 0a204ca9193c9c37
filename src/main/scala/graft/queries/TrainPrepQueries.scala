package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.queries.QueryFixtures._

/** Training-data preparation queries: `TrainPrep`, `Sft`, `UnigramTok`,
  * `Bpe` and `SentAlign`.
  */
object TrainPrepQueries {

  private def bpeOracleSql(nMerges: Int): String = {
    val mergeRows = (1 to nMerges).map { k =>
      if (k == 1)
        s"SELECT 'merge' AS kind, CAST(1 AS BIGINT) AS step, a, b, c AS n FROM b1"
      else s"UNION ALL SELECT 'merge', $k, a, b, c FROM b$k"
    }.mkString("\n")
    raw"""WITH ${bpeCtes(nMerges)},
       |vocab AS (SELECT sym AS a, CAST(sum(freq) AS BIGINT) AS n
       |  FROM (SELECT freq,
       |    unnest(regexp_extract_all(enc, '<([^>]*)>', 1)) AS sym
       |    FROM e$nMerges)
       |  GROUP BY sym)
       |$mergeRows
       |UNION ALL SELECT 'sym', $nMerges, a, '', n FROM vocab""".stripMargin
  }

  /** q218 oracle: the water-filling fixpoint unrolled `iters` waves in
    * HUGEINT. Each wave recomputes the water level (N = budget −
    * Σ_sat avail, D = Σ_unsat weight) and flags every domain with
    * `avail·D ≤ N·weight`; with 4 domains and budget < Σavail at most
    * 3 can saturate, so ≥ 4 unrolled waves are provably past the
    * fixpoint (extra waves are no-ops). Final allocation mirrors
    * `TrainPrep.tokenWaterfill`: saturated → avail, else
    * `⌊N·w/D⌋` + 1 for the first `remainder` unsaturated domains by
    * name.
    */
  private def waterfillOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      raw"""a${i - 1} AS (SELECT
         |    (SELECT b FROM tot) - COALESCE(sum(CASE WHEN sat
         |      THEN CAST(avail AS HUGEINT) END), 0) AS n,
         |    (SELECT tw FROM tot) - COALESCE(sum(CASE WHEN sat
         |      THEN CAST(w AS HUGEINT) END), 0) AS dd
         |  FROM i${i - 1}),
         |i$i AS (SELECT domain, avail, w,
         |    sat OR CAST(avail AS HUGEINT) * dd <= n * CAST(w AS HUGEINT)
         |      AS sat
         |  FROM i${i - 1}, a${i - 1})""".stripMargin
    }.mkString(",\n")
    raw"""WITH d AS (SELECT 'd' || dx AS domain,
       |    CAST(sum(n) AS BIGINT) AS avail,
       |    CAST((dx + 1) * 250000 AS BIGINT) AS w
       |  FROM (SELECT CAST(substr(source, 4) AS INTEGER) % 4 AS dx,
       |      len(str_split(trim(text), ' ')) AS n FROM documents)
       |  GROUP BY dx),
       |tot AS (SELECT CAST(sum(avail) AS HUGEINT) AS tc,
       |    CAST(sum(w) AS HUGEINT) AS tw,
       |    CAST(9 * sum(avail) // 10 AS HUGEINT) AS b FROM d),
       |i0 AS (SELECT domain, avail, w, false AS sat FROM d),
       |$steps,
       |af AS (SELECT
       |    (SELECT b FROM tot) - COALESCE(sum(CASE WHEN sat
       |      THEN CAST(avail AS HUGEINT) END), 0) AS n,
       |    (SELECT tw FROM tot) - COALESCE(sum(CASE WHEN sat
       |      THEN CAST(w AS HUGEINT) END), 0) AS dd
       |  FROM i$iters),
       |base AS (SELECT f.domain, f.avail, f.w, f.sat,
       |    CASE WHEN f.sat THEN CAST(f.avail AS HUGEINT)
       |         ELSE af.n * CAST(f.w AS HUGEINT) // af.dd END AS a_
       |  FROM i$iters f, af),
       |rem AS (SELECT CAST((SELECT n FROM af)
       |      - COALESCE(sum(CASE WHEN NOT sat THEN a_ END), 0)
       |    AS BIGINT) AS r FROM base),
       |rk AS (SELECT domain, row_number() OVER (ORDER BY domain) AS rn
       |  FROM base WHERE NOT sat)
       |SELECT b2.domain, b2.avail, b2.w AS weight_ppm,
       |  CAST(b2.a_ + CASE WHEN NOT b2.sat
       |      AND COALESCE(rk.rn, 0) <= (SELECT r FROM rem)
       |    THEN 1 ELSE 0 END AS BIGINT) AS alloc,
       |  b2.sat AS saturated
       |FROM base b2 LEFT JOIN rk USING (domain)""".stripMargin
  }

  /** q224/q225 oracle chain: the unigram-LM tokenizer step re-derived —
    * distinct-word counts, substring seed vocabulary on the
    * `K − ⌊log2⌋` lattice (binary-digit count, no float log), the
    * per-(word, end, len) piece-cost lattice as nested lists, the
    * Viterbi DP as a RECURSIVE CTE carrying cost/backpointer lists
    * (q159's carried-frontier pattern), with the same longest-piece
    * tie-break (`list_max` over the argmin set), and the backtrace as a
    * second recursive walk. Ends at `segs(word, n_occ, seg, cost)`.
    * Callers must open with `WITH RECURSIVE`.
    */
  private def unigramVocabCtes(maxLen: Int, minCount: Long): String =
    raw"""wrd AS (SELECT word, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT unnest(str_split(trim(text), ' ')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE word <> '' AND length(word) <= 32 GROUP BY word),
       |sub AS (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
       |  FROM (SELECT n_occ, unnest(flatten(list_transform(
       |      range(1, length(word) + 1),
       |      p -> list_transform(range(1, least($maxLen,
       |          length(word) - p + 1) + 1),
       |        l -> word[p:p + l - 1])))) AS piece
       |    FROM wrd) GROUP BY piece),
       |vc AS (SELECT piece,
       |    CAST(40 - (length(printf('%b', cnt)) - 1) AS BIGINT) AS cost
       |  FROM sub WHERE cnt >= $minCount OR length(piece) = 1)"""
      .stripMargin

  /** The Viterbi DP + backtrace CTE block, prefix-parameterized (so a
    * second segmentation pass under a different vocab CTE can live in
    * the same WITH RECURSIVE — the q229 prune→re-segment chain).
    */
  private def unigramDpCtes(maxLen: Int, p: String,
      vcName: String): String =
    raw"""${p}wi AS (SELECT word, unnest(list_transform(
       |    range(1, length(word) + 1), x -> x)) AS i FROM wrd),
       |${p}wij AS (SELECT word, i, unnest(list_transform(
       |    range(1, least($maxLen, i) + 1), x -> x)) AS j FROM ${p}wi),
       |${p}wpc AS (SELECT z.word, z.i, z.j,
       |    COALESCE($vcName.cost, 1000000000) AS pc
       |  FROM (SELECT word, i, j, word[i - j + 1:i] AS piece
       |    FROM ${p}wij) z
       |  LEFT JOIN $vcName ON $vcName.piece = z.piece),
       |${p}pcl AS (SELECT word, i, list(pc ORDER BY j) AS pcs
       |  FROM ${p}wpc GROUP BY word, i),
       |${p}pw AS (SELECT word, list(pcs ORDER BY i) AS pc2
       |  FROM ${p}pcl GROUP BY word),
       |${p}dp AS (
       |  SELECT w.word, 0 AS i,
       |    [CAST(0 AS BIGINT)] AS costs, CAST([] AS INTEGER[]) AS back,
       |    p.pc2
       |  FROM wrd w JOIN ${p}pw p ON p.word = w.word
       |  UNION ALL
       |  SELECT word, i + 1,
       |    list_append(costs, list_min(list_transform(
       |      range(1, least($maxLen, i + 1) + 1),
       |      j -> costs[i + 2 - j] + pc2[i + 1][j]))),
       |    list_append(back, CAST(list_max(list_filter(
       |      range(1, least($maxLen, i + 1) + 1),
       |      j -> costs[i + 2 - j] + pc2[i + 1][j] =
       |        list_min(list_transform(
       |          range(1, least($maxLen, i + 1) + 1),
       |          jj -> costs[i + 2 - jj] + pc2[i + 1][jj]))))
       |      AS INTEGER)),
       |    pc2
       |  FROM ${p}dp WHERE i < length(word)),
       |${p}fin AS (SELECT word, costs[length(word) + 1] AS cost, back
       |  FROM ${p}dp WHERE i = length(word)),
       |${p}bt AS (
       |  SELECT f.word, CAST(length(f.word) AS INTEGER) AS i,
       |    CAST('' AS VARCHAR) AS seg, f.back
       |  FROM ${p}fin f
       |  UNION ALL
       |  SELECT word, i - back[i],
       |    CASE WHEN seg = '' THEN word[i - back[i] + 1:i]
       |         ELSE word[i - back[i] + 1:i] || ' ' || seg END,
       |    back
       |  FROM ${p}bt WHERE i > 0),
       |${p}segs AS (SELECT b.word, w.n_occ, b.seg, f.cost
       |  FROM ${p}bt b JOIN ${p}fin f ON f.word = b.word
       |  JOIN wrd w ON w.word = b.word
       |  WHERE b.i = 0)""".stripMargin

  private def unigramCtes(maxLen: Int, minCount: Long): String =
    unigramVocabCtes(maxLen, minCount) + ",\n" +
      unigramDpCtes(maxLen, "", "vc")

  val specs: Seq[QuerySpec] = Seq(
    // REAL BPE vocabulary training (Sennrich et al. 2016) — the merge
    // table (4 steps, argmax pair by weighted count with (cnt DESC, left,
    // right) tiebreak) plus the resulting subword vocabulary with summed
    // frequencies. One corpus shuffle (word counts); every iteration runs
    // on the vocabulary-sized relation. All-integer/string, so the oracle
    // replays training exactly with 4 unrolled CTE steps.
    QuerySpec("q151_bpe_train", (s, dir) => {
      import graft.functions.Bpe
      import s.implicits._
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", nMerges = 4)
      val mdf = merges.map(m => (m.step.toLong, m.left, m.right, m.pairCount))
        .toDF("step", "a", "b", "n")
        .select(lit("merge").as("kind"), col("step"), col("a"), col("b"),
          col("n"))
      val vocab = Bpe.vocabAfter(docs, "text", merges)
        .select(lit("sym").as("kind"), lit(4L).as("step"),
          col("symbol").as("a"), lit("").as("b"), col("freq").as("n"))
      mdf.unionByName(vocab)
    },
      bpeOracleSql(4)),

    // CHAT-TEMPLATE RENDER + LOSS MASK: 5-turn ChatML conversations
    // assembled from each doc's words, rendered to one template string
    // with character-offset loss spans over the assistant contents
    // (prompts/roles/markers are context, not target) -- the SFT
    // assembly step between curated conversations and any tokenizer.
    // Output = the exploded span relation plus the FULL rendered text
    // and per-conv target mass; the oracle rebuilds text and every
    // offset closed-form from word-length arithmetic.
    // q207: the ChatML render + offsets rebuilt closed-form -- turn
    // strings concatenated directly, span starts as prefix-sum length
    // arithmetic (22 = len('<|im_start|>') + len('assistant') + 1),
    // never touching the engine's window machinery.
    QuerySpec("q207_chat_template", (s, dir) => {
      import graft.operators.Sft
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("conv"),
          split(trim(col("text")), " ").as("w"))
      val turns = d.select(col("conv"), expr(
          "explode(array(" +
            "struct(0 AS ix, 'system' AS role, 'be helpful' AS c), " +
            "struct(1 AS ix, 'user' AS role, " +
            "  concat(w[0], ' ', w[1], ' ', w[2]) AS c), " +
            "struct(2 AS ix, 'assistant' AS role, " +
            "  concat(w[3], ' ', w[4], ' ', w[5]) AS c), " +
            "struct(3 AS ix, 'user' AS role, " +
            "  concat(w[6], ' ', w[7]) AS c), " +
            "struct(4 AS ix, 'assistant' AS role, " +
            "  concat(w[8], ' ', w[9]) AS c)))").as("t"))
        .select(col("conv"), col("t.ix").as("ix"),
          col("t.role").as("role"), col("t.c").as("c"))
      val rendered = Sft.renderChatML(turns, "conv", "ix", "role", "c")
      Sft.explodeSpans(rendered)
        .select(col("conv"), col("span_ix"), col("s"), col("e"),
          col("span_text"), col("text"), col("n_target_chars"))
    },
      raw"""WITH d AS (SELECT doc_id AS conv,
         |    str_split(trim(text), ' ') AS w FROM documents),
         |c AS (SELECT conv, 'be helpful' AS c0,
         |    w[1] || ' ' || w[2] || ' ' || w[3] AS c1,
         |    w[4] || ' ' || w[5] || ' ' || w[6] AS c2,
         |    w[7] || ' ' || w[8] AS c3,
         |    w[9] || ' ' || w[10] AS c4 FROM d),
         |r AS (SELECT conv, c2, c4,
         |    '<|im_start|>system' || chr(10) || c0 || '<|im_end|>'
         |      || chr(10) AS r0,
         |    '<|im_start|>user' || chr(10) || c1 || '<|im_end|>'
         |      || chr(10) AS r1,
         |    '<|im_start|>assistant' || chr(10) || c2 || '<|im_end|>'
         |      || chr(10) AS r2,
         |    '<|im_start|>user' || chr(10) || c3 || '<|im_end|>'
         |      || chr(10) AS r3,
         |    '<|im_start|>assistant' || chr(10) || c4 || '<|im_end|>'
         |      || chr(10) AS r4 FROM c),
         |f AS (SELECT conv, c2, c4,
         |    r0 || r1 || r2 || r3 || r4 AS text,
         |    length(r0) + length(r1) AS o2,
         |    length(r0) + length(r1) + length(r2) + length(r3) AS o4,
         |    CAST(length(c2) + length(c4) AS INTEGER) AS n_target_chars
         |  FROM r)
         |SELECT conv, CAST(0 AS INTEGER) AS span_ix,
         |  CAST(o2 + 22 AS INTEGER) AS s,
         |  CAST(o2 + 22 + length(c2) AS INTEGER) AS e,
         |  c2 AS span_text, text, n_target_chars FROM f
         |UNION ALL
         |SELECT conv, CAST(1 AS INTEGER),
         |  CAST(o4 + 22 AS INTEGER),
         |  CAST(o4 + 22 + length(c4) AS INTEGER),
         |  c4, text, n_target_chars FROM f""".stripMargin),

    // TOKEN-BIN ROUND TRIP: documents tokenized to uint16 ids
    // (closed-form word hash both engines can replay), written as the
    // packed two-file trainer layout (.bin token stream + .idx offset
    // table, one shard pair per partition), read back shard-parallel,
    // and exploded to one row per token position. The oracle computes
    // the same ids straight from `documents` -- if any byte of the
    // binary round trip is off, the hash breaks.
    // q208: the token ids recomputed straight from the source text --
    // the engine's value went through uint16 bytes on disk and back,
    // the oracle's never left SQL; equality gates the whole binary
    // layer.
    QuerySpec("q208_token_bin", (s, dir) => {
      import graft.sources.TokenBin
      val base = scratchDir("graft_tokbin").resolve("bin").toString
      val seqs = t(s, dir, "documents").select(
        col("doc_id").as("seq_id"),
        expr("transform(split(trim(text), ' '), " +
          "w -> CAST((length(w) * 257 + ascii(substring(w, 1, 1))) % " +
          "65536 AS INT))").as("tokens"))
      TokenBin.write(seqs.repartition(4), "seq_id", "tokens", base)
      TokenBin.read(s, base)
        .select(col("seq_id"),
          posexplode(col("tokens")).as(Seq("pos", "tok")))
    },
      raw"""WITH w AS (SELECT doc_id AS seq_id,
         |    str_split(trim(text), ' ') AS ws FROM documents)
         |SELECT seq_id,
         |  CAST(unnest(list_transform(range(1, len(ws) + 1), i -> i - 1))
         |    AS INTEGER) AS pos,
         |  CAST(unnest(list_transform(ws,
         |    x -> (length(x) * 257 + ascii(x[1:1])) % 65536))
         |    AS INTEGER) AS tok
         |FROM w""".stripMargin),

    // TOKEN LOSS MASK: the downstream half of q207's contract --
    // tokenize the rendered ChatML on whitespace WITH char offsets and
    // mark each token masked-in iff it overlaps a loss span (partial
    // overlaps count: a token glueing content to <|im_end|> carries
    // loss chars). One prefix-sum window per conversation, HOF exists
    // over the per-row spans array -- no join, no re-render.
    // q209: the q207 render chain rebuilt closed-form, then tokenized
    // on [ \n] with prefix-sum offsets and the two assistant spans
    // tested by plain interval overlap -- the engine's HOF exists and
    // window arithmetic against first-principles SQL.
    QuerySpec("q209_token_loss_mask", (s, dir) => {
      import graft.operators.Sft
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("conv"),
          split(trim(col("text")), " ").as("w"))
      val turns = d.select(col("conv"), expr(
          "explode(array(" +
            "struct(0 AS ix, 'system' AS role, 'be helpful' AS c), " +
            "struct(1 AS ix, 'user' AS role, " +
            "  concat(w[0], ' ', w[1], ' ', w[2]) AS c), " +
            "struct(2 AS ix, 'assistant' AS role, " +
            "  concat(w[3], ' ', w[4], ' ', w[5]) AS c), " +
            "struct(3 AS ix, 'user' AS role, " +
            "  concat(w[6], ' ', w[7]) AS c), " +
            "struct(4 AS ix, 'assistant' AS role, " +
            "  concat(w[8], ' ', w[9]) AS c)))").as("t"))
        .select(col("conv"), col("t.ix").as("ix"),
          col("t.role").as("role"), col("t.c").as("c"))
      Sft.tokenLossMask(Sft.renderChatML(turns, "conv", "ix", "role", "c"))
    },
      raw"""WITH d AS (SELECT doc_id AS conv,
         |    str_split(trim(text), ' ') AS w FROM documents),
         |c AS (SELECT conv, 'be helpful' AS c0,
         |    w[1] || ' ' || w[2] || ' ' || w[3] AS c1,
         |    w[4] || ' ' || w[5] || ' ' || w[6] AS c2,
         |    w[7] || ' ' || w[8] AS c3,
         |    w[9] || ' ' || w[10] AS c4 FROM d),
         |r AS (SELECT conv, c2, c4,
         |    '<|im_start|>system' || chr(10) || c0 || '<|im_end|>'
         |      || chr(10) AS r0,
         |    '<|im_start|>user' || chr(10) || c1 || '<|im_end|>'
         |      || chr(10) AS r1,
         |    '<|im_start|>assistant' || chr(10) || c2 || '<|im_end|>'
         |      || chr(10) AS r2,
         |    '<|im_start|>user' || chr(10) || c3 || '<|im_end|>'
         |      || chr(10) AS r3,
         |    '<|im_start|>assistant' || chr(10) || c4 || '<|im_end|>'
         |      || chr(10) AS r4 FROM c),
         |f AS (SELECT conv,
         |    r0 || r1 || r2 || r3 || r4 AS text,
         |    length(r0) + length(r1) + 22 AS s2,
         |    length(r0) + length(r1) + 22 + length(c2) AS e2,
         |    length(r0) + length(r1) + length(r2) + length(r3) + 22 AS s4,
         |    length(r0) + length(r1) + length(r2) + length(r3) + 22
         |      + length(c4) AS e4
         |  FROM r),
         |u AS (SELECT conv, s2, e2, s4, e4,
         |    CAST(unnest(list_transform(range(1, len(ts) + 1), i -> i - 1))
         |      AS INTEGER) AS pos,
         |    unnest(ts) AS tok
         |  FROM (SELECT conv, s2, e2, s4, e4,
         |          regexp_split_to_array(text, '[ \n]') AS ts FROM f)),
         |o AS (SELECT conv, pos, tok, s2, e2, s4, e4,
         |    CAST(COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY conv
         |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      1 PRECEDING), 0) AS INTEGER) AS s
         |  FROM u)
         |SELECT conv, pos, tok, s,
         |  CAST(s + length(tok) AS INTEGER) AS e,
         |  ((s < e2 AND s + length(tok) > s2) OR
         |   (s < e4 AND s + length(tok) > s4)) AS masked
         |FROM o WHERE length(tok) > 0""".stripMargin),

    // T5 SPAN CORRUPTION: deterministic ~10% word masking, contiguous
    // runs collapsed to <extra_id_k> sentinels, (inputs, targets)
    // denoising pairs assembled per document -- two doc-partitioned
    // window passes plus one ordered collect, replayed word-for-word
    // by the oracle's window chain.
    // q210: the T5 denoising assembly as a window chain -- lag marks
    // run starts, a running sum numbers sentinels, string_agg with an
    // ORDER BY rebuilds inputs/targets (COALESCE '' because an
    // unmasked doc has no target pieces).
    QuerySpec("q210_span_corrupt", (s, dir) => {
      import graft.operators.TrainPrep
      TrainPrep.spanCorrupt(t(s, dir, "documents"), "doc_id", "text")
    },
      raw"""WITH t AS (SELECT doc_id AS doc,
         |    CAST(unnest(list_transform(range(1, len(ws) + 1), i -> i - 1))
         |      AS INTEGER) AS pos,
         |    unnest(ws) AS tok
         |  FROM (SELECT doc_id, str_split(trim(text), ' ') AS ws
         |        FROM documents)),
         |m AS (SELECT doc, pos, tok,
         |    ((doc * 31 + pos * 7) % 10 = 0) AS masked FROM t),
         |r AS (SELECT *, masked AND NOT COALESCE(
         |    lag(masked) OVER (PARTITION BY doc ORDER BY pos), FALSE)
         |    AS run_start FROM m),
         |k AS (SELECT *, CAST(SUM(CASE WHEN run_start THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc ORDER BY pos ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW) - 1 AS INTEGER) AS k FROM r),
         |p AS (SELECT doc, pos, masked,
         |    CASE WHEN NOT masked THEN tok
         |         WHEN run_start THEN '<extra_id_' || k || '>' END
         |      AS in_piece,
         |    CASE WHEN masked AND run_start
         |           THEN '<extra_id_' || k || '> ' || tok
         |         WHEN masked THEN tok END AS tgt_piece
         |  FROM k)
         |SELECT doc,
         |  COALESCE(string_agg(in_piece, ' ' ORDER BY pos), '') AS inputs,
         |  COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS targets,
         |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_masked
         |FROM p GROUP BY doc""".stripMargin),

    // EPOCH SHARDS: stride-chunk every document's token stream into
    // fixed context windows and deal them into trainer shards in a
    // seeded Lehmer order -- reseeding permutes the epoch without
    // touching data, and NO global total order exists anywhere: the
    // only windows are per-shard (trainers read shards), the chunk
    // fan-out is a lateral explode.
    // q211: the stride windows and the double-Lehmer shard deal
    // rebuilt arithmetically -- list slicing for the windows, the
    // identical ((x % M) * 48271) % M lattice for the hash, and a
    // per-shard rank (never a global order) for pos_in_shard.
    QuerySpec("q211_epoch_shards", (s, dir) => {
      import graft.operators.TrainPrep
      val seqs = t(s, dir, "documents").select(
        col("doc_id").as("seq_id"),
        expr("transform(split(trim(text), ' '), " +
          "w -> CAST((length(w) * 257 + ascii(substring(w, 1, 1))) % " +
          "65536 AS INT))").as("tokens"))
      TrainPrep.epochShards(seqs, "seq_id", "tokens",
        width = 32, stride = 24, nShards = 8, seed = 7L)
    },
      raw"""WITH s AS (SELECT doc_id AS seq_id,
         |    list_transform(str_split(trim(text), ' '),
         |      x -> (length(x) * 257 + ascii(x[1:1])) % 65536) AS toks
         |  FROM documents),
         |w AS (SELECT seq_id, toks,
         |    CAST(unnest(range(0, CASE WHEN len(toks) > 32
         |      THEN (len(toks) - 32 + 23) // 24 + 1 ELSE 1 END))
         |      AS INTEGER) AS w
         |  FROM s),
         |win AS (SELECT seq_id, w,
         |    toks[w * 24 + 1 : w * 24 + 32] AS win FROM w),
         |h AS (SELECT seq_id, w, win,
         |    ((((((seq_id * 1048576 + w + 7) % 2147483647) * 48271)
         |      % 2147483647) + 7) % 2147483647) * 48271 % 2147483647 AS h
         |  FROM win)
         |SELECT seq_id, w,
         |  CAST(h % 8 AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8
         |    ORDER BY h, seq_id, w) - 1 AS INTEGER) AS pos_in_shard,
         |  CAST(len(win) AS INTEGER) AS n_toks,
         |  CAST(win[1] AS INTEGER) AS first_tok,
         |  CAST(list_aggregate(win, 'sum') AS BIGINT) AS checksum
         |FROM h""".stripMargin),

    // LENGTH-BUCKETED BATCHES: integer length buckets, seeded order
    // within bucket, batches of 4, and the padding-waste bill
    // (n_seqs*max_len - sum_len) the trainer pays per batch -- the
    // measurement that justifies bucketed batching.
    // q212: integer buckets, the same Lehmer order, batches of 4 cut
    // by integer division on the rank, and the padding bill per batch.
    QuerySpec("q212_length_batches", (s, dir) => {
      import graft.operators.TrainPrep
      val seqs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), " ")).as("n_tok"))
      TrainPrep.lengthBatches(seqs, "doc_id", "n_tok",
        bucketWidth = 8, batchSize = 4, seed = 1L)
    },
      raw"""WITH s AS (SELECT doc_id AS id,
         |    CAST(len(str_split(trim(text), ' ')) AS INTEGER) AS n_tok
         |  FROM documents),
         |b AS (SELECT id, n_tok,
         |    CAST(n_tok // 8 AS INTEGER) AS bucket,
         |    ((id + 1) % 2147483647) * 48271 % 2147483647 AS h FROM s),
         |r AS (SELECT *, CAST((row_number() OVER (PARTITION BY bucket
         |    ORDER BY h, id) - 1) // 4 AS INTEGER) AS batch_ix FROM b)
         |SELECT bucket, batch_ix,
         |  CAST(count(*) AS INTEGER) AS n_seqs,
         |  max(n_tok) AS max_len,
         |  CAST(sum(n_tok) AS BIGINT) AS sum_len,
         |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
         |FROM r GROUP BY bucket, batch_ix""".stripMargin),

    // GPT-STYLE BLOCK PACKING: per-shard token streams (EOS after each
    // doc) cut into fixed 64-token blocks CROSSING document
    // boundaries; output is the block composition map (doc x block ->
    // in-block token range + EOS flag) that boundary-reset attention
    // masks and provenance consume. Shard-local prefix sums -- no
    // global order anywhere; fan-out is pure arithmetic.
    // q213: shard-local prefix sums and the block-range fan-out redone
    // arithmetically; every boundary value (greatest/least/EOS rule)
    // must agree or the hash breaks.
    QuerySpec("q213_block_pack", (s, dir) => {
      import graft.operators.TrainPrep
      val seqs = t(s, dir, "documents").select(col("doc_id"),
        split(trim(col("text")), " ").as("toks"))
      TrainPrep.blockPack(seqs, "doc_id", "toks",
        blockSize = 64, nShards = 8)
    },
      raw"""WITH s AS (SELECT doc_id AS seq_id,
         |    CAST(doc_id % 8 AS INTEGER) AS shard,
         |    CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS n
         |  FROM documents),
         |o AS (SELECT seq_id, shard, n,
         |    CAST(COALESCE(SUM(n + 1) OVER (PARTITION BY shard
         |      ORDER BY seq_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      1 PRECEDING), 0) AS BIGINT) AS start
         |  FROM s WHERE n > 0),
         |e AS (SELECT seq_id, shard, n, start,
         |    unnest(range(start // 64, (start + n) // 64 + 1))
         |      AS block_ix FROM o)
         |SELECT shard, block_ix, seq_id,
         |  CAST(greatest(start, block_ix * 64) - block_ix * 64
         |    AS INTEGER) AS s_in_block,
         |  CAST(least(start + n, (block_ix + 1) * 64) - block_ix * 64
         |    AS INTEGER) AS e_in_block,
         |  (start + n <= (block_ix + 1) * 64 - 1) AS eos_in_block
         |FROM e""".stripMargin),

    // DPO PREFERENCE PAIRS: candidates grouped 4-per-prompt, the
    // best-scored (id tie-break) chosen vs every other -- one bounded
    // group window, zero joins.
    // q214: best-vs-rest via first_value over (score desc, id desc) --
    // the same tie-break as the engine's struct max.
    QuerySpec("q214_preference_pairs", (s, dir) => {
      import graft.operators.TrainPrep
      val cands = t(s, dir, "documents").select(
        floor(col("doc_id") / lit(4.0)).cast("long").as("prompt"),
        col("doc_id").as("cand"),
        size(split(trim(col("text")), " ")).as("score"))
      TrainPrep.preferencePairs(cands, "prompt", "cand", "score")
    },
      raw"""WITH c AS (SELECT doc_id // 4 AS prompt, doc_id AS cand,
         |    CAST(len(str_split(trim(text), ' ')) AS INTEGER) AS score
         |  FROM documents),
         |b AS (SELECT prompt, cand, score,
         |    first_value(cand) OVER (PARTITION BY prompt
         |      ORDER BY score DESC, cand DESC) AS best_cand,
         |    first_value(score) OVER (PARTITION BY prompt
         |      ORDER BY score DESC, cand DESC) AS best_score
         |  FROM c)
         |SELECT prompt, best_cand AS chosen_id, cand AS rejected_id,
         |  CAST(best_score - score AS INTEGER) AS margin
         |FROM b WHERE cand <> best_cand""".stripMargin),

    // FILL-IN-THE-MIDDLE: seeded half of the corpus re-laid out as
    // <PRE> prefix <SUF> suffix <MID> middle at seeded split points;
    // the other half verbatim -- the code-model pretraining transform,
    // byte-exact under the oracle.
    // q215: the PSM split points and slices replayed on list slicing;
    // byte equality of text_out gates the whole transform.
    QuerySpec("q215_fim_transform", (s, dir) => {
      import graft.operators.TrainPrep
      TrainPrep.fimTransform(t(s, dir, "documents"), "doc_id", "text")
    },
      raw"""WITH s AS (SELECT doc_id AS id,
         |    str_split(trim(text), ' ') AS ws, trim(text) AS t0,
         |    CAST((doc_id * 7) % 4 + 3 AS INTEGER) AS i
         |  FROM documents),
         |j AS (SELECT id, ws, t0, i,
         |    CAST(i + 2 + (id * 13) % 3 AS INTEGER) AS j,
         |    (id % 2 = 0 AND len(ws) >= 10) AS is_fim FROM s)
         |SELECT id, is_fim,
         |  CASE WHEN NOT is_fim THEN t0
         |       ELSE '<PRE> ' || array_to_string(ws[1:i], ' ')
         |         || ' <SUF> ' || array_to_string(ws[j+1:len(ws)], ' ')
         |         || ' <MID> ' || array_to_string(ws[i+1:j], ' ')
         |  END AS text_out,
         |  CASE WHEN is_fim THEN j - i ELSE 0 END AS n_middle
         |FROM j""".stripMargin),

    // TOKEN-BUDGET WATER-FILLING: the DoReMi/Pile-style mixture solver
    // -- 4 meta-domains (source ordinal mod 4), weights 1:2:3:4, budget
    // 9/10 of the corpus, so the fixpoint runs MULTIPLE saturation
    // waves (measured at the gate sf: the two heaviest-weighted
    // domains cap in wave 1, the water level rises, d1 saturates in
    // wave 2; with 4 domains at most 3 waves are possible, the
    // oracle's 6 unrolled iterations are provably past any fixpoint).
    // Driver-side exact big-integer solver over a |domains|-bounded
    // relation; the oracle unrolls the same wave iteration in HUGEINT.
    // q218: the water-filling fixpoint unrolled 6 waves in HUGEINT —
    // see waterfillOracleSql.
    QuerySpec("q218_waterfill_mix", (s, dir) => {
      import graft.operators.TrainPrep
      val dom = t(s, dir, "documents")
        .select((expr("CAST(substring(source, 4) AS INT)") % 4).as("dx"),
          size(split(trim(col("text")), " ")).cast("long").as("n"))
        .groupBy(col("dx"))
        .agg(sum(col("n")).as("avail"))
        .select(concat(lit("d"), col("dx").cast("string")).as("domain"),
          col("avail"),
          ((col("dx") + 1).cast("long") * lit(250000L)).as("weight_ppm"))
      val total = dom.agg(sum(col("avail"))).first.getLong(0)
      TrainPrep.tokenWaterfill(dom, "domain", "avail", "weight_ppm",
        budget = 9L * total / 10L)
    },
      waterfillOracleSql(6)),

    // RATIO-INTERLEAVED FEED ORDER: three sources mixed 3:2:1 per
    // round, seeded-hash draw order within (source, shard), no global
    // sort anywhere -- trainers sort their own shard by feed_key. The
    // oracle replays the lehmer hash, the (source, shard) window rank
    // and the round/slot/key arithmetic.
    // q219: lehmer hash, (source, shard) window rank, round/slot/key
    // arithmetic — all replayed literally.
    QuerySpec("q219_interleave_feed", (s, dir) => {
      import graft.operators.TrainPrep
      TrainPrep.interleaveOrder(t(s, dir, "documents"), "doc_id",
        "source", ratios = Seq(("src0", 3), ("src1", 2), ("src2", 1)),
        nShards = 4, seed = 5L)
    },
      raw"""WITH r(source, src_ix, k) AS (VALUES ('src0', 0, 3),
         |    ('src1', 1, 2), ('src2', 2, 1)),
         |s AS (SELECT d.doc_id AS id, d.source, r.src_ix, r.k,
         |    ((d.doc_id + 5) % 2147483647) * 48271 % 2147483647 AS h
         |  FROM documents d JOIN r ON r.source = d.source),
         |t AS (SELECT id, source, src_ix, k, h,
         |    CAST(h % 4 AS INTEGER) AS shard FROM s),
         |u AS (SELECT id, source, src_ix, k, shard,
         |    CAST(row_number() OVER (PARTITION BY source, shard
         |      ORDER BY h, id) - 1 AS BIGINT) AS rho
         |  FROM t)
         |SELECT id, source, shard,
         |  CAST(rho // k AS BIGINT) AS "round",
         |  CAST(rho % k AS INTEGER) AS slot,
         |  CAST(((rho // k * 3 + src_ix) * 4 + shard) * 3 + rho % k
         |    AS BIGINT) AS feed_key
         |FROM u""".stripMargin),

    // FEW-SHOT EXEMPLAR ASSEMBLY: every 97th doc is a test item, every
    // 20th an exemplar; k=7 exemplars drawn label-balanced over the 5
    // languages (quotas 2/2/1/1/1 by label order), seeded PER TEST
    // ITEM, self-exemplars excluded (ids divisible by both 97 and 20
    // exercise the exclusion). Broadcast pool fan-out -- the standard
    // eval-harness shape.
    // q221: label quotas from the sorted-label rank, the per-(test,
    // label) seeded-hash window rank, self-exclusion before ranking.
    QuerySpec("q221_few_shot", (s, dir) => {
      import graft.operators.TrainPrep
      val docs = t(s, dir, "documents")
      val test = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"))
      val pool = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("lang"))
      TrainPrep.fewShot(test, "doc_id", pool, "doc_id", "lang",
        k = 7, seed = 3L)
    },
      raw"""WITH p AS (SELECT doc_id AS ex_id, lang AS label
         |  FROM documents WHERE doc_id % 20 = 0),
         |lr AS (SELECT label,
         |    CAST(row_number() OVER (ORDER BY label) - 1 AS INTEGER)
         |      AS lx
         |  FROM (SELECT DISTINCT label FROM p)),
         |q AS (SELECT label,
         |    CAST(7 // 5 + CASE WHEN lx < 7 % 5 THEN 1 ELSE 0 END
         |      AS BIGINT) AS quota FROM lr),
         |t AS (SELECT doc_id AS test_id FROM documents
         |  WHERE doc_id % 97 = 0),
         |x AS (SELECT t.test_id, p.label, p.ex_id,
         |    ((t.test_id * 131 + p.ex_id * 17 + 3) % 2147483647)
         |      * 48271 % 2147483647 AS h
         |  FROM t, p WHERE p.ex_id <> t.test_id),
         |r AS (SELECT test_id, label, ex_id,
         |    CAST(row_number() OVER (PARTITION BY test_id, label
         |      ORDER BY h, ex_id) - 1 AS INTEGER) AS ex_rank
         |  FROM x)
         |SELECT r.test_id, r.label, r.ex_rank, r.ex_id
         |FROM r JOIN q ON q.label = r.label
         |WHERE r.ex_rank < q.quota""".stripMargin),

    // UNIGRAM-LM TOKENIZER, VITERBI STEP (Kudo 2018 / SentencePiece):
    // seed pieces counted over the DISTINCT-WORD relation, costs on
    // the K - floor(log2 count) integer lattice, per-word Viterbi with
    // the longest-piece tie-break. The oracle re-runs the DP as a
    // recursive CTE carrying the cost/backpointer lists -- two
    // independent implementations of the same exact program.
    // q224: the unigram Viterbi chain (recursive-CTE DP) plus the
    // per-word readout.
    QuerySpec("q224_unigram_viterbi", (s, dir) => {
      import graft.operators.UnigramTok
      val words = UnigramTok.wordCounts(t(s, dir, "documents"), "text")
      val vocab = UnigramTok.seedVocab(words, maxPieceLen = 4,
        minCount = 3)
      UnigramTok.viterbiSegments(words, vocab, maxPieceLen = 4)
    },
      (s"WITH RECURSIVE ${unigramCtes(4, 3)}\n" +
        raw"""SELECT word, n_occ, seg, cost,
           |  CAST(len(str_split(seg, ' ')) AS INTEGER) AS n_pieces
           |FROM segs""".stripMargin)),

    // UNIGRAM-LM TOKENIZER, EM RE-ESTIMATION: piece counts over the
    // q224 Viterbi segmentations weighted by word frequency, new costs
    // on the same lattice -- one full EM round, gated end-to-end.
    // q225: the same chain aggregated into the EM piece counts and
    // re-derived lattice costs.
    QuerySpec("q225_unigram_em", (s, dir) => {
      import graft.operators.UnigramTok
      val words = UnigramTok.wordCounts(t(s, dir, "documents"), "text")
      val vocab = UnigramTok.seedVocab(words, maxPieceLen = 4,
        minCount = 3)
      UnigramTok.emPieceCounts(
        UnigramTok.viterbiSegments(words, vocab, maxPieceLen = 4))
    },
      (s"WITH RECURSIVE ${unigramCtes(4, 3)}\n" +
        raw"""SELECT piece, CAST(sum(n_occ) AS BIGINT) AS em_count,
           |  CAST(40 - (length(printf('%b',
           |    CAST(sum(n_occ) AS BIGINT))) - 1) AS BIGINT) AS new_cost
           |FROM (SELECT n_occ, unnest(str_split(seg, ' ')) AS piece
           |  FROM segs)
           |GROUP BY piece""".stripMargin)),

    // GALE-CHURCH SENTENCE ALIGNMENT: docs split into 3-word
    // "sentences"; the B side is identical except docs = 0 (mod 5)
    // merge sentences 1 and 2 into one (length l1+l2+1, the joining
    // space) -- so the optimal alignment is PROVABLY all-1:1 plus one
    // 2:1 bead of cost 240 at position 1 (any competing path pays a
    // type penalty >= 230 PLUS a length mismatch of >= one full
    // sentence). The oracle derives the expected beads closed-form
    // from the same word arithmetic, never touching the DP.
    // q226: the planted alignment closed-form — all 1:1 except the
    // doc%5==0 docs' 2:1 bead at position 1 (cost 240 = 230 type
    // penalty + 10·|l1+l2 − (l1+l2+1)|); never touches the DP.
    QuerySpec("q226_sentence_align", (s, dir) => {
      import graft.operators.SentAlign
      val w = split(trim(col("text")), " ")
      val ng = floor(size(w) / lit(3)).cast("int")
      val lensA = transform(sequence(lit(0), ng - 1),
        g => length(array_join(slice(w, g * lit(3) + lit(1), lit(3)), " "))
          .cast("long"))
      val merge = col("doc_id") % 5 === 0 && ng >= 3
      val lensB = when(merge, concat(
          slice(lensA, 1, 1),
          array(element_at(lensA, 2) + element_at(lensA, 3) + 1L),
          slice(lensA, lit(4), size(lensA))))
        .otherwise(lensA)
      val base = t(s, dir, "documents").filter(ng >= 1)
        .select(col("doc_id"), lensA.as("la"), lensB.as("lb"))
      val aSide = base.select(col("doc_id"),
        posexplode(col("la")).as(Seq("ix", "len")))
      val bSide = base.select(col("doc_id"),
        posexplode(col("lb")).as(Seq("ix", "len")))
      SentAlign.galeChurch(aSide, bSide, "doc_id", "ix", "len")
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(len(w) // 3 AS INTEGER) AS ng
         |  FROM d WHERE len(w) >= 3),
         |m AS (SELECT doc_id, ng,
         |    (doc_id % 5 = 0 AND ng >= 3) AS mrg FROM g),
         |nomrg AS (SELECT doc_id, unnest(range(0, ng)) AS k
         |  FROM m WHERE NOT mrg),
         |mrg1 AS (SELECT doc_id, unnest(range(0, ng - 1)) AS k
         |  FROM m WHERE mrg)
         |SELECT doc_id, CAST(k AS INTEGER) AS bead_ix,
         |  CAST(k AS INTEGER) AS a_from, 1 AS n_a,
         |  CAST(k AS INTEGER) AS b_from, 1 AS n_b,
         |  '1:1' AS bead, CAST(0 AS BIGINT) AS cost
         |FROM nomrg
         |UNION ALL
         |SELECT doc_id, CAST(k AS INTEGER),
         |  CAST(CASE WHEN k >= 2 THEN k + 1 ELSE k END AS INTEGER),
         |  CASE WHEN k = 1 THEN 2 ELSE 1 END,
         |  CAST(k AS INTEGER), 1,
         |  CASE WHEN k = 1 THEN '2:1' ELSE '1:1' END,
         |  CAST(CASE WHEN k = 1 THEN 240 ELSE 0 END AS BIGINT)
         |FROM mrg1""".stripMargin),

    // UNIGRAM TOKENIZER, PRUNE + RE-SEGMENT: the full SentencePiece
    // training round -- seed -> Viterbi -> EM -> prune (EM count >= 5,
    // character alphabet always retained at seed cost) -> second
    // Viterbi under the pruned vocabulary. The oracle runs BOTH DP
    // passes as two recursive-CTE chains in one WITH RECURSIVE.
    // q229: both Viterbi passes as two recursive-CTE chains in one
    // WITH RECURSIVE; the prune CTE mirrors pruneVocab (EM-kept pieces
    // at EM cost, seed-cost character alphabet re-entry).
    QuerySpec("q229_unigram_prune", (s, dir) => {
      import graft.operators.UnigramTok
      val words = UnigramTok.wordCounts(t(s, dir, "documents"), "text")
      val seed = UnigramTok.seedVocab(words, maxPieceLen = 4,
        minCount = 3)
      val em = UnigramTok.emPieceCounts(
        UnigramTok.viterbiSegments(words, seed, maxPieceLen = 4))
      val pruned = UnigramTok.pruneVocab(em, seed, minCount = 5)
      UnigramTok.viterbiSegments(words, pruned, maxPieceLen = 4)
    },
      (s"WITH RECURSIVE ${unigramVocabCtes(4, 3)},\n" +
        s"${unigramDpCtes(4, "", "vc")},\n" +
        raw"""pv AS (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
           |  FROM (SELECT n_occ, unnest(str_split(seg, ' ')) AS piece
           |    FROM segs) GROUP BY piece),
           |kept AS (SELECT piece,
           |    CAST(40 - (length(printf('%b', cnt)) - 1) AS BIGINT)
           |      AS cost
           |  FROM pv WHERE cnt >= 5),
           |vc2 AS (SELECT * FROM kept
           |  UNION ALL
           |  SELECT piece, cost FROM vc WHERE length(piece) = 1
           |    AND piece NOT IN (SELECT piece FROM kept)),""".stripMargin
        + "\n" + s"${unigramDpCtes(4, "p", "vc2")}\n" +
        raw"""SELECT word, n_occ, seg, cost,
           |  CAST(len(str_split(seg, ' ')) AS INTEGER) AS n_pieces
           |FROM psegs""".stripMargin)),

    // TOKENIZER CORPUS APPLICATION: the trained (q224) vocabulary
    // applied back to the full corpus -- per document, total piece
    // cost, piece count, and cost-per-piece on the ppm lattice. The
    // scale shape tokenizers actually use: the corpus-linear pass is
    // ONE explode + broadcast join against the distinct-word
    // segmentation table; the DP never touches corpus rows.
    // q231: the corpus explode joined to the recursive-CTE
    // segmentation table, per-doc sums and the ppm ratio.
    QuerySpec("q231_unigram_apply", (s, dir) => {
      import graft.operators.UnigramTok
      val docs = t(s, dir, "documents")
      val words = UnigramTok.wordCounts(docs, "text")
      val vocab = UnigramTok.seedVocab(words, maxPieceLen = 4,
        minCount = 3)
      val segs = UnigramTok.viterbiSegments(words, vocab, maxPieceLen = 4)
        .select(col("word"), col("cost"), col("n_pieces"))
      docs.select(col("doc_id"),
          explode(split(trim(col("text")), " ")).as("word"))
        .filter(col("word") =!= "" && length(col("word")) <= 32)
        .join(broadcast(segs), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("cost")).as("total_cost"),
          sum(col("n_pieces")).cast("long").as("n_pieces"))
        .withColumn("cost_per_piece_ppm",
          floor(col("total_cost").cast("double") * 1000000
            / col("n_pieces")).cast("long"))
    },
      (s"WITH RECURSIVE ${unigramCtes(4, 3)},\n" +
        raw"""dw AS (SELECT d.doc_id, s.cost,
           |    CAST(len(str_split(s.seg, ' ')) AS BIGINT) AS np
           |  FROM (SELECT doc_id, unnest(str_split(trim(text), ' '))
           |      AS word
           |    FROM documents WHERE text IS NOT NULL) d
           |  JOIN segs s ON s.word = d.word
           |  WHERE d.word <> '' AND length(d.word) <= 32)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(cost) AS BIGINT) AS total_cost,
           |  CAST(sum(np) AS BIGINT) AS n_pieces,
           |  CAST(floor(CAST(sum(cost) AS DOUBLE) * 1000000 / sum(np))
           |    AS BIGINT) AS cost_per_piece_ppm
           |FROM dw GROUP BY doc_id""".stripMargin)),

    // BITEXT TRAINING PAIRS: the q226 alignment joined back to the
    // sentence TEXT -- (src_text, tgt_text) rows per bead, the actual
    // parallel-corpus trainer feed (merged beads concatenate their
    // consumed sentences). Per-doc bounded collects + arithmetic
    // slices; the oracle rebuilds every pair closed-form.
    // q232: every training pair closed-form from the same word
    // arithmetic as q226 — the merged bead concatenates groups 1+2.
    QuerySpec("q232_bitext_pairs", (s, dir) => {
      import graft.operators.SentAlign
      val w = split(trim(col("text")), " ")
      val ng = floor(size(w) / lit(3)).cast("int")
      val sentsA = transform(sequence(lit(0), ng - 1),
        g => array_join(slice(w, g * lit(3) + lit(1), lit(3)), " "))
      val merge = col("doc_id") % 5 === 0 && ng >= 3
      val sentsB = when(merge, concat(
          slice(sentsA, 1, 1),
          array(concat(element_at(sentsA, 2), lit(" "),
            element_at(sentsA, 3))),
          slice(sentsA, lit(4), size(sentsA))))
        .otherwise(sentsA)
      val base = t(s, dir, "documents").filter(ng >= 1)
        .select(col("doc_id"), sentsA.as("ta"), sentsB.as("tb"))
        .withColumn("la", transform(col("ta"), t => length(t).cast("long")))
        .withColumn("lb", transform(col("tb"), t => length(t).cast("long")))
      val aSide = base.select(col("doc_id"),
        posexplode(col("la")).as(Seq("ix", "len")))
      val bSide = base.select(col("doc_id"),
        posexplode(col("lb")).as(Seq("ix", "len")))
      SentAlign.galeChurch(aSide, bSide, "doc_id", "ix", "len")
        .join(base.select(col("doc_id"), col("ta"), col("tb")),
          Seq("doc_id"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .select(col("doc_id"), col("bead_ix"), col("bead"),
          array_join(slice(col("ta"), col("a_from") + 1, col("n_a")), " ")
            .as("src_text"),
          array_join(slice(col("tb"), col("b_from") + 1, col("n_b")), " ")
            .as("tgt_text"))
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(len(w) // 3 AS INTEGER) AS ng,
         |    list_transform(range(0, len(w) // 3),
         |      g -> array_to_string(w[g * 3 + 1:g * 3 + 3], ' ')) AS ta
         |  FROM d WHERE len(w) >= 3),
         |m AS (SELECT doc_id, ng, ta,
         |    (doc_id % 5 = 0 AND ng >= 3) AS mrg FROM g),
         |nomrg AS (SELECT doc_id, unnest(range(0, ng)) AS k, ta
         |  FROM m WHERE NOT mrg),
         |mrg1 AS (SELECT doc_id, unnest(range(0, ng - 1)) AS k, ta
         |  FROM m WHERE mrg)
         |SELECT doc_id, CAST(k AS INTEGER) AS bead_ix, '1:1' AS bead,
         |  ta[k + 1] AS src_text, ta[k + 1] AS tgt_text FROM nomrg
         |UNION ALL
         |SELECT doc_id, CAST(k AS INTEGER),
         |  CASE WHEN k = 1 THEN '2:1' ELSE '1:1' END,
         |  CASE WHEN k = 1 THEN ta[2] || ' ' || ta[3]
         |       WHEN k >= 2 THEN ta[k + 2] ELSE ta[1] END,
         |  CASE WHEN k = 1 THEN ta[2] || ' ' || ta[3]
         |       WHEN k >= 2 THEN ta[k + 2] ELSE ta[1] END
         |FROM mrg1""".stripMargin),

    // BRANCHED-CONVERSATION FLATTENING: each doc's first <= 7 words as
    // a binary message tree (heap parent pointers), flattened to one
    // row per root->leaf path -- the ShareGPT/message-tree to SFT-path
    // transform. The engine walks the actual parent-pointer relation;
    // the oracle derives paths closed-form from heap arithmetic.
    // q235: paths closed-form from heap arithmetic — leaves are nodes
    // k with 2k+1 >= m, ancestors by two unrolled (k-1)//2 steps (the
    // 7-node cap bounds depth at 3) — never walking the pointers.
    QuerySpec("q235_tree_paths", (s, dir) => {
      import graft.operators.Sft
      val w = split(trim(col("text")), " ")
      val m = least(lit(7), size(w))
      val nodes = t(s, dir, "documents").filter(size(w) >= 1)
        .select(col("doc_id"),
          posexplode(slice(w, lit(1), m)).as(Seq("k", "c")))
        .select(col("doc_id").as("conv_id"),
          col("k").cast("long").as("node"),
          when(col("k") === 0, lit(null).cast("long"))
            .otherwise(floor((col("k") - 1) / 2.0).cast("long"))
            .as("parent"),
          col("c").as("content"))
      Sft.treePaths(nodes, "conv_id", "node", "parent", "content")
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |g AS (SELECT doc_id, w, CAST(least(7, len(w)) AS INTEGER) AS m
         |  FROM d WHERE len(w) >= 1),
         |l AS (SELECT doc_id, w, m,
         |    unnest(list_filter(range(0, m), k -> 2 * k + 1 >= m)) AS k
         |  FROM g),
         |p AS (SELECT doc_id, w, CAST(k AS BIGINT) AS leaf,
         |    CASE WHEN k > 0 THEN (k - 1) // 2 ELSE -1 END AS p1
         |  FROM l),
         |q AS (SELECT *, CASE WHEN p1 > 0 THEN (p1 - 1) // 2 ELSE -1
         |    END AS p2 FROM p)
         |SELECT doc_id AS conv, leaf AS leaf_id,
         |  CAST(CASE WHEN p1 = -1 THEN 1 WHEN p2 = -1 THEN 2 ELSE 3
         |    END AS INTEGER) AS depth,
         |  CASE WHEN p1 = -1 THEN CAST(leaf AS VARCHAR)
         |       WHEN p2 = -1 THEN p1 || ' ' || leaf
         |       ELSE p2 || ' ' || p1 || ' ' || leaf END AS path_ids,
         |  CASE WHEN p1 = -1 THEN w[leaf + 1]
         |       WHEN p2 = -1 THEN w[p1 + 1] || ' ' || w[leaf + 1]
         |       ELSE w[p2 + 1] || ' ' || w[p1 + 1] || ' ' ||
         |         w[leaf + 1] END AS path_text
         |FROM q""".stripMargin)
  )
}
