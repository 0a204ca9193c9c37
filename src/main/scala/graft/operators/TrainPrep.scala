package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ScalarFns.{LehmerM, lehmer}

/** Trainer-side data preparation — the operators that turn a curated,
  * tokenized corpus into what a training loop actually consumes:
  * span-corruption example assembly (the T5 denoising objective),
  * deterministic epoch sharding of context windows, and
  * length-bucketed batch assembly with padding-waste accounting.
  *
  * Everything here is seeded integer arithmetic over window functions
  * partitioned by document (or by shard/bucket) — bit-reproducible
  * across engines for the oracle, and shuffle-bounded at 100 TB: no
  * global total order is ever materialized (trainers read SHARDS, so
  * ordering is per-shard by construction), no per-group state beyond
  * a window frame.
  */
object TrainPrep {

  /** T5-style span corruption: deterministically mask ~10% of word
    * positions (`(docId·31 + pos·7) % 10 == 0` — seeded, replayable),
    * collapse each CONTIGUOUS masked run to one `<extra_id_k>`
    * sentinel (k counts runs within the document, 0-based), and emit
    * the denoising pair:
    *
    *  - `inputs`: the words with each masked run replaced by its
    *    sentinel, joined on single spaces;
    *  - `targets`: for each run, its sentinel followed by the masked
    *    words, concatenated in order (the T5 target layout);
    *  - `n_masked`: masked word count (the loss mass).
    *
    * Runs/sentinels are two doc-partitioned window passes (lag +
    * running sum); assembly is one ordered collect per document.
    */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      modulus: Int = 10): DataFrame = {
    val byPos = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val toks = docs.select(col(idCol).as("doc"),
        posexplode(split(trim(col(textCol)), " ")).as(Seq("pos", "tok")))
      .withColumn("masked",
        pmod(col("doc") * 31 + col("pos") * 7, lit(modulus)) === 0)
    val runs = toks
      .withColumn("run_start", col("masked") &&
        !coalesce(lag(col("masked"), 1).over(byPos), lit(false)))
      .withColumn("k",
        (sum(when(col("run_start"), 1).otherwise(0)).over(
          byPos.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"))
    val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
    runs
      .withColumn("in_piece", when(!col("masked"), col("tok"))
        .when(col("run_start"), sentinel))
      .withColumn("tgt_piece", when(col("masked") && col("run_start"),
          concat(sentinel, lit(" "), col("tok")))
        .when(col("masked"), col("tok")))
      .groupBy(col("doc"))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("in_piece").isNotNull,
              struct(col("pos"), col("in_piece"))))),
          t => t.getField("in_piece")), " ").as("inputs"),
        array_join(transform(array_sort(collect_list(
            when(col("tgt_piece").isNotNull,
              struct(col("pos"), col("tgt_piece"))))),
          t => t.getField("tgt_piece")), " ").as("targets"),
        sum(when(col("masked"), 1).otherwise(0)).cast("int").as("n_masked"))
  }

  /** Stride-chunk each sequence's tokens into fixed context windows
    * (`width` tokens every `stride` — overlapping when
    * stride < width, the standard LM eval/train windowing) and deal
    * the windows into `nShards` trainer shards in a deterministic
    * seeded order: shard = lehmer(key+seed) % nShards, position
    * within the shard = rank of the hash. A new `seed` reshuffles
    * every epoch without touching the data.
    *
    * No global total order is materialized — trainers consume shards,
    * so the only windows are per-shard (nShards-way parallel), and the
    * chunk fan-out is a lateral sequence explode, linear in token
    * count. Caller contract: `key = seqId · 2^20 + windowIx` must stay
    * unique, i.e. seqIds fit 2^42 (the ANSI multiply overflows loudly
    * beyond that) and a document has < 2^20 windows (8M tokens at the
    * defaults — pre-split longer documents, or adjacent seqIds can
    * collide keys).
    */
  def epochShards(seqs: DataFrame, idCol: String, tokensCol: String,
      width: Int = 32, stride: Int = 24, nShards: Int = 8,
      seed: Long = 1L): DataFrame = {
    require(width > 0 && stride > 0 && nShards > 0)
    val n = size(col("toks"))
    val chunks = seqs
      .select(col(idCol).cast("long").as("seq_id"),
        col(tokensCol).as("toks"))
      .select(col("seq_id"), col("toks"),
        explode(sequence(lit(0),
          when(n > width,
            floor((n - width + stride - 1) / lit(stride.toDouble))
              .cast("int"))
            .otherwise(lit(0)))).as("w"))
      .select(col("seq_id"), col("w"),
        slice(col("toks"), col("w") * stride + 1, lit(width)).as("win"))
    val key = col("seq_id") * lit(1048576L) + col("w")
    val h = lehmer(lehmer(key + lit(seed)) + lit(seed))
    val withShard = chunks
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
    val byShard = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("seq_id"), col("w"))
    withShard.select(col("seq_id"), col("w"), col("shard"),
        (row_number().over(byShard) - 1).as("pos_in_shard"),
        size(col("win")).as("n_toks"),
        element_at(col("win"), 1).as("first_tok"),
        aggregate(col("win"), lit(0L), (a, x) => a + x).as("checksum"))
  }

  /** GPT-style cross-document block packing: within each shard,
    * concatenate every sequence's tokens (plus one EOS after each
    * document) in seq_id order and cut the stream into fixed
    * `blockSize` training blocks that CROSS document boundaries — the
    * standard pretraining batch layout. Emits the block COMPOSITION
    * map: one row per (document × block it lands in) with the
    * document's token range inside that block, which is what
    * attention-masking ("reset at document boundary") and provenance
    * tooling consume.
    *
    * Shard-local by construction — the prefix sum runs per shard
    * (workers pack their own shards; a global token order would be a
    * partitionless window), and the block fan-out is arithmetic: the
    * explode upper bound is the block holding the document's EOS
    * (`⌊(start+n)/b⌋`), so when the EOS lands exactly on a block
    * boundary the document emits one extra `s_in_block == e_in_block
    * == 0` row carrying `eos_in_block = true` — every EOS token is
    * accounted for in exactly one composition row (attention-mask
    * consumers rely on this). The trailing partial block per shard is
    * emitted (callers drop or pad it).
    */
  def blockPack(seqs: DataFrame, idCol: String, tokensCol: String,
      blockSize: Int, nShards: Int = 8): DataFrame = {
    require(blockSize > 0 && nShards > 0)
    val byId = Window.partitionBy(col("shard")).orderBy(col("seq_id"))
    val b = blockSize.toLong
    seqs.select(col(idCol).cast("long").as("seq_id"),
        size(col(tokensCol)).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("shard", pmod(col("seq_id"), lit(nShards.toLong))
        .cast("int"))
      .withColumn("start", coalesce(sum(col("n") + 1)
          .over(byId.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("block_ix", explode(sequence(
        floor(col("start") / lit(b.toDouble)).cast("long"),
        floor((col("start") + col("n")) / lit(b.toDouble))
          .cast("long"))))
      .select(col("shard"), col("block_ix"), col("seq_id"),
        (greatest(col("start"), col("block_ix") * b) - col("block_ix") * b)
          .cast("int").as("s_in_block"),
        (least(col("start") + col("n"), (col("block_ix") + 1) * b)
          - col("block_ix") * b).cast("int").as("e_in_block"),
        (col("start") + col("n") <= (col("block_ix") + 1) * b - 1)
          .as("eos_in_block"))
  }

  /** RLHF/DPO preference-pair assembly: for each prompt group, the
    * best-scored candidate (id tie-break) is `chosen` and every other
    * candidate yields one (chosen, rejected) pair with its score
    * margin — the standard best-vs-rest pairing. One group-partitioned
    * window max, zero joins; group sizes are the caller's candidate
    * fan-out (constant), so the window is bounded.
    */
  def preferencePairs(cands: DataFrame, promptCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val byPrompt = Window.partitionBy(col("prompt"))
    val best = max(struct(col("score"), col("cand"))).over(byPrompt)
    cands.select(col(promptCol).as("prompt"), col(idCol).as("cand"),
        col(scoreCol).as("score"))
      .withColumn("__best", best)
      .filter(col("cand") =!= col("__best.cand"))
      .select(col("prompt"), col("__best.cand").as("chosen_id"),
        col("cand").as("rejected_id"),
        (col("__best.score") - col("score")).as("margin"))
  }

  /** Fill-in-the-middle transform (the code-model pretraining form):
    * deterministically split half the documents (seeded id parity)
    * into prefix/middle/suffix at seeded word positions and emit the
    * PSM layout `<PRE> prefix <SUF> suffix <MID> middle`; the other
    * half passes through verbatim. Split points are integer
    * arithmetic on the id — replayable, and never out of range for
    * documents with ≥ 10 words (shorter docs pass through).
    */
  def fimTransform(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val ws = split(trim(col(textCol)), " ")
    val n = size(ws)
    val i = (pmod(id * 7, lit(4L)) + 3).cast("int")
    val j = (i + 2 + pmod(id * 13, lit(3L))).cast("int")
    val fim = pmod(id, lit(2L)) === 0 && n >= 10
    docs.select(id.as("id"), fim.as("is_fim"),
      when(!fim, col(textCol)).otherwise(concat(
        lit("<PRE> "), array_join(slice(ws, lit(1), i), " "),
        lit(" <SUF> "), array_join(slice(ws, j + 1, size(ws)), " "),
        lit(" <MID> "),
        array_join(slice(ws, i + 1, j - i), " "))).as("text_out"),
      when(fim, j - i).otherwise(0).cast("int").as("n_middle"))
  }

  /** Length-bucketed batch assembly: bucket sequences by
    * `n_tokens / bucketWidth` (integer buckets — no float log2 to
    * disagree over), order each bucket by a seeded hash with an id
    * tie-break, cut into batches of `batchSize`, and report per batch
    * what the trainer pays: sequence count, max length (the padded
    * width), token sum, and `pad_waste = n_seqs·max_len − sum_len`.
    *
    * Windows are bucket-partitioned (bounded fan-in per bucket is the
    * caller's length distribution, not corpus size); the batch report
    * is one groupBy. This is the measurement that justifies bucketing
    * at all — the same relation with one global bucket prices naive
    * batching.
    */
  def lengthBatches(seqs: DataFrame, idCol: String, nTokCol: String,
      bucketWidth: Int = 8, batchSize: Int = 4,
      seed: Long = 1L): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0)
    val bucket = floor(col(nTokCol).cast("long") / lit(bucketWidth.toDouble))
      .cast("int")
    val h = lehmer(col(idCol).cast("long") + lit(seed))
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("h"), col("id"))
    seqs.select(col(idCol).cast("long").as("id"),
        col(nTokCol).cast("int").as("n_tok"), bucket.as("bucket"), h.as("h"))
      .withColumn("batch_ix",
        floor((row_number().over(byBucket) - 1) / lit(batchSize.toDouble))
          .cast("int"))
      .groupBy(col("bucket"), col("batch_ix"))
      .agg(count(lit(1)).cast("int").as("n_seqs"),
        max(col("n_tok")).as("max_len"),
        sum(col("n_tok")).cast("long").as("sum_len"))
      .withColumn("pad_waste",
        col("n_seqs").cast("long") * col("max_len") - col("sum_len"))
  }

  /** Token-budget WATER-FILLING across domains — the mixture solver
    * behind DoReMi/Pile-style domain weighting: give domain `i` with
    * target weight `w_i` (ppm) and availability cap `c_i` (tokens) the
    * allocation `min(c_i, λ·w_i)`, with λ the water level at which the
    * total allocation equals `budget`. The exact integer contract both
    * engines replay:
    *
    *  1. if Σc ≤ budget every domain saturates (alloc = avail);
    *  2. otherwise the saturated set is the FIXPOINT of
    *     `sat ← sat ∪ { i : c_i·D ≤ N·w_i }` with `N = budget −
    *     Σ_sat c`, `D = Σ_unsat w` (monotone — converges in ≤ |domains|
    *     rounds, in practice 2–3 "waves");
    *  3. unsaturated domains get `⌊N·w_i/D⌋` plus, for the integer
    *     remainder `N − Σ⌊·⌋` (provably < #unsaturated), +1 token to
    *     the first `remainder` unsaturated domains by domain-name
    *     order.
    *
    * All products are exact big-integer arithmetic (the oracle's
    * HUGEINT). The relation is |domains|-bounded BY DEFINITION (a
    * corpus has tens-to-hundreds of sources, never data-scale rows),
    * so the solver runs on the driver behind a loud `maxDomains`
    * guard — its output is the tiny plan that parameterizes the
    * distributed samplers ([[graft.operators.Curation]] token-budget /
    * temperature mixes), exactly how a mixture plan is consumed at
    * 100 TB.
    */
  def tokenWaterfill(domains: DataFrame, domainCol: String,
      availCol: String, weightPpmCol: String, budget: Long,
      maxDomains: Int = 65536): DataFrame = {
    require(budget >= 0, s"budget $budget must be >= 0")
    val spark = domains.sparkSession
    val rows = domains.select(col(domainCol).cast("string"),
        col(availCol).cast("long"), col(weightPpmCol).cast("long"))
      .limit(maxDomains + 1).collect()
    require(rows.length <= maxDomains,
      s"> $maxDomains domains — not a domain-mixture relation; " +
        "aggregate upstream")
    val ds = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(ds.map(_._1).distinct.length == ds.length,
      "duplicate domain names in the mixture relation")
    ds.foreach { case (d, c, w) =>
      require(c >= 0 && w > 0, s"domain $d: avail=$c weight_ppm=$w — " +
        "avail must be >= 0 and weight > 0") }
    val totalC = ds.map(x => BigInt(x._2)).sum
    val out: Array[(String, Long, Long, Long, Boolean)] =
      if (totalC <= BigInt(budget)) {
        ds.map { case (d, c, w) => (d, c, w, c, true) }
      } else {
        val sat = scala.collection.mutable.Set[String]()
        var changed = true
        var num = BigInt(budget)
        var den = ds.map(x => BigInt(x._3)).sum
        // parallel-wave closure: each wave flags EVERY not-yet-saturated
        // domain against the SAME (num, den), then updates — the exact
        // iteration the oracle unrolls (the fixpoint is order-independent
        // because saturating a domain only raises the water level, but
        // wave-parallel keeps the two derivations step-identical too)
        while (changed) {
          val newly = ds.filter { case (d, c, w) =>
            !sat(d) && BigInt(c) * den <= num * BigInt(w) }
          changed = newly.nonEmpty
          newly.foreach { case (d, c, w) =>
            sat += d; num -= BigInt(c); den -= BigInt(w) }
        }
        val unsat = ds.filter(x => !sat(x._1))
        val base = unsat.map { case (d, c, w) =>
          (d, (num * BigInt(w) / den).toLong) }.toMap
        val rem = (num - base.values.map(BigInt(_)).sum).toLong
        // first `rem` unsaturated domains by name get the +1
        val bump = unsat.map(_._1).sorted.take(rem.toInt).toSet
        ds.map { case (d, c, w) =>
          if (sat(d)) (d, c, w, c, true)
          else (d, c, w, base(d) + (if (bump(d)) 1L else 0L), false)
        }
      }
    import spark.implicits._
    out.toSeq.toDF("domain", "avail", "weight_ppm", "alloc", "saturated")
  }

  /** Deterministic RATIO-INTERLEAVED feed order — the "how do I read a
    * mixed corpus in training order" primitive: each round of the feed
    * takes `k_s` sequences from source `s` (in the caller's source
    * order), sources draw their sequences in a seeded-hash order, and
    * the whole thing is sharded so every ordering window is
    * `(source, shard)`-partitioned — no global sort anywhere; trainers
    * sort their OWN shard by `feed_key`.
    *
    * Contract (bit-replayable): `h = lehmer(id + seed)`, `shard =
    * h mod nShards`, within `(source, shard)` the 0-based rank ρ is by
    * `(h, id)`; `round = ρ / k_s`, `slot = ρ mod k_s`, and
    * `feed_key = ((round·nSrc + src_ix)·nShards + shard)·kMax + slot`.
    * Sources absent from `ratios` are dropped (they are not in the
    * mix). A source that exhausts simply stops contributing rounds —
    * the standard behavior of ratio feeds.
    */
  def interleaveOrder(seqs: DataFrame, idCol: String, sourceCol: String,
      ratios: Seq[(String, Int)], nShards: Int = 8,
      seed: Long = 1L): DataFrame = {
    require(ratios.nonEmpty && ratios.forall(_._2 > 0),
      "ratios must be non-empty with positive per-round counts")
    require(ratios.map(_._1).distinct.length == ratios.length,
      "duplicate source in ratios")
    require(nShards > 0)
    val spark = seqs.sparkSession
    import spark.implicits._
    val nSrc = ratios.length.toLong
    val kMax = ratios.map(_._2).max.toLong
    val rdf = broadcast(ratios.zipWithIndex
      .map { case ((s, k), i) => (s, i.toLong, k.toLong) }
      .toDF("source", "src_ix", "k"))
    val bySrcShard = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("h"), col("id"))
    seqs.select(col(idCol).cast("long").as("id"),
        col(sourceCol).as("source"))
      .join(rdf, Seq("source"))
      .withColumn("h", lehmer(col("id") + lit(seed)))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
      .withColumn("rho", row_number().over(bySrcShard).cast("long") - 1L)
      .withColumn("round",
        ((col("rho") - pmod(col("rho"), col("k"))) / col("k"))
          .cast("long"))
      .withColumn("slot", pmod(col("rho"), col("k")).cast("int"))
      .select(col("id"), col("source"), col("shard"), col("round"),
        col("slot"),
        (((col("round") * lit(nSrc) + col("src_ix"))
          * lit(nShards.toLong) + col("shard")) * lit(kMax)
          + col("slot")).as("feed_key"))
  }

  /** Best-of-N rejection sampling, the winner-extraction half: per
    * prompt, the top-scored candidate with an id tie-break, plus the
    * candidate count. One map-side-combined aggregation — compose with
    * [[graft.operators.Curation.topQualityAtScale]] to keep only
    * winners whose reward clears a corpus-level percentile (the usual
    * RFT/rejection-sampling gate).
    */
  def bestOfN(cands: DataFrame, promptCol: String, idCol: String,
      scoreCol: String): DataFrame =
    cands.select(col(promptCol).as("prompt"), col(idCol).as("cand"),
        col(scoreCol).as("score"))
      .groupBy(col("prompt"))
      .agg(max(struct(col("score"), col("cand"))).as("__b"),
        count(lit(1)).cast("int").as("n_cands"))
      .select(col("prompt"), col("__b.cand").as("chosen_id"),
        col("__b.score").as("score"), col("n_cands"))

  /** Few-shot exemplar assembly for eval prompts: for each test item,
    * `k` exemplars drawn label-balanced from a (small, broadcast)
    * exemplar pool, seeded per test item so every item gets its own
    * deterministic draw and re-runs reproduce it.
    *
    * Contract: labels sorted ascending get quotas `k/L` (+1 for the
    * first `k mod L` labels); within `(test, label)` the pool is
    * ranked by `(lehmer(test_id·131 + ex_id·17 + seed), ex_id)` and
    * the first `quota` survive; an exemplar equal to the test item is
    * excluded BEFORE ranking (no self-leakage). The pool is required
    * ≤ `maxPool` rows (eval pools are curated and small — this is a
    * broadcast fan-out of |test|·|pool|, the standard eval-harness
    * shape, NOT a corpus×corpus join).
    *
    * Shortfall: a label whose pool has fewer rows than its quota
    * contributes ALL its rows — such test items get fewer than `k`
    * exemplars (deterministically, same draw every run). Pass
    * `requireFull = true` to refuse instead (each label's pool must
    * hold quota + 1 rows, the +1 covering the self-exclusion when a
    * test item's id appears in that label's pool).
    */
  def fewShot(test: DataFrame, testIdCol: String, pool: DataFrame,
      poolIdCol: String, labelCol: String, k: Int, seed: Long = 1L,
      maxPool: Int = 4096, requireFull: Boolean = false): DataFrame = {
    require(k > 0, s"k=$k must be > 0")
    val spark = test.sparkSession
    import spark.implicits._
    val p0 = pool.select(col(poolIdCol).cast("long").as("ex_id"),
      col(labelCol).cast("string").as("label"))
    val labels = p0.select(col("label")).distinct()
      .limit(maxPool + 1).collect().map(_.getString(0)).sorted
    require(labels.nonEmpty, "empty exemplar pool")
    require(labels.length <= maxPool, s"> $maxPool labels")
    val nPool = p0.limit(maxPool + 1).count()
    require(nPool <= maxPool,
      s"exemplar pool > $maxPool rows — sample it upstream; this is " +
        "a broadcast eval-prep operator, not a corpus join")
    val l = labels.length
    val quotas = labels.zipWithIndex.map { case (lab, i) =>
      (lab, (k / l + (if (i < k % l) 1 else 0)).toLong) }
    if (requireFull) {
      val byLabel = p0.groupBy(col("label")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      quotas.foreach { case (lab, q) =>
        require(byLabel.getOrElse(lab, 0L) >= q + 1,
          s"label '$lab' pool has ${byLabel.getOrElse(lab, 0L)} rows " +
            s"< quota $q + 1 (self-exclusion headroom) — every test " +
            "item is promised its full k exemplars under requireFull") }
    }
    val qdf = broadcast(quotas.toSeq.toDF("label", "quota"))
    val byTestLabel = Window.partitionBy(col("test_id"), col("label"))
      .orderBy(col("h"), col("ex_id"))
    test.select(col(testIdCol).cast("long").as("test_id"))
      .crossJoin(broadcast(p0.join(qdf, Seq("label"))))
      .filter(col("ex_id") =!= col("test_id"))
      .withColumn("h", lehmer(pmod(col("test_id") * lit(131L)
        + col("ex_id") * lit(17L) + lit(seed), lit(LehmerM))))
      .withColumn("ex_rank", row_number().over(byTestLabel).cast("int") - 1)
      .filter(col("ex_rank") < col("quota"))
      .select(col("test_id"), col("label"), col("ex_rank"), col("ex_id"))
  }
}
