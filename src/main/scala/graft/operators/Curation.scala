package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, deterministic
  * sampling, sequence packing, and PII redaction. All are declarative
  * DataFrame plans (codegen-friendly, no driver loops); each has a full
  * DuckDB oracle (q69–q72).
  */
object Curation {

  // ----------------------------------------------------------- decontam

  /** Benchmark decontamination: flag every document sharing at least one
    * word n-gram with the benchmark corpus (the standard "remove training
    * docs that leak eval data" pass; 13-grams in the original GPT-3
    * methodology — `n` is a parameter because test docs are short).
    *
    * Shape at 100 TB: benchmark n-grams are a SMALL relation (eval suites
    * are MBs) — distinct them and broadcast; the corpus side explodes to
    * n-grams map-side and inner-joins against the broadcast, so the only
    * wide thing is the corpus scan itself. `hits` is the distinct count
    * of leaked n-grams per doc (groupBy on doc_id after the broadcast
    * join — partial-aggregated map-side).
    *
    * Sub-n-token docs contribute their full text as one gram (exact-match
    * semantics for short docs, mirroring the shingle kernel); EMPTY grams
    * are dropped on both sides so two blank documents never "leak".
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val benchGrams = benchmark
      .select(explode(TextFns.wordShingles(col(benchTextCol), n)).as("gram"))
      .filter(col("gram") =!= "")
      .distinct()
    val docGrams = docs.select(col(idCol),
      explode(TextFns.wordShingles(col(textCol), n)).as("gram"))
      .filter(col("gram") =!= "")
    docGrams.join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol)).agg(count(lit(1)).as("hits"))
  }

  /** Corpus minus contaminated docs (the removal form). */
  def decontaminated(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    val bad = decontaminate(docs, idCol, textCol, benchmark, benchTextCol, n)
      .select(col(idCol))
    docs.join(bad, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------------- hash sampling

  /** Deterministic content-hash sampling: keep a row iff
    * `(key * KnuthMult) mod 2^31 < fraction * 2^31`.
    *
    * This is how reproducible pipeline sampling actually ships (not RNG
    * `sample()`): the decision is a pure function of the key, so re-runs,
    * retries and multi-stage pipelines agree without coordination, and
    * any engine (here: DuckDB) reproduces the exact row set. Map-side
    * only — no shuffle, no state.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction out of [0,1]")
    df.filter(sampleBucket(col(keyCol)) < (lit((fraction * (1L << 31)).toLong)))
  }

  /** The sampling bucket in [0, 2^31): Knuth multiplicative hash of the
    * key. The key is pre-reduced mod 2^31 so the product stays under
    * 2^62 — no ANSI-mode overflow, and DuckDB BIGINT arithmetic matches
    * bit-for-bit. `pmod` keeps NEGATIVE keys in-range too; an engine
    * reproducing this with sign-preserving `%` must write
    * `((key % 2^31 + 2^31) % 2^31) * 2654435761 % 2^31` (the oracle SQL
    * does) or negative keys select a different row set.
    */
  def sampleBucket(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(1L << 31)) * lit(2654435761L), lit(1L << 31))

  /** Stratified deterministic sampling: per-stratum fractions (the
    * `sampleBy` contract) with the same hash rule, so each stratum's
    * row set is exact and reproducible. Fractions arrive as a relation
    * (stratumCol, fraction) — broadcast-joined, not collected.
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
      fractions: DataFrame): DataFrame = {
    df.join(broadcast(fractions), Seq(stratumCol))
      .filter(sampleBucket(col(keyCol)) <
        (col("fraction") * (1L << 31)).cast("long"))
      .drop("fraction")
  }

  /** Token-budget corpus mixing: per source, take documents in the
    * DETERMINISTIC pseudo-random order given by [[sampleBucket]] until the
    * source's token budget fills (the "data mixture recipe" step — N
    * billion tokens of web, M of code — made reproducible: same corpus +
    * same budgets → same mixture, no RNG state). Budgets arrive as a
    * relation (sourceCol, budget) — broadcast. The last document may
    * overshoot the budget (kept iff its cumsum stays within; documents
    * are atomic).
    *
    * Shape at 100 TB: a source is typically HUGE (a handful of sources
    * split a whole corpus), so a per-source window would serialize each
    * source through one task. Instead: a two-level prefix sum. Shards are
    * CONTIGUOUS ranges of the ordering key ([[sampleBucket]] ∈ [0, 2^31)),
    * so cum(doc) = offset(shard) + cumsum-within-shard exactly. Per-shard
    * token totals come from a map-side partial agg (|sources|·shards rows
    * shuffle — nothing else moves), offsets from a window over that tiny
    * relation, broadcast back. The wide window partitions by
    * (source, shard): shards-fold parallelism, row-identical output.
    *
    * The two levels each plan the `tagged` subtree, so the input is
    * SCANNED TWICE (deliberate: a hidden .persist() inside a
    * lazy-DataFrame operator would leak cache with no unpersist point).
    * At scale, persist the (id, source, tokens) projection before calling
    * if the token counting itself is expensive.
    */
  def tokenBudgetMix(docs: DataFrame, idCol: String, tokenCol: String,
      sourceCol: String, budgets: DataFrame, shards: Int = 64): DataFrame = {
    require(shards >= 1, s"shards $shards must be >= 1")
    val step = (1L << 31) / shards // last shard absorbs the remainder
    // reserved names: a docs table carrying its own "budget" column must
    // not collide with the joined budgets relation
    val tagged = docs
      .join(broadcast(budgets.withColumnRenamed("budget", "__budget")),
        Seq(sourceCol))
      .withColumn("__bucket", sampleBucket(col(idCol)))
      .withColumn("__shard",
        least(floor(col("__bucket") / step), lit(shards - 1L)).cast("int"))
    val totals = tagged.groupBy(col(sourceCol), col("__shard"))
      .agg(sum(col(tokenCol).cast("long")).as("__tot"))
    val wOff = Window.partitionBy(col(sourceCol)).orderBy(col("__shard").asc)
    val offsets = totals
      .withColumn("__off", sum(col("__tot")).over(wOff) - col("__tot"))
      .select(col(sourceCol), col("__shard"), col("__off"))
    val wIntra = Window.partitionBy(col(sourceCol), col("__shard"))
      .orderBy(col("__bucket").asc, col(idCol).asc)
    tagged.join(broadcast(offsets), Seq(sourceCol, "__shard"))
      .withColumn("__cum",
        col("__off") + sum(col(tokenCol).cast("long")).over(wIntra))
      .filter(col("__cum") <= col("__budget"))
      .drop("__bucket", "__shard", "__off", "__cum", "__budget")
  }

  /** Temperature-scaled domain mixing — the data-mixture step of
    * multilingual/multi-source training (the `p_d ∝ n_d^τ` resampling of
    * mT5/XLM-R): a domain's share of the global token budget is its token
    * mass raised to temperature `tau`, normalized. τ=1 keeps natural
    * proportions; τ→0 flattens toward uniform, up-weighting small
    * domains. The per-domain budgets then feed [[tokenBudgetMix]]'s
    * sharded deterministic cut, so the whole mix is one keyed agg (per-
    * domain masses, |domains| rows), a driver-side budget table, and the
    * two-level prefix sum — nothing scans twice beyond tokenBudgetMix's
    * documented double scan.
    *
    * Reproducibility contract: τ=0.5 (the common "sqrt temperature")
    * routes through IEEE-exact `sqrt`, and the normalizer folds the
    * per-domain weights in source order — so an independent engine
    * reproduces every budget bit-for-bit (other τ go through `pow`,
    * which libms round within 1 ulp of each other; budgets may then
    * differ by one token at a floor cliff).
    */
  def temperatureMix(docs: DataFrame, idCol: String, tokenCol: String,
      sourceCol: String, totalBudget: Long, tau: Double,
      shards: Int = 64): DataFrame = {
    require(totalBudget > 0, s"totalBudget $totalBudget must be > 0")
    require(tau > 0, s"temperature $tau must be > 0 (τ→0 is uniform)")
    // the normalizer fold sorts by the STRING source key; a non-string
    // source would fold in toString order, which an independent engine's
    // ORDER BY need not reproduce
    require(docs.schema(sourceCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"temperatureMix requires a string source column: $sourceCol is " +
        docs.schema(sourceCol).dataType.simpleString)
    val weight: Column => Column =
      if (tau == 0.5) (c: Column) => sqrt(c)
      else (c: Column) => pow(c, lit(tau))
    val mass = docs.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol).cast("long")).as("__n"))
      .select(col(sourceCol), weight(col("__n").cast("double")).as("__w"))
    // |domains| rows by contract — the fold order (source-sorted, left to
    // right) is part of the reproducibility contract above. A null source
    // value must fail as a contract error here, not as an opaque NPE in
    // the sort below.
    val tot = mass.collect()
      .map { r =>
        require(!r.isNullAt(0), s"temperatureMix: null $sourceCol value — " +
          "every document must carry a non-null source domain (filter or " +
          "impute upstream)")
        (r.getString(0), r.getDouble(1))
      }.sortBy(_._1)
      .foldLeft(0.0)((acc, sw) => acc + sw._2)
    // an all-empty corpus would make every budget 0/0 = NaN downstream
    require(tot > 0.0,
      "temperatureMix: total token mass is zero — nothing to mix")
    val budgets = mass.select(col(sourceCol),
      floor(lit(totalBudget.toDouble) * col("__w") / lit(tot))
        .cast("long").as("budget"))
    tokenBudgetMix(docs, idCol, tokenCol, sourceCol, budgets, shards)
  }

  // --------------------------------------------------- sequence packing

  /** Sequence packing: assign documents to fixed-budget context windows
    * (bins) for training, streaming in a deterministic order. The
    * distributed form is cumulative-sum packing BY START OFFSET: within
    * each shard, bin = floor((cumsum(tokens) − tokens) / budget) — one
    * window pass, no driver loop. A doc goes to the bin its START
    * offset falls in, so a doc straddling a boundary stays in the
    * EARLIER bin: a bin's clamped-token total can exceed `budget` by up
    * to one doc (strictly < 2·budget; packingStats fill_ratio can read
    * up to 2 − 1/budget), and no bin boundary ever wastes tokens —
    * occupancy by start offsets is exactly 100%. Over-long docs are
    * CLAMPED to `budget` for assignment (they land in whichever bin
    * their start offset hits, possibly shared — truncation policy
    * belongs upstream).
    *
    * Shards partition the window so no single task sees the whole
    * corpus; bin ids are (shard, bin_in_shard).
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
      budget: Int, shardCol: String): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
    val clamped = least(col(tokenCol).cast("long"), lit(budget.toLong))
    docs
      .withColumn("bin", ((sum(clamped).over(w) - clamped) / budget).cast("long"))
  }

  /** Token-balanced output SHARD assignment — the "write the training
    * shards" step (Dolma/Megatron-style pipelines emit fixed-count
    * shard files and want the token mass even so downstream loader
    * throughput is uniform): rank every doc by (tokens desc, id asc)
    * and assign shard = (rank − 1) mod nShards. Round-robin over the
    * size-ranked stream is the deterministic LPT-flavored
    * approximation: shard k takes the k-th largest of every successive
    * block of nShards docs, so for any two shards the token-total gap
    * telescopes to ≤ the LARGEST SINGLE DOC's (clamped) tokens — a
    * provable bound, spec-asserted, with no driver-side greedy loop.
    * Ties resolved by id: bit-reproducible across engines and
    * partitionings. Output = input columns + (rank, shard).
    *
    * Scale shape — [[ccnetBuckets]]'s rank discipline, not a global
    * sort: per-token-value counts (lattice-sized — token counts are
    * bounded integers by nature), a TWO-LEVEL distributed prefix sum
    * over the lattice (within-bucket cumulative windows partitioned by
    * a 1024-wide value bucket + driver-computed bucket offsets over
    * the require-bounded bucket relation, broadcast back — no
    * partitionless WindowExec anywhere), one token-value-keyed join +
    * row_number over the token-value partition (residual ties only).
    */
  def tokenBalancedShards(docs: DataFrame, idCol: String,
      tokenCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards $nShards must be >= 1")
    val spark = docs.sparkSession
    val counts = docs.groupBy(col(tokenCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__b", floor(col(tokenCol) / lit(1024.0)).cast("long"))
    // level 1: bucket totals — lattice/1024 rows, loud-bounded collect
    val totals = counts.groupBy(col("__b")).agg(sum(col("__c")).as("__t"))
      .limit((1 << 20) + 1).collect()
    require(totals.length <= (1 << 20),
      s"token-value lattice spans > ${1 << 20} buckets — not a lattice; " +
        "clamp token counts upstream")
    // exclusive DESC prefix: offset(b) = Σ totals of buckets above b
    val sortedDesc = totals.map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val offsets = sortedDesc.scanLeft((Long.MaxValue, 0L)) {
      case ((_, acc), (b, t)) => (b, acc + t)
    }.drop(1).map { case (b, cumIncl) => (b, cumIncl) }
    val offByBucket = offsets.zip(sortedDesc).map {
      case ((b, cumIncl), (_, t)) => (b, cumIncl - t) }
    import spark.implicits._
    val offDf = broadcast(offByBucket.toSeq.toDF("__b", "__off"))
    // level 2: within-bucket cumulative window — bucket-partitioned
    val wIn = Window.partitionBy(col("__b")).orderBy(col(tokenCol).desc)
    val cum = counts.join(offDf, Seq("__b"))
      .withColumn("__below", col("__off") + coalesce(
        sum(col("__c")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(tokenCol), col("__below"))
    val wTie = Window.partitionBy(col(tokenCol)).orderBy(col(idCol).asc)
    docs.join(cum, Seq(tokenCol))
      .withColumn("rank",
        (col("__below") + row_number().over(wTie)).cast("long"))
      .withColumn("shard", ((col("rank") - 1) % nShards).cast("long"))
      .drop("__below")
  }

  /** Overlapping token-window chunking (RAG indexing / long-context
    * splitting): document i yields ceil((n−window)/stride)+1 chunks of up
    * to `window` tokens starting every `stride` tokens — the last chunk
    * keeps the tail, short docs yield exactly one chunk. Map-side only
    * (tokenize → per-row sequence explode); the output is chunk METADATA
    * (counts + boundary tokens) — join back on (idCol, chunk_idx·stride)
    * to materialize text when needed.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), TextFns.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nc", when(col("__n") <= window, lit(1))
        .otherwise(ceil((col("__n") - window) / lit(stride.toDouble)).cast("int") + 1))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"))
      .withColumn("n_tokens",
        least(lit(window), col("__n") - col("chunk_idx") * stride).cast("long"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_tokens"),
        element_at(col("__toks"), col("chunk_idx").cast("int") * stride + 1).as("head"),
        element_at(col("__toks"),
          (col("chunk_idx") * stride + col("n_tokens")).cast("int")).as("tail"))
  }

  /** Per-bin packing stats (occupancy audit): docs per bin, token fill,
    * fill ratio against the budget. Fill counts CLAMPED tokens; under
    * [[packSequences]]'s start-offset assignment a straddling doc keeps
    * its full clamped length in the earlier bin, so fill_ratio ranges
    * up to 2 − 1/budget (exactly 1.0 on perfectly aligned streams).
    */
  def packingStats(packed: DataFrame, tokenCol: String, budget: Int,
      shardCol: String): DataFrame =
    packed.groupBy(col(shardCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col(tokenCol).cast("long"), lit(budget.toLong))).as("fill"))
      .withColumn("fill_ratio", round(col("fill") / budget.toDouble, 6))

  // ----------------------------------------------------------- ranking

  /** BM25 relevance of every document to a literal query term set
    * (Robertson/Sparck-Jones; the standard retrieval scorer a curation
    * pipeline uses to rank corpus slices against a probe query).
    *
    * Shape at 100 TB: the corpus-wide stats (N, avgdl) are a 1-row agg
    * cross-joined back (broadcast by AQE); document frequencies exist only
    * for the |query| terms (tiny, broadcast). The token explode filters to
    * query terms BEFORE any shuffle, so the wide side moves |matches|
    * rows, not |tokens|. Only docs matching ≥ 1 term appear.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Tokenized(tokenized(docs, idCol, textCol), idCol, queryTerms, k1, b)

  /** Lowercased whitespace tokens per doc — the shared input relation of
    * [[bm25Tokenized]] and [[unigramSurprisalTokenized]]. Both scorers
    * consume their input TWICE (a stats/counts aggregation plus the final
    * join) — deliberate: no hidden persist, same contract as
    * `tokenBudgetMix`. At 100 TB the caller should tokenize once,
    * `.persist()` (or write to parquet) and pass the relation to the
    * *Tokenized overloads: however many scorers run, the corpus text is
    * then scanned a single time (`CurationPlanSpec` asserts the plan).
    */
  def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), TextFns.tokens(lower(col(textCol))).as("__toks"))

  /** [[bm25]] over a pre-tokenized relation `(idCol, __toks)` (see
    * [[tokenized]]).
    */
  def bm25Tokenized(toks: DataFrame, idCol: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = toks.withColumn("__dl", size(col("__toks")))
    val stats = base.agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl"))
    val hits = base
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = hits.groupBy(col("__term"))
      .agg(countDistinct(col(idCol)).as("__df"))
    hits.join(broadcast(dfreq), "__term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s", col("__idf") * col("__tf") * lit(k1 + 1) /
        (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .groupBy(col(idCol))
      .agg(sum(col("__s")).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** Pseudo-relevance feedback query expansion (Rocchio's idea in its
    * modern PRF form): run [[bm25]] for the probe terms, take the top
    * `fbK` documents as the feedback set (ranked by the ROUNDED 6-dp
    * score with the id as tie-break — raw-double rank order is not
    * reproducible across engines), and return the `nExpand` strongest
    * expansion candidates among the feedback set's tokens — ranked by
    * feedback document frequency, then total term frequency, then the
    * term itself (all-integer ranking, fully deterministic). Original
    * query terms are excluded. Output: `(term, fb_df, fb_tf)`.
    *
    * Scale shape: the corpus-wide BM25 pass is [[bm25]]'s (matches
    * move, not tokens); the global top-fbK is a TakeOrdered (per-
    * partition top-k, no full sort, no partitionless window); the
    * term-statistics pass explodes ONLY the fbK feedback documents
    * (semi-join first, so the corpus is never re-exploded).
    */
  def prfExpand(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], fbK: Int = 10, nExpand: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbK >= 1 && fbK <= 10000, s"fbK=$fbK out of range")
    require(nExpand >= 1 && nExpand <= 10000, s"nExpand=$nExpand")
    val scored = bm25(docs, idCol, textCol, queryTerms, k1, b)
      .select(col(idCol), round(col("bm25"), 6).as("__r"))
      .orderBy(col("__r").desc, col(idCol))
      .limit(fbK)
      .select(col(idCol))
    val fbToks = tokenized(docs, idCol, textCol)
      .join(scored, Seq(idCol), "left_semi")
      .select(explode(col("__toks")).as("term"), col(idCol))
      .filter(!col("term").isin(queryTerms: _*) && col("term") =!= "")
    fbToks.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("fb_df"),
        count(lit(1)).as("fb_tf"))
      .orderBy(col("fb_df").desc, col("fb_tf").desc, col("term"))
      .limit(nExpand)
  }

  /** Best-snippet extraction: for every document matching ≥ 1 query
    * term, the `window`-token span with the MOST query-term hits
    * (earliest span on ties — deterministic), its hit count, and the
    * span text — the search-result highlighting pass that runs after
    * [[bm25]] ranking. Tokens are lowercased like [[tokenized]], so
    * the same probe query matches both stages.
    *
    * Row-local: one O(n) sliding-hit pass per document inside a Scala
    * UDF (a Catalyst HOF over all starts×window pays O(n·w)
    * interpreted array copies — the q253 lesson); no join, no
    * shuffle, misses filtered before the output.
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], window: Int = 8): DataFrame = {
    require(window >= 1 && window <= 4096, s"window=$window")
    require(queryTerms.nonEmpty, "empty query")
    val terms = queryTerms.map(_.toLowerCase).toSet
    val bestUdf = udf { (ws: Seq[String]) =>
      val n = ws.length
      if (n == 0) (0, 0)
      else {
        val hit = ws.map(t => if (terms.contains(t)) 1 else 0)
        val w = math.min(window, n)
        var cur = hit.slice(0, w).sum
        var best = cur; var bestStart = 0
        var p = 1
        while (p + w <= n) {
          cur += hit(p + w - 1) - hit(p - 1)
          if (cur > best) { best = cur; bestStart = p }
          p += 1
        }
        (bestStart + 1, best) // 1-based start
      }
    }
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    docs.select(col(idCol), ws.as("__ws"))
      .withColumn("__b", bestUdf(col("__ws")))
      .filter(col("__b._2") > 0)
      .select(col(idCol), col("__b._1").as("start"),
        col("__b._2").as("n_hits"),
        array_join(slice(col("__ws"), col("__b._1"), lit(window)), " ")
          .as("snippet"))
  }

  /** Gazetteer entity tagging: every document × every dictionary
    * phrase, exact token-sequence matches reported with count and
    * first position — the dictionary-driven NER pass (product names,
    * site lists, benchmark titles) a curation pipeline runs where a
    * model tagger is overkill. Overlapping occurrences all report;
    * null, empty, and whitespace-only phrases match nowhere. BOTH
    * sides tokenize on `\s+` (documents and phrases identically — a
    * doc-side single-space split would glue tab/newline-separated
    * words into untaggable pseudo-tokens like `"New\nYork"`, so an
    * exactly-occurring phrase could silently fail to match on real
    * crawl text); positions are 1-based indices into the doc's `\s+`
    * token stream. Matching is case-SENSITIVE by default (gazetteers
    * carry canonical casing); pass `caseFold = true` to lowercase
    * both sides, the [[snippets]] convention. (For a single
    * COLUMN-driven phrase probe without a dictionary, see
    * [[graft.functions.TextFns.phrasePositions]] — this operator uses
    * its own in-scan matcher instead, see below.)
    *
    * Scale shape: the gazetteer is REQUIRED ≤ `maxGaz` rows, collected
    * once, and shipped in the matcher's closure (dictionaries are
    * bounded by construction — the fewShot/decontaminate contract).
    * Each document is then scanned exactly ONCE by a first-token-
    * bucketed dictionary matcher — O(tokens + matches) per row, no
    * corpus×gaz join of any kind. (The first cut was a broadcast
    * cross with per-pair positional probes: 125 s at sf0.1; an
    * `instr` prefilter took it to 10.7 s but still copied every text
    * |gaz| times through the BNLJ; the single-scan matcher removes
    * the fan-out entirely.) Only (doc, entity) HITS leave the row —
    * the per-doc aggregation happens inside the scan, so there is no
    * groupBy shuffle either.
    */
  def gazetteerTag(docs: DataFrame, idCol: String, textCol: String,
      gaz: DataFrame, entityCol: String, phraseCol: String,
      maxGaz: Int = 65536, caseFold: Boolean = false): DataFrame = {
    def folded(c: Column): Column = if (caseFold) lower(c) else c
    val g = gaz.select(col(entityCol).cast("string").as("entity"),
      split(trim(folded(col(phraseCol))), "\\s+").as("__ph"))
    val rows = g.limit(maxGaz + 1).collect()
    require(rows.length >= 1 && rows.length <= maxGaz,
      s"gazetteer has >= ${rows.length} rows — need 1..$maxGaz (it " +
        "ships in the matcher closure; shard corpus-scale dictionaries)")
    val entries: Array[(String, Array[String])] = rows.map(r =>
      (r.getString(0),
        if (r.isNullAt(1)) Array.empty[String]
        else r.getSeq[String](1).toArray))
      // null / empty / whitespace-only phrases match nowhere: a
      // whitespace-only phrase splits to [""], which would otherwise
      // bucket under the "" token and hit consecutive-space docs
      .filter(e => e._2.nonEmpty && e._2.forall(_.nonEmpty))
    // first-token buckets: the scan probes only phrases that can
    // start at the current position
    val byFirst: Map[String, Array[Int]] = entries.zipWithIndex
      .groupBy(_._1._2(0)).map { case (t, es) => t -> es.map(_._2) }
    val scanUdf = udf { (ws: Seq[String]) =>
      val agg = scala.collection.mutable.LinkedHashMap
        .empty[Int, (Int, Int)] // entryIx -> (count, firstPos)
      var p = 0
      while (p < ws.length) {
        byFirst.get(ws(p)).foreach { cands =>
          var c = 0
          while (c < cands.length) {
            val ph = entries(cands(c))._2
            if (p + ph.length <= ws.length) {
              var i = 1
              while (i < ph.length && ws(p + i) == ph(i)) i += 1
              if (i == ph.length) {
                val prev = agg.getOrElse(cands(c), (0, p + 1))
                agg(cands(c)) = (prev._1 + 1, prev._2)
              }
            }
            c += 1
          }
        }
        p += 1
      }
      agg.toSeq.map { case (ix, (n, first)) =>
        (entries(ix)._1, n, first) }
    }
    // same \s+ tokenizer as the phrase side and as [[snippets]] — a
    // single-space split would make tab/newline-separated docs
    // untaggable (tokens like "New\nYork" match no phrase)
    val ws = split(trim(folded(col(textCol))), "\\s+")
    docs.select(col(idCol), explode(scanUdf(ws)).as("__h"))
      .select(col(idCol), col("__h._1").as("entity"),
        col("__h._2").as("n_matches"), col("__h._3").as("first_pos"))
  }

  /** Semantic (embedding-space) benchmark decontamination: flag every
    * corpus vector whose cosine against ANY benchmark vector reaches
    * `threshold` — the contamination n-gram matching misses (paraphrased
    * eval items). Same 100 TB shape as [[decontaminate]]: the benchmark
    * side is eval-suite-sized and BROADCAST; each corpus row scores
    * |bench| codegen cosines map-side, and only the per-doc hit agg
    * shuffles. (For benchmark sets too big to broadcast, bucket both
    * sides with `Dedup.embeddingNearDup`'s RP-LSH instead.)
    * A vector with a null element is refused: the native cosine kernel
    * fails the job with `IllegalArgumentException` rather than read the slot
    * as a number.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchVecCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorFns
    val b = broadcast(bench.filter(col(benchVecCol).isNotNull)
      .select(col(benchVecCol).cast("array<double>").as("__bv")))
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .crossJoin(b)
      .select(col(idCol), VectorFns.cosine(col("__cv"), col("__bv")).as("__cos"))
      .filter(col("__cos") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("__cos")).as("max_cos"))
  }

  /** Mean unigram surprisal per document under the corpus' OWN unigram
    * distribution: −mean over tokens of ln(C(term)/T). The classic cheap
    * "how typical is this text" quality score (outlier docs — wrong
    * language, boilerplate soup, codified noise — score high without any
    * shipped model).
    *
    * Shape at 100 TB: term counts are the Zipf-compact derived relation
    * (vocabulary, not corpus, sized) — broadcast back against the token
    * stream, so the only corpus-wide shuffles are the count aggregation
    * and the final per-doc mean, both map-side partial-aggregated.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramSurprisalTokenized(
      docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
        .select(col(idCol), TextFns.tokens(lower(col(textCol))).as("__toks")),
      idCol)

  /** [[unigramSurprisal]] over a pre-tokenized relation `(idCol, __toks)`
    * (see [[tokenized]]; zero-token docs drop out of the result either
    * way, so the relation from `tokenized` is directly usable).
    */
  def unigramSurprisalTokenized(toksRel: DataFrame, idCol: String): DataFrame = {
    val toks = toksRel.select(col(idCol), explode(col("__toks")).as("__term"))
    val counts = toks.groupBy(col("__term")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).cast("double").as("__t"))
    toks.join(broadcast(counts), "__term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(avg(-log(col("__c") / col("__t"))).as("surprisal"),
        count(lit(1)).as("n_tokens"))
  }

  /** Interpolated bigram surprisal — the LM-quality score one step up
    * from [[unigramSurprisal]]: per doc, the mean over token positions of
    * −ln(λ·P(wᵢ|wᵢ₋₁) + (1−λ)·P(wᵢ)), the first position scored by its
    * unigram alone; P(w₂|w₁) = c(w₁w₂)/c(w₁) from corpus counts. Unigram
    * counts are vocab-sized and BROADCAST (as in unigramSurprisal); the
    * bigram-count relation is corpus-sized, so bigram INSTANCES join it
    * on a KEYED shuffle — never broadcast. Zero-token docs drop out.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame =
    bigramSurprisalTokenized(tokenized(docs, idCol, textCol), idCol, lambda)

  /** [[bigramSurprisal]] over a pre-tokenized relation (see [[tokenized]]). */
  def bigramSurprisalTokenized(toksRel: DataFrame, idCol: String,
      lambda: Double = 0.7): DataFrame = {
    val base = toksRel.filter(size(col("__toks")) >= 1)
    val uni = base.select(explode(col("__toks")).as("__term"))
      .groupBy(col("__term")).agg(count(lit(1)).as("__cu"))
    val tot = uni.agg(sum(col("__cu")).cast("double").as("__t"))
    // bigram instances (duplicates kept: one row per position i ≥ 2)
    val inst = base.filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2))")).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val bc = inst.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__cb"))
    val iterm = inst
      .join(bc, Seq("__w1", "__w2")) // corpus-sized: keyed shuffle join
      .join(broadcast(uni.select(col("__term").as("__w1"), col("__cu").as("__cu1"))), Seq("__w1"))
      .join(broadcast(uni.select(col("__term").as("__w2"), col("__cu").as("__cu2"))), Seq("__w2"))
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        (-log(lit(lambda) * col("__cb") / col("__cu1") +
          lit(1.0 - lambda) * col("__cu2") / col("__t"))).as("__s"))
      .groupBy(col(idCol)).agg(sum(col("__s")).as("__bsum"))
    base.select(col(idCol), col("__toks")(0).as("__term"),
        size(col("__toks")).cast("long").as("n_tokens"))
      .join(broadcast(uni), "__term")
      .crossJoin(broadcast(tot))
      .join(iterm, Seq(idCol), "left")
      .select(col(idCol),
        ((-log(col("__cu") / col("__t")) + coalesce(col("__bsum"), lit(0.0))) /
          col("n_tokens")).as("surprisal"),
        col("n_tokens"))
  }

  /** Multinomial Naive Bayes document classifier — the quality/language
    * filter shape of CCNet-style curation (fastText's job there), as one
    * trainable+servable relational pipeline with no model binary: train
    * on a labeled corpus, score every test document against every label,
    * keep the argmax. Laplace add-one smoothing over the TRAIN vocabulary;
    * unseen tokens fall back to the same smoothed floor 1/(nToks_c + V).
    *
    * Shape at 100 TB: token-keyed shuffle for the count table, a
    * broadcast label dimension (|labels| rows by contract — validated
    * driver-side), the scoring join keyed on the token (occurrences ×
    * |labels| rows — labels are single digits in practice), one map-side
    * partial-aggregated per-(doc,label) sum, and the argmax via
    * [[Ops.topKPerGroup]]. No iteration, no driver-held vocabulary.
    *
    * Reproducibility: per-(doc,label) log-prob sums round to 6 dp BEFORE
    * the argmax and ties break label-ascending, so an independent engine
    * reproduces predictions despite float summation order.
    *
    * Returns (idCol, pred, score): argmax label and its rounded score.
    * Test docs with empty/no tokens score on priors alone.
    */
  def nbClassify(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, labelCol: String, maxLabels: Int = 1024): DataFrame = {
    val tr = train
      .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("__lbl"),
        TextFns.tokens(lower(col(textCol))).as("__w"))
    // label dimension: (label, docs, tokens) — tiny by contract
    val lstats = tr.groupBy(col("__lbl"))
      .agg(count(lit(1)).as("__docs"),
        sum(size(col("__w")).cast("long")).as("__ntok"))
    val labels = lstats.limit(maxLabels + 1).collect()
    require(labels.nonEmpty, "nbClassify: empty training corpus")
    require(labels.length <= maxLabels,
      s"nbClassify: more than $maxLabels distinct labels — the label " +
        "dimension is broadcast by contract; raise maxLabels only if " +
        "it genuinely fits the driver")
    val totalDocs = labels.map(_.getLong(1)).sum.toDouble
    val trTok = tr.select(col("__lbl"), explode(col("__w")).as("__tok"))
    val vocab = trTok.select(col("__tok")).distinct().count().toDouble
    val counts = trTok.groupBy(col("__lbl"), col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    val ldim = lstats.select(col("__lbl"),
      log(col("__docs") / lit(totalDocs)).as("__prior"),
      (col("__ntok") + lit(vocab)).cast("double").as("__den"))
    // per-token-occurrence × per-label smoothed log-likelihoods
    val occ = test.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextFns.tokens(lower(col(textCol))))
        .as("__tok"))
      .crossJoin(broadcast(ldim.select(col("__lbl"), col("__den"))))
      .join(counts, Seq("__lbl", "__tok"), "left")
      .select(col(idCol), col("__lbl"),
        log((coalesce(col("__cnt"), lit(0L)) + lit(1.0)) / col("__den"))
          .as("__lp"))
      .groupBy(col(idCol), col("__lbl"))
      .agg(sum(col("__lp")).as("__sum"))
    val scored = test.select(col(idCol))
      .crossJoin(broadcast(ldim.select(col("__lbl"), col("__prior"))))
      .join(occ, Seq(idCol, "__lbl"), "left")
      .select(col(idCol), col("__lbl"),
        round(col("__prior") + coalesce(col("__sum"), lit(0.0)), 6)
          .as("score"))
    Ops.topKPerGroup(scored, Seq(idCol),
        Seq(col("score").desc, col("__lbl").asc), 1)
      .select(col(idCol), col("__lbl").as("pred"), col("score"))
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006): key_i = u_i^(1/w_i) with u_i derived from the same
    * SQL-reproducible Knuth multiplicative hash as the IVF centroid
    * choice — the top-k keys ARE a weighted sample, reproducible
    * run-to-run and engine-to-engine (no RNG state). The heavy-weight
    * rows win proportionally more often; w <= 0 rows are excluded (their
    * limit key is 0). One map-side key computation + one
    * TakeOrderedAndProject — no shuffle, no sort of the full corpus.
    * Keys round to 9 dp before ranking (id tie-break) so an independent
    * engine's libm reproduces the order bit-for-bit.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"sample size $k must be >= 1")
    val u = (pmod(pmod(col(idCol).cast("long"), lit(2147483648L)) *
      2654435761L, lit(4294967296L)) + lit(1.0)) / 4294967297.0
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__esk",
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9))
      .orderBy(col("__esk").desc, col(idCol).asc)
      .limit(k)
      .drop("__esk")
  }

  // ------------------------------------------------------------- DSIR

  /** All hashed n-gram feature buckets of a token array: unigrams plus
    * word bigrams (space-joined, the shingle convention), each hashed
    * with the SQL-reproducible polynomial hash mod `nBuckets`. One JVM
    * pass per doc (UDF for the same reason as the minhash kernel: nested
    * higher-order functions re-evaluate subtrees per element).
    */
  private def featureBucketsUdf(nBuckets: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) Array.empty[Long]
    else {
      val uni = toks.map(t => TextFns.polyHash(t) % nBuckets)
      val bi =
        if (toks.length < 2) Seq.empty[Long]
        else toks.sliding(2).map(p =>
          TextFns.polyHash(p.mkString(" ")) % nBuckets).toSeq
      (uni ++ bi).toArray
    }
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every RAW
    * document by how much more likely its hashed n-gram features are
    * under the TARGET corpus' feature distribution than under the raw
    * corpus' own —
    *   w(doc) = Σ_b c_b(doc) · [ln p̂_target(b) − ln p̂_raw(b)]
    * with unigram+bigram features hashed into `nBuckets` buckets
    * ([[featureBucketsUdf]]) and add-`alpha` smoothing on both sides so
    * unseen buckets contribute finite evidence.
    *
    * Shape at 100 TB: two bucket-count aggregations (map-side combined,
    * each ≤ nBuckets output rows), a ≤ nBuckets-row log-ratio relation
    * BROADCAST back onto the per-doc bucket counts, one per-doc sum.
    * The only corpus-wide shuffles are the count aggs and the final
    * per-doc sum; nBuckets is driver-bounded by contract (the ratio
    * relation is broadcast). No all-pairs anything.
    *
    * NULL/blank-text docs are dropped (no features — same contract as
    * the surprisal scorers). Returns (idCol, weight, n_features), weight
    * unrounded (round at the comparison edge).
    *
    * Operating-point note (measured in CorpusPipelineSpec): when the
    * TARGET corpus is small relative to alpha·nBuckets, the smoothing
    * mass dominates p̂_target, every bucket's log-ratio goes negative,
    * and weights rank mostly by doc LENGTH, not content. For
    * reference-set-sized targets drop `alpha` (0.01 restores ~ln 100
    * present-vs-absent discrimination) or shrink `nBuckets`.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 1024, alpha: Double = 1.0): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"dsirWeights nBuckets $nBuckets must be in [2, 2^20] — the " +
        "log-ratio relation is broadcast by contract")
    require(alpha > 0.0, s"dsirWeights alpha $alpha must be > 0")
    val fb = featureBucketsUdf(nBuckets)
    def feats(df: DataFrame) = df
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(fb(TextFns.tokens(lower(col(textCol))))).as("__b"))
    val rawInst = feats(raw)
    val tgtCnt = feats(target).groupBy(col("__b"))
      .agg(count(lit(1)).as("__ct"))
    val rawCnt = rawInst.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    // totals: one row each off already-aggregated ≤ nBuckets-row inputs
    val tTot = tgtCnt.agg(coalesce(sum(col("__ct")), lit(0L))).collect()(0)
      .getLong(0).toDouble
    val rTot = rawCnt.agg(coalesce(sum(col("__cr")), lit(0L))).collect()(0)
      .getLong(0).toDouble
    require(tTot > 0, "dsirWeights: target corpus has no features")
    require(rTot > 0, "dsirWeights: raw corpus has no features")
    val lr = tgtCnt.join(rawCnt, Seq("__b"), "full_outer")
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + alpha) /
            lit(tTot + alpha * nBuckets)) -
          log((coalesce(col("__cr"), lit(0L)) + alpha) /
            lit(rTot + alpha * nBuckets))).as("__lr"))
    rawInst.groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
      .join(broadcast(lr), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c").cast("double") * col("__lr")).as("weight"),
        sum(col("__c")).as("n_features"))
  }

  /** DSIR selection: Gumbel-top-k over [[dsirWeights]] — a deterministic
    * without-replacement sample of `k` raw docs with inclusion odds
    * ∝ exp(weight) (the paper's importance resampling step). The Gumbel
    * noise is derived from the engine-wide Knuth multiplicative hash of
    * the id (no RNG state; exactly re-runnable, engine-reproducible),
    * and keys round to 6 dp before ranking with an id tie-break — the
    * cross-engine ranking contract. One TakeOrderedAndProject on top of
    * the weight relation; no additional shuffle.
    */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, nBuckets: Int = 1024,
      alpha: Double = 1.0): DataFrame = {
    require(k >= 1, s"sample size $k must be >= 1")
    val u = (pmod(pmod(col(idCol).cast("long"), lit(2147483648L)) *
      2654435761L, lit(4294967296L)) + lit(1.0)) / 4294967297.0
    dsirWeights(raw, target, idCol, textCol, nBuckets, alpha)
      .withColumn("__g", round(col("weight") - log(-log(u)), 6))
      .orderBy(col("__g").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("__g").as("gumbel_key"),
        round(col("weight"), 6).as("weight"), col("n_features"))
  }

  /** Keep each group's top quality band: rows whose percent_rank by
    * (score, id) within their group reaches `minPercentile` — "the best
    * X% of every source", the per-source curation cut that a global
    * threshold gets wrong when sources differ in quality profile.
    * Rank-based, so it needs no score calibration across groups;
    * deterministic because ties break on the id. One partitioned window
    * (sort per group, no global sort), SQL-reproducible as a QUALIFY
    * percent_rank.
    */
  /** Distinctive vocabulary per group (per-source data-card "what makes
    * this source different"): terms whose within-group frequency beats
    * their corpus-wide frequency by ≥ liftNum/liftDen — TF-IDF's
    * intuition as an exact integer cross-multiplication — ranked top-K
    * per group by (lift_ppm DESC, term ASC), both integer/lexicographic
    * so the ranking reproduces across engines.
    *
    * One corpus scan: the global term counts fold out of the per-group
    * table (groupBy term of the (group, term) counts), so only
    * vocabulary-sized relations join and the per-group ranking window
    * sorts at most one vocabulary per task. Overflow bound (ANSI throws
    * if crossed): c_in · N · 10^6 < 2^63 — fine to ~10^8-token corpora
    * per exact run; beyond, downscale counts by a common factor.
    */
  def distinctiveTermsPerGroup(docs: DataFrame, textCol: String,
      groupCol: String, minCount: Long = 5L, liftNum: Long = 2L,
      liftDen: Long = 1L, topK: Int = 5): DataFrame = {
    require(minCount >= 1 && liftNum > 0 && liftDen > 0 && topK >= 1,
      "minCount, lift ratio, and topK must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(TextFns.tokens(lower(col(textCol)))).as("term"))
    val byGrp = toks.groupBy("grp", "term").agg(count(lit(1)).as("c_in"))
      .localCheckpoint() // reused three times below; scan the corpus once
    val global = byGrp.groupBy("term").agg(sum("c_in").as("c_all"))
    val grpTotals = byGrp.groupBy("grp").agg(sum("c_in").as("n_grp"))
    val n = grpTotals.agg(coalesce(sum(col("n_grp")), lit(0L)))
      .head().getLong(0)
    val scored = byGrp.filter(col("c_in") >= minCount)
      .join(global, "term").join(grpTotals, "grp")
      .filter(lit(liftDen) * col("c_in") * lit(n) >=
        lit(liftNum) * col("c_all") * col("n_grp"))
      .withColumn("lift_ppm",
        expr(s"(1000000 * c_in * ${n}L) div (c_all * n_grp)"))
    Ops.topKPerGroup(scored, Seq("grp"),
        Seq(col("lift_ppm").desc, col("term").asc), topK)
      .select(col("grp").as(groupCol), col("term"), col("c_in"),
        col("c_all"), col("n_grp"), col("lift_ppm"))
  }

  def topQualityPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, minPercentile: Double): DataFrame = {
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile $minPercentile out of [0, 1]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") >= minPercentile)
      .drop("__pr")
  }

  /** [[topQualityPerGroup]] in the shape that survives a DOMINANT source
    * at corpus scale — bit-identical output (the same percent_rank ≥ p
    * set), but no per-group sort of the raw rows anywhere in the plan:
    *
    *  1. score-frequency relation: one map-side-combined
    *     `groupBy(group, score).count` — the ONLY pass that shuffles
    *     anything proportional to the corpus, and it shuffles at most
    *     |groups| · |score lattice| counting rows (the quality score is
    *     a 6-dp lattice by construction, so ≤ 1e6 rows per group no
    *     matter how many documents the group holds);
    *  2. per-group threshold: a cumulative window over that AGGREGATE
    *     relation finds the boundary rank r0 = ⌈1 + p·(n−1)⌉ (the
    *     percent_rank ≥ p cut with unique ids), the score s* whose
    *     cumulative range contains it, and how many of the ties at s*
    *     survive — |groups| rows out, broadcast back;
    *  3. map-side filter `score > s*` keeps the clear winners with no
    *     shuffle; ties at `score == s*` (one lattice point per group)
    *     are resolved by id rank over ONLY the tie rows.
    *
    * The tie window is the residual sort: it touches the rows of a
    * single score value per group — lattice collisions, not the group.
    * CONTRACT: `scoreCol` must be lattice-valued (rounded/discrete); a
    * continuous score makes stage 1's aggregate corpus-sized — round
    * it, or run [[graft.operators.Ops.histogramQuantiles]] first. It
    * must also be NON-NULL: the window form ranks nulls first, but here
    * a null threshold score would null out the broadcast comparisons
    * and silently drop the boundary — filter or impute nulls upstream
    * (the q147 quality score is non-null by construction).
    * percent_rank edge semantics match exactly: a 1-row group has
    * percent_rank 0 (kept only when p ≤ 0), and p = 1 keeps exactly
    * the (score, id)-maximal row.
    */
  def topQualityPerGroupAtScale(df: DataFrame, groupCol: String,
      scoreCol: String, idCol: String, minPercentile: Double): DataFrame = {
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile $minPercentile out of [0, 1]")
    val p = minPercentile
    val counts = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).asc)
    val wAll = Window.partitionBy(col(groupCol))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    // boundary rank: keep rank >= r0; n = 1 has percent_rank 0 exactly
    val r0 = when(col("__n") === 1, if (p > 0.0) lit(2L) else lit(1L))
      .otherwise(ceil(lit(1.0) + lit(p) * (col("__n") - 1)).cast("long"))
    val thresholds = cum
      .withColumn("__r0", r0)
      .filter(col("__cum") >= col("__r0") &&
        col("__cum") - col("__c") < col("__r0"))
      .select(col(groupCol).as("__g"), col(scoreCol).as("__s"),
        (col("__cum") - col("__r0") + 1).as("__tie_keep"))
    val joined = df.join(broadcast(thresholds),
      col(groupCol) === col("__g"), "inner")
    val clear = joined.filter(col(scoreCol) > col("__s"))
      .drop("__g", "__s", "__tie_keep")
    val wTie = Window.partitionBy(col(groupCol)).orderBy(col(idCol).desc)
    val ties = joined.filter(col(scoreCol) === col("__s"))
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") <= col("__tie_keep"))
      .drop("__g", "__s", "__tie_keep", "__rn")
    clear.unionByName(ties)
  }

  /** The UNGROUPED percentile cut — same semantics as
    * [[topQualityPerGroupAtScale]] with one global group, but without
    * the degenerate plan that a constant group produces there
    * (Catalyst folds a literal partition column away, leaving the
    * lattice cumulative window physically PARTITIONLESS). Here the
    * cumulative rank is a two-level distributed prefix sum over the
    * score lattice — within-bucket windows partitioned by a 1024-wide
    * score bucket, bucket offsets driver-computed over the
    * require-bounded bucket relation — and the residual tie window
    * partitions by the score column (its rows are the collisions at
    * ONE lattice point). Values identical to the grouped form
    * (spec-asserted); q156 gates it.
    */
  def topQualityAtScale(df: DataFrame, scoreCol: String, idCol: String,
      minPercentile: Double): DataFrame = {
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile $minPercentile out of [0, 1]")
    val p = minPercentile
    val spark = df.sparkSession
    val counts = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__b",
        floor(col(scoreCol).cast("double") / lit(1024.0)).cast("long"))
    val totals = counts.groupBy(col("__b")).agg(sum(col("__c")).as("__t"))
      .limit((1 << 20) + 1).collect()
    require(totals.length <= (1 << 20),
      s"score lattice spans > ${1 << 20} buckets — not a lattice; " +
        "coarsen the score upstream")
    val asc = totals.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = asc.map(_._2).sum
    var acc = 0L
    val offs = asc.map { case (b, t) => val o = (b, acc); acc += t; o }
    import spark.implicits._
    val offDf = broadcast(offs.toSeq.toDF("__b", "__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col(scoreCol).asc)
    // the same boundary-rank arithmetic as the grouped form, evaluated
    // on the driver (n is a scalar here): 1-row input has percent_rank
    // 0 exactly; otherwise ceil(1 + p(n-1))
    val r0 =
      if (n == 1) { if (p > 0.0) 2L else 1L }
      else math.ceil(1.0 + p * (n - 1).toDouble).toLong
    val thresholds = counts.join(offDf, Seq("__b"))
      .withColumn("__cum", col("__off") +
        sum(col("__c")).over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") >= r0 && col("__cum") - col("__c") < r0)
      .select(col(scoreCol).as("__s"),
        (col("__cum") - r0 + 1).as("__tie_keep"))
    val joined = df.crossJoin(broadcast(thresholds))
    val clear = joined.filter(col(scoreCol) > col("__s"))
      .drop("__s", "__tie_keep")
    val wTie = Window.partitionBy(col(scoreCol)).orderBy(col(idCol).desc)
    val ties = joined.filter(col(scoreCol) === col("__s"))
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") <= col("__tie_keep"))
      .drop("__s", "__tie_keep", "__rn")
    clear.unionByName(ties)
  }

  /** CCNet's head/middle/tail TERCILE bucketING (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020 — documents are split per language into three equal
    * buckets by LM perplexity, and most pipelines train on head+middle):
    * per group (language/source), rank every row by (score asc, id asc)
    * and label
    *
    *   bucket = head   if rank > ⌊2n/3⌋   (best-scoring third)
    *            middle if rank > ⌊n/3⌋
    *            tail   otherwise
    *
    * — all integer arithmetic, ties resolved by id, so the labeling is
    * bit-reproducible across engines and partitionings. Output = the
    * input columns plus (rank, n, bucket).
    *
    * Scale shape — the [[topQualityPerGroupAtScale]] discipline, not a
    * per-group global sort: per-(group, score) counts (lattice-sized by
    * the same CONTRACT: scoreCol must be lattice-valued and non-null),
    * a lattice-row cumulative window for the below-count, then ONE
    * (group, score)-keyed join + row_number over the (group, score)
    * partition — the residual sort touches lattice collisions, never
    * the whole group.
    */
  def ccnetBuckets(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).asc)
    val wAll = Window.partitionBy(col(groupCol))
    val cum = counts
      .withColumn("__below", sum(col("__c")).over(wCum) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(col(groupCol), col(scoreCol), col("__below"), col("__n"))
    val wTie = Window.partitionBy(col(groupCol), col(scoreCol))
      .orderBy(col(idCol).asc)
    df.join(cum, Seq(groupCol, scoreCol))
      .withColumn("rank",
        (col("__below") + row_number().over(wTie)).cast("long"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("bucket",
        when(col("rank") > expr("(2 * __n) div 3"), lit("head"))
          .when(col("rank") > expr("__n div 3"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__below", "__n")
  }

  /** Cross-document boilerplate: k-token passages appearing in at least
    * `minDocs` distinct documents (headers/footers/license blocks — the
    * units line-dedup pipelines strip). One explode + one (passage, doc)
    * distinct + one count — passages are compact relative to shingles
    * (each token appears in exactly one passage), so the shuffle is
    * ~|corpus tokens| / k rows.
    */
  def boilerplatePassages(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextFns.passages(col(textCol), k)).as("passage"))
      .distinct() // (doc, passage) pairs are unique after this
      // (no empty-passage filter needed: tokens() trims, so "" passages
      // cannot arise — and the oracle has no such filter either)
      .groupBy(col("passage")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Exact repeated-SPAN detection (the substring-dedup primitive of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): every maximal token span whose
    * every n-gram occurs >= `minCount` times corpus-wide. Pipelines
    * clip or down-weight these spans (vs whole-doc dedup, which only
    * fires when DOCUMENTS are near-identical).
    *
    *  1. positioned n-grams: one map-side explode of
    *     (doc, pos, n-gram-text) — O(tokens) rows;
    *  2. corpus counts: one keyed agg on the n-gram TEXT (map-side
    *     partial-aggregated; the text key keeps the operator exact and
    *     the DuckDB oracle byte-identical — at 100 TB swap the key for
    *     xxhash64(gram) + a verify tier, same plan shape, 8-byte
    *     shuffle);
    *  3. repeated positions semi-join back (shuffle on the same key);
    *  4. gaps-and-islands merge of overlapping/adjacent [pos, pos+n)
    *     intervals per doc — two windows PARTITIONED BY doc (bounded
    *     per-doc state, no global sort).
    *
    * Returns (doc_id, span_start, span_end) in token offsets, end
    * exclusive.
    */
  /** Positioned n-grams of the NORMALIZED token stream: (doc_id, pos,
    * gram) — the shared front end of the span family. Docs shorter than
    * n yield nothing (they cannot contain a span).
    */
  private def positionedGrams(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(lower(col(textCol))).as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("__w")) - n),
          i => array_join(slice(col("__w"), i + lit(1), lit(n)), " "))))
      .toDF("doc_id", "pos", "gram")

  /** Gaps-and-islands merge of marked gram positions into maximal spans:
    * (doc_id, pos, __end) → (doc_id, span_start, span_end). Window
    * partitions BY DOCUMENT — never a global sort.
    */
  private[operators] def islandsToSpans(marked: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMax = max(col("__end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(col("pos") > coalesce(prevMax, lit(Long.MinValue)), 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"), max(col("__end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2, keepFirst: Boolean = false): DataFrame = {
    require(n >= 1, s"span n-gram length $n must be >= 1")
    val grams = positionedGrams(docs, idCol, textCol, n)
    val marked =
      if (!keepFirst) {
        val repeated = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("__c"))
          .filter(col("__c") >= minCount)
          .select(col("gram"))
        grams.join(repeated, Seq("gram"), "left_semi")
      } else {
        // Lee et al. survivorship: the canonical FIRST occurrence of a
        // repeated gram — min (doc_id, pos), struct-lexicographic, one
        // map-side-combined agg on the same gram key — stays unclipped;
        // every other occurrence is marked. Join stays keyed on the
        // gram (the repeatedSpans shuffle), only the filter changes.
        val firsts = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("__c"),
            min(struct(col("doc_id"), col("pos"))).as("__first"))
          .filter(col("__c") >= minCount)
          .select(col("gram"), col("__first"))
        grams.join(firsts, Seq("gram"))
          .filter(struct(col("doc_id"), col("pos")) =!= col("__first"))
      }
    islandsToSpans(marked
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("pos") + n).cast("long").as("__end")))
  }

  /** Span-level BENCHMARK decontamination: clip only the leaked passage,
    * keep the document — the middle ground between [[decontaminate]]'s
    * report and [[decontaminated]]'s whole-doc removal (dropping a long
    * document over one quoted benchmark item wastes the rest of it).
    * Doc positions whose n-gram appears ANYWHERE in the benchmark are
    * merged gaps-and-islands into maximal spans and excised from the
    * normalized token stream; output schema = [[clipRepeatedSpans]]
    * (clipped, n_removed). The benchmark gram set is distinct + broadcast
    * (eval-suite-sized by contract, like decontaminate's).
    */
  def clipContaminatedSpans(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    require(n >= 1, s"span n-gram length $n must be >= 1")
    val benchGrams = positionedGrams(
        benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select(col("gram")).distinct()
    val marked = positionedGrams(docs, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("pos") + n).cast("long").as("__end"))
    clipWithSpans(docs, idCol, textCol, islandsToSpans(marked))
  }

  /** The actionable form of [[repeatedSpans]]: excise every repeated span
    * from the token stream — substring dedup's "clip, don't drop the
    * document". Output text is the NORMALIZED token stream (lowercased,
    * single-spaced — the same normalization the span offsets are defined
    * over), with `n_removed` counting clipped tokens. Null-text docs pass
    * through with null text. One keyed join of docs against their span
    * lists plus a codegen'd higher-order filter — no UDF, no extra
    * shuffle beyond [[repeatedSpans]]'s own.
    */
  def clipRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2, keepFirst: Boolean = false): DataFrame =
    clipWithSpans(docs, idCol, textCol,
      repeatedSpans(docs, idCol, textCol, n, minCount, keepFirst))

  /** Excise `(doc_id, span_start, span_end)` spans from each doc's
    * normalized token stream — the shared back end of
    * [[clipRepeatedSpans]] and [[clipContaminatedSpans]].
    */
  private def clipWithSpans(docs: DataFrame, idCol: String,
      textCol: String, spanRel: DataFrame): DataFrame = {
    val spans = spanRel
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = TextFns.tokens(lower(col(textCol)))
    val kept = filter(toks, (t, i) =>
      !exists(col("__spans"), s =>
        i >= s.getField("span_start") && i < s.getField("span_end")))
    docs
      .join(spans, docs(idCol) === spans("doc_id"), "left")
      .select(docs(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(when(col("__spans").isNull, array_join(toks, " "))
            .otherwise(array_join(kept, " "))).as("clipped"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(toks) -
            when(col("__spans").isNull, size(toks)).otherwise(size(kept)))
          .cast("long").as("n_removed"))
  }

  // ------------------------------------------------------ PII redaction

  /** Email pattern kept deliberately simple + anchored to word chars so
    * the DuckDB oracle regex behaves identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American phone shapes: 555-123-4567, (555) 123-4567, 5551234567. */
  val PhoneRe = "\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}"

  /** SSN shape 123-45-6789 (hyphenated only — bare 9 digits collide with
    * phone numbers and ids).
    */
  val SsnRe = "\\d{3}-\\d{2}-\\d{4}"

  /** Scrub emails/phones/SSNs to typed placeholder tokens and count the
    * redactions per doc. Pure codegen'd regexp ops — map-side only.
    * Order matters: SSN before phone (an SSN is also a phone shape).
    */
  def redactPii(docs: DataFrame, textCol: String): DataFrame = {
    def countOf(c: Column, re: String): Column =
      size(split(c, re)) - 1
    val t0 = col(textCol)
    val afterEmail = regexp_replace(t0, EmailRe, "<EMAIL>")
    val afterSsn = regexp_replace(afterEmail, SsnRe, "<SSN>")
    val afterPhone = regexp_replace(afterSsn, PhoneRe, "<PHONE>")
    docs.withColumn("n_email", countOf(t0, EmailRe).cast("long"))
      .withColumn("n_ssn", countOf(afterEmail, SsnRe).cast("long"))
      .withColumn("n_phone", countOf(afterSsn, PhoneRe).cast("long"))
      .withColumn(textCol, afterPhone)
  }

  /** CHECKSUM-VALIDATED credit-card redaction — the false-positive cut
    * serious PII pipelines add on top of [[redactPii]]'s pattern tier: a
    * bare 13–19-digit run (optionally space/dash-grouped) is usually an
    * order id, timestamp, or hash, so a candidate is redacted ONLY when
    * its digits pass the Luhn mod-10 check (the PAN checksum). Appends
    * `n_ccn` (validated occurrences) and rewrites `textCol` with every
    * validated candidate string replaced by `<CCN>` (replace-all per
    * candidate, the same semantics the oracle's list_reduce replay has).
    *
    * One Scala UDF (regex scan + integer checksum — no builtin can
    * condition a replacement on a checksum), map-side only, the NFC
    * precedent for a justified UDF. Null text passes through.
    */
  def redactValidatedCcn(docs: DataFrame, textCol: String): DataFrame = {
    docs
      .withColumn("__ccn", ccnRedactUdf(col(textCol)))
      .withColumn("n_ccn", coalesce(col("__ccn._2"), lit(0L)))
      .withColumn(textCol, col("__ccn._1"))
      .drop("__ccn")
  }

  private[operators] def luhnOk(digits: String): Boolean = {
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  private val ccnPattern =
    "\\b\\d(?:[ -]?\\d){12,18}\\b"

  private val ccnRedactUdf = udf { (s: String) =>
    if (s == null) null
    else {
      val m = java.util.regex.Pattern.compile(ccnPattern).matcher(s)
      val valid = scala.collection.mutable.LinkedHashSet.empty[String]
      var nHits = 0L
      while (m.find()) {
        val cand = m.group()
        if (luhnOk(cand.replaceAll("[ -]", ""))) {
          valid += cand
          nHits += 1
        }
      }
      var out = s
      valid.foreach(c => out = out.replace(c, "<CCN>"))
      (out, nHits)
    }
  }

  /** Gopher's stop-word rule set (Rae et al. 2021, App. A — note: a
    * DIFFERENT list from [[graft.functions.TextFns.stopwords]]).
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher document-quality rules (Rae et al. 2021, Table A1),
    * doc-level subset, each decided by DIVISION-FREE integer comparisons
    * so the gate is exact in any engine (mean word length ∈ [3, 10] ⟺
    * 3n ≤ Σlen ≤ 10n, ratio bounds cross-multiplied likewise):
    *
    *   r_words  — word count ∈ [minWords, maxWords] (paper: 50–100k)
    *   r_wlen   — mean word length ∈ [3, 10]
    *   r_sym    — symbol-to-word ratio ≤ 0.1; symbols = '#' chars plus
    *              non-overlapping ASCII '...' occurrences (the unicode
    *              ellipsis is out of contract — cross-engine regex
    *              semantics on non-BMP text are not worth one glyph)
    *   r_alpha  — ≥ 80 % of words contain an ASCII letter
    *   r_stop   — ≥ minStops DISTINCT Gopher stop words present
    *              (paper default 2)
    *   r_rep    — chars covered by the most frequent word 2-gram ≤ 20 %
    *              of the normalized stream (count·len(gram) vs 5·…,
    *              tiebreak max-count → lexicographic-min gram)
    *
    * `keep` = all six. Everything except r_rep is a codegen'd map;
    * r_rep is one bigram explode + per-doc argmax (top-1 window) — the
    * only shuffle, proportional to corpus tokens like every other
    * n-gram pass here. Null-text docs are dropped (nothing to judge).
    */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minStops: Long = 2): DataFrame = {
    val text = col(textCol)
    val toks = TextFns.tokens(lower(text))
    val base = docs.filter(text.isNotNull)
      .withColumn("__w", toks)
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("sum_wlen",
        coalesce(aggregate(transform(col("__w"), w => length(w)),
          lit(0L), (acc, x) => acc + x), lit(0L)))
      .withColumn("n_sym",
        (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
          + ((length(text) - length(regexp_replace(text, "\\.\\.\\.", "")))
              / lit(3)).cast("long"))
      .withColumn("n_alpha",
        size(filter(col("__w"), w => w.rlike("[a-z]"))).cast("long"))
      .withColumn("n_stop",
        GopherStops.map(s =>
          when(array_contains(col("__w"), s), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("n_chars",
        (sum_wlenPlusSpaces(col("sum_wlen"), col("n_words"))).cast("long"))
    // most frequent word 2-gram per doc: count + gram length, argmax by
    // (count DESC, gram ASC); docs with < 2 words have no bigram (rep
    // rule passes vacuously)
    val bigrams = base.select(col(idCol).as("__id"),
        explode(when(size(col("__w")) >= 2,
          transform(sequence(lit(0), size(col("__w")) - 2), i =>
            concat_ws(" ", element_at(col("__w"), i + 1),
              element_at(col("__w"), i + 2))))
          .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy("__id", "g").agg(count(lit(1)).as("__c"))
    val wTop = Window.partitionBy(col("__id"))
      .orderBy(col("__c").desc, col("g").asc)
    val top = bigrams.withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__c").as("top2_cnt"),
        length(col("g")).cast("long").as("top2_len"))
    base.join(top, base(idCol) === top("__id"), "left")
      .withColumn("r_words",
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("long"))
      .withColumn("r_wlen",
        (col("sum_wlen") >= lit(3L) * col("n_words") &&
          col("sum_wlen") <= lit(10L) * col("n_words") &&
          col("n_words") > 0).cast("long"))
      .withColumn("r_sym",
        (lit(10L) * col("n_sym") <= col("n_words")).cast("long"))
      .withColumn("r_alpha",
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
          .cast("long"))
      .withColumn("r_stop", (col("n_stop") >= minStops).cast("long"))
      .withColumn("r_rep",
        when(col("top2_cnt").isNull, 1L)
          .otherwise((lit(5L) * col("top2_cnt") * col("top2_len") <=
            col("n_chars")).cast("long")))
      .withColumn("keep",
        (col("r_words") + col("r_wlen") + col("r_sym") + col("r_alpha")
          + col("r_stop") + col("r_rep") === 6L).cast("long"))
      .select(col(idCol), col("n_words"), col("r_words"), col("r_wlen"),
        col("r_sym"), col("r_alpha"), col("r_stop"), col("r_rep"),
        col("keep"))
  }

  /** Normalized-stream char count: Σ word lengths + (n − 1) separating
    * spaces (0 for empty docs) — the denominator of the Gopher
    * repetition rule, defined over the same normalization the bigrams
    * are.
    */
  private def sum_wlenPlusSpaces(sumWlen: Column, nWords: Column): Column =
    when(nWords > 0, sumWlen + nWords - 1).otherwise(lit(0L))

  /** The FULL Gopher repetition battery (Rae et al. 2021, Table A1,
    * doc-level): for n ∈ {2,3,4}, the characters covered by occurrences
    * of the single most frequent word n-gram must be ≤ {20, 18, 16} % of
    * the normalized stream; for n ∈ {5..10}, the characters covered by
    * ALL within-doc duplicated n-grams (count ≥ 2, overlaps merged
    * gaps-and-islands so nothing double-counts) must be ≤
    * {15, 14, 13, 12, 11, 10} %. Complements [[gopherQualityFlags]]'s
    * single top-bigram rule.
    *
    * Every threshold is a rational compared by cross-multiplication
    * (den·covered ≤ num·n_chars) — integer-exact, engine-independent.
    * Covered chars for the dup rules = Σ token lengths over covered
    * positions + internal span spaces (|positions| − |spans|), over the
    * lowercased single-spaced normalization the grams are defined on.
    *
    * Cost shape: one positioned-gram pass per n (nine doc-keyed
    * shuffles) — each the same shape as every other n-gram operator
    * here; windows partition BY DOCUMENT only.
    */
  def gopherRepetitionFlags(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = TextFns.tokens(lower(text))
    val base = docs.filter(text.isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("sum_wlen",
        coalesce(aggregate(transform(col("__w"), w => length(w)),
          lit(0L), (acc, x) => acc + x), lit(0L)))
      .withColumn("n_chars",
        sum_wlenPlusSpaces(col("sum_wlen"), col("n_words")))
    val toksAll = base.select(col("doc_id"),
        posexplode(col("__w")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        length(col("tok")).cast("long").as("__len"))
    val docsForGrams = docs.filter(text.isNotNull)
      .select(col(idCol).as("doc_id"), text.as("__t"))

    // covered chars of the single most frequent n-gram
    def topCover(n: Int, name: String): DataFrame = {
      val g = positionedGrams(docsForGrams, "doc_id", "__t", n)
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("__c").desc, col("gram").asc)
      g.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("doc_id").as("__id"),
          (col("__c") * length(col("gram")).cast("long")).as("__cov"))
        .withColumnRenamed("__cov", s"__cov_$name")
    }
    // covered chars of ALL duplicated n-grams, islands-merged
    def dupCover(n: Int, name: String): DataFrame = {
      val g = positionedGrams(docsForGrams, "doc_id", "__t", n)
      val rep = g.groupBy("doc_id", "gram").agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= 2).select("doc_id", "gram")
      val marked = g.join(rep, Seq("doc_id", "gram"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          (col("pos") + n).cast("long").as("__end"))
      val spans = islandsToSpans(marked)
      val covered = spans
        .join(toksAll, Seq("doc_id"))
        .filter(col("pos") >= col("span_start") &&
          col("pos") < col("span_end"))
        .groupBy("doc_id")
        .agg((sum(col("__len")) + count(lit(1))).as("__lenpos"))
      val spanCnt = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("__nsp"))
      covered.join(spanCnt, Seq("doc_id"))
        .select(col("doc_id").as("__id"),
          (col("__lenpos") - col("__nsp")).as(s"__cov_$name"))
    }

    val topSpec = Seq((2, 1L, 5L), (3, 9L, 50L), (4, 4L, 25L))
    val dupSpec = Seq((5, 3L, 20L), (6, 7L, 50L), (7, 13L, 100L),
      (8, 3L, 25L), (9, 11L, 100L), (10, 1L, 10L))
    var out = base.select(col("doc_id"), col("n_chars"))
    topSpec.foreach { case (n, _, _) =>
      val f = topCover(n, s"top$n")
      out = out.join(f, out("doc_id") === f("__id"), "left").drop("__id")
    }
    dupSpec.foreach { case (n, _, _) =>
      val f = dupCover(n, s"dup$n")
      out = out.join(f, out("doc_id") === f("__id"), "left").drop("__id")
    }
    def flag(cov: Column, num: Long, den: Long): Column =
      when(cov.isNull, 1L)
        .otherwise((lit(den) * cov <= lit(num) * col("n_chars"))
          .cast("long"))
    var res = out
    topSpec.foreach { case (n, num, den) =>
      res = res.withColumn(s"r_top$n",
        flag(col(s"__cov_top$n"), num, den))
    }
    dupSpec.foreach { case (n, num, den) =>
      res = res.withColumn(s"r_dup$n",
        flag(col(s"__cov_dup$n"), num, den))
    }
    val flagCols = topSpec.map(t => s"r_top${t._1}") ++
      dupSpec.map(t => s"r_dup${t._1}")
    res.withColumn("keep",
        (flagCols.map(col).reduce(_ + _) === flagCols.size.toLong)
          .cast("long"))
      .select((Seq("doc_id", "n_chars") ++ flagCols :+ "keep")
        .map(col): _*)
  }

  /** CCNet-style LINE-LEVEL boilerplate removal — the apply step over
    * the unit [[boilerplatePassages]] detects: split each document on
    * newlines, drop every line whose NORMALIZED form (lowercase,
    * trimmed) appears in ≥ `minDocs` DISTINCT documents (nav bars,
    * cookie banners, license footers — the lines CCNet strips before
    * any document-level dedup), and rebuild the survivors in original
    * order. Blank lines are never counted as shared and pass through;
    * null text stays null. Output: (doc_id, clean_text, n_lines,
    * dup_lines).
    *
    * Scale shape: one line explode, one vocabulary-sized distinct-doc
    * count on the normalized line hash, one anti-join, one per-doc
    * ordered rebuild — the q181 removal shape with lines instead of
    * token windows; nothing beyond the line relation shuffles.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2")
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"))
    val lines = base
      .select(col("doc_id"), posexplode(split(col("__text"), "\n")))
      .toDF("doc_id", "pos", "line")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("line"), lower(trim(col("line"))).as("__norm"))
    val shared = lines.filter(col("__norm") =!= "")
      .groupBy(col("__norm"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__norm"))
    val kept = lines.join(shared, Seq("__norm"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
          .as("__ordered"),
        count(lit(1)).as("__nk"))
      .select(col("doc_id"),
        expr("array_join(transform(__ordered, x -> x.line), '\n')")
          .as("__clean"),
        col("__nk"))
    val nl = base.select(col("doc_id"),
      when(col("__text").isNull, lit(0L))
        .otherwise(size(split(col("__text"), "\n"))).cast("long")
        .as("n_lines"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .join(nl, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("__text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__clean"), lit(""))).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__nk"), lit(0L))).as("dup_lines"))
  }

  /** BLOOM-BACKED line dedup APPLY — the Dolma-corpus approach
    * (Soldaini et al. 2024 run paragraph dedup through a Bloom filter
    * rather than an exact shared-line set): drop every line whose
    * normalized form (lower + trim) MIGHT be in the caller-supplied
    * Bloom register relation ([[graft.functions.Sketches.bloomRegisters]]
    * built over a REFERENCE corpus's normalized lines — previous
    * shards, an earlier dump, a boilerplate bank), rebuild the
    * survivors in order. Blank lines never drop. Output
    * `(doc_id, clean_text, n_lines, dropped_lines)`, null text → null
    * clean_text.
    *
    * vs [[lineDedup]] at 100 TB: the exact form shuffles every
    * normalized line to count distinct docs; this form's only
    * line-level work is a map-side hash explode against a BROADCAST
    * ≤ mBits-row register relation plus the distinct on normalized
    * lines — the shared-set build is free because the filter is given.
    * The price is false positives: a unique line whose k bits happen
    * to be set drops too. DETERMINISTIC false positives — the hash
    * chain is the fixed poly/perm/mix lattice, so the same line
    * drops on every engine and every run, and the DuckDB oracle
    * replays each one (q193); quantify the odds with
    * [[graft.functions.Sketches.bloomFpEstimate]]. No false
    * negatives: every reference line is caught. (Dolma seeds the
    * filter from the corpus itself, first-occurrence-wins — that form
    * is scan-order-dependent and not reproducible distributed; the
    * two-phase build-on-reference / apply-to-batch form here is the
    * deterministic equivalent, and the natural shape for rolling
    * ingestion anyway.)
    */
  def bloomLineDedup(docs: DataFrame, idCol: String, textCol: String,
      registers: DataFrame, mBits: Int = 65536,
      kHashes: Int = 4): DataFrame = {
    import graft.functions.Sketches
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"))
    val lines = base
      .select(col("doc_id"), posexplode(split(col("__text"), "\n")))
      .toDF("doc_id", "pos", "line")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("line"), lower(trim(col("line"))).as("__norm"))
    val norms = lines.filter(col("__norm") =!= "")
      .select(col("__norm")).distinct()
    val dropNorms = Sketches.bloomMightContain(norms, "__norm",
        registers, mBits, kHashes)
      .filter(col("might_contain"))
      .select(col("__norm"))
    val kept = lines.join(dropNorms, Seq("__norm"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
          .as("__ordered"),
        count(lit(1)).as("__nk"))
      .select(col("doc_id"),
        expr("array_join(transform(__ordered, x -> x.line), '\n')")
          .as("__clean"),
        col("__nk"))
    val nl = base.select(col("doc_id"),
      when(col("__text").isNull, lit(0L))
        .otherwise(size(split(col("__text"), "\n"))).cast("long")
        .as("n_lines"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .join(nl, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("__text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__clean"), lit(""))).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__nk"), lit(0L)))
          .as("dropped_lines"))
  }

  /** The C4 heuristic cleaning battery (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", JMLR 2020, §2.2 — the published rule set behind the
    * C4 corpus), line rules then page rules:
    *
    *  - keep only lines ending in a terminal punctuation mark
    *    (`.` `!` `?` `"`), with ≥ `minWordsPerLine` whitespace words,
    *    and not containing the word `javascript` (word-boundary,
    *    case-insensitive);
    *  - drop any page containing a word from the CALLER-SUPPLIED
    *    blocklist (bring your own "List of Dirty, Naughty, Obscene..."
    *    — the BYO-artifact pattern of [[registeredDomains]]); matching
    *    is token equality after stripping leading/trailing
    *    non-alphanumerics from each lowercased whitespace token;
    *  - drop any page containing the phrase `lorem ipsum`
    *    (case-insensitive) or a `{` curly brace (code);
    *  - drop any page whose CLEANED text has fewer than `minSentences`
    *    sentences, where the sentence count is the number of `.`/`!`/
    *    `?` occurrences in the cleaned text (the deterministic
    *    cross-engine stand-in for a sentence splitter).
    *
    * (C4's ninth rule — three-sentence-span dedup — is corpus-level,
    * not per-page: compose [[lineDedup]] / winnowing substring dedup
    * downstream.) Returns one row per input doc:
    * `(doc_id, clean_text, n_lines, kept_lines, n_sentences,
    * drop_reason)` with drop_reason ∈ {'badword','lorem_ipsum',
    * 'brace','few_sentences','kept'} (first match in that precedence);
    * `clean_text` is the line-filtered rebuild for every doc — dropped
    * pages keep their cleaned text for audit. Null text → null
    * clean_text, zero counts, 'few_sentences'.
    *
    * Scale shape: one line explode + per-doc ordered rebuild (the
    * [[lineDedup]] shape), one token explode against a BROADCAST
    * blocklist, doc-local regexes otherwise — nothing corpus-sized
    * shuffles beyond the per-doc aggregations.
    */
  def c4Filter(docs: DataFrame, idCol: String, textCol: String,
      badwords: DataFrame, wordCol: String, minWordsPerLine: Int = 3,
      minSentences: Int = 5): DataFrame = {
    require(minWordsPerLine >= 1 && minSentences >= 1,
      "minWordsPerLine and minSentences must be >= 1")
    val bw = broadcast(badwords
      .select(lower(trim(col(wordCol))).as("__bw"))
      .filter(col("__bw") =!= "").distinct())
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"))
    val lines = base
      .select(col("doc_id"), posexplode(split(col("__text"), "\n")))
      .toDF("doc_id", "pos", "line")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("line"))
    val kept = lines.filter(
      trim(col("line")).rlike("[.!?\"]$") &&
        size(split(trim(col("line")), "\\s+")) >= minWordsPerLine &&
        !lower(col("line")).rlike("\\bjavascript\\b"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
          .as("__ordered"),
        count(lit(1)).as("kept_lines"))
      .select(col("doc_id"),
        expr("array_join(transform(__ordered, x -> x.line), '\n')")
          .as("__clean"),
        col("kept_lines"))
    val bad = base
      .select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(lower(col("__text"))))
          .as("__t"))
      .select(col("doc_id"),
        regexp_replace(col("__t"), "^[^a-z0-9]+|[^a-z0-9]+$", "")
          .as("__bw"))
      .join(bw, Seq("__bw"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("__bad", lit(true))
    val nl = base.select(col("doc_id"),
      when(col("__text").isNull, lit(0L))
        .otherwise(size(split(col("__text"), "\n"))).cast("long")
        .as("n_lines"),
      lower(coalesce(col("__text"), lit(""))).contains("lorem ipsum")
        .as("__lorem"),
      coalesce(col("__text"), lit("")).contains("{").as("__brace"),
      col("__text").isNull.as("__nulltext"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .join(nl, Seq("doc_id"))
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__nulltext"), lit(null).cast("string"))
          .otherwise(coalesce(col("__clean"), lit(""))).as("clean_text"),
        col("n_lines"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        size(regexp_extract_all(coalesce(col("__clean"), lit("")),
          lit("[.!?]"), lit(0))).cast("long").as("n_sentences"),
        col("__bad"), col("__lorem"), col("__brace"))
      .select(col("doc_id"), col("clean_text"), col("n_lines"),
        col("kept_lines"), col("n_sentences"),
        when(coalesce(col("__bad"), lit(false)), lit("badword"))
          .when(col("__lorem"), lit("lorem_ipsum"))
          .when(col("__brace"), lit("brace"))
          .when(col("n_sentences") < minSentences, lit("few_sentences"))
          .otherwise(lit("kept")).as("drop_reason"))
  }

  /** Registered-domain mapping for a host relation against a
    * CALLER-SUPPLIED public-suffix relation (bring your own
    * publicsuffix.org list — the external-artifact pattern of
    * `QualityModel.loadTokenWeights`), supporting all three PSL rule
    * forms (https://publicsuffix.org/list/ "Formal algorithm"):
    *
    *  - plain `co.uk`  — the suffix is the rule itself;
    *  - wildcard `*.ck` — ANY single label + `.ck` is a public suffix
    *    (so `b.ck` is a suffix and `a.b.ck` registers as `a.b.ck`);
    *  - exception `!www.ck` — overrides a wildcard: `www.ck` is NOT a
    *    public suffix, it IS the registered domain (for itself and
    *    every subdomain under it).
    *
    * Precedence per the PSL spec: an exception rule always prevails;
    * otherwise the matching rule with the MOST LABELS wins (ties —
    * impossible in a well-formed list — break on suffix length then
    * lexicographic, deterministically). For each distinct lowercased
    * host the registered domain is one label + '.' + the prevailing
    * public suffix; a host that IS a public suffix, or matches no
    * rule, maps to null (no implicit `*` default rule — BYO-list
    * contract). Comment (`//...`) and blank lines in the rule relation
    * are ignored, so the real publicsuffix.org file loads as-is via
    * `spark.read.text`. Returns the (host, registered_domain) mapping —
    * join it back to your corpus. The host-graph keying step
    * ([[graft.operators.Graph]] PageRank/TrustRank run on registered
    * domains, not raw subdomains).
    *
    * Shape: distinct hosts × a BROADCAST rule list (a few thousand
    * rows by contract) via endswith, prevailing-rule argmax per host —
    * no corpus-sized shuffle beyond the host distinct.
    */
  def registeredDomains(hosts: DataFrame, hostCol: String,
      suffixes: DataFrame, suffixCol: String): DataFrame = {
    val rules = broadcast(suffixes
      .select(lower(trim(col(suffixCol))).as("__r"))
      .filter(col("__r").isNotNull && col("__r") =!= "" &&
        !col("__r").startsWith("//"))
      .distinct()
      .select(
        when(col("__r").startsWith("!"), lit(2))
          .when(col("__r").startsWith("*."), lit(1))
          .otherwise(lit(0)).as("__kind"),
        when(col("__r").startsWith("!"), col("__r").substr(lit(2),
            length(col("__r"))))
          .when(col("__r").startsWith("*."), col("__r").substr(lit(3),
            length(col("__r"))))
          .otherwise(col("__r")).as("__base")))
    val hm = hosts.select(lower(col(hostCol)).as("host"))
      .filter(col("host").isNotNull).distinct()
    // matched public suffix per (host, rule): the rule base for plain/
    // exception rules; for a wildcard the base plus the host's label
    // immediately before it (`*` binds exactly one label)
    val matched = hm.join(rules,
        when(col("__kind") === 1,
          col("host").endsWith(concat(lit("."), col("__base"))))
        .otherwise(col("host") === col("__base") ||
          col("host").endsWith(concat(lit("."), col("__base")))), "left")
      .withColumn("__sfx",
        when(col("__kind") === 1, concat(
          regexp_extract(
            col("host").substr(lit(1),
              length(col("host")) - length(col("__base")) - 1),
            "([^.]+)$", 1),
          lit("."), col("__base")))
        .otherwise(col("__base")))
    matched
      .withColumn("__reg",
        when(col("__sfx").isNull, lit(null).cast("string"))
        // exception: the rule's own domain registers, for itself and
        // every subdomain (public suffix = exception minus its first
        // label, so registered = the exception domain)
        .when(col("__kind") === 2, col("__sfx"))
        .when(col("host") === col("__sfx"), lit(null).cast("string"))
        .otherwise(concat(
          regexp_extract(
            col("host").substr(lit(1),
              length(col("host")) - length(col("__sfx")) - 1),
            "([^.]+)$", 1),
          lit("."), col("__sfx"))))
      .groupBy(col("host"))
      .agg(max_by(col("__reg"),
        struct((coalesce(col("__kind"), lit(-1)) === 2).as("__exc"),
          size(split(coalesce(col("__sfx"), lit("")), "\\.")).as("__nl"),
          length(coalesce(col("__sfx"), lit(""))).as("__len"),
          coalesce(col("__sfx"), lit("")).as("__s")))
        .as("registered_domain"))
  }

  /** Trending terms between two corpus snapshots — "what is new in
    * this crawl": per term the count in period 0 (`c0`, the baseline)
    * and period 1 (`c1`, the fresh slice), ranked by the add-one-
    * smoothed frequency ratio
    *
    *   ratio_ppm = (10⁶ · (c1+1) · N0) div ((c0+1) · N1)
    *
    * (N0/N1 = total token counts per period) computed on DECIMAL —
    * no float anywhere, exact until the triple product 10⁶·(c1+1)·N0
    * exceeds DECIMAL(38)'s 38 digits, i.e. while (c1+1)·N0 < 10³²
    * (a ~10¹⁶-token corpus with a ~10¹⁶-count term; past it the ANSI
    * DECIMAL overflow is the loud guard — the brierScore/groupOls
    * convention, not a silent wrap). Add-one smoothing keeps terms absent
    * from the baseline rankable without a division by zero and damps
    * the rare-term noise a raw ratio amplifies; `minC1` additionally
    * drops terms too rare in the fresh slice to trend (a visible
    * parameter, not a silent cap). Top `k` by (ratio_ppm, term) with
    * the term itself as the deterministic tie-break.
    *
    * Tokens are the house convention: lower-cased, `\s+`-split,
    * empties dropped. Periods must be exactly 0/1 (refused loudly).
    * One explode + one (term, period) aggregation + one 2-row total
    * fold broadcast back; the top-k is a TakeOrdered, never a full
    * sort.
    */
  def trendingTerms(docs: DataFrame, textCol: String,
      periodCol: String, k: Int, minC1: Long = 2L): DataFrame = {
    require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")
    require(minC1 >= 1, s"minC1=$minC1 must be >= 1")
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("trendingTerms period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val toks = docs.select(
        when(p.isin(0L, 1L), p).otherwise(
          raise_error(concat(lit("trendingTerms period "),
            p.cast("string"), lit(" outside {0,1}"))).cast("long"))
          .as("__p"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => t =!= "")).as("term"))
    // materialized: the count relation feeds BOTH the totals fold and
    // the ranked output — a lazy plan would tokenize the corpus twice
    val counts = toks.groupBy(col("term"))
      .agg(sum(when(col("__p") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as("c1"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("c0")).as("__n0"),
      sum(col("c1")).as("__n1"))
    counts.filter(col("c1") >= minC1)
      .crossJoin(broadcast(totals))
      .withColumn("__num", lit(1000000L).cast("decimal(20,0)")
        * (col("c1") + 1).cast("decimal(20,0)")
        * col("__n0").cast("decimal(20,0)"))
      .withColumn("__den", (col("c0") + 1).cast("decimal(20,0)")
        * col("__n1").cast("decimal(20,0)"))
      .withColumn("ratio_ppm", expr("__num div __den").cast("long"))
      .select(col("term"), col("c0"), col("c1"), col("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("term"))
      .limit(k)
  }

  /** Distinctive terms per group — [[trendingTerms]] generalized from
    * two snapshots to ANY grouping (per source, per language, per
    * topic): for each group g, terms ranked by how over-represented
    * they are in g vs the REST of the corpus,
    *
    *   score_ppm = (10⁶ · (c_g+1) · N_rest) div ((c_rest+1) · N_g)
    *
    * with c_rest/N_rest the complements of the group's term count and
    * token total — the same add-one-smoothed exact-DECIMAL lattice.
    * `minCg` drops terms too rare in the group to characterize it.
    * Top `k` PER GROUP by (score_ppm, term) via one ranked window on
    * the group key — no global sort, no driver collection; the group
    * totals are a group-sized broadcast and the term totals join on
    * the term key. Null group refuses loudly (its tokens would
    * silently vanish from every N_rest).
    */
  def distinctiveTerms(docs: DataFrame, textCol: String,
      groupCol: String, k: Int, minCg: Long = 2L): DataFrame = {
    require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")
    require(minCg >= 1, s"minCg=$minCg must be >= 1")
    val g = coalesce(col(groupCol).cast("string"),
      raise_error(lit("distinctiveTerms: null group — its tokens " +
        "would silently vanish from every rest-of-corpus total")))
    val toks = docs.select(g.as("grp"),
      explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        t => t =!= "")).as("term"))
    // materialized: cg feeds FOUR consumers (term totals, group
    // totals, the corpus total, the scored output) — lazily it would
    // tokenize the corpus four times (measured 4.6 s vs trending's
    // 0.8 s at 1M rows before this cut)
    val cg = toks.groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("c_g"))
      .localCheckpoint()
    val ct = cg.groupBy(col("term")).agg(sum(col("c_g")).as("__ct"))
    val ng = cg.groupBy(col("grp")).agg(sum(col("c_g")).as("__ng"))
    val nTot = ng.agg(sum(col("__ng")).as("__nt"))
    val scored = cg.filter(col("c_g") >= minCg)
      .join(ct, "term")
      .join(broadcast(ng), "grp")
      .crossJoin(broadcast(nTot))
      .withColumn("c_rest", col("__ct") - col("c_g"))
      .withColumn("__nrest", col("__nt") - col("__ng"))
      .withColumn("__num", lit(1000000L).cast("decimal(20,0)")
        * (col("c_g") + 1).cast("decimal(20,0)")
        * col("__nrest").cast("decimal(20,0)"))
      .withColumn("__den", (col("c_rest") + 1).cast("decimal(20,0)")
        * col("__ng").cast("decimal(20,0)"))
      .withColumn("score_ppm", expr("__num div __den").cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("score_ppm").desc, col("term"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("grp"), col("term"), col("c_g"), col("c_rest"),
        col("score_ppm"))
  }

  /** Flesch reading ease per document — the classic curation quality
    * feature (very low scores flag legalese/boilerplate, impossibly
    * high ones flag token salad):
    *
    *   flesch_milli = floor((206.835 − 1.015·(W/S) − 84.6·(Y/W))·1000)
    *
    * with W = `\s+` words (house tokenization, lower-cased), S =
    * sentences (non-empty `[.!?]+` splits), Y = syllables counted as
    * VOWEL GROUPS (`[aeiouy]+` runs per word) — the standard cheap
    * approximation, deterministic and engine-replayable where
    * dictionary syllabifiers are not. The two divisions and three
    * multiplications run in IEEE double in THIS op order (the oracle
    * mirrors; constants forced to double — DuckDB's bare decimal
    * literals are DECIMAL and would round differently). Null text and
    * zero-word/zero-sentence documents emit null metrics (unscorable,
    * not zero — a 0 reads as "unreadable", which an empty string is
    * not). Purely row-local: one codegen'd pass, no shuffle.
    */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val wordsArr = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    val sents = size(filter(split(col("__t"), "[.!?]+"),
      s => trim(s) =!= ""))
    val syl = expr("aggregate(__w, 0L, (acc, x) -> acc + " +
      "size(regexp_extract_all(x, '[aeiouy]+', 0)))")
    docs.select(col(idCol), col(textCol).as("__t"), wordsArr.as("__w"))
      .withColumn("words", size(col("__w")).cast("long"))
      .withColumn("sentences", sents.cast("long"))
      .withColumn("syllables", syl)
      .select(col(idCol),
        when(col("__t").isNull, lit(null).cast("long"))
          .otherwise(col("words")).as("words"),
        when(col("__t").isNull, lit(null).cast("long"))
          .otherwise(col("sentences")).as("sentences"),
        when(col("__t").isNull, lit(null).cast("long"))
          .otherwise(col("syllables")).as("syllables"),
        when(col("__t").isNull || col("words") === 0
            || col("sentences") === 0, lit(null).cast("long"))
          .otherwise(floor((lit(206.835)
            - lit(1.015) * (col("words").cast("double")
              / col("sentences").cast("double"))
            - lit(84.6) * (col("syllables").cast("double")
              / col("words").cast("double"))) * 1000).cast("long"))
          .as("flesch_milli"))
  }
}
