package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Persisted inverted text index — the serving layout for corpus search
  * (the text-side mirror of `Similarity.writeIvfIndex`):
  *
  *  - postings `(term, doc_id, tf, dl)` parquet-partitioned by
  *    `bucket = pmod(xxhash64(term), nBuckets)`, so a query touches only
  *    the partitions its terms hash to (PartitionFilters pruning). Docs
  *    with ZERO tokens carry one sentinel posting (term "", tf 0) so the
  *    index is a complete document registry — removal statistics stay
  *    exact — while never matching a real query term;
  *  - corpus stats (N, avgdl, maxId) in a JSON sidecar read at probe
  *    time;
  *  - [[search]] scores BM25 over the pruned postings: df per term is
  *    exact (counted from the scanned postings), the per-doc sum is one
  *    small aggregation over |matching postings| rows.
  *
  * Build cost is one explode + one groupBy of the corpus — paid once;
  * every probe afterwards reads ~|queryTerms|/nBuckets of the index.
  * Results match [[Curation.bm25]] on the same corpus exactly (spec-
  * enforced), because both use the same tokenization and formula.
  *
  * ROLLING lifecycle (mirrors the signature index): [[append]] adds an
  * ingestion batch under the monotone-id contract, updating N/avgdl
  * exactly; [[compact]] rewrites each bucket to one file; [[remove]] is
  * the takedown pass. Crash safety, for all of them: [[IndexStore]] —
  * the stats sidecar is the commit record, and the index stages its
  * rewrites BESIDE itself (the postings dir is the index root).
  */
object TextIndex {

  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(lower(col(textCol))).as("__toks"))
      .withColumn("dl", size(col("__toks")))
      .persist() // read twice: postings write + stats agg
    // stats FIRST: an empty corpus must refuse before anything touches
    // disk — stats-after-postings left a half-built index (postings dir,
    // no sidecar) whose later probes failed with a confusing missing-
    // stats error instead of this one
    val (n, avgdl, maxId) = try {
      val statsRow = base.agg(count(lit(1)).cast("double"),
        avg(col("dl")), max(col("doc_id").cast("long"))).head()
      val n0 = statsRow.getDouble(0)
      require(n0 > 0, "refusing to index an empty corpus (avgdl undefined; " +
        "every probe would score NaN)")
      writePostings(base, path, nBuckets, mode = "overwrite")
      (n0, statsRow.getDouble(1),
        if (statsRow.isNullAt(2)) Long.MinValue else statsRow.getLong(2))
    } finally base.unpersist() // even on the empty-corpus refusal
    val store = textStore(spark, path)
    store.writeSidecar(Stats(n, avgdl, nBuckets, maxId, None, None).json)
    store.reset() // a full rebuild is the documented crash recovery
  }

  /** The index as an [[IndexStore]]: one relation, the root itself. */
  private def textStore(spark: SparkSession, path: String) =
    IndexStore(spark, path, "_text_index_stats.json", "TextIndex.write",
      Seq(path -> "bucket"))

  /** The shared postings shape: exploded term counts plus one sentinel
    * posting (term "", tf 0) per zero-token doc, bucket-clustered before
    * the partitioned write so file count is bounded by nBuckets, not
    * tasks×buckets.
    */
  private def writePostings(base: DataFrame, path: String, nBuckets: Int,
      mode: String): Unit = {
    val real = base
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val sentinels = base.filter(col("dl") === 0)
      .select(lit("").as("term"), col("doc_id"), col("dl"), lit(0L).as("tf"))
    real.unionByName(sentinels)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(path)
  }

  private case class Stats(n: Double, avgdl: Double, nBuckets: Int,
      maxId: Long, last: Option[(Long, Long, Long)], lastFp: Option[Long]) {
    def json: String = {
      val lastJson = IndexStore.replayFields(last, lastFp).map("," + _).mkString
      s"""{"n":$n,"avgdl":$avgdl,"nBuckets":$nBuckets,"maxId":$maxId$lastJson}"""
    }
  }

  private object Stats {
    def parse(path: String, raw: String): Stats = {
      def num(key: String): Double =
        ("\"" + key + "\":([-0-9.eE]+)").r.findFirstMatchIn(raw)
          .map(_.group(1).toDouble)
          .getOrElse(throw new IllegalStateException(s"$path: no '$key' in stats"))
      val (last, lastFp) = IndexStore.parseReplay(raw)
      Stats(num("n"), num("avgdl"), num("nBuckets").toInt,
        // pre-rolling sidecars have no maxId: treat as unavailable — append
        // refuses with a rebuild hint, search never needs it
        IndexStore.optLong(raw, "maxId").getOrElse(Long.MaxValue),
        last, lastFp)
    }
  }

  private def readStats(spark: SparkSession, path: String): Stats =
    Stats.parse(path, textStore(spark, path).readSidecar())

  /** Append an ingestion batch to an existing index — the rolling form
    * that keeps BM25 serving without rebuilds. Batch ids must continue
    * the monotone numeric sequence recorded in the stats sidecar (the
    * double-append guard: a replayed batch fails here instead of
    * silently doubling its postings and BM25 mass). N and avgdl update
    * exactly: avgdl' = (N·avgdl + Σdl_batch) / (N + n_batch).
    *
    * REPLAY idempotence (foreachBatch sinks are at-least-once): the stats
    * sidecar records the last appended batch's exact (minId, maxId, n);
    * a batch matching that range is already fully reflected, so append
    * NO-OPS instead of failing the monotone check — a restart after a
    * commit-then-crash resumes cleanly. Overlapping-but-UNEQUAL ranges
    * still refuse (ids are never reused, so a range collision that is not
    * an exact replay is a numbering bug).
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"TextIndex.append requires a numeric id column: $idCol is " +
        docs.schema(idCol).dataType.simpleString)
    val store = textStore(spark, path)
    val st = Stats.parse(path, store.readSidecarForUpdate())
    require(st.maxId != Long.MaxValue,
      s"$path: stats sidecar predates the rolling contract (no maxId) — " +
        "rebuild with TextIndex.write before appending")
    // persist (paired with the finally-unpersist) rather than
    // localCheckpoint: repeated appends — e.g. one per streaming
    // micro-batch — must not accumulate unreleasable checkpoint blocks
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextFns.tokens(lower(col(textCol))).as("__toks"))
      .withColumn("dl", size(col("__toks")))
      .persist() // read twice: stats + postings
    try {
      val s = base.agg(min(col("doc_id")), max(col("doc_id")),
        sum(when(col("doc_id").isNull, 1).otherwise(0)),
        count(lit(1)), coalesce(sum(col("dl")), lit(0L)),
        expr("bit_xor(xxhash64(doc_id))")).head()
      if (s.getLong(3) == 0) return // empty batch
      require(s.getLong(2) == 0L,
        s"TextIndex.append requires numeric ids: ${s.getLong(2)} cast to null")
      val range = (s.getLong(0), s.getLong(1), s.getLong(3))
      // content fingerprint (xor of id hashes, order-free) alongside the
      // range: a DIFFERENT batch that happens to collide with the last
      // committed range must refuse, not silently no-op as a replay
      val fp = s.getLong(5)
      if (st.last.contains(range)) {
        if (st.lastFp.forall(_ == fp)) return // exact replay: reflected
        throw new IllegalStateException(
          s"TextIndex.append: batch range $range equals the last committed " +
            "append but its id fingerprint differs — not a replay; " +
            "renumber the batch (ids are never reused)")
      }
      require(s.getLong(0) > st.maxId,
        s"TextIndex.append requires monotone ids: index maxId=${st.maxId} >= " +
          s"min(batch)=${s.getLong(0)} — renumber (or rebuild the index)")
      store.writeMarker(s.getLong(0), s.getLong(1), s.getLong(3))
      writePostings(base, path, st.nBuckets, mode = "append")
      val nb = s.getLong(3).toDouble
      store.writeSidecar(Stats(st.n + nb,
        (st.n * st.avgdl + s.getLong(4)) / (st.n + nb), st.nBuckets,
        s.getLong(1), Some(range), Some(fp)).json)
      store.clearMarker()
    } finally base.unpersist()
  }

  /** Rewrite every bucket to one file — the maintenance pass after many
    * [[append]]s (each adds ≤1 file per touched bucket; after hundreds of
    * batches the per-probe open cost creeps up), staged as every
    * [[IndexStore]] rewrite.
    *
    * An index whose buckets already hold one file each — e.g. right after
    * [[remove]] — costs one listing and no job: it returns without
    * rewriting or touching the stats, once the pending-marker and stale
    * stash refusals have passed.
    */
  def compact(spark: SparkSession, path: String): Unit =
    rewriteIndex(spark, path, compactOnly = true, identity,
      removed = () => (0L, 0L))

  /** The maintenance verdict for a rolling text index — the same
    * "telemetry → one decision" shape as the IVF-PQ and signature
    * indexes ([[graft.operators.Similarity.maintenanceDue]],
    * [[graft.operators.Dedup.signatureIndexMaintenanceDue]]):
    *
    *  - `fileTrigger`: some term bucket holds more than
    *    `maxFilesPerBucket` part files (each [[append]] adds one file
    *    per touched bucket — bounded per batch, creeping over hundreds
    *    of batches). Action: [[compact]].
    *  - `skewTrigger`: max(postings per bucket) / avg over the DECLARED
    *    nBuckets exceeds `skewThreshold` — hot terms concentrating the
    *    postings, so probes hashing into the hot bucket read
    *    disproportionate data. Action: rebuild with more buckets
    *    (compaction cannot move terms between buckets).
    *
    * Cost: one driver-side bucket census (≤ nBuckets directory listings
    * — the same census [[compact]] uses, so compacting an index this
    * reports as one file per bucket costs one listing and no job) plus
    * one column-pruned count over the postings, read with their schema
    * declared (no inference job) — safe after every append.
    */
  case class TextIndexMaintenance(fileTrigger: Boolean, skewTrigger: Boolean,
    action: String, maxFilesPerBucket: Long, nFiles: Long,
    skewRatio: Double, maxBucketRows: Long, avgBucketRows: Double)

  def maintenanceDue(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 16,
      skewThreshold: Double = 8.0): TextIndexMaintenance = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    require(skewThreshold > 1.0, s"skewThreshold $skewThreshold must be > 1")
    val st = readStats(spark, path) // also enforces the pending-marker refusal
    val counts = IndexStore.bucketFileCounts(spark, path)
    val maxFiles = counts.maxOption.getOrElse(0).toLong
    val nFiles = counts.map(_.toLong).sum
    val occ = IndexStore.read(spark, path)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)),
        coalesce(sum(col("n")), lit(0L))).head()
    val avg = occ.getLong(1).toDouble / math.max(1, st.nBuckets)
    val skewRatio = if (avg > 0) occ.getLong(0) / avg else 0.0
    val fileT = maxFiles > maxFilesPerBucket
    val skewT = skewRatio > skewThreshold
    val action =
      if (skewT) "rebucket-rebuild"
      else if (fileT) "compact"
      else "none"
    TextIndexMaintenance(fileT, skewT, action, maxFiles, nFiles, skewRatio,
      occ.getLong(0), avg)
  }

  /** Takedown pass: drop documents from the index, compacting as it
    * goes. Stats decrement by the docs ACTUALLY PRESENT (sentinel rows
    * make zero-token docs visible, so N and avgdl stay exactly what a
    * rebuild on the surviving corpus would compute); maxId is NOT
    * lowered — ids are never reused.
    */
  def remove(spark: SparkSession, path: String, dropIds: DataFrame,
      idCol: String): Unit = {
    require(dropIds.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"TextIndex.remove requires a numeric id column: $idCol is " +
        dropIds.schema(idCol).dataType.simpleString)
    val ids = broadcast(
      dropIds.select(col(idCol).cast("long").as("doc_id")).distinct())
    // the present-docs/dl agg rides as a THUNK so the rewrite overlaps it
    // with the tmp rewrite (round-20, §2.6) — both read only the live
    // index; the refuse-to-empty check still precedes the swap
    rewriteIndex(spark, path, compactOnly = false,
      rel => rel.join(ids, Seq("doc_id"), "left_anti"),
      removed = () => {
        val present = IndexStore.read(spark, path)
          .select(col("doc_id"), col("dl")).distinct()
          .join(ids, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
        (present.getLong(0), present.getLong(1))
      })
  }

  /** The [[IndexStore]] rewrite shared by [[compact]] and [[remove]]:
    * N and avgdl drop by the `removed` (docs, Σdl) — refusing to empty
    * the index before anything is swapped. */
  private def rewriteIndex(spark: SparkSession, path: String,
      compactOnly: Boolean, transform: DataFrame => DataFrame,
      removed: () => (Long, Long)): Unit =
    textStore(spark, path).rewrite(compactOnly, transform, removed) {
      case (raw, (removedDocs, removedDl)) =>
        val st = Stats.parse(path, raw)
        val n2 = st.n - removedDocs
        if (!(n2 > 0))
          throw new IllegalArgumentException(
            "requirement failed: TextIndex.remove would remove every indexed " +
              "document — delete the index and TextIndex.write a new corpus " +
              "instead")
        st.copy(n = n2, avgdl =
          if (removedDocs == 0) st.avgdl
          else (st.n * st.avgdl - removedDl) / n2).json
    }

  /** BM25 top-k over the index for a literal term set. Scans ONLY the
    * partitions the query terms hash to.
    */
  def search(spark: SparkSession, path: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val st = readStats(spark, path)
    val n = st.n; val avgdl = st.avgdl; val nBuckets = st.nBuckets.toLong
    val terms = queryTerms.filter(_.nonEmpty) // "" is the sentinel term
    val buckets = terms
      .map(t => math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), nBuckets))
      .distinct
    val hits = IndexStore.read(spark, path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val dfreq = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    hits.join(broadcast(dfreq), "term")
      .withColumn("__idf", log((lit(n) - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s", col("__idf") * col("tf") * lit(k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(sum(col("__s")).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 for a BOUNDED batch of term-set queries in ONE pruned scan —
    * the retrieval-eval serving shape (mirrors
    * [[graft.operators.Similarity.ivfPqTopKIndexedBatch]] for the vector
    * index): the scan prunes to the UNION of all queries' term buckets,
    * per-term df and scores are computed once, and a broadcast
    * (query, term) relation fans each term row out to the queries using
    * it; the per-query cut is a query-partitioned window. Output:
    * (query_id, doc_id, bm25, n_terms), up to k rows per query.
    *
    * Bounded-batch contract, enforced: at most `maxBatch` queries and
    * `maxBatchTerms` distinct (query, term) pairs — both end up in
    * driver-built broadcasts (the term `isin` pushdown list and the
    * fan-out relation), so an unbounded batch refuses with a sizing
    * message instead of OOM-ing the driver. Slice bigger workloads.
    */
  def searchBatch(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[String])], k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxBatch: Int = 65536,
      maxBatchTerms: Int = 1000000): DataFrame = {
    require(queries.nonEmpty, "searchBatch: empty query batch")
    require(maxBatch >= 1, s"maxBatch $maxBatch must be >= 1")
    require(queries.size <= maxBatch,
      s"searchBatch: ${queries.size} queries exceed maxBatch=$maxBatch — " +
        "the batched search broadcasts a per-query term relation and is " +
        "for bounded eval batches; slice the workload or raise maxBatch " +
        "with the driver memory to match")
    val st = readStats(spark, path)
    val n = st.n; val avgdl = st.avgdl; val nBuckets = st.nBuckets.toLong
    // (qid, term) pairs must be unique or a repeated qid would double-
    // count its overlapping terms — repeated qids merge their term sets
    val qterms: Seq[(Long, String)] = queries.groupBy(_._1).toSeq
      .flatMap { case (qid, qs) =>
        qs.flatMap(_._2).filter(_.nonEmpty) // "" is the sentinel term
          .distinct.map(qid -> _)
      }
    require(qterms.nonEmpty, "searchBatch: every query is empty")
    require(qterms.size <= maxBatchTerms,
      s"searchBatch: ${qterms.size} (query, term) pairs exceed " +
        s"maxBatchTerms=$maxBatchTerms — shrink the batch or its term " +
        "sets, or raise the cap with the driver memory to match")
    val terms = qterms.map(_._2).distinct
    val buckets = terms
      .map(t => math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), nBuckets))
      .distinct
    val hits = IndexStore.read(spark, path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val dfreq = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    import spark.implicits._
    val qt = broadcast(qterms.toDF("query_id", "term"))
    val scored = hits.join(broadcast(dfreq), "term")
      .withColumn("__idf", log((lit(n) - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s", col("__idf") * col("tf") * lit(k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .join(qt, "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__s")).as("bm25"), count(lit(1)).as("n_terms"))
    graft.operators.Ops.topKPerGroup(scored, Seq("query_id"),
      Seq(col("bm25").desc, col("doc_id").asc), k)
  }
}
