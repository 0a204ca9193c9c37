package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, TextIndex}

class TextIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def corpus() = Seq(
    (1L, "spark streaming joins the query planner"),
    (2L, "spark spark spark"),
    (3L, "a completely different document about nothing"),
    (4L, "query planner and query optimizer"),
    (5L, "join the spark query club today")).toDF("doc_id", "text")

  test("index search matches direct bm25 exactly and prunes partitions") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tix").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 64)

    val terms = Seq("spark", "query", "join")
    val probe = TextIndex.search(spark, path, terms, k = 10)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected partition-pruned postings scan:\n$plan")

    val viaIndex = probe.collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9, r.getLong(2)))
    val direct = Curation.bm25(docs, "doc_id", "text", terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(10).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9, r.getLong(2)))
    assert(viaIndex.toSeq == direct.toSeq)
  }

  test("searchBatch equals per-query searches in one pruned scan") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tixb")
      .resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 64)
    val queries = Seq(10L -> Seq("spark", "query"), 20L -> Seq("join"),
      30L -> Seq("absentterm"))
    val batchDf = TextIndex.searchBatch(spark, path, queries, k = 10)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9, r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4))
        .sortBy(x => (-x._2, x._1)).toSeq).toMap
    queries.foreach { case (qid, terms) =>
      val single = TextIndex.search(spark, path, terms, k = 10).collect()
        .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9,
          r.getLong(2))).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"qid=$qid: ${batch.getOrElse(qid, Seq.empty)} vs $single")
    }
    // one scan, still bucket-pruned
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected partition-pruned postings scan:\n$plan")
    // bounded-batch contract enforced: over-maxBatch query count and
    // over-budget (query, term) fan-out both refuse loudly
    val eBatch = intercept[IllegalArgumentException] {
      TextIndex.searchBatch(spark, path, queries, k = 10, maxBatch = 2)
    }
    assert(eBatch.getMessage.contains("maxBatch"), eBatch.getMessage)
    val eTerms = intercept[IllegalArgumentException] {
      TextIndex.searchBatch(spark, path, queries, k = 10, maxBatchTerms = 3)
    }
    assert(eTerms.getMessage.contains("maxBatchTerms"), eTerms.getMessage)
  }

  test("empty corpus refuses BEFORE touching disk — no half-built index") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val path = java.nio.file.Files.createTempDirectory("tix3").resolve("idx").toString
    intercept[IllegalArgumentException] {
      TextIndex.write(empty, "doc_id", "text", path)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      "refusal must leave no postings directory behind")
  }

  test("rolling append: equals a rebuilt index, replay idempotent, marker lifecycle") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tix4").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 32)
    val batch = Seq(
      (10L, "spark query acceleration with vectorized joins"),
      (11L, ""), // zero-token doc: must still count in N/avgdl (sentinel)
      (12L, "totally unrelated appended padding document"))
      .toDF("doc_id", "text")
    TextIndex.append(batch, "doc_id", "text", path)
    val marker = java.nio.file.Paths.get(path, "_pending_append.json")
    assert(!java.nio.file.Files.exists(marker), "append must clear its marker")
    val terms = Seq("spark", "query", "join")
    val rolled = TextIndex.search(spark, path, terms, 20).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toSeq
    val rebuiltPath = java.nio.file.Files.createTempDirectory("tix5")
      .resolve("idx").toString
    TextIndex.write(docs.unionByName(batch), "doc_id", "text", rebuiltPath,
      nBuckets = 32)
    val rebuilt = TextIndex.search(spark, rebuiltPath, terms, 20).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toSeq
    assert(rolled == rebuilt, s"rolled $rolled vs rebuilt $rebuilt")
    // EXACT replay of the last committed batch: idempotent no-op (the
    // at-least-once redelivery case), index untouched
    val before = spark.read.parquet(path).count()
    TextIndex.append(batch, "doc_id", "text", path)
    assert(spark.read.parquet(path).count() == before,
      "an exact replay must no-op")
    // overlapping-but-UNEQUAL range: a numbering bug — refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextIndex.append(Seq((12L, "stale id reused")).toDF("doc_id", "text"),
        "doc_id", "text", path)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    assert(spark.read.parquet(path).count() == before)
    // a stranded marker blocks every entry point until rebuild clears it
    java.nio.file.Files.write(marker, "{}".getBytes("UTF-8"))
    for (op <- Seq[() => Any](
        () => TextIndex.search(spark, path, terms, 5),
        () => TextIndex.append(Seq((99L, "zz")).toDF("doc_id", "text"),
          "doc_id", "text", path),
        () => TextIndex.compact(spark, path))) {
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("_pending_append"), ex.getMessage)
    }
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 32)
    assert(!java.nio.file.Files.exists(marker), "rebuild clears the marker")
  }

  test("remove restores exact rebuild stats, zero-token docs included") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tix6").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 32)
    val statsBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_text_index_stats.json")), "UTF-8")
    val batch = Seq(
      (10L, "spark spark extra mass that would shift every idf"),
      (11L, "")) // zero-token: invisible without the sentinel registry
      .toDF("doc_id", "text")
    TextIndex.append(batch, "doc_id", "text", path)
    TextIndex.compact(spark, path)
    // drop list includes an id that was never indexed — must not drift N
    TextIndex.remove(spark, path,
      Seq(10L, 11L, 999L).toDF("doc_id"), "doc_id")
    val statsAfter = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_text_index_stats.json")), "UTF-8")
    def field(s: String, k: String): Double =
      ("\"" + k + "\":([-0-9.eE]+)").r.findFirstMatchIn(s).get.group(1).toDouble
    assert(field(statsAfter, "n") == field(statsBefore, "n"),
      s"N must return to the pre-append value: $statsAfter vs $statsBefore")
    assert(math.abs(field(statsAfter, "avgdl") - field(statsBefore, "avgdl")) < 1e-9,
      s"avgdl must return to the pre-append value: $statsAfter vs $statsBefore")
    // and the search equals the original-corpus index bit-for-bit at 9 dp
    val terms = Seq("spark", "query", "join")
    val got = TextIndex.search(spark, path, terms, 10).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toSeq
    val fresh = java.nio.file.Files.createTempDirectory("tix7").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", fresh, nBuckets = 32)
    val want = TextIndex.search(spark, fresh, terms, 10).collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toSeq
    assert(got == want, s"$got vs $want")
    // refusing to empty the index outright
    val e = intercept[IllegalArgumentException] {
      TextIndex.remove(spark, path, docs.select("doc_id"), "doc_id")
    }
    assert(e.getMessage.contains("every indexed document"), e.getMessage)
  }

  test("stale _old stash from a crashed rewrite: compact refuses, rebuild clears") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tix8").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 8)
    // simulate a prior compact/remove that crashed mid-swap: its stash dir
    // survives. A blind rename(live, stash) would NEST live inside it and
    // swap over polluted state — the rewrite must refuse instead.
    val stash = java.nio.file.Paths.get(path).resolveSibling("_idx_old")
    java.nio.file.Files.createDirectory(stash)
    val e = intercept[IllegalStateException](TextIndex.compact(spark, path))
    assert(e.getMessage.contains("_old"), e.getMessage)
    // the live index is untouched and still serves
    assert(TextIndex.search(spark, path, Seq("spark"), 5).collect().nonEmpty)
    // the crashed rewrite's tmp copy survived too
    val tmpRoot = java.nio.file.Paths.get(path).resolveSibling("_compact_tmp")
    val tmpPart = tmpRoot.resolve("idx").resolve("bucket=0").resolve("part-0.parquet")
    java.nio.file.Files.createDirectories(tmpPart.getParent)
    java.nio.file.Files.write(tmpPart, Array[Byte](1, 2, 3))
    // rebuild (the documented recovery) clears the stash and the tmp;
    // compact then works
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 8)
    assert(!java.nio.file.Files.exists(stash), "rebuild must clear the stash")
    assert(!java.nio.file.Files.exists(tmpRoot), "rebuild must clear _compact_tmp")
    TextIndex.compact(spark, path)
    assert(TextIndex.search(spark, path, Seq("spark"), 5).collect().nonEmpty)
  }

  test("search only reads the buckets its terms hash to") {
    val docs = corpus()
    val path = java.nio.file.Files.createTempDirectory("tix2").resolve("idx").toString
    TextIndex.write(docs, "doc_id", "text", path, nBuckets = 256)
    // single-term probe: exactly one bucket directory may be listed
    val probe = TextIndex.search(spark, path, Seq("spark"), 5)
    val scan = probe.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"))
    assert(probe.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
  }

  test("append replay fingerprint: range collision with different ids refuses") {
    val path = java.nio.file.Files.createTempDirectory("tixfp")
      .resolve("idx").toString
    TextIndex.write(corpus(), "doc_id", "text", path, nBuckets = 16)
    val b1 = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon zeta"),
      (15L, "eta theta iota")).toDF("doc_id", "text")
    TextIndex.append(b1, "doc_id", "text", path)
    val before = spark.read.parquet(path).count()
    TextIndex.append(b1, "doc_id", "text", path) // exact replay: no-op
    assert(spark.read.parquet(path).count() == before)
    // same (min=10, max=15, n=3) but ids {10,13,15}: not a replay
    val b2 = Seq((10L, "alpha beta gamma"), (13L, "kappa lambda mu"),
      (15L, "eta theta iota")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      TextIndex.append(b2, "doc_id", "text", path)
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    assert(spark.read.parquet(path).count() == before,
      "a refused range-collision must leave the index untouched")
  }

  test("maintenanceDue: appends trip the file trigger, compact clears it; " +
      "hot-term concentration trips the skew trigger") {
    val path = java.nio.file.Files.createTempDirectory("tix6")
      .resolve("idx").toString
    TextIndex.write(corpus(), "doc_id", "text", path, nBuckets = 8)
    val fresh = TextIndex.maintenanceDue(spark, path,
      maxFilesPerBucket = 2)
    assert(!fresh.fileTrigger && fresh.action != "compact", fresh.toString)
    // three appends -> up to 4 files in a touched bucket (> 2)
    for (b <- 0 until 3) {
      val batch = Seq((100L + b, "spark query join extra words here"))
        .toDF("doc_id", "text")
      TextIndex.append(batch, "doc_id", "text", path)
    }
    val aged = TextIndex.maintenanceDue(spark, path, maxFilesPerBucket = 2)
    assert(aged.fileTrigger && aged.action == "compact", aged.toString)
    TextIndex.compact(spark, path)
    val compacted = TextIndex.maintenanceDue(spark, path,
      maxFilesPerBucket = 2)
    assert(!compacted.fileTrigger && compacted.action == "none",
      compacted.toString)
    assert(compacted.maxFilesPerBucket == 1, compacted.toString)
    IndexCheck.assertFreeCompaction(path)(TextIndex.compact(spark, path))

    // skew: one hot term dominating the postings concentrates one bucket
    val hotPath = java.nio.file.Files.createTempDirectory("tix7")
      .resolve("idx").toString
    val hot = (1L to 200L).map(i => (i, "hotterm"))
      .toDF("doc_id", "text")
    TextIndex.write(hot, "doc_id", "text", hotPath, nBuckets = 8)
    val skewed = TextIndex.maintenanceDue(spark, hotPath,
      skewThreshold = 4.0)
    assert(skewed.skewTrigger && skewed.action == "rebucket-rebuild",
      skewed.toString)
  }
}
