package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexStore, Similarity, TextIndex}

class IndexLifecycleCostSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpIdx(prefix: String) =
    Files.createTempDirectory(prefix).resolve("idx").toString

  private val words = Seq("spark", "query", "planner", "river", "bank", "fox",
    "lazy", "dog", "catalyst", "tungsten", "stream", "state", "join", "index")

  private def docs(from: Long, to: Long) = (from to to).map { i =>
    (i, (0 until 8).map(j => words(((i * 7 + j * j * 3 + j) % words.size).toInt))
      .mkString(" ") + s" doc$i")
  }.toDF("doc_id", "text")

  private def vecs(from: Long, to: Long, idCol: String = "vec_id") =
    spark.range(from, to + 1).select(col("id").as(idCol),
      expr("transform(sequence(0, 15), d -> " +
        "CAST(pmod(id * (d + 7) + d, 53) AS DOUBLE) / 53.0)").as("embedding"))

  test("compacting an already-compact index runs no job and changes no byte") {
    val sig = tmpIdx("graft_cost_sig")
    Dedup.writeSignatureIndex(docs(1, 40), "doc_id", "text", sig,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    IndexCheck.assertFreeCompaction(sig)(Dedup.compactSignatureIndex(spark, sig))
    // removal leaves one file per bucket: the compaction that follows it
    // (the rolling-maintenance cycle) is free too
    Dedup.removeFromSignatureIndex(spark, sig, Seq(3L, 4L).toDF("doc_id"), "doc_id")
    IndexCheck.assertFreeCompaction(sig)(Dedup.compactSignatureIndex(spark, sig))

    val text = tmpIdx("graft_cost_text")
    TextIndex.write(docs(1, 40), "doc_id", "text", text, nBuckets = 8)
    IndexCheck.assertFreeCompaction(text)(TextIndex.compact(spark, text))
    assert(!Files.exists(Paths.get(text).resolveSibling("_compact_tmp")) &&
      !Files.exists(Paths.get(text).resolveSibling("_idx_old")))

    val pq = tmpIdx("graft_cost_pq")
    Similarity.writeIvfPqIndex(vecs(0, 59), "vec_id", "embedding", pq,
      nLists = 4, m = 4, nCodes = 4)
    IndexCheck.assertFreeCompaction(pq)(Similarity.compactIvfPqIndex(spark, pq))
    Similarity.removeFromIvfPqIndex(spark, pq, Seq(5L).toDF("vec_id"), "vec_id")
    IndexCheck.assertFreeCompaction(pq)(Similarity.compactIvfPqIndex(spark, pq))
  }

  test("signature compaction rewrites only the relations with a multi-file bucket") {
    val sig = tmpIdx("graft_cost_sigrel")
    Dedup.writeSignatureIndex(docs(1, 40), "doc_id", "text", sig,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    // dirty docs/ alone (a second file in one bucket): only docs/ is
    // rewritten, the other relations' files stay byte-identical
    val bucket = Files.list(Paths.get(sig, "docs")).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("ib=")).next()
    val part = Files.list(bucket).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    Files.copy(part, bucket.resolve("part-99999-copy.parquet"))
    val others = Seq("postings", "hashes").map(r => r -> IndexCheck.snapshot(s"$sig/$r")).toMap
    val (_, jobs) = JobLog.of(spark)(Dedup.compactSignatureIndex(spark, sig))
    assert(jobs.nonEmpty, "a multi-file bucket must be compacted")
    assert(IndexStore.bucketFileCounts(spark, s"$sig/docs").forall(_ == 1))
    for ((r, snap) <- others)
      assert(IndexCheck.snapshot(s"$sig/$r") == snap, s"$r was rewritten")
  }

  test("index relations are read with exactly the schema inference returns") {
    def check(dir: String): Unit = {
      assert(IndexStore.schemaOf(spark, dir).isDefined,
        s"$dir: schema not taken from the files")
      val declared = IndexStore.read(spark, dir).schema
      val inferred = spark.read.parquet(dir).schema
      assert(declared == inferred, s"$dir:\n$declared\nvs inferred\n$inferred")
    }
    val sig = tmpIdx("graft_schema_sig")
    Dedup.writeSignatureIndex(docs(1, 40), "doc_id", "text", sig,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    Dedup.appendToSignatureIndex(docs(41, 50), "doc_id", "text", sig)
    Seq("docs", "postings", "hashes").foreach(r => check(s"$sig/$r"))
    assert(IndexStore.schemaOf(spark, s"$sig/docs").get("ib")
      .dataType == org.apache.spark.sql.types.IntegerType)

    val text = tmpIdx("graft_schema_text")
    TextIndex.write(docs(1, 40), "doc_id", "text", text, nBuckets = 8)
    TextIndex.append(docs(41, 50), "doc_id", "text", text)
    check(text)

    // the codes' id column is named by the caller, and list ids are
    // vector ids: past Int.MaxValue the list column infers as BIGINT
    val big = 5000000000L
    val plain = tmpIdx("graft_schema_pq")
    Similarity.writeIvfPqIndex(vecs(big, big + 59, "item"), "item", "embedding",
      plain, nLists = 4, m = 4, nCodes = 4)
    Similarity.appendToIvfPqIndex(vecs(big + 60, big + 79, "item"), "item",
      "embedding", plain)
    check(s"$plain/codes")
    assert(IndexStore.schemaOf(spark, s"$plain/codes").get("ivf_list")
      .dataType == org.apache.spark.sql.types.LongType)
    val resid = tmpIdx("graft_schema_pqr")
    Similarity.writeIvfPqIndex(vecs(0, 59), "vec_id", "embedding", resid,
      nLists = 4, m = 4, nCodes = 4, residual = true)
    check(s"$resid/codes")
  }

  test("removeFromSignatureIndex runs no schema-inference job") {
    val sig = tmpIdx("graft_schema_rm")
    Dedup.writeSignatureIndex(docs(1, 40), "doc_id", "text", sig,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    def inference(jobs: Seq[Seq[String]]) =
      jobs.filter(_.exists(_.startsWith("parquet at")))
    // control: an inferring read does show up as such a job
    val (_, control) = JobLog.of(spark)(spark.read.parquet(s"$sig/docs"))
    assert(inference(control).nonEmpty, s"detector saw no inference job: $control")
    val (_, jobs) = JobLog.of(spark)(
      Dedup.removeFromSignatureIndex(spark, sig, Seq(3L).toDF("doc_id"), "doc_id"))
    assert(jobs.nonEmpty)
    assert(inference(jobs).isEmpty, s"inference jobs: ${inference(jobs)}")
  }
}
