package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Similarity, TextIndex}
import graft.sources.JsonlDocs
import Trace.span

/** Reading the generated corpus through the program's JSONL source. */
object CorpusIO {
  val docSchema: StructType = JsonlDocs.dolmaSchema
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))
  val linkSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def docs(spark: SparkSession, dir: File): DataFrame = span("sources") {
    pinned(JsonlDocs.read(spark, dir.getPath, docSchema)
      .select(col("id").cast("long").as("doc_id"), col("text")))
  }

  def vecs(spark: SparkSession, dir: File): DataFrame = span("sources") {
    pinned(JsonlDocs.read(spark, dir.getPath, vecSchema))
  }

  def links(spark: SparkSession, f: File): DataFrame = span("sources") {
    pinned(JsonlDocs.read(spark, f.getPath, linkSchema))
  }

  def grams(text: String, n: Int): Set[String] = {
    val w = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (w.length < n) Set(w.mkString(" ")).filter(_.nonEmpty)
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Integer-lattice PageRank exactly as documented on `Graph.pageRankInt`. */
  def pageRankRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val scale = 1000000L; val dn = 17L; val dd = 20L
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = nodes.map(_ -> scale).toMap
    val base = (dd - dn) * scale / dd
    (0 until iters).foreach { _ =>
      val in = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rank(s) / outdeg(s) }
      rank = nodes.map(v => v -> (base + dn * in(v) / dd)).toMap
    }
    rank
  }

  def docLine(id: Long, text: String, source: String): String =
    s"""{"id":"$id","text":"$text","source":"$source","added":"2015-01-01T00:00:00Z","metadata":{"n_chars":${text.length},"langs":["en"]}}"""

  def vecLine(id: Long, v: Array[Double]): String =
    s"""{"vec_id":$id,"embedding":[${v.map(Gen.fmt).mkString(",")}]}"""

  /** Drop one id from a result set. */
  def tamperIds(s: Set[Long]): Set[Long] =
    if (s.isEmpty) Set(-1L) else s - s.min
}

/** The three persisted index formats over one corpus, with exact
  * driver-side references for what they answer.
  */
object Idx {
  val SigParams = (2, 16, 4, 16) // shingleN, k, bands, nBuckets
  val Threshold = 0.6
  val Lists = 16
  val Probe = 4

  def sig(root: File) = new File(root, "sig").getPath
  def text(root: File) = new File(root, "text").getPath
  def pq(root: File) = new File(root, "pq").getPath

  def docsDf(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  def vecsDf(spark: SparkSession, vecs: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
  }

  def buildSig(ctx: Ctx, root: File, docs: DataFrame): Unit = {
    val (n, k, b, nb) = SigParams
    ctx.op("Dedup.writeSignatureIndex")(span("operators.Dedup")(
      Dedup.writeSignatureIndex(docs, "doc_id", "text", sig(root), shingleN = n, k = k, bands = b, nBuckets = nb)))
  }

  def buildText(ctx: Ctx, root: File, docs: DataFrame): Unit =
    ctx.op("TextIndex.write")(span("operators.TextIndex")(
      TextIndex.write(docs, "doc_id", "text", text(root), nBuckets = SigParams._4)))

  def buildPq(ctx: Ctx, root: File, vecs: DataFrame): Unit =
    ctx.op("Similarity.writeIvfPqIndex")(span("operators.Similarity")(
      Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", pq(root), nLists = Lists, m = 8, nCodes = 16)))

  /** (centroids, donors) from the IVF-PQ sidecar. */
  def codebooks(path: String): (Array[(Long, Array[Double])], Array[(Long, Array[Double])]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(path, "_ivfpq_meta.json"))
    def arr(name: String) = node.get(name).elements().asScala.map { e =>
      e.get("id").asLong() -> e.get("v").elements().asScala.map(_.asDouble()).toArray
    }.toArray
    (arr("centroids"), arr("donors"))
  }

  def sq(a: Array[Double], b: Array[Double], from: Int = 0, until: Int = -1): Double = {
    var s = 0.0; var i = from; val e = if (until < 0) a.length else until
    while (i < e) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** What a fresh IVF-PQ build with the index's codebooks answers,
    * computed from the raw vectors: each vector goes to its nearest
    * centroid and takes, per subspace, its nearest donor slice (ties to
    * the smaller id); a query probes the `Probe` nearest lists and ranks
    * rows by the summed squared distance to their code slices.
    */
  final class AdcRef(path: String, vecs: Seq[(Long, Array[Double])]) {
    val (centroids, donors) = codebooks(path)
    private val donorMap = donors.toMap
    private val m = 8
    private val sub = donors.head._2.length / m
    private def nearest(v: Array[Double], cands: Array[(Long, Array[Double])], from: Int, until: Int): Long =
      cands.map { case (id, c) => (sq(v, c, from, until), id) }.min._2
    val codes: Map[Long, Seq[(Long, Array[Long])]] = vecs.map { case (id, v) =>
      nearest(v, centroids, 0, v.length) -> (id, Array.tabulate(m)(j => nearest(v, donors, j * sub, (j + 1) * sub)))
    }.groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2) }

    def topK(q: Array[Double], k: Int): Seq[(Long, Double)] = {
      val lists = centroids.map { case (cid, cv) => (sq(q, cv), cid) }.sorted.take(Probe).map(_._2)
      lists.flatMap(l => codes.getOrElse(l, Nil)).map { case (id, cs) =>
        var s = 0.0; var j = 0
        while (j < m) { s += sq(q, donorMap(cs(j)), j * sub, (j + 1) * sub); j += 1 }
        id -> s
      }.sortBy { case (id, s) => (s, id) }.take(k).toSeq
    }
  }

  /** Exact BM25 (k1 = 1.2, b = 0.75) over whitespace tokens of lowercased text. */
  final class Bm25Ref(docs: Seq[(Long, String)]) {
    private val tf: Seq[(Long, Map[String, Int], Int)] = docs.map { case (id, t) =>
      val w = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (id, w.groupBy(identity).map { case (k, v) => k -> v.length }, w.length)
    }
    private val n = tf.size.toDouble
    private val avgdl = tf.map(_._3).sum / n
    private val df: Map[String, Int] =
      tf.flatMap(_._2.keys).groupBy(identity).map { case (k, v) => k -> v.size }

    def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
      val ts = terms.distinct
      tf.flatMap { case (id, f, dl) =>
        val hit = ts.filter(f.contains)
        if (hit.isEmpty) None
        else Some(id -> hit.map { t =>
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
          idf * f(t) * 2.2 / (f(t) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }.sum)
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  /** Two ranked lists agree: the same scores rank by rank, and the same ids
    * wherever the score is not tied with a neighbour.
    */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    if (got.size != want.size) return Some(s"${got.size} results, reference has ${want.size}")
    val bad = want.indices.filter { i =>
      val tied = want.indices.exists(j => j != i && close(want(j)._2, want(i)._2))
      !close(got(i)._2, want(i)._2) || (!tied && got(i)._1 != want(i)._1)
    }
    if (bad.isEmpty) None
    else Some(s"rank ${bad.head + 1}: got ${got(bad.head)}, reference ${want(bad.head)}")
  }

  def tamperRanking(rs: Map[Long, Seq[(Long, Double)]]): Map[Long, Seq[(Long, Double)]] = {
    val (q, r) = rs.find(_._2.nonEmpty).get
    rs.updated(q, (r.head._1, r.head._2 + 0.5) +: r.tail)
  }

  /** Index files a finished lifecycle step must not leave behind. */
  def debris(root: File): Seq[File] = Files.find(root) { n =>
    n == "_compact_tmp" || n.startsWith("_pending") || n.endsWith("_old") || n.startsWith("_codes_old")
  }

  /** Zipf term queries of 2 to 5 terms. */
  def termQueries(c: Corpus, seed: Long, salt: Long, n: Int): Seq[(Long, Seq[String])] = {
    val r = Gen.rng(seed, salt)
    val z = new Gen.Zipf(c.words.length)
    (0 until n).map(i => i.toLong -> Seq.fill(2 + r.nextInt(4))(c.words(z(r))))
  }

  /** Perturbed corpus vectors. */
  def vecQueries(vecs: IndexedSeq[(Long, Array[Double])], seed: Long, salt: Long, n: Int): Seq[(Long, Array[Double])] = {
    val r = Gen.rng(seed, salt)
    (0 until n).map { i =>
      val v = vecs(r.nextInt(vecs.size))._2
      i.toLong -> v.map(x => Gen.fmt(x + (r.nextDouble() - 0.5) * 0.1).toDouble)
    }
  }
}

