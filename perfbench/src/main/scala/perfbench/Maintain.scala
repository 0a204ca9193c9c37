package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Graph, Similarity, TextIndex}
import graft.sources.JsonlDocs
import Trace.span

/** Rolling maintenance of the three persisted indexes (signature,
  * inverted text, IVF-PQ) over a seeded corpus. Set-up builds them; a
  * pass is one ingestion cycle:
  *
  *  - read a seeded wave (documents, vectors, links) through the JSONL
  *    source; a fifth of its documents are exact or one-word-drop copies
  *    of base documents, a twentieth carry a span of a benchmark text;
  *  - decontaminate the wave against the benchmark texts;
  *  - deduplicate it against the signature index and append the
  *    survivors to all three indexes;
  *  - recompute link authority (PageRank) over the whole link graph;
  *  - take down about 2 % of the live ids from every index;
  *  - ask each index whether maintenance is due and compact it.
  *
  * Every step is checked against the planted truth or an exact
  * driver-side reference. After the last cycle each index must answer
  * exactly as a fresh build over the surviving rows would (see
  * [[finish]]), and no staging debris may be left.
  */
final class MaintainWorkload extends Workload {
  val nDocs = 1000
  val nVecs = 500
  val waveDocs = 150
  val waveVecs = 60
  val linksPerDoc = 4
  val nBench = 40
  val maxWaves = 8
  private var c: Corpus = _
  private val liveDocs = scala.collection.mutable.LinkedHashMap.empty[Long, String]
  private val liveVecs = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val allLinks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  /** Every link read so far, base and waves. */
  private var graph: DataFrame = _
  private var cycle = 0
  private var editedSeen = 0
  private var editedCaught = 0

  def itemUnit = "wave rows"
  def sizes: Seq[(String, Any)] = Seq("base_docs" -> nDocs, "base_vectors" -> nVecs, "dim" -> 64,
    "links_per_doc" -> linksPerDoc, "bench_texts" -> nBench, "wave_docs" -> waveDocs,
    "wave_vectors" -> waveVecs, "wave_dup_share" -> 0.2, "wave_contaminated_share" -> 0.05,
    "remove_share" -> 0.02, "compact_every" -> 1,
    "edited_copies_seen" -> editedSeen, "edited_copies_caught" -> editedCaught)

  private def root(ctx: Ctx) = new File(ctx.dir, "idx")

  private def benchTexts(seed: Long): Seq[String] = {
    val r = Gen.rng(seed, 51)
    Seq.fill(nBench) {
      val src = c.docs(r.nextInt(nDocs))._2.split(" ")
      val start = r.nextInt(math.max(1, src.length - 12))
      src.slice(start, start + 12).mkString(" ")
    }
  }

  /** Wave `w`: ids continue after every earlier wave. Documents are fresh
    * Zipf texts, exact or one-word-drop copies of base documents, or fresh
    * texts carrying a benchmark span; vectors are fresh or near-copies of
    * base vectors; every document links to earlier documents.
    */
  private def wave(seed: Long, w: Int): (Seq[(Long, String, Long)], Seq[(Long, Array[Double])], Seq[(Long, Long)]) = {
    val r = Gen.rng(seed, 1000 + w)
    val z = new Gen.Zipf(c.words.length)
    val bench = benchTexts(seed)
    val d0 = nDocs.toLong + w.toLong * waveDocs
    def fresh() = Array.fill(20 + r.nextInt(41))(c.words(z(r))).mkString(" ")
    val docs = (0 until waveDocs).map { i =>
      val id = d0 + i
      if (i % 5 == 0) {
        val src = r.nextInt(nDocs)
        val ws = c.docs(src)._2.split(" ")
        val t = if (i % 10 == 0) ws.mkString(" ") else { val k = r.nextInt(ws.length); (ws.take(k) ++ ws.drop(k + 1)).mkString(" ") }
        (id, t, src.toLong)
      } else if (i % 20 == 1) (id, fresh() + " " + bench(r.nextInt(nBench)) + " " + fresh(), -1L)
      else (id, fresh(), -1L)
    }
    val v0 = nVecs.toLong + w.toLong * waveVecs
    val vecs = (0 until waveVecs).map { i =>
      val base = if (i % 5 == 0) c.vectors(r.nextInt(nVecs))._2 else Array.fill(64)(r.nextDouble() * 2 - 1)
      (v0 + i, base.map(x => Gen.fmt(x + (r.nextDouble() - 0.5) * 0.01).toDouble))
    }
    val links = docs.flatMap { case (id, _, _) => Seq.fill(3)((id, r.nextLong(id))) }.distinct
    (docs, vecs, links)
  }

  def prepare(ctx: Ctx): Unit = {
    c = Corpus(ctx.seed, nDocs, nVecs, linksPerDoc = linksPerDoc)
    c.writeDocs(new File(ctx.inputs, "docs"))
    c.writeVectors(new File(ctx.inputs, "vecs"))
    c.writeLinks(new File(ctx.inputs, "links/links.jsonl"))
    Gen.write(new File(ctx.inputs, "bench/bench.jsonl")) { out =>
      benchTexts(ctx.seed).zipWithIndex.foreach { case (t, i) => out(CorpusIO.docLine(i, t, "bench")) }
    }
    (0 until maxWaves).foreach { w =>
      val (docs, vecs, links) = wave(ctx.seed, w)
      val dir = new File(ctx.inputs, f"waves/$w%03d")
      Gen.write(new File(dir, "docs.jsonl"))(out => docs.foreach { case (id, t, _) => out(CorpusIO.docLine(id, t, "wave")) })
      Gen.write(new File(dir, "vecs.jsonl"))(out => vecs.foreach { case (id, v) => out(CorpusIO.vecLine(id, v)) })
      Gen.write(new File(dir, "links.jsonl"))(out => links.foreach { case (a, b) => out(s"""{"src":$a,"dst":$b}""") })
    }
  }

  /** The three indexes are independent and are built concurrently. */
  override def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = CorpusIO.docs(spark, new File(ctx.inputs, "docs"))
    val vecs = CorpusIO.vecs(spark, new File(ctx.inputs, "vecs"))
    graph = CorpusIO.links(spark, new File(ctx.inputs, "links"))
    Par.run(() => Idx.buildSig(ctx, root(ctx), docs), () => Idx.buildText(ctx, root(ctx), docs),
      () => Idx.buildPq(ctx, root(ctx), vecs))
    c.docs.foreach(d => liveDocs(d._1) = d._2)
    c.vectors.foreach(v => liveVecs(v._1) = v._2)
    allLinks ++= c.links
    docs.unpersist(); vecs.unpersist()
  }

  def pass(ctx: Ctx, out: File): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val w = cycle
    cycle += 1
    val wdir = new File(ctx.inputs, f"waves/$w%03d")
    val (waveD, waveV, waveL) = wave(ctx.seed, w)
    val idx = root(ctx)
    val docs = ctx.op("read wave")(CorpusIO.docs(spark, new File(wdir, "docs.jsonl"))).get
    val vecs = ctx.op("read wave vectors")(CorpusIO.vecs(spark, new File(wdir, "vecs.jsonl"))).get
    val links = ctx.op("read wave links")(CorpusIO.links(spark, new File(wdir, "links.jsonl"))).get
    val bench = JsonlDocs.read(spark, new File(ctx.inputs, "bench").getPath, CorpusIO.docSchema)
      .select(col("text").as("bench_text"))

    // decontaminate against the benchmark texts (8-gram overlap)
    val clean = ctx.op("Curation.decontaminated")(span("operators.Curation")(CorpusIO.pinned(
      Curation.decontaminated(docs, "doc_id", "text", bench, "bench_text", 8))))
    val cleanIds = clean.map(_.select(col("doc_id")).collect().map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
    ctx.check("decontaminated", cleanIds, CorpusIO.tamperIds) { k =>
      val bg = benchTexts(ctx.seed).flatMap(CorpusIO.grams(_, 8)).toSet
      val want = waveD.filter(d => !CorpusIO.grams(d._2, 8).exists(bg)).map(_._1).toSet
      if (k == want) None else Some(s"kept ${k.size} wave docs, exact reference keeps ${want.size}")
    }

    // dedup against the rolling signature index, append survivors everywhere
    val kept = clean.flatMap(cl => ctx.op("Dedup.dedupIncrementalIndexed")(span("operators.Dedup")(
      Dedup.dedupIncrementalIndexed(cl, Idx.sig(idx), "doc_id", "text", threshold = Idx.Threshold)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet))).getOrElse(Set.empty[Long])
    val (ofLive, other) = waveD.filter(d => cleanIds(d._1))
      .partition { case (_, _, src) => src >= 0 && liveDocs.contains(src) }
    val exactLive = ofLive.filter { case (_, t, src) => t == liveDocs(src) }.map(_._1)
    val edited = ofLive.map(_._1).filterNot(exactLive.contains)
    editedCaught += edited.count(id => !kept(id)); editedSeen += edited.size
    ctx.check("dedupIncrementalIndexed", kept, CorpusIO.tamperIds) { k =>
      // exact copies of a live doc go; copies of a removed doc and fresh
      // docs stay. A one-word-drop copy (Jaccard ~0.85) becomes an LSH
      // candidate with probability 1-(1-J^4)^4 ~ 0.95 at 4 bands of 4
      // rows, so single misses are the index's contract; below half
      // caught, the detector is broken.
      val bad = exactLive.filter(k) ++ other.map(_._1).filterNot(k)
      if (bad.nonEmpty) Some(s"${bad.size} wave docs against the planted truth, first ${bad.head}")
      else if (edited.nonEmpty && edited.count(id => !k(id)) * 2 < edited.size)
        Some(s"caught ${edited.count(id => !k(id))} of ${edited.size} edited copies")
      else None
    }
    val survivors = CorpusIO.pinned(docs.filter(col("doc_id").isin(kept.toSeq: _*)))
    ctx.op("Dedup.appendToSignatureIndex")(span("operators.Dedup")(
      Dedup.appendToSignatureIndex(survivors, "doc_id", "text", Idx.sig(idx))))
    ctx.op("TextIndex.append")(span("operators.TextIndex")(
      TextIndex.append(survivors, "doc_id", "text", Idx.text(idx))))
    ctx.op("Similarity.appendToIvfPqIndex")(span("operators.Similarity")(
      Similarity.appendToIvfPqIndex(vecs, "vec_id", "embedding", Idx.pq(idx))))
    waveD.filter(d => kept(d._1)).foreach(d => liveDocs(d._1) = d._2)
    waveV.foreach(v => liveVecs(v._1) = v._2)

    // link authority over the whole graph so far
    allLinks ++= waveL
    graph = graph.unionByName(links)
    ctx.op("Graph.pageRankInt")(span("operators.Graph")(Graph.pageRankInt(graph, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)).foreach { ranks =>
      ctx.check("pageRankInt", ranks, (m: Map[Long, Long]) => m.updated(m.keys.min, m(m.keys.min) + 1)) { m =>
        val ref = CorpusIO.pageRankRef(allLinks.toSeq, 4)
        if (m == ref) None else Some(s"${ref.count { case (k, v) => !m.get(k).contains(v) }} ranks differ from the exact lattice")
      }
    }

    // takedown of ~2 % of the live ids
    val r = Gen.rng(ctx.seed, 5000 + w)
    def pick[V](live: collection.Map[Long, V]): Seq[Long] = {
      val ids = live.keys.toIndexedSeq
      r.ints((ids.size * 0.02).toLong, 0, ids.size).toArray.distinct.map(ids).toSeq
    }
    val dropDocs = pick(liveDocs)
    val dropVecs = pick(liveVecs)
    ctx.op("Dedup.removeFromSignatureIndex")(span("operators.Dedup")(
      Dedup.removeFromSignatureIndex(spark, Idx.sig(idx), dropDocs.toDF("doc_id"), "doc_id")))
    ctx.op("TextIndex.remove")(span("operators.TextIndex")(
      TextIndex.remove(spark, Idx.text(idx), dropDocs.toDF("doc_id"), "doc_id")))
    ctx.op("Similarity.removeFromIvfPqIndex")(span("operators.Similarity")(
      Similarity.removeFromIvfPqIndex(spark, Idx.pq(idx), dropVecs.toDF("vec_id"), "vec_id")))
    dropDocs.foreach(liveDocs.remove)
    dropVecs.foreach(liveVecs.remove)

    // a run measures about one cycle, so every cycle compacts: compacting
    // only every third cycle would leave it out of most runs
    ctx.op("Dedup.compactSignatureIndex")(span("operators.Dedup") {
      Dedup.signatureIndexMaintenanceDue(spark, Idx.sig(idx))
      Dedup.compactSignatureIndex(spark, Idx.sig(idx))
    })
    ctx.op("TextIndex.compact")(span("operators.TextIndex") {
      TextIndex.maintenanceDue(spark, Idx.text(idx))
      TextIndex.compact(spark, Idx.text(idx))
    })
    ctx.op("Similarity.compactIvfPqIndex")(span("operators.Similarity") {
      Similarity.maintenanceDue(spark, Idx.pq(idx))
      Similarity.compactIvfPqIndex(spark, Idx.pq(idx))
    })
    (Seq(docs, vecs, survivors) ++ clean).foreach(_.unpersist())
    (waveDocs + waveVecs).toLong
  }

  override def canPass: Boolean = cycle < maxWaves

  override def outBytes(ctx: Ctx, out: File): Long = Files.du(root(ctx))

  /** After the last cycle each index answers exactly as a fresh build over
    * the surviving rows would, computed independently on the driver: BM25
    * over the live documents, IVF-PQ codes and ADC from the live vectors
    * and the index's codebooks, and a probe wave whose exact copies of
    * live documents must be caught while copies of removed ones pass. The
    * three checks run concurrently, outside the timed window.
    */
  override def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val idx = root(ctx)
    ctx.check("no staging debris", Idx.debris(idx), (d: Seq[File]) => d :+ new File("_compact_tmp"))(d =>
      if (d.isEmpty) None else Some(s"left behind: ${d.map(_.getName).distinct.mkString(", ")}"))

    def text(): Unit = {
      val queries = Idx.termQueries(c, ctx.seed, 7001, 24)
      val ref = new Idx.Bm25Ref(liveDocs.toSeq)
      ctx.op("TextIndex.searchBatch")(
        TextIndex.searchBatch(spark, Idx.text(idx), queries, k = 10).collect()
          .map(r => (r.getAs[Long]("query_id"), (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))))
          .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSeq.sortBy(x => (-x._2, x._1)) })
        .foreach(got => ctx.check("text index vs fresh BM25", got, Idx.tamperRanking)(g =>
          queries.flatMap { case (q, t) => Idx.sameRanking(g.getOrElse(q, Nil), ref.topK(t, 10)) }.headOption))
    }

    def pq(): Unit = {
      val qv = Idx.vecQueries(liveVecs.toIndexedSeq, ctx.seed, 7002, 24)
      val ref = new Idx.AdcRef(Idx.pq(idx), liveVecs.toSeq)
      ctx.op("Similarity.ivfPqTopKIndexedBatch")(
        Similarity.ivfPqTopKIndexedBatch(spark, Idx.pq(idx), "vec_id",
          Idx.vecsDf(spark, qv).withColumnRenamed("vec_id", "qid"), "qid", "embedding", k = 10, nProbe = Idx.Probe)
          .collect().map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("vec_id"), r.getAs[Double]("adc"))))
          .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSeq.sortBy(x => (x._2, x._1)) })
        .foreach(got => ctx.check("IVF-PQ index vs fresh ADC", got, Idx.tamperRanking)(g =>
          qv.flatMap { case (q, v) => Idx.sameRanking(g.getOrElse(q, Nil), ref.topK(v, 10)) }.headOption))
    }

    def sig(): Unit = {
      val maxId = nDocs.toLong + maxWaves.toLong * waveDocs
      val live = liveDocs.toSeq.take(20)
      val removed = c.docs.filterNot(d => liveDocs.contains(d._1)).take(20).toSeq
      val probe = (live ++ removed).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t) }
      val want = probe.drop(live.size).map(_._1).toSet
      ctx.op("Dedup.dedupIncrementalIndexed")(
        Dedup.dedupIncrementalIndexed(Idx.docsDf(spark, probe), Idx.sig(idx), "doc_id", "text", threshold = Idx.Threshold)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
        .foreach(got => ctx.check("signature index vs fresh build", got, CorpusIO.tamperIds)(g =>
          if (g == want) None else Some(s"kept ${g.size} probe docs, a fresh build keeps ${want.size}")))
    }

    Par.run(text _, pq _, sig _)
  }
}
