package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextIndex}

/** The checksummed local file system (what `file:` paths get) under the
  * `crash:` scheme, modelling a process that dies at the k-th
  * index-protocol call: that call and every later mutating call (of
  * Spark's writers too) fail. Protocol calls are the mutations of a
  * pending marker, a sidecar, a relation dir, a stash or the rewrite tmp,
  * recognised by name. */
class CrashFs extends LocalFileSystem(new CrashRawFs) {
  override def getScheme: String = "crash"
}

class CrashRawFs extends RawLocalFileSystem {
  import CrashFs.mutate
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    mutate(f); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutate(src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutate(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CrashFs.dieIfDead(); super.mkdirs(p, permission)
  }
}

object CrashFs {
  private val Names = Set("_pending_append.json", "_dedup_index_meta.json",
    "_text_index_stats.json", "_ivfpq_meta.json", "_compact_tmp",
    "docs", "postings", "hashes", "codes")
  private var armedAt = Int.MaxValue
  private var calls = 0
  private var dead = false

  private def protocol(p: Path): Boolean = {
    val n = p.getName
    Names(n) || (n.startsWith("_") && n.endsWith("_old")) ||
      Option(p.getParent).exists(_.getName == "_compact_tmp")
  }

  /** A create, rename or delete: counted when it is a protocol call. */
  def mutate(ps: Path*): Unit = synchronized {
    if (!dead && ps.exists(protocol)) { calls += 1; dead = calls >= armedAt }
    if (dead) throw new IOException(s"injected crash at ${ps.mkString(" -> ")}")
  }

  def dieIfDead(): Unit = synchronized {
    if (dead) throw new IOException("injected crash")
  }

  /** Run `f` with the process dying at protocol call `k`; true if it died. */
  def crashingAt(k: Int)(f: => Unit): (Boolean, Try[Unit]) = {
    synchronized { armedAt = k; calls = 0; dead = false }
    val r = Try(f)
    synchronized { val d = dead; armedAt = Int.MaxValue; dead = false; (d, r) }
  }
}

/** Crash-point fault injection for the three persisted indexes: every
  * lifecycle step (append, compaction of a dirty index, removal) is
  * killed at each of its protocol calls in turn. The crashed index is
  * then reopened through the plain `file:` path, where every entry point
  * must either answer exactly as a fresh build of the pre-op or of the
  * post-op corpus does, or refuse with an IllegalStateException that
  * names the recovery; after that recovery (a rebuild) no marker, stash
  * or `_compact_tmp` may remain.
  */
class IndexCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val words = Seq("spark", "query", "planner", "river", "bank", "fox",
    "lazy", "dog", "catalyst", "tungsten", "stream", "state", "join", "index")
  // seeded per id, so no two docs are near copies of each other
  private def text(i: Long) = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(words(r.nextInt(words.size))).mkString(" ") + s" doc$i"
  }
  private def docs(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")

  private def vecOf(id: Long): Array[Double] =
    Array.tabulate(16)(d => ((id * (d + 7) + d) % 53).toDouble / 53.0)
  private def vecs(ids: Seq[Long]) =
    ids.map(i => (i, vecOf(i).toSeq)).toDF("vec_id", "embedding")
  // fixed codebooks, so a fresh build of any corpus encodes exactly as
  // the rolling index does
  private val centroids = Array(1L, 2L, 3L, 4L).map(i => (i, vecOf(i)))
  private val donors = Array(5L, 6L, 7L, 8L).map(i => (i, vecOf(i)))

  private val base: Seq[Long] = 1L to 24L
  private val dirtying: Seq[Long] = 25L to 30L // appended before compaction
  private val batch: Seq[Long] = 31L to 36L    // the append under test
  private val dropped: Seq[Long] = Seq(2L, 3L) // the removal under test
  private val epBatch: Seq[Long] = 41L to 44L  // the entry point's append
  private val epDropped: Seq[Long] = Seq(5L, 7L)

  private def r9(x: Double) = math.rint(x * 1e9) / 1e9

  /** One index kind: its lifecycle, and the answers a probe and its
    * maintenance verdict give. */
  private case class Kind(name: String,
      build: (Seq[Long], String) => Unit,
      append: (Seq[Long], String) => Unit,
      compact: String => Unit,
      remove: (Seq[Long], String) => Unit,
      probe: String => Any,
      due: String => Any)

  private val sigKind = Kind("signature",
    (ids, p) => Dedup.writeSignatureIndex(docs(ids), "doc_id", "text", p,
      shingleN = 2, k = 16, bands = 4, nBuckets = 4),
    (ids, p) => Dedup.appendToSignatureIndex(docs(ids), "doc_id", "text", p),
    p => Dedup.compactSignatureIndex(spark, p),
    (ids, p) => Dedup.removeFromSignatureIndex(spark, p, ids.toDF("doc_id"), "doc_id"),
    // exact copies of a removed, a kept and an appended doc, near copies
    // of a kept and a removed doc, and a new doc: the removed doc's exact
    // copy tests `hashes/`, its near copy `postings/` and `docs/`
    p => Dedup.dedupIncrementalIndexed(
      Seq((100L, text(3)), (101L, text(5)), (102L, text(33)),
        (103L, text(9) + " extra"), (104L, "entirely new words here"),
        (105L, text(2) + " extra"))
        .toDF("doc_id", "text"), p, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet,
    p => { val m = Dedup.signatureIndexMaintenanceDue(spark, p)
      (m.maxBucketRows, m.avgBucketRows) })

  private val textKind = Kind("text",
    (ids, p) => TextIndex.write(docs(ids), "doc_id", "text", p, nBuckets = 4),
    (ids, p) => TextIndex.append(docs(ids), "doc_id", "text", p),
    p => TextIndex.compact(spark, p),
    (ids, p) => TextIndex.remove(spark, p, ids.toDF("doc_id"), "doc_id"),
    p => TextIndex.search(spark, p, Seq("spark", "river", "fox", "doc3"), 8)
      .collect().map(r => (r.getLong(0), r9(r.getDouble(1)))).toSeq,
    p => { val m = TextIndex.maintenanceDue(spark, p)
      (m.maxBucketRows, m.avgBucketRows) })

  private val pqKind = Kind("IVF-PQ",
    (ids, p) => Similarity.writeIvfPqIndex(vecs(ids), "vec_id", "embedding", p,
      nLists = 4, m = 4, nCodes = 4, centroidsOpt = Some(centroids),
      donorsOpt = Some(donors)),
    (ids, p) => Similarity.appendToIvfPqIndex(vecs(ids), "vec_id", "embedding", p),
    p => Similarity.compactIvfPqIndex(spark, p),
    (ids, p) => Similarity.removeFromIvfPqIndex(spark, p, ids.toDF("vec_id"), "vec_id"),
    p => Similarity.ivfPqTopKIndexed(spark, p, "vec_id", vecOf(3).toSeq, k = 8,
      nProbe = 4).collect().map(r => (r.getLong(0), r9(r.getDouble(1)))).toSeq,
    p => { val m = Similarity.maintenanceDue(spark, p); (m.maxList, m.avgList) })

  /** A lifecycle step: how its starting index is made, the step itself,
    * and the corpora before and after it. */
  private case class Step(name: String, prepare: (Kind, String) => Unit,
      run: (Kind, String) => Unit, pre: Seq[Long], post: Seq[Long])

  private val steps = Seq(
    Step("append", (k, p) => k.build(base, p), (k, p) => k.append(batch, p),
      base, base ++ batch),
    Step("compact", (k, p) => { k.build(base, p); k.append(dirtying, p) },
      (k, p) => k.compact(p), base ++ dirtying, base ++ dirtying),
    Step("remove", (k, p) => k.build(base, p), (k, p) => k.remove(dropped, p),
      base, base.diff(dropped)))

  private def entryPoints(k: Kind): Seq[(String, String => Any)] = Seq(
    "probe" -> k.probe,
    "maintenanceDue" -> k.due,
    "append" -> (p => { k.append(epBatch, p); k.probe(p) }),
    "compact" -> (p => { k.compact(p); k.probe(p) }),
    "remove" -> (p => { k.remove(epDropped, p); k.probe(p) }))

  // every index lives at <scenario dir>/idx: the text index stages beside
  // its root, so a scenario is the whole dir
  private def fresh(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def idx(dir: JPath) = dir.resolve("idx").toString
  private def copy(from: JPath): JPath = {
    val to = fresh("graft_crash_ep")
    Files.walk(from).iterator().asScala.toSeq.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }
  private def staging(dir: JPath): Seq[String] =
    Files.walk(dir).iterator().asScala.map(_.getFileName.toString).filter { n =>
      n == "_pending_append.json" || n == "_compact_tmp" ||
        (n.startsWith("_") && n.endsWith("_old"))
    }.toSeq

  private def crashEveryStep(k: Kind): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val refs = scala.collection.mutable.Map.empty[(Seq[Long], String), Any]
    def ref(corpus: Seq[Long], ep: String, f: String => Any): Any =
      refs.getOrElseUpdate((corpus, ep), {
        val d = fresh("graft_crash_ref"); k.build(corpus, idx(d)); f(idx(d))
      })
    for (step <- steps) {
      val start = fresh("graft_crash_start")
      step.prepare(k, idx(start))
      var crashed = true
      var at = 0
      while (crashed) {
        at += 1
        assert(at <= 40, s"${k.name} ${step.name}: still crashing at call $at")
        val dir = copy(start)
        val (died, result) = CrashFs.crashingAt(at)(step.run(k, "crash://" + idx(dir)))
        crashed = died
        val where = s"${k.name} ${step.name}, crash at protocol call $at"
        if (died) assert(result.isFailure, s"$where: the step survived its crash")
        else result.get
        for ((ep, f) <- entryPoints(k)) Try(f(idx(copy(dir)))) match {
          case Success(got) =>
            val (pre, post) = (ref(step.pre, ep, f), ref(step.post, ep, f))
            assert(got == pre || got == post,
              s"$where: $ep answered $got; a fresh pre-op build answers " +
                s"$pre, a fresh post-op build $post")
          case Failure(e: IllegalStateException) =>
            assert(died, s"$where: $ep refused a completed step: $e")
            assert(e.getMessage.contains("Rebuild"),
              s"$where: $ep refused without naming the recovery: $e")
          case Failure(e) => fail(s"$where: $ep failed with $e", e)
        }
        k.build(step.post, idx(dir)) // the recovery every refusal names
        assert(staging(dir).isEmpty, s"$where: left ${staging(dir)} after a rebuild")
      }
      assert(at > 1, s"${k.name} ${step.name}: no protocol call was crashed")
    }
  }

  test("signature index: every crash point reopens as pre-op or post-op, " +
      "or refuses naming the recovery")(crashEveryStep(sigKind))

  test("text index: every crash point reopens as pre-op or post-op, " +
      "or refuses naming the recovery")(crashEveryStep(textKind))

  test("IVF-PQ index: every crash point reopens as pre-op or post-op, " +
      "or refuses naming the recovery")(crashEveryStep(pqKind))
}
