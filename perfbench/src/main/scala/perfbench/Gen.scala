package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every input is plain text written by this
  * code (never by Spark), so the same seed gives byte-identical files;
  * the program reads them through its own `sources` readers.
  */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def write(f: File)(body: (String => Unit) => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(line => { w.write(line); w.write('\n') }) finally w.close()
  }

  /** `d` with six decimals (half-up), without the cost of `String.format`. */
  def fmt(d: Double): String = {
    val n = math.round(d * 1e6)
    val a = math.abs(n)
    val frac = (a % 1000000).toString
    (if (n < 0) "-" else "") + (a / 1000000) + "." + ("0" * (6 - frac.length)) + frac
  }

  /** Zipf(1) sampler over ranks 0 until n. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      var s = 0.0
      val c = w.map { x => s += x; s }
      c.map(_ / s)
    }
    def apply(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 11)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }
}

/** A seeded base corpus: independent Zipf texts, 64-d vectors drawn
  * around 32 cluster centres, and a link graph with Zipf-popular targets.
  */
final case class Corpus(seed: Long, nDocs: Int, nVecs: Int,
    dim: Int = 64, vocab: Int = 4000, linksPerDoc: Int = 4) {
  lazy val words: Array[String] = Gen.vocabulary(seed, vocab)
  private lazy val zipf = new Gen.Zipf(vocab)

  /** (id, text) */
  lazy val docs: Array[(Long, String)] = {
    val r = Gen.rng(seed, 21)
    Array.tabulate(nDocs)(i => (i.toLong, Array.fill(20 + r.nextInt(41))(words(zipf(r))).mkString(" ")))
  }

  lazy val vectors: Array[(Long, Array[Double])] = {
    val r = Gen.rng(seed, 31)
    val centers = Array.fill(32)(Array.fill(dim)(r.nextDouble() * 2 - 1))
    Array.tabulate(nVecs) { i =>
      val c = centers(r.nextInt(centers.length))
      (i.toLong, c.map(x => Gen.fmt(x + (r.nextDouble() - 0.5) * 0.6).toDouble))
    }
  }

  lazy val links: Array[(Long, Long)] = {
    val r = Gen.rng(seed, 41)
    val pop = new Gen.Zipf(nDocs)
    (0 until nDocs).flatMap { i =>
      (0 until linksPerDoc).map(_ => (i.toLong, pop(r).toLong)).filter(e => e._1 != e._2)
    }.distinct.toArray
  }

  /** Dolma-layout JSONL shards of the documents. */
  def writeDocs(dir: File, shards: Int = 4): Unit =
    (0 until shards).foreach { s =>
      Gen.write(new File(dir, f"part-$s%03d.jsonl")) { out =>
        docs.indices.filter(_ % shards == s).foreach { i =>
          out(CorpusIO.docLine(docs(i)._1, docs(i)._2, "synthetic"))
        }
      }
    }

  def writeVectors(dir: File, shards: Int = 4): Unit =
    (0 until shards).foreach { s =>
      Gen.write(new File(dir, f"part-$s%03d.jsonl")) { out =>
        vectors.indices.filter(_ % shards == s).foreach { i =>
          out(CorpusIO.vecLine(vectors(i)._1, vectors(i)._2))
        }
      }
    }

  def writeLinks(f: File): Unit =
    Gen.write(f) { out => links.foreach { case (a, b) => out(s"""{"src":$a,"dst":$b}""") } }
}
