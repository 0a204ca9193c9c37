package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector kernel over `array<float|double>` columns for
  * similarity search / embedding dedup. Pure higher-order-function
  * compositions (`zip_with`, `aggregate`) — no UDF, no driver collect;
  * arithmetic is promoted to double for cross-engine reproducibility.
  *
  * Scale note: every function here is per-row; the only shuffle in an ANN
  * pipeline built from these is the final top-k (or the LSH bucket join),
  * which is exactly where it belongs.
  */
object VectorFns {

  private def d(c: Column): Column = c.cast("array<double>")

  /** HOF (pure-Catalyst) dot product — kept for reference/SQL-only use.
    * The hot paths below use JVM UDF kernels instead: interpreted
    * higher-order functions box per element and re-evaluate argument
    * subtrees (see SCALE.md), ~10× slower on 64-dim vectors.
    */
  def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private val l2Kernel = udf { (a: Seq[Double], b: Seq[Double]) =>
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    math.sqrt(s)
  }

  def dot(a: Column, b: Column): Column = dotExpr(a, b)

  def norm2(a: Column): Column = sqrt(dotExpr(a, a))

  /** Cosine similarity; 0.0 when either norm is 0 (instead of NaN).
    * Native codegen expression over ArrayData (`CosineSimExpr`) — the UDF
    * kernel converted each array to Seq[Double] per row; same accumulation
    * order, bit-identical results (oracle-stable).
    * A null element in either vector is refused: the kernel fails the job
    * with `IllegalArgumentException` rather than read the slot as a number.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expr.GraftExpressions.cosineSim(a, b)

  def l2Distance(a: Column, b: Column): Column = l2Kernel(d(a), d(b))

  /** `nBits`-bit random-hyperplane LSH bucket key (SimHash for dense
    * vectors, Charikar 2002): bit b is the sign of v · h_b where h_b has
    * deterministic ±1 components from a seeded hash of (bit, dim).
    *
    * One JVM pass over the vector for ALL bits — the per-bit Catalyst HOF
    * formulation re-evaluated the projection interpreted per bit and made
    * the LSH keying itself the bottleneck (measured on the 10× probe:
    * 59 s → sub-second for 20k×64-dim keys).
    */
  /** The rpBucket kernel itself, callable anywhere a vector is already in
    * hand (e.g. hashing ONE query literal on the driver — launching a
    * Spark job for that would be a job per probe).
    */
  def rpBucketLocal(v: Seq[Double], nBits: Int, seed: Int = 42): Long = {
    var bucket = 0L
    var b = 0
    while (b < nBits) {
      var proj = 0.0
      var i = 0
      while (i < v.length) {
        // ±1 hyperplane component from one LCG step over the (seed, bit,
        // dim) counter — plain integer arithmetic, so an independent SQL
        // oracle can recompute the exact bucket (hyperplane *quality* only
        // affects recall, never correctness). x ≥ 0 and 1103515245·x fits
        // a long for any realistic seed (ANSI-overflow-safe).
        val x = seed.toLong * 1000003L + b.toLong * 8191L + i.toLong
        val h = (1103515245L * x + 12345L) % 2147483648L
        proj += (if (((h >> 30) & 1L) == 0L) v(i) else -v(i))
        i += 1
      }
      if (proj >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  private def rpKernel(nBits: Int, seed: Int) =
    udf { (v: Seq[Double]) => rpBucketLocal(v, nBits, seed) }

  def rpBucket(v: Column, nBits: Int, seed: Int = 42): Column =
    rpKernel(nBits, seed)(d(v))

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions:
    * y_j = (Σ_i ±v_i) / √outDim with the ±1 signs drawn from the SAME
    * integer-LCG hyperplane family as [[rpBucketLocal]] (counter
    * (seed, j, i)) — so reduced vectors and LSH buckets share one
    * hyperplane convention (bucket bit j is exactly the sign of y_j,
    * spec-asserted), and an independent SQL oracle recomputes every
    * output bit-for-bit: per-term ±v_i is exact, the ascending-i
    * summation order matches a `list_reduce`, and with outDim a power
    * of 4 the 1/√outDim scale is an exact dyadic. JL guarantee:
    * pairwise distances distort by ~1 ± O(1/√outDim). Map-side only —
    * the projection is a per-row kernel, no shuffle anywhere.
    */
  def randomProjectLocal(v: Seq[Double], outDim: Int,
      seed: Int = 42): Array[Double] = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim) { j =>
      var s = 0.0
      var i = 0
      while (i < v.length) {
        val x = seed.toLong * 1000003L + j.toLong * 8191L + i.toLong
        val h = (1103515245L * x + 12345L) % 2147483648L
        s += (if (((h >> 30) & 1L) == 0L) v(i) else -v(i))
        i += 1
      }
      s * scale
    }
  }

  private def projectKernel(outDim: Int, seed: Int) =
    udf { (v: Seq[Double]) => randomProjectLocal(v, outDim, seed) }

  def randomProject(v: Column, outDim: Int, seed: Int = 42): Column = {
    require(outDim >= 1 && outDim <= 4096,
      s"randomProject outDim $outDim must be in [1, 4096]")
    projectKernel(outDim, seed)(d(v))
  }

  // -------------------------------------------------------- quantization

  /** Symmetric int8 quantization: struct(scale float, q array<tinyint>),
    * q[i] = round(v[i] / scale · 127) with scale = max|v[i]|. 4× smaller
    * than float32 at rest and on the wire — the standard ANN memory
    * trade. All-zero vectors get scale 0 and an all-zero code.
    */
  private val quantKernel = udf { (v: Seq[Double]) =>
    var m = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > m) m = a; i += 1 }
    val q = new Array[Byte](v.length)
    if (m > 0.0) {
      i = 0
      while (i < v.length) {
        // round half away from zero (matches SQL ROUND, unlike Java's
        // half-up math.round at negative .5 ties)
        val b = math.floor(math.abs(v(i)) / m * 127.0 + 0.5).toByte
        q(i) = if (v(i) < 0) (-b).toByte else b
        i += 1
      }
    }
    // Seq[Byte], not Array[Byte]: the encoder must see array<tinyint>
    // (Array[Byte] maps to BinaryType)
    (m.toFloat, q.toSeq)
  }

  def quantizeInt8(v: Column): Column =
    quantKernel(d(v)).cast("struct<scale:float,q:array<tinyint>>")

  /** Cosine over two int8 codes. Scales cancel in the normalization, so
    * this needs only the integer codes — one multiply-accumulate pass in
    * int space (what a SIMD kernel would do on real hardware).
    */
  private val cosineQuantKernel = udf { (a: Seq[Byte], b: Seq[Byte]) =>
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toLong; val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (denom == 0.0) 0.0 else dot.toDouble / denom
  }

  def cosineQuantized(qa: Column, qb: Column): Column =
    cosineQuantKernel(qa, qb)

  /** Dequantize back to `array<double>` (v[i] ≈ scale · q[i] / 127). */
  def dequantizeInt8(s: Column): Column =
    transform(s.getField("q"), b =>
      s.getField("scale").cast("double") * b.cast("double") / lit(127.0))
}
