package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.GraftExpressions

/** Round-20 optimization internals: the native coarse-quantizer kernels
  * that replaced the probe/assign UDF pair, and the driver-side Markov
  * value iteration that replaced the per-round Spark loop on small
  * scenario grids. Each test pins the new path to the OLD semantics
  * (reference reimplementation of the replaced UDF, or the retained
  * Spark-loop branch).
  */
class R20KernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the replaced UDF kernels, verbatim semantics (argmin / sorted-take
  // over (sqDist, id) tuples with the default tuple ordering)
  private def sqDist(a: Seq[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }
  private def refAssign(v: Seq[Double],
      cs: Array[(Long, Array[Double])]): Long = {
    var best = Long.MaxValue; var bd = Double.PositiveInfinity
    cs.foreach { case (cid, cv) =>
      val d = sqDist(v, cv)
      if (d < bd || (d == bd && cid < best)) { bd = d; best = cid }
    }
    best
  }
  private def refProbe(v: Seq[Double], cs: Array[(Long, Array[Double])],
      nProbe: Int): Seq[Long] =
    cs.map { case (cid, cv) => (sqDist(v, cv), cid) }
      .sorted.take(nProbe).map(_._2).toSeq

  private val rnd = new scala.util.Random(20240817)
  private def vec(dim: Int): Array[Double] =
    Array.fill(dim)(math.floor(rnd.nextDouble() * 8) / 4.0) // tie-rich grid

  test("nearestCentroidId == the replaced assign UDF on tie-rich vectors") {
    val dim = 6
    val centroids = Array.tabulate(8)(i => (100L - i, vec(dim)))
    // duplicated centroid vectors under different ids force distance ties
    val cs = centroids ++ Array((1L, centroids(3)._2.clone()),
      (2L, centroids(0)._2.clone()))
    val rows = Seq.fill(200)(vec(dim).toSeq) ++
      Seq(centroids(5)._2.toSeq, Seq(0.0, 0.0)) // exact hit + short vector
    val df = rows.toDF("v")
    val got = df.select(
      GraftExpressions.nearestCentroidId(col("v"), cs).as("got")).collect()
    rows.zip(got).foreach { case (v, r) =>
      assert(r.getLong(0) == refAssign(v, cs), s"assign diverged on $v")
    }
  }

  test("nearestCentroidIds == the replaced probe UDF (order AND set), " +
      "nProbe over/under codebook size") {
    val dim = 5
    val base = Array.tabulate(7)(i => (50L + 3 * i, vec(dim)))
    val cs = base ++ Array((49L, base(2)._2.clone())) // tie pair
    val rows = Seq.fill(200)(vec(dim).toSeq) ++ Seq(base(1)._2.toSeq)
    val df = rows.toDF("v")
    for (nProbe <- Seq(1, 3, cs.length, cs.length + 4)) {
      val got = df.select(GraftExpressions
        .nearestCentroidIds(col("v"), cs, nProbe).as("g")).collect()
      rows.zip(got).foreach { case (v, r) =>
        assert(r.getSeq[Long](0) == refProbe(v, cs, nProbe),
          s"probe diverged on $v at nProbe=$nProbe")
      }
    }
  }

  test("nearestCentroidIds head == nearestCentroidId (probe/assign " +
      "bit-consistency by construction)") {
    val dim = 4
    val cs = Array.tabulate(6)(i => (10L * i + 1, vec(dim)))
    val rows = Seq.fill(100)(vec(dim).toSeq)
    val got = rows.toDF("v").select(
      GraftExpressions.nearestCentroidIds(col("v"), cs, 1).as("p"),
      GraftExpressions.nearestCentroidId(col("v"), cs).as("a")).collect()
    got.foreach(r => assert(r.getSeq[Long](0).head == r.getLong(1)))
  }

  test("centroid kernels compare by codebook content: equal codebooks " +
      "allocated apart give ==, equal hashes and semanticEquals") {
    import graft.expr.{NearestCentroidIdExpr, NearestCentroidIdsExpr}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val child = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def codebook() = (Array(3L, 7L, 9L),
      Array(Array(0.0, 1.0), Array(0.5, -2.0), Array(4.0, 4.0)))
    def same(a: Expression, b: Expression): Unit = {
      assert(a == b && a.hashCode == b.hashCode, s"$a vs $b")
      assert(a.semanticEquals(b), s"$a vs $b")
    }
    val (i1, v1) = codebook(); val (i2, v2) = codebook()
    assert(!(v1 eq v2))
    same(NearestCentroidIdExpr(child, i1, v1), NearestCentroidIdExpr(child, i2, v2))
    same(NearestCentroidIdsExpr(child, i1, v1, 2), NearestCentroidIdsExpr(child, i2, v2, 2))
    // and still tell different codebooks (or probe counts) apart
    v2(1)(1) = -2.5
    assert(NearestCentroidIdExpr(child, i1, v1) != NearestCentroidIdExpr(child, i2, v2))
    assert(NearestCentroidIdsExpr(child, i1, v1, 2) != NearestCentroidIdsExpr(child, i1, v1, 3))
  }

  test("markovRemovalEffect: driver-side value iteration == the Spark " +
      "loop bit-for-bit (gate toggled)") {
    // 4 channels, converters and non-converters, repeated transitions
    val evs = Seq(
      (1L, "a", 1L, 1L), (1L, "b", 2L, 2L), (1L, "purchase", 3L, 3L),
      (2L, "a", 1L, 4L), (2L, "c", 2L, 5L), (2L, "a", 3L, 6L),
      (3L, "b", 1L, 7L), (3L, "d", 2L, 8L), (3L, "purchase", 4L, 9L),
      (4L, "c", 1L, 10L), (4L, "c", 2L, 11L),
      (5L, "purchase", 1L, 12L),
      (6L, "d", 1L, 13L), (6L, "a", 2L, 14L), (6L, "b", 3L, 15L),
      (6L, "purchase", 9L, 16L), (6L, "b", 99L, 17L))
      .toDF("u", "et", "ts", "id")
    val fast = graft.operators.Funnel.markovRemovalEffect(
      evs, "u", "et", "ts", "id", "purchase", iters = 6)
      .orderBy("channel").collect()
    val slow = graft.operators.Funnel.markovRemovalEffectImpl(
      evs, "u", "et", "ts", "id", "purchase", iters = 6,
      maxChannels = 64, driverIterGate = 0) // force the Spark loop
      .orderBy("channel").collect()
    assert(fast.length == slow.length && fast.length == 4)
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"driver vs Spark loop diverged: $f vs $s")
    }
  }
}
