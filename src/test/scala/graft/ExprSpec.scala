package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.GraftExpressions
import graft.functions.ScalarFns

class ExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native haversine matches the Column-composed version bit-for-bit") {
    val df = Seq((48.1374, 11.5755, 52.52, 13.405), (0.0, 0.0, 0.0, 0.0),
      (-33.9, 18.4, 40.7, -74.0)).toDF("a", "b", "c", "d")
    val got = df.select(
      GraftExpressions.haversineKm($"a", $"b", $"c", $"d").as("native"),
      ScalarFns.haversineKm($"a", $"b", $"c", $"d").as("composed")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("native eu_to_double parses dialect incl. null propagation") {
    val df = Seq(Some("1.234,5"), Some("inf"), Some(" 12 345,75 "), None)
      .toDF("s").select(GraftExpressions.euToDouble($"s").as("v"))
    val got = df.collect()
    assert(got(0).getDouble(0) == 1234.5)
    assert(got(1).getDouble(0).isPosInfinity)
    assert(got(2).getDouble(0) == 12345.75)
    assert(got(3).isNullAt(0), "null in -> null out (nullIntolerant)")
  }

  test("SQL registration exposes the functions to spark.sql") {
    GraftExpressions.register(spark)
    val r = spark.sql(
      "SELECT haversine_km(0D, 0D, 0D, 90D) AS d, eu_to_double('2,5') AS e, " +
      "sample_bucket(7) AS b, cosine_sim(array(1D,0D), array(1D,0D)) AS c").head
    assert(math.abs(r.getDouble(0) - 10007.5) < 10.0)
    assert(r.getDouble(1) == 2.5)
    // matches the Column-level Curation.sampleBucket rule exactly
    assert(r.getLong(2) == ((7L * 2654435761L) % 2147483648L))
    assert(r.getDouble(3) == 1.0)
  }

  test("geodesic_km matches published WGS-84 geodesics to sub-mm") {
    import graft.expr.GeoMath
    // equator is a geodesic: 1° of longitude = a·π/180 exactly
    assert(math.abs(GeoMath.geodesicKm(0, 0, 0, 1) - 111.319490793) < 1e-6)
    // quarter meridian (pole to equator), published WGS-84: 10001.965729 km
    assert(math.abs(GeoMath.geodesicKm(0, 0, 90, 0) - 10001.965729) < 1e-5)
    // Vincenty's classic test line: Flinders Peak → Buninyong = 54972.271 m
    assert(math.abs(GeoMath.geodesicKm(
      -37.95103341666667, 144.42486788888888,
      -37.65282113888889, 143.92649552777777) - 54.972271) < 1e-5)
    // coincident points and symmetry
    assert(GeoMath.geodesicKm(48.1, 11.5, 48.1, 11.5) == 0.0)
    val d1 = GeoMath.geodesicKm(48.1374, 11.5755, 52.52, 13.405)
    val d2 = GeoMath.geodesicKm(52.52, 13.405, 48.1374, 11.5755)
    assert(math.abs(d1 - d2) < 1e-9)
    // stays within the declared 0.5% of haversine on ordinary pairs
    val h = GeoMath.haversineKm(48.1374, 11.5755, 52.52, 13.405)
    assert(math.abs(d1 - h) / h < 0.005)
    // near-antipodal: falls back to haversine instead of diverging
    val anti = GeoMath.geodesicKm(0.0, 0.0, 0.5, 179.7)
    assert(anti > 19000 && anti < 20100, s"antipodal fallback sane: $anti")
  }

  test("geodesic_km column + SQL forms agree with the kernel") {
    GraftExpressions.register(spark)
    val df = Seq((48.1374, 11.5755, 52.52, 13.405)).toDF("a", "b", "c", "d")
    val viaCol = df.select(
      GraftExpressions.geodesicKm($"a", $"b", $"c", $"d")).head.getDouble(0)
    val viaSql = spark.sql(
      "SELECT geodesic_km(48.1374D, 11.5755D, 52.52D, 13.405D)").head.getDouble(0)
    val direct = graft.expr.GeoMath.geodesicKm(48.1374, 11.5755, 52.52, 13.405)
    assert(viaCol == direct && viaSql == direct)
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    val df = spark.range(100).select(
      GraftExpressions.haversineKm(lit(0.0), lit(0.0), col("id").cast("double"),
        lit(10.0)).as("km"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan)
    assert(df.count() == 100)
  }

  test("native OphSigExpr is value-identical to ophSigUdf on every edge: " +
      "null/blank/short/unicode/long docs, all k buckets") {
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "   "),
      (5L, "single"),
      (6L, "exactly two"),
      (7L, "Ünïcødé tøkèns é́ and 😀 emoji here"),
      (8L, (1 to 500).map(i => s"tok${i % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    for ((n, k) <- Seq((2, 16), (3, 8), (1, 4))) {
      val toks = TextFns.tokens(lower(col("text")))
      val both = docs.select(col("doc_id"),
        GraftExpressions.ophSig(
          coalesce(toks, array().cast("array<string>")), n, k).as("native"),
        TextFns.ophSigUdf(n, k)(toks).as("viaUdf")).collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"doc ${r.getLong(0)} n=$n k=$k: " +
            s"${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
      }
    }
  }

  test("native MinhashSigExpr and SimhashExpr are value-identical to " +
      "their udf kernels on every edge") {
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "   "),
      (5L, "single"),
      (6L, "repeated shingle repeated shingle repeated shingle"),
      (7L, "Ünïcødé tøkèns é́ and 😀 emoji here"),
      (8L, (1 to 500).map(i => s"tok${i % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    for ((n, k) <- Seq((3, 16), (2, 8))) {
      val toks = TextFns.tokens(lower(col("text")))
      val both = docs.select(col("doc_id"),
        TextFns.minhashSig(n, k)(toks).as("native"),
        TextFns.minhashSigUdf(n, k)(toks).as("viaUdf")).collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"minhash doc ${r.getLong(0)} n=$n k=$k")
      }
    }
    val sh = docs.select(col("doc_id"),
      TextFns.simhash64(col("text")).as("native"),
      TextFns.simhash64Udf(
        TextFns.tokens(lower(col("text")))).as("viaUdf")).collect()
    sh.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"simhash doc ${r.getLong(0)}")
    }
  }

  test("OphSigExpr stays inside the whole-stage-codegen span") {
    import graft.functions.TextFns
    val df = spark.range(100).select(
      GraftExpressions.ophSig(
        coalesce(TextFns.tokens(concat(lit("w"), col("id"), lit(" x"))),
          array().cast("array<string>")), 2, 16).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.count() == 100)
  }
}
