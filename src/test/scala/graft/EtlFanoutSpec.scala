package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.LoadPipeline

/** The unpinned `LoadPipeline.loadTimeseries` formulation (country-level
  * totals drive the expansion through three broadcast joins), kept as the
  * value reference for the pinned one. */
object LoadTimeseriesReference {
  import org.scalatest.Assertions._

  def apply(load: DataFrame, shares: DataFrame, profiles: DataFrame,
      regionWeights: DataFrame): DataFrame = {
    val totals = LoadPipeline.loadStats(load).select(col("country"), col("year_total"))
    val sectorHourly = totals
      .join(broadcast(shares), Seq("country"))
      .join(broadcast(profiles), Seq("sector"))
      .withColumn("sector_value", col("year_total") * col("share") * col("weight"))
      .select(col("country"), col("sector"), col("t"), col("sector_value"))
    sectorHourly
      .join(broadcast(regionWeights), Seq("country", "sector"))
      .withColumn("v", col("sector_value") * col("w"))
      .groupBy(col("region"), col("t"))
      .agg(sum(col("v")).as("value"))
  }

  /** `got` and the reference agree on every (region, t) to 1e-12 relative. */
  def assertMatches(got: DataFrame, load: DataFrame, shares: DataFrame,
      profiles: DataFrame, regionWeights: DataFrame): Unit = {
    def byKey(df: DataFrame) = df.select(col("region"), col("t").cast("int"), col("value"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.columns.toSeq == Seq("region", "t", "value"))
    val have = byKey(got)
    val want = byKey(apply(load, shares, profiles, regionWeights))
    assert(have.keySet == want.keySet, "different (region, t) keys")
    val off = want.filter { case (k, w) =>
      math.abs(have(k) - w) > 1e-12 * math.max(math.abs(w), math.abs(have(k)))
    }
    assert(off.isEmpty, s"${off.size} values differ: " +
      off.take(3).map { case (k, w) => s"$k ${have(k)} vs $w" })
  }
}

/** The ETL's pinned fan-outs run as many tasks as the session's shuffle
  * width, whatever the width of their inputs. */
class EtlFanoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def width = spark.sessionState.conf.numShufflePartitions

  /** Shuffle exchanges of `df`'s physical plan outside broadcast sides. */
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: BroadcastExchangeExec | _: BroadcastQueryStageExec => Nil
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  // four countries' hourly load, two sectors, two regions per country
  private val countries = Seq("A", "B", "C", "D")
  private lazy val load = (for (c <- countries; t <- 1 to 96)
    yield (c, t, 10.0 + t % 7 + c.head.toInt)).toDF("country", "t", "value")
  private lazy val shares = countries.flatMap(c => Seq((c, "res", 0.6), (c, "ind", 0.4)))
    .toDF("country", "sector", "share")
  private lazy val profiles = (1 to 96).flatMap(t =>
    Seq(("res", t, (1 + t % 5) / 288.0), ("ind", t, 1.0 / 96))).toDF("sector", "t", "weight")
  private lazy val weights = countries.flatMap(c => Seq("res", "ind").flatMap(s =>
    Seq((s"${c}1", c, s, 0.7), (s"${c}2", c, s, 0.3)))).toDF("region", "country", "sector", "w")

  test("loadTimeseries: one exchange, on t at the shuffle width, feeds the (region, t) sum") {
    val got = LoadPipeline.loadTimeseries(load, shares, profiles, weights)
    val (_, stages) = JobLog.stagesOf(spark)(got.collect())
    assert(stages.last._2 == width, s"the expansion and sum ran as $stages")
    val ex = shuffles(got)
    assert(ex.size == 1, s"exchanges outside broadcasts: $ex")
    ex.head.outputPartitioning match {
      case HashPartitioning(Seq(k), n) =>
        assert(k.references.map(_.name).toSeq == Seq("t") && n == width)
      case other => fail(s"the exchange partitions by $other")
    }
    LoadTimeseriesReference.assertMatches(got, load, shares, profiles, weights)
    // the reference's expansion is driven by one partition of country
    // totals; AQE coalesces its (region, t) exchange back to one task
    val (_, refStages) = JobLog.stagesOf(spark)(
      LoadTimeseriesReference(load, shares, profiles, weights).collect())
    assert(refStages.last._2 == 1, s"reference ran as $refStages")
  }

  test("cleanLoad: the (country, t) sum and the gap-fill window share one exchange " +
      "at the shuffle width") {
    val raw = (for (c <- Seq("Deutschland", "France", "Italia", "Espana");
        d <- 1 to 3; h <- 1 to 24)
      yield (c, 2015, 1, d, h, 100.0, if (d == 2 && h == 5) 0.0 else 5.0 + h))
      .toDF("country", "year", "month", "day", "hour", "coverage", "value")
    val cmap = Seq(("Deutschland", "DE"), ("France", "FR"), ("Italia", "IT"), ("Espana", "ES"))
      .toDF("from_name", "to_name")
    val got = LoadPipeline.cleanLoad(raw, 2015, cmap)
    val (rows, stages) = JobLog.stagesOf(spark)(got.collect())
    assert(rows.length == 4 * 72)
    assert(stages.last._2 == width, s"the sum and window ran as $stages")
    val ex = shuffles(got)
    assert(ex.size == 1, s"exchanges outside broadcasts: $ex")
    assert(ex.head.outputPartitioning.numPartitions == width)
  }
}
