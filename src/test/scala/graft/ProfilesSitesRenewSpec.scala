package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ProfilesPipeline, RenewableTsPipeline, SitesPipeline}

class ProfilesSitesRenewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quarterHourlyToHourly sums 4 slots per hour; wrap folds last slot") {
    val slots = (1 to 96).map(s => ("Working day", "Winter", s, 0.25))
      .toDF("day_type", "season", "slot", "value")
    val hourly = ProfilesPipeline.quarterHourlyToHourly(slots, "slot", "value",
      Seq("day_type", "season"))
    assert(hourly.count() == 24)
    assert(hourly.agg(sum($"value")).head.getDouble(0) == 24.0)
    // wrap: slot 96 becomes slot 1 (first hour gets 5 slots, hour 24 gets 3)
    val wrapped = ProfilesPipeline.quarterHourlyToHourly(
      ProfilesPipeline.wrapLastSlot(slots, "slot", 96), "slot", "value",
      Seq("day_type", "season"))
    val h1 = wrapped.filter($"hour" === 1).head.getAs[Double]("value")
    val h24 = wrapped.filter($"hour" === 24).head.getAs[Double]("value")
    assert(h1 == 1.25 && h24 == 0.75)
  }

  test("cleanProfile expands daily shapes to a unit-sum 8760 year") {
    // flat shape for all (daytype, season) combos
    val slots = for {
      dt <- Seq("Working day", "Saturday", "Sunday")
      sn <- Seq("Winter", "Summer")
      s <- 1 to 96
    } yield (dt, sn, s, 1.0)
    val prof = ProfilesPipeline.cleanProfile(slots.toDF("day_type", "season", "slot", "value"), 2015)
    assert(prof.count() == 8760)
    val total = prof.agg(sum($"value")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
    assert(prof.agg(min($"t"), max($"t")).head.toSeq == Seq(1, 8760))
  }

  test("generateSites: clean names, centroid, slacknode on first site") {
    val regions = Seq(
      ("Bayern Süd", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
      ("Alsace", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"))
      .toDF("region", "wkt")
    val sites = SitesPipeline.generateSites(regions).orderBy("site_id").collect()
    assert(sites(0).getAs[String]("Site") == "Alsace")
    assert(sites(0).getAs[Int]("slacknode") == 1)
    assert(sites(1).getAs[String]("Site") == "Bayern_Sd")
    assert(sites(1).getAs[Int]("slacknode") == 0)
    assert(sites(0).getAs[Double]("lat") == 1.0 && sites(0).getAs[Double]("long") == 3.0)
    assert(sites(0).getAs[Double]("area_km2") > 0)
  }

  test("generateSites: names that collide after cleaning refuse; a null " +
      "name is dropped and the rest are ranked from 1") {
    val square = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    val clash = Seq(("Bayern Süd", square), ("Bayern Sd", square), ("Alsace", square))
      .toDF("region", "wkt")
    val err = intercept[IllegalArgumentException] {
      SitesPipeline.generateSites(clash)
    }
    assert(err.getMessage.contains("collide after clean_names"), err.getMessage)
    val withNull = Seq((Some("Zeeland"), square), (None, square), (Some("Alsace"), square))
      .toDF("region", "wkt")
    val sites = SitesPipeline.generateSites(withNull)
    assert(sites.schema("site_id").dataType == org.apache.spark.sql.types.IntegerType)
    val got = sites.collect().map(r => (r.getAs[String]("Site"), r.getAs[Int]("site_id"),
      r.getAs[Int]("slacknode"))).toSet
    assert(got == Set(("Alsace", 1, 1), ("Zeeland", 2, 0)))
  }

  test("idx<->crd transforms round-trip on the pixel grid") {
    import graft.sources.InputMaps
    val px = Seq((3, 7)).toDF("row", "col")
    // anisotropic like MERRA: 0.625 x, 0.5 y
    val crd = InputMaps.idxToCrd(px, x0 = -10.0, y0 = 40.0, resX = 0.625, resY = 0.5)
    val r = crd.head
    assert(r.getAs[Double]("x") == -10.0 + 7.5 * 0.625)
    assert(r.getAs[Double]("y") == 40.0 + 3.5 * 0.5)
    val back = InputMaps.crdToIdx(crd.drop("row", "col"), -10.0, 40.0, 0.625, 0.5).head
    assert(back.getAs[Int]("row") == 3 && back.getAs[Int]("col") == 7)
  }

  test("loadStats: per-country totals and extrema") {
    import graft.pipeline.LoadPipeline
    val load = Seq(("DE", 1, 5.0), ("DE", 2, 9.0), ("FR", 1, 2.0))
      .toDF("country", "t", "value")
    val got = LoadPipeline.loadStats(load).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got("DE") == (14.0, 9.0, 5.0))
    assert(got("FR") == (2.0, 2.0, 2.0))
  }

  test("renewable TS: composite key parse, quantile select, FLH scaling") {
    val ts = Seq(
      ("R1.WindOn.q50", 1, 0.5), ("R1.WindOn.q50", 2, 0.8),
      ("R1.WindOn.q90", 1, 0.9),
      ("R2.Solar.q50", 1, 0.4),
      ("R2.WindOn.q90", 1, 0.7)) // R2 WindOn lacks q50 -> missing
      .toDF("series_key", "t", "value")
    val parsed = RenewableTsPipeline.parseSeriesKey(ts)
    val (kept, missing) = RenewableTsPipeline.selectQuantile(parsed,
      Map("WindOn" -> "q50", "Solar" -> "q50"))
    assert(missing.collect().map(r => (r.getString(0), r.getString(1))).toSet
      == Set(("R2", "WindOn")))
    val caps = Seq(("R1", "WindOn", 100.0), ("R2", "Solar", 50.0))
      .toDF("Site", "tech", "inst_cap")
    val mw = RenewableTsPipeline.supplyTimeseries(kept, caps)
    val r1t2 = mw.filter($"Site" === "R1" && $"t" === 2).head.getAs[Double]("mw")
    assert(r1t2 == 80.0)
    assert(mw.count() == 3)
  }
}
