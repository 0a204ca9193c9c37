package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.export.ModelExport
import graft.pipeline._
import graft.sources.InputMaps

/** SURVEY §5.4: golden end-to-end test — a synthetic micro-Europe (two
  * regions, 48 h, four plants, four grid lines) through the full stage
  * graph: clean → intermediates → model sheets. Asserts schema contracts
  * (§1.3) and conservation invariants, not float-exact numpy parity
  * (declared differences: seeded randomness, single-pass fill).
  */
class GoldenPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val regions = Seq(
    ("R1", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
    ("R2", "POLYGON ((1 0, 2 0, 2 2, 1 2, 1 0))")).toDF("region", "wkt")

  /** The load chain's inputs: cleaned load, shares, profiles, and region
    * weights from zonal stats over a rasterized population layer. */
  private lazy val loadChain = {
    val rawLoad = (1 to 2).flatMap(day => (1 to 24).flatMap(h => Seq(
      ("Deutschland", 2015, 1, day, h, 100.0, 10.0 + h),
      ("France", 2015, 1, day, h, 50.0, 3.0 + h))))
      .toDF("country", "year", "month", "day", "hour", "coverage", "value")
    val cmap = Seq(("Deutschland", "DE"), ("France", "FR")).toDF("from_name", "to_name")
    val load = LoadPipeline.cleanLoad(rawLoad, 2015, cmap)
    val shares = LoadPipeline.sectorShares(
      Seq(("DE", 2015, "households", "40"), ("DE", 2015, "industry", "60"),
        ("FR", 2015, "households", "100")).toDF("country", "year", "sector", "value"),
      2015, cmap, cmap)
    val profiles = (1 to 48).flatMap(t => Seq(("households", t, 1.0 / 48), ("industry", t, 1.0 / 48)))
      .toDF("sector", "t", "weight")
    val grid10 = InputMaps.pixelGrid(spark, 10, 20, 0, 0, 2, 1) // strip across both regions
      .withColumn("pop", lit(1.0))
    val zonal = graft.operators.SpatialOps.zonalStats(grid10, "x", "y", "pop",
      regions, "wkt", "region")
    val weights = zonal
      .withColumn("w", col("zonal_sum") / sum(col("zonal_sum")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .crossJoin(Seq("DE", "FR").toDF("country"))
      .crossJoin(Seq("households", "industry").toDF("sector"))
      .select(col("region"), col("country"), col("sector"), col("w"))
    (load, shares, profiles, weights)
  }

  test("micro-Europe: raw inputs -> intermediates -> urbs sheets") {
    // ── grid chain ──
    val rawGrid = Seq(
      (1L, "SRID=4326;LINESTRING(0.5 0.5,1.5 1.5)", 150000.0, "220000;380000", "4;4", "3;3", "50;50"),
      (2L, "SRID=4326;LINESTRING(0.2 0.2,0.8 0.8)", 90000.0, "220000", "4", "3", "50"),
      (4L, "SRID=4326;LINESTRING(0.6 0.4,1.4 1.8)", 200000.0, "500000", "2", "1", "0"))
      .toDF("l_id", "wkt_srid_4326", "length_m", "voltage", "wires", "cables", "frequency")
    val gridAssumptions = Seq(("AC", 0.92, 0.4), ("DC", 0.95, 0.6))
      .toDF("tr_type", "eff_per_1000km", "cost_per_mw_km")
    val cleaned = Schemas.requireSchema(
      GridPipeline.cleanGridKit(rawGrid, GridPipeline.defaultVoltageLimits(spark)),
      Schemas.gridCleaned, "grid_cleaned")
    val transmission = Schemas.requireSchema(
      GridPipeline.generateTransmission(cleaned, regions, gridAssumptions),
      Schemas.transmission, "grid_completed")

    // ── load chain ──
    val (load, shares, profiles, weights) = loadChain
    // FR coverage 50 => doubled
    val frT1 = load.filter($"country" === "FR" && $"t" === 1).head.getDouble(2)
    assert(frT1 == 8.0)

    val demand = Schemas.requireSchema(
      LoadPipeline.loadTimeseries(load, shares, profiles, weights)
        .withColumn("t", col("t").cast("int")),
      Schemas.demandTs, "demand_ts")
    // conservation: regional total == country totals (shares/profiles/weights all sum to 1)
    val totalIn = load.agg(sum($"value")).head.getDouble(0)
    val totalOut = demand.agg(sum($"value")).head.getDouble(0)
    assert(math.abs(totalIn - totalOut) < 1e-6, s"$totalIn vs $totalOut")

    // ── plants chain ──
    val rawPlants = Seq(
      (Some("P1"), "Hard Coal", "Steam Turbine", "PP", "DE", 100.0, Some(1995)),
      (Some("P2"), "Gas", "OCGT", "PP", "DE", 60.0, Some(2005)),
      (Some("P2"), "Gas", "OCGT", "PP", "FR", 40.0, None),
      (Some("Old"), "Hard Coal", "Steam Turbine", "PP", "FR", 70.0, Some(1960)))
      .toDF("Name", "Fueltype", "Technology", "Set", "Country", "inst_cap", "Year")
    val tmap = Seq(("(Hard Coal,Steam Turbine,PP)", "Coal"), ("(Gas,OCGT,PP)", "GasOC"))
      .toDF("from_name", "to_name")
    val plants = PlantsPipeline.cleanPlants(rawPlants, tmap, meanYear = 2000)
      .withColumn("Site", when(col("Country") === "DE", "R1").otherwise("R2"))
    val lifetimes = Seq(("Coal", 45, 1000.0), ("GasOC", 30, 500.0))
      .toDF("Type", "lifetime", "cap_max")
    val cohorts = Schemas.requireSchema(
      ProcessPipeline.capacityCohorts(plants, lifetimes, 2015),
      Schemas.cohorts, "process_compact")
    // Old (1960+45 < 2015) dropped; total live capacity <= raw total
    val live = cohorts.agg(sum($"inst_cap")).head.getDouble(0)
    assert(live <= 300.0 && live >= 160.0)
    assert(cohorts.filter($"Site" === "R2" && $"Type" === "Coal").count() == 0)

    val processes = ProcessPipeline.processTable(cohorts,
      ProcessPipeline.expansionCandidates(Seq("R1", "R2").toDF("Site"), lifetimes.drop("lifetime")))
    val commodities = ProcessPipeline.generateCommodities(
      Seq("R1", "R2").toDF("Site"), Seq("Elec").toDF("Commodity"),
      demand.groupBy(col("region").as("Site")).agg(sum($"value").as("annual"))
        .withColumn("Commodity", lit("Elec")))

    // ── export edge ──
    val sheets = Map(
      "Transmission" -> ModelExport.urbsTransmission(transmission),
      "Process" -> ModelExport.urbsProcess(
        processes.withColumn("inv_cost", lit(0.0)).withColumn("fix_cost", lit(0.0))
          .withColumn("var_cost", lit(0.0))),
      "Demand" -> ModelExport.demandWide(demand, Seq("R1", "R2")))
    val dir = java.nio.file.Files.createTempDirectory("golden").toString
    ModelExport.writeWorkbook(dir, sheets, Map("year" -> "2015"))
    sheets.keys.foreach(sh => assert(new java.io.File(s"$dir/$sh").isDirectory))
    // the demand sheet is 48 rows wide-format with both regions positive
    val demandBack = spark.read.option("header", "true").csv(s"$dir/Demand")
    assert(demandBack.count() == 48)
    assert(demandBack.columns.toSet == Set("t", "R1", "R2"))

    // real-XLSX workbook sink (S10): same sheets, one .xlsx, read back
    val xlsx = s"$dir/urbs.xlsx"
    ModelExport.writeWorkbookXlsx(spark, xlsx, sheets.toSeq, Map("year" -> "2015"))
    assert(graft.sources.ExcelTable.sheetNames(spark, xlsx).toSet == sheets.keySet)
    val trBack = graft.sources.ExcelTable.read(spark, xlsx, sheet = "Transmission")
    assert(trBack.columns.toSeq ==
      Seq("Site In", "Site Out", "Transmission", "Commodity", "eff", "inv-cost", "inst-cap", "cap-up"))
    assert(trBack.count() == sheets("Transmission").count())
  }

  test("micro-Europe loadTimeseries matches the unpinned formulation to 1e-12 relative") {
    val (load, shares, profiles, weights) = loadChain
    LoadTimeseriesReference.assertMatches(
      LoadPipeline.loadTimeseries(load, shares, profiles, weights), load, shares, profiles, weights)
  }
}
