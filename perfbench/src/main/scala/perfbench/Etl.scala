package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.export.ModelExport
import graft.geo.GeoFns
import graft.operators.{Ops, SpatialOps}
import graft.pipeline._
import graft.sources.{EuCsv, GeoTiff, InputMaps, Shapefile}
import Trace.span

/** The paper's batch job: the stage sequence of `Runme.run` on seeded
  * raw inputs, from the raw CSV exports to the urbs and evrys workbooks.
  * The region layer is a grid of subregions with seeded boundaries, each
  * country one band of it; plants and grid lines are scattered over it.
  */
final class EtlWorkload extends Workload {
  val year = 2015
  val countries = 6
  val regionsPerCountry = 6
  val sectors = Seq("households", "industry", "commerce")
  val gridLines = 1000
  val plants = 1500
  val rasterSide = 300
  val renewableSites = 4
  val x0 = 0.0; val x1 = 16.0; val y0 = 40.0; val y1 = 56.0

  def itemUnit = "raw rows"
  private def loadRows = countries * 365 * 24
  private def renewableRows = renewableSites * 2 * 2 * 8760
  private def profileRows = sectors.size * 3 * 2 * 96
  private def rawRows: Long = (loadRows + renewableRows + profileRows + gridLines + plants +
    countries * sectors.size + countries * regionsPerCountry + countries + rasterSide * rasterSide).toLong
  def sizes: Seq[(String, Any)] = Seq("countries" -> countries, "hours" -> 8760,
    "sectors" -> sectors.size, "subregions" -> countries * regionsPerCountry,
    "grid_lines" -> gridLines, "plants" -> plants, "raster_pixels" -> rasterSide * rasterSide,
    "renewable_series" -> renewableSites * 4, "raw_rows" -> rawRows)

  private def country(i: Int) = f"Country $i%02d"
  private def code(i: Int) = f"C$i%02d"
  private val fuels = Seq(("Hard Coal", "Steam Turbine", "PP", "Coal", 45), ("Natural Gas", "OCGT", "PP", "GasOC", 30),
    ("Natural Gas", "CCGT", "PP", "GasCC", 35), ("Lignite", "Steam Turbine", "PP", "Lignite", 45),
    ("Nuclear", "Steam Turbine", "PP", "Nuclear", 60), ("Hydro", "Run-Of-River", "PP", "Hydro", 80))

  /** Monotone seeded cuts of [a, b] into n cells. */
  private def cuts(r: java.util.SplittableRandom, a: Double, b: Double, n: Int): Array[Double] = {
    val w = Array.fill(n)(0.6 + r.nextDouble() * 0.8)
    val s = w.sum
    w.scanLeft(0.0)(_ + _).map(v => Gen.fmt(a + (b - a) * v / s).toDouble)
  }

  def prepare(ctx: Ctx): Unit = {
    val in = ctx.inputs
    val r = Gen.rng(ctx.seed, 101)
    val xs = cuts(r, x0, x1, regionsPerCountry)
    val ys = cuts(r, y0, y1, countries)
    Gen.write(new File(in, "regions.csv")) { out =>
      out("region;country;wkt")
      for (ci <- 0 until countries; ri <- 0 until regionsPerCountry) {
        val (a, b, c, d) = (Gen.fmt(xs(ri)), Gen.fmt(xs(ri + 1)), Gen.fmt(ys(ci)), Gen.fmt(ys(ci + 1)))
        out(s"R${ci}_$ri;${code(ci)};POLYGON (($a $c, $b $c, $b $d, $a $d, $a $c))")
      }
    }
    Gen.write(new File(in, "countries.csv")) { out =>
      out("country;wkt")
      (0 until countries).foreach { ci =>
        val (a, b, c, d) = (Gen.fmt(x0), Gen.fmt(x1), Gen.fmt(ys(ci)), Gen.fmt(ys(ci + 1)))
        out(s"${code(ci)};POLYGON (($a $c, $b $c, $b $d, $a $d, $a $c))")
      }
    }
    Gen.write(new File(in, "country_map.csv")) { out =>
      out("from_name;to_name"); (0 until countries).foreach(i => out(s"${country(i)};${code(i)}"))
    }
    Gen.write(new File(in, "load.csv")) { out =>
      out("country;year;month;day;hour;coverage;value")
      val days = java.time.LocalDate.of(year, 1, 1)
      for (ci <- 0 until countries) {
        val scale = 2000.0 + r.nextDouble() * 30000.0
        (0 until 365).foreach { d =>
          val date = days.plusDays(d.toLong)
          (1 to 24).foreach { h =>
            val v = scale * (0.7 + 0.2 * math.sin(h / 24.0 * 2 * math.Pi) + 0.1 * r.nextDouble())
            val cov = if (r.nextInt(50) == 0) 95.0 else 100.0
            out(s"${country(ci)};$year;${date.getMonthValue};${date.getDayOfMonth};$h;${Gen.fmt(cov)};${Gen.fmt(v)}")
          }
        }
      }
    }
    Gen.write(new File(in, "sector_shares.csv")) { out =>
      out("country;year;sector;value")
      for (ci <- 0 until countries; s <- sectors) out(s"${country(ci)};$year;$s;${Gen.fmt(5 + r.nextDouble() * 40)}")
    }
    Gen.write(new File(in, "profiles.csv")) { out =>
      out("sector;day_type;season;slot;value")
      for (s <- sectors; dt <- Seq("Working day", "Saturday", "Sunday"); sn <- Seq("Winter", "Summer"); slot <- 1 to 96)
        out(s"$s;$dt;$sn;$slot;${Gen.fmt(0.5 + r.nextDouble())}")
    }
    Gen.write(new File(in, "gridkit.csv")) { out =>
      out("l_id;wkt_srid_4326;length_m;voltage;wires;cables;frequency")
      (1 to gridLines).foreach { i =>
        val (ax, ay) = (x0 + r.nextDouble() * (x1 - x0), y0 + r.nextDouble() * (y1 - y0))
        val (bx, by) = (math.min(x1 - 1e-3, math.max(x0, ax + r.nextGaussian() * 2)),
          math.min(y1 - 1e-3, math.max(y0, ay + r.nextGaussian() * 2)))
        val circuits = 1 + r.nextInt(2)
        val volt = Seq.fill(circuits)(Seq("0", "220000", "380000", "110000")(r.nextInt(4))).mkString(",")
        val freq = if (r.nextInt(20) == 0) "0" else "50"
        def multi(v: => String) = Seq.fill(circuits)(v).mkString(",")
        out(s"$i;\"SRID=4326;LINESTRING(${Gen.fmt(ax)} ${Gen.fmt(ay)},${Gen.fmt(bx)} ${Gen.fmt(by)})\";" +
          s"${Gen.fmt(1000 + r.nextDouble() * 200000)};${volt.replace(',', '|')};${multi("4").replace(',', '|')};" +
          s"${multi("3").replace(',', '|')};${multi(freq).replace(',', '|')}")
      }
    }
    Gen.write(new File(in, "plants.csv")) { out =>
      out("Name;Fueltype;Technology;Set;Country;inst_cap;Year;lon;lat")
      (1 to plants).foreach { i =>
        val f = fuels(r.nextInt(fuels.size))
        val ci = r.nextInt(countries)
        val lon = x0 + r.nextDouble() * (x1 - x0)
        val lat = ys(ci) + r.nextDouble() * (ys(ci + 1) - ys(ci))
        val name = if (r.nextInt(10) == 0) "" else s"Plant ${i % 1500}"
        val yr = if (r.nextInt(8) == 0) "" else (1960 + r.nextInt(55)).toString
        out(s"$name;${f._1};${f._2};${f._3};${code(ci)};${Gen.fmt(10 + r.nextDouble() * 900)};$yr;${Gen.fmt(lon)};${Gen.fmt(lat)}")
      }
    }
    Gen.write(new File(in, "renewable.csv")) { out =>
      out("series_key;t;value")
      for (si <- 0 until renewableSites; tech <- Seq("WindOn", "Solar"); q <- Seq("q50", "q90"); t <- 1 to 8760) {
        val site = s"R${si % countries}_${si % regionsPerCountry}"
        out(s"$site.$tech.$q;$t;${Gen.fmt(r.nextDouble())}")
      }
    }
  }

  private def read(ctx: Ctx, name: String, schema: String): DataFrame =
    ctx.op(s"EuCsv.read $name")(span("sources")(CorpusIO.pinned(
      EuCsv.read(ctx.spark, new File(ctx.inputs, name).getPath, Some(StructType.fromDDL(schema)))))).get

  /** Run one stage of the model chain: materialize to parquet under `out`. */
  private def stage(ctx: Ctx, layer: String, out: File, name: String)(f: => DataFrame): Option[DataFrame] =
    ctx.op(s"$layer $name")(span(layer) {
      val path = new File(out, name).getPath
      f.write.mode("overwrite").parquet(path)
      ctx.spark.read.parquet(path)
    })

  def pass(ctx: Ctx, out: File): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val regionsRaw = read(ctx, "regions.csv", "region STRING, country STRING, wkt STRING")
    val cmap = read(ctx, "country_map.csv", "from_name STRING, to_name STRING")
    val loadRaw = read(ctx, "load.csv",
      "country STRING, year INT, month INT, day INT, hour INT, coverage DOUBLE, value DOUBLE")
    val sharesRaw = read(ctx, "sector_shares.csv", "country STRING, year INT, sector STRING, value STRING")
    val profRaw = read(ctx, "profiles.csv", "sector STRING, day_type STRING, season STRING, slot INT, value DOUBLE")
    val gridRaw = read(ctx, "gridkit.csv", "l_id LONG, wkt_srid_4326 STRING, length_m DOUBLE, " +
      "voltage STRING, wires STRING, cables STRING, frequency STRING")
      .select(Seq(col("l_id"), col("wkt_srid_4326"), col("length_m")) ++
        Seq("voltage", "wires", "cables", "frequency").map(c => translate(col(c), "|", ";").as(c)): _*)
    val plantsRaw = read(ctx, "plants.csv", "Name STRING, Fueltype STRING, Technology STRING, Set STRING, " +
      "Country STRING, inst_cap DOUBLE, Year INT, lon DOUBLE, lat DOUBLE")
    val renRaw = read(ctx, "renewable.csv", "series_key STRING, t INT, value DOUBLE")
    val countryPolys = read(ctx, "countries.csv", "country STRING, wkt STRING")

    // input QA: row, null and distinct counts of the raw load export
    ctx.op("Ops.profile")(span("operators.Ops")(Ops.profile(loadRaw, Seq("country", "hour", "value")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap)).foreach { p =>
      ctx.check("load profile", p, (m: Map[String, (Long, Long, Long)]) => m.updated("value", m("value").copy(_2 = 1L))) { m =>
        val want = Map("country" -> countries.toLong, "hour" -> 24L)
        m.collectFirst {
          case (c, (n, nulls, nd)) if n != loadRows || nulls != 0 || want.get(c).exists(_ != nd) => s"column $c: $n rows, $nulls nulls, $nd distinct"
        }
      }
    }

    val profile = stage(ctx, "pipeline", out, "profiles") {
      sectors.map(s => ProfilesPipeline.cleanProfile(profRaw.filter(col("sector") === s), year)
        .select(lit(s).as("sector"), col("t"), col("value").as("weight")))
        .reduce(_ unionByName _)
    }
    val grid = stage(ctx, "pipeline", out, "grid_cleaned") {
      Schemas.requireSchema(GridPipeline.cleanGridKit(gridRaw, GridPipeline.defaultVoltageLimits(spark)),
        Schemas.gridCleaned, "grid_cleaned")
    }
    val shares = stage(ctx, "pipeline", out, "sector_shares") {
      LoadPipeline.sectorShares(sharesRaw, year, cmap, cmap)
    }
    val load = stage(ctx, "pipeline", out, "load_ts")(LoadPipeline.cleanLoad(loadRaw, year, cmap))
    val sites = stage(ctx, "pipeline", out, "sites")(SitesPipeline.generateSites(regionsRaw))
    // plants: clean, then locate each plant in its site with the naive
    // point-in-polygon join a modeller writes (the bbox rule rewrites it)
    val plantsClean = stage(ctx, "pipeline", out, "process_cleaned") {
      val tmap = fuels.map(f => (s"(${f._1},${f._2},${f._3})", f._4)).toDF("from_name", "to_name")
      val cleaned = PlantsPipeline.cleanPlants(plantsRaw, tmap, meanYear = 1990)
      val polys = regionsRaw.select(col("region").as("Site"), col("wkt"))
      cleaned.join(polys, GeoFns.stContainsXY(col("wkt"), col("lon"), col("lat"))).drop("wkt", "lon", "lat")
    }

    // subregion × country overlay: the pieces that split country load
    ctx.op("SpatialOps.overlay")(span("operators.SpatialOps")(
      SpatialOps.overlay(regionsRaw.select(col("region").as("sub"), col("wkt").as("sub_wkt")), "sub", "sub_wkt",
        countryPolys, "country", "wkt").select(col("piece"), col("piece_area")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap)).foreach { pieces =>
      // every subregion lies inside one country band: one piece each, same area
      val areas = regionsRaw.select(col("region"), col("country"), GeoFns.stArea(col("wkt"))).collect()
        .map(r => s"${r.getString(0)}_${r.getString(1)}" -> r.getDouble(2)).toMap
      ctx.check("overlay pieces", pieces, (m: Map[String, Double]) => m - m.keys.min) { m =>
        if (m.keySet == areas.keySet && areas.forall { case (k, a) => math.abs(m(k) - a) <= 1e-9 * a }) None
        else Some(s"${m.size} pieces for ${areas.size} subregions")
      }
    }

    // population raster → zonal sums per subregion → weights per country
    val pixels = InputMaps.pixelGrid(spark, rasterSide, rasterSide, x0, y0, x1, y1)
      .withColumn("pop", pmod(xxhash64(col("row"), col("col"), lit(ctx.seed)), lit(1000L)).cast("double"))
    val zonal = ctx.op("SpatialOps.zonalStats")(span("operators.SpatialOps")(CorpusIO.pinned(
      SpatialOps.zonalStats(pixels, "x", "y", "pop", regionsRaw.select(col("region"), col("wkt")), "wkt", "region"))))
    val weights = zonal.flatMap(z => ctx.op("Ops.normalizePerGroup")(span("operators.Ops")(CorpusIO.pinned(
      Ops.normalizePerGroup(z.join(regionsRaw.select(col("region"), col("country")), "region"),
        Seq("country"), "zonal_sum", "w").select(col("region"), col("country"), col("w"))))))
    ctx.op("InputMaps.rasterize + GeoTiff.write")(span("sources") {
      val siteOrd = regionsRaw.select(col("wkt"),
        dense_rank().over(Window.orderBy(col("region"))).cast("double").as("burn"))
      val burned = InputMaps.rasterize(InputMaps.pixelGrid(spark, rasterSide, rasterSide, x0, y0, x1, y1),
        siteOrd, "wkt", "burn")
        .select((lit(rasterSide - 1) - col("row")).as("row"), col("col"), col("burn").as("value"))
      val res = (x1 - x0) / rasterSide
      GeoTiff.write(burned, GeoTiff.GeoInfo(rasterSide, rasterSide, x0 = x0, y0 = y1, resX = res, resY = res),
        new File(out, "sites_raster.tif").getPath)
    })
    sites.foreach(s => ctx.op("Shapefile.write")(span("sources")(
      Shapefile.write(s.withColumnRenamed("wkt", "geometry"), "geometry", new File(out, "sites_shp").getPath))))

    val demand = for (l <- load; sh <- shares; pr <- profile; w <- weights)
      yield stage(ctx, "pipeline", out, "demand_ts") {
        LoadPipeline.loadTimeseries(l, sh, pr, w.crossJoin(spark.createDataset(sectors).toDF("sector")))
          .withColumn("t", col("t").cast("int"))
      }
    val transmission = for (g <- grid; s <- sites) yield stage(ctx, "pipeline", out, "grid_completed") {
      val assumptions = Seq(("AC", 0.92, 0.4), ("DC", 0.95, 0.6)).toDF("tr_type", "eff_per_1000km", "cost_per_mw_km")
      Schemas.requireSchema(GridPipeline.generateTransmission(g, s.select(col("Site").as("region"), col("wkt")),
        assumptions), Schemas.transmission, "grid_completed")
    }
    val renewable = stage(ctx, "pipeline", out, "renewable_ts") {
      val caps = (0 until renewableSites).flatMap { si =>
        Seq("WindOn", "Solar").map(t => (s"R${si % countries}_${si % regionsPerCountry}", t, 50.0 + si * 10))
      }.toDF("Site", "tech", "inst_cap")
      val (kept, _) = RenewableTsPipeline.selectQuantile(RenewableTsPipeline.parseSeriesKey(renRaw),
        Map("WindOn" -> "q50", "Solar" -> "q90"))
      RenewableTsPipeline.supplyTimeseries(kept, caps)
    }
    val lifetimes = fuels.map(f => (f._4, f._5, 5000.0)).distinct.toDF("Type", "lifetime", "cap_max")
    val processes = for (p <- plantsClean; s <- sites) yield stage(ctx, "pipeline", out, "process_compact") {
      ProcessPipeline.processTable(ProcessPipeline.capacityCohorts(p, lifetimes, year),
        ProcessPipeline.expansionCandidates(s.select(col("Site")), lifetimes.drop("lifetime")))
    }
    val commodities = for (s <- sites; d <- demand.flatten) yield stage(ctx, "pipeline", out, "commodities") {
      ProcessPipeline.generateCommodities(s.select(col("Site")), Seq("Elec").toDF("Commodity"),
        d.groupBy(col("region").as("Site")).agg(sum(col("value")).as("annual")).withColumn("Commodity", lit("Elec")))
    }

    // model workbooks
    val siteNames = sites.map(_.select("Site").collect().map(_.getString(0)).sorted.toSeq).getOrElse(Nil)
    for (tr <- transmission.flatten; pr <- processes.flatten; d <- demand.flatten; rn <- renewable) {
      ctx.op("ModelExport urbs")(span("export")(ModelExport.writeWorkbook(new File(out, "urbs").getPath, Map(
        "Transmission" -> ModelExport.urbsTransmission(tr),
        "Process" -> ModelExport.urbsProcess(pr.withColumn("inv_cost", lit(0.0)).withColumn("fix_cost", lit(0.0))
          .withColumn("var_cost", lit(0.0))),
        "Demand" -> ModelExport.demandWide(d, siteNames),
        "SupIm" -> rn.select(col("t"), concat(col("Site"), lit("."), col("tech")).as("sit"), col("mw"))),
        Map("year" -> year.toString))))
      ctx.op("ModelExport evrys")(span("export")(ModelExport.writeWorkbook(new File(out, "evrys").getPath, Map(
        "Process" -> ModelExport.evrysProcess(pr),
        "Demand" -> ModelExport.evrysDemand(d)), Map("year" -> year.toString))))
    }

    // ── checks ──
    for (g <- grid; tr <- transmission.flatten; l <- load; sh <- shares; d <- demand.flatten;
         p <- plantsClean; pr <- processes.flatten) {
      val schemas = Seq((g, Schemas.gridCleaned, "grid_cleaned"), (tr, Schemas.transmission, "grid_completed"),
        (l, Schemas.loadTs, "load_ts"), (sh, Schemas.sectorShares, "sector_shares"), (d, Schemas.demandTs, "demand_ts"),
        (p, Schemas.plants, "process_cleaned"))
      ctx.check("schema contracts", schemas.map(x => (x._1.schema, x._2, x._3)),
          (s: Seq[(StructType, StructType, String)]) => s.map(x => (StructType(x._1.drop(1)), x._2, x._3))) { s =>
        s.flatMap { case (have, want, name) =>
          val h = have.map(f => f.name -> f.dataType).toMap
          want.filterNot(f => h.get(f.name).contains(f.dataType)).map(f => s"$name.${f.name}")
        }.headOption.map(m => s"missing or mistyped column $m")
      }

      // Σ_regions demand(t) = Σ_countries total(c) · Σ_sectors share(c, s) · profile(s, t)
      val totals = l.groupBy("country").agg(sum("value")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val sh2 = sh.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val prof = profile.get.collect().map(r => (r.getString(0), r.getAs[Number](1).intValue) -> r.getDouble(2)).toMap
      val got = d.groupBy("t").agg(sum("value")).collect().map(r => r.getAs[Number](0).intValue -> r.getDouble(1)).toMap
      ctx.check("demand conservation", got, (m: Map[Int, Double]) => m.updated(1, m(1) * 1.01)) { m =>
        val bad = (1 to 8760).filter { t =>
          val want = totals.map { case (c, tot) => sectors.map(s => tot * sh2.getOrElse((c, s), 0.0) *
            prof.getOrElse((s, t), 0.0)).sum }.sum
          math.abs(m.getOrElse(t, 0.0) - want) > 1e-6 * math.max(1.0, want)
        }
        if (bad.isEmpty) None else Some(s"${bad.size} hours not conserved, first t=${bad.head}")
      }

      def csvRows(dir: String) = Files.find(new File(out, dir))(_.endsWith(".csv")).map { f =>
        val src = scala.io.Source.fromFile(f)
        try math.max(0L, src.getLines().size - 1L) finally src.close()
      }.sum
      val want = Map("urbs/Demand" -> 8760L, "urbs/Transmission" -> tr.count(),
        "urbs/Process" -> pr.count(), "urbs/SupIm" -> renewable.get.count(),
        "evrys/Process" -> pr.count(), "evrys/Demand" -> d.count())
      ctx.check("workbook rows", want.keys.map(k => k -> csvRows(k)).toMap,
          (m: Map[String, Long]) => m.updated("urbs/Demand", m("urbs/Demand") - 1)) { m =>
        want.find { case (k, v) => m(k) != v }.map { case (k, v) => s"$k has ${m(k)} rows, expected $v" }
      }
    }
    Seq(Some(regionsRaw), Some(cmap), Some(loadRaw), Some(sharesRaw), Some(profRaw), Some(plantsRaw), Some(renRaw),
      Some(countryPolys),
      zonal, weights).flatten.foreach(_.unpersist())
    rawRows
  }
}
