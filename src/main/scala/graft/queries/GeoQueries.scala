package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.operators.SpatialOps
import graft.queries.QueryFixtures._

/** Geo queries: `Shapefile`, `GeoFns`, `SpatialOps`, `InputMaps`, `GeoTiff`
  * and `Ntv2`.
  */
object GeoQueries {

  /** Format-exact NTv2 `.gsb` fixture for q134: one 13×13 subgrid over
    * 45–46°N × 64–65°W (300-arcsec cells, lon positive WEST per the
    * format), float32 node shifts from closed-form integer formulas —
    * latShift(r,c) = ((3r+5c) mod 41)/64, lonShift(r,c) = ((7r+11c) mod
    * 37)/64 arc-seconds, both exactly representable in float32 — so the
    * DuckDB oracle can recompute the node relation and the bilinear
    * application from first principles. Nodes run row-major S→N, within
    * a row E→W (the published order).
    */
  private def ntv2FixtureBytes(): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val nr = 13; val nc = 13
    val buf = ByteBuffer.allocate(11 * 16 + 11 * 16 + nr * nc * 16)
      .order(ByteOrder.LITTLE_ENDIAN)
    def rec(name: String)(w: ByteBuffer => Unit): Unit = {
      buf.put(String.format("%-8s", name).getBytes("US-ASCII"))
      val p = buf.position(); w(buf)
      while (buf.position() < p + 8) buf.put(0.toByte)
    }
    rec("NUM_OREC")(_.putInt(11)); rec("NUM_SREC")(_.putInt(11))
    rec("NUM_FILE")(_.putInt(1))
    rec("GS_TYPE")(_.put("SECONDS ".getBytes("US-ASCII")))
    rec("VERSION")(_.put("NTv2.0  ".getBytes("US-ASCII")))
    rec("SYSTEM_F")(_.put("SRCDATUM".getBytes("US-ASCII")))
    rec("SYSTEM_T")(_.put("DSTDATUM".getBytes("US-ASCII")))
    rec("MAJOR_F")(_.putDouble(6378137.0))
    rec("MINOR_F")(_.putDouble(6356752.314))
    rec("MAJOR_T")(_.putDouble(6378137.0))
    rec("MINOR_T")(_.putDouble(6356752.314))
    rec("SUB_NAME")(_.put("ORACLE0 ".getBytes("US-ASCII")))
    rec("PARENT")(_.put("NONE    ".getBytes("US-ASCII")))
    rec("CREATED")(_.put("20260813".getBytes("US-ASCII")))
    rec("UPDATED")(_.put("20260813".getBytes("US-ASCII")))
    rec("S_LAT")(_.putDouble(162000.0)); rec("N_LAT")(_.putDouble(165600.0))
    rec("E_LONG")(_.putDouble(230400.0)); rec("W_LONG")(_.putDouble(234000.0))
    rec("LAT_INC")(_.putDouble(300.0)); rec("LONG_INC")(_.putDouble(300.0))
    rec("GS_COUNT")(_.putInt(nr * nc))
    var r = 0
    while (r < nr) {
      var c = 0
      while (c < nc) {
        buf.putFloat((((r * 3 + c * 5) % 41) / 64.0).toFloat)
        buf.putFloat((((r * 7 + c * 11) % 37) / 64.0).toFloat)
        buf.putFloat(0f); buf.putFloat(0f)
        c += 1
      }
      r += 1
    }
    buf.array()
  }

  val specs: Seq[QuerySpec] = Seq(
    // J5: point-in-polygon spatial join (WKT kernel + bbox prefilter),
    // regions as rectangles so the oracle is BETWEEN arithmetic.
    QuerySpec("q20_spatial_join", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 100 + 0.5).cast("double").as("x"),
        ((col("c_custkey") * 7) % 100 + 0.5).cast("double").as("y"))
      val polys = t(s, dir, "region").select(col("r_name"),
        format_string("POLYGON ((%d 0, %d 0, %d 100, %d 100, %d 0))",
          col("r_regionkey") * 20, col("r_regionkey") * 20 + 20,
          col("r_regionkey") * 20 + 20, col("r_regionkey") * 20,
          col("r_regionkey") * 20).as("wkt"))
      SpatialOps.pointInPolygonJoin(pts, "x", "y", polys, "wkt")
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
    },
      """SELECT r_name, count(*) AS n_customers
        |FROM customer JOIN region
        |  ON (c_custkey % 100 + 0.5) >= r_regionkey * 20
        | AND (c_custkey % 100 + 0.5) < r_regionkey * 20 + 20
        |GROUP BY r_name""".stripMargin),

    // A6: zonal statistics over a pixel relation (raster → relational).
    QuerySpec("q21_zonal_stats", (s, dir) => {
      val px = events(s, dir).select(
        (col("event_id") % 40 + 0.5).cast("double").as("x"),
        (col("user_id") % 30 + 0.5).cast("double").as("y"),
        col("value"))
      val xm = (col("id") % 4) * 10
      val ym = floor(col("id") / 4).cast("long") * 10
      val zones = s.range(12).select(col("id").as("zone_id"),
        format_string("POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
          xm, ym, xm + 10, ym, xm + 10, ym + 10, xm, ym + 10, xm, ym).as("wkt"))
      SpatialOps.zonalStats(px, "x", "y", "value", zones, "wkt", "zone_id")
        .select(col("zone_id"), round(col("zonal_sum"), 2).as("zonal_sum"),
          round(col("zonal_max"), 2).as("zonal_max"), col("zonal_count"))
    },
      """SELECT CAST(floor((event_id % 40 + 0.5) / 10) + 4 * floor((user_id % 30 + 0.5) / 10)
        |    AS BIGINT) AS zone_id,
        |  round(sum(value), 2) AS zonal_sum, round(max(value), 2) AS zonal_max,
        |  count(*) AS zonal_count
        |FROM events GROUP BY 1""".stripMargin),

    // Raster kernel: resizem block-upsample then windowed read on the
    // pixel relation (map-side explode + pruned filter).
    QuerySpec("q60_pixel_upsample", (s, dir) => {
      import graft.sources.InputMaps
      val px = events(s, dir).select(
        (col("event_id") % 20).cast("int").as("row"),
        (col("user_id") % 15).cast("int").as("col"),
        col("value"))
        .groupBy("row", "col").agg(round(sum(col("value")), 2).as("value"))
      val up = InputMaps.upsample(px, 2)
      InputMaps.window(up, 10, 30, 0, 20)
        .groupBy(col("row").cast("long").as("row"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("row_sum"))
    },
      """WITH base AS (
        |  SELECT CAST(event_id % 20 AS INT) AS row, CAST(user_id % 15 AS INT) AS col,
        |    round(sum(value), 2) AS value
        |  FROM events GROUP BY 1, 2),
        |up AS (
        |  SELECT base.row * 2 + dr.i AS row, base.col * 2 + dc.i AS col, value
        |  FROM base CROSS JOIN range(2) dr(i) CROSS JOIN range(2) dc(i))
        |SELECT row, count(*) AS n, round(sum(value), 2) AS row_sum
        |FROM up WHERE row BETWEEN 10 AND 29 AND col BETWEEN 0 AND 19
        |GROUP BY row""".stripMargin),

    // J9: polygon adjacency pairs (Queen contiguity) via spatial self-join.
    QuerySpec("q41_adjacency_pairs", (s, dir) => {
      import graft.geo.GeoFns
      val xm = (col("id") % 4) * 10
      val ym = floor(col("id") / 4).cast("long") * 10
      val zones = s.range(12).select(col("id").as("zone_id"),
        format_string("POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
          xm, ym, xm + 10, ym, xm + 10, ym + 10, xm, ym + 10, xm, ym).as("wkt"))
      val a = zones.select(col("zone_id").as("zone_a"), col("wkt").as("wa"))
      val b = zones.select(col("zone_id").as("zone_b"), col("wkt").as("wb"))
      a.join(b, col("zone_a") < col("zone_b") && GeoFns.stTouches(col("wa"), col("wb")))
        .select(col("zone_a"), col("zone_b"))
    },
      """SELECT a.i AS zone_a, b.i AS zone_b
        |FROM range(12) a(i) JOIN range(12) b(i)
        |  ON a.i < b.i
        | AND abs((a.i % 4) - (b.i % 4)) <= 1
        | AND abs((a.i // 4) - (b.i // 4)) <= 1""".stripMargin),

    // J6: polygon overlay — intersection area of tiles × offset stripes,
    // keeping only area > 0 pieces (P5 filter).
    QuerySpec("q42_overlay_area", (s, dir) => {
      import graft.geo.GeoFns
      val xm = (col("id") % 4) * 10
      val ym = floor(col("id") / 4).cast("long") * 10
      val zones = s.range(12).select(col("id").as("zone_id"),
        format_string("POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
          xm, ym, xm + 10, ym, xm + 10, ym + 10, xm, ym + 10, xm, ym).as("wkt"))
      val stripes = s.range(2).select(col("id").as("stripe_id"))
        .select(col("stripe_id"), format_string(
          "POLYGON ((0 %d, 40 %d, 40 %d, 0 %d, 0 %d))",
          col("stripe_id") * 10 + 5, col("stripe_id") * 10 + 5,
          col("stripe_id") * 10 + 15, col("stripe_id") * 10 + 15,
          col("stripe_id") * 10 + 5).as("swkt"))
      zones.crossJoin(broadcast(stripes))
        .withColumn("area", GeoFns.stIntersectionArea(col("wkt"), col("swkt")))
        .filter(col("area") > 0)
        .select(col("zone_id"), col("stripe_id"), round(col("area"), 6).as("area"))
    },
      """WITH z AS (SELECT i AS zone_id, (i % 4) * 10 AS x0, (i // 4) * 10 AS y0
        |  FROM range(12) t(i)),
        |s AS (SELECT i AS stripe_id, i * 10 + 5 AS sy0 FROM range(2) t(i)),
        |o AS (SELECT zone_id, stripe_id,
        |  greatest(0, least(x0 + 10, 40) - greatest(x0, 0)) *
        |  greatest(0, least(y0 + 10, sy0 + 10) - greatest(y0, sy0)) AS area
        |  FROM z CROSS JOIN s)
        |SELECT zone_id, stripe_id, round(CAST(area AS DOUBLE), 6) AS area
        |FROM o WHERE area > 0""".stripMargin),

    // J6 general: concave×concave overlay with holes and multipolygons —
    // the triangulated-decomposition kernel (geo.Geometry). Zones are
    // concave L-shapes; clips are a concave L, a donut (hole), and a
    // 2-part MULTIPOLYGON. The oracle reproduces every area by rectangle
    // decomposition arithmetic (holes enter with sign -1).
    QuerySpec("q63_overlay_general", (s, dir) => {
      import s.implicits._
      import graft.geo.GeoFns
      val xm = (col("id") % 4) * 10
      val ym = floor(col("id") / 4).cast("long") * 10
      // L per cell: [x,x+10]×[y,y+5] ∪ [x,x+5]×[y+5,y+10] (concave at center)
      val zones = s.range(12).select(col("id").as("zone_id"),
        format_string("POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d, %d %d, %d %d))",
          xm, ym, xm + 10, ym, xm + 10, ym + 5, xm + 5, ym + 5,
          xm + 5, ym + 10, xm, ym + 10, xm, ym).as("wkt"))
      val clips = Seq(
        (0L, "POLYGON ((0 0, 40 0, 40 18, 20 18, 20 30, 0 30, 0 0))"),
        (1L, "POLYGON ((5 2, 35 2, 35 28, 5 28, 5 2), (10 8, 30 8, 30 22, 10 22, 10 8))"),
        (2L, "MULTIPOLYGON (((0 0, 12 0, 12 30, 0 30, 0 0)), ((25 3, 38 3, 38 27, 25 27, 25 3)))"))
        .toDF("clip_id", "cwkt")
      zones.crossJoin(broadcast(clips))
        .withColumn("area", GeoFns.stIntersectionArea(col("wkt"), col("cwkt")))
        .filter(col("area") > 1e-9)
        .select(col("zone_id"), col("clip_id"), round(col("area"), 6).as("area"))
    },
      """WITH zp AS (
        |  SELECT i AS zone_id, (i % 4) * 10 AS x0, (i // 4) * 10 AS y0 FROM range(12) t(i)
        |), zr AS (
        |  SELECT zone_id, x0 AS rx0, y0 AS ry0, x0 + 10 AS rx1, y0 + 5 AS ry1 FROM zp
        |  UNION ALL
        |  SELECT zone_id, x0, y0 + 5, x0 + 5, y0 + 10 FROM zp
        |), cr(clip_id, sgn, cx0, cy0, cx1, cy1) AS (
        |  VALUES (0, 1, 0, 0, 40, 18), (0, 1, 0, 18, 20, 30),
        |         (1, 1, 5, 2, 35, 28), (1, -1, 10, 8, 30, 22),
        |         (2, 1, 0, 0, 12, 30), (2, 1, 25, 3, 38, 27)
        |), o AS (
        |  SELECT zone_id, clip_id,
        |    sum(sgn * greatest(0, least(rx1, cx1) - greatest(rx0, cx0))
        |            * greatest(0, least(ry1, cy1) - greatest(ry0, cy0))) AS area
        |  FROM zr CROSS JOIN cr GROUP BY 1, 2
        |)
        |SELECT zone_id, CAST(clip_id AS BIGINT) AS clip_id,
        |  round(CAST(area AS DOUBLE), 6) AS area
        |FROM o WHERE area > 0""".stripMargin),

    // J9 exact: Queen contiguity on a triangle tiling — lower-left triangle
    // per cell, so NE/SW diagonal cells have touching BBOXES but disjoint
    // GEOMETRIES. A bbox probe would emit those pairs; the exact kernel
    // must not. Oracle: pure integer grid arithmetic.
    QuerySpec("q64_queen_triangles", (s, dir) => {
      import graft.geo.GeoFns
      val cx = (col("id") % 5) * 10
      val cy = floor(col("id") / 5).cast("long") * 10
      val zones = s.range(25).select(col("id").as("zone_id"),
        format_string("POLYGON ((%d %d, %d %d, %d %d, %d %d))",
          cx, cy, cx + 10, cy, cx, cy + 10, cx, cy).as("wkt"))
      val a = zones.select(col("zone_id").as("zone_a"), col("wkt").as("wa"))
      val b = zones.select(col("zone_id").as("zone_b"), col("wkt").as("wb"))
      a.join(b, col("zone_a") < col("zone_b") && GeoFns.stTouches(col("wa"), col("wb")))
        .select(col("zone_a"), col("zone_b"))
    },
      """SELECT a.i AS zone_a, b.i AS zone_b
        |FROM range(25) a(i) JOIN range(25) b(i) ON b.i > a.i
        |WHERE abs((a.i % 5) - (b.i % 5)) <= 1
        |  AND abs((a.i // 5) - (b.i // 5)) <= 1
        |  AND NOT ((b.i % 5) - (a.i % 5) = 1 AND (b.i // 5) - (a.i // 5) = 1)""".stripMargin),

    // S4 CRS leg: reproject Web-Mercator meters to lon/lat at ingestion
    // (the reference's .to_crs(epsg:4326) normalization). The inverse
    // Mercator is closed-form, so DuckDB reproduces it exactly.
    QuerySpec("q66_crs_reproject", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") % 3600) * 10000 - 18000000).cast("double").as("mx"),
        ((col("s_suppkey") % 1700) * 10000 - 8400000).cast("double").as("my"))
      pts.select(col("s_suppkey"),
        round(CrsFns.toLon(lit(3857), col("mx"), col("my")), 6).as("lon"),
        round(CrsFns.toLat(lit(3857), col("mx"), col("my")), 6).as("lat"))
    },
      """WITH p AS (SELECT s_suppkey,
        |  CAST((s_suppkey % 3600) * 10000 - 18000000 AS DOUBLE) AS mx,
        |  CAST((s_suppkey % 1700) * 10000 - 8400000 AS DOUBLE) AS my
        |  FROM supplier)
        |SELECT s_suppkey,
        |  round(degrees(mx / 6378137.0), 6) AS lon,
        |  round(degrees(2 * atan(exp(my / 6378137.0)) - pi() / 2), 6) AS lat
        |FROM p""".stripMargin),

    // S4/S7 codec leg: REAL .shp/.dbf binary round trip. Region rectangles
    // (as q20) are written as an ESRI shapefile, read back through the
    // binary parser, and drive the same spatial join — so the oracle is
    // pure BETWEEN arithmetic on parquet and any codec corruption
    // (ring orientation, DBF typing, record framing) breaks the hash.
    QuerySpec("q67_shp_roundtrip", (s, dir) => {
      val polys = t(s, dir, "region").select(col("r_name"),
        format_string("POLYGON ((%d 0, %d 0, %d 100, %d 100, %d 0))",
          col("r_regionkey") * 20, col("r_regionkey") * 20 + 20,
          col("r_regionkey") * 20 + 20, col("r_regionkey") * 20,
          col("r_regionkey") * 20).as("geometry"))
      val base = scratchDir("graft_shp")
        .resolve("regions").toString
      graft.sources.Shapefile.write(polys, "geometry", base)
      val back = graft.sources.Shapefile.read(s, base)
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 100 + 0.5).cast("double").as("x"),
        ((col("c_custkey") * 7) % 100 + 0.5).cast("double").as("y"))
      SpatialOps.pointInPolygonJoin(pts, "x", "y", back, "geometry")
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
    },
      """SELECT r_name, count(*) AS n_customers
        |FROM customer JOIN region
        |  ON (c_custkey % 100 + 0.5) >= r_regionkey * 20
        | AND (c_custkey % 100 + 0.5) < r_regionkey * 20 + 20
        |GROUP BY r_name""".stripMargin),

    // S5/S8 codec leg: REAL GeoTIFF (float32 + PackBits + geo tags)
    // round trip with a windowed, executor-side decode. Per-cell event
    // counts are burned into a 30x40 raster, written as GeoTIFF, read
    // back through a 20x20 window, and re-aggregated per row. Counts are
    // integers (exact in float32), so DuckDB reproduces the sums exactly.
    QuerySpec("q68_geotiff_roundtrip", (s, dir) => {
      import graft.sources.GeoTiff
      val cells = events(s, dir).select(
        (col("user_id") % 30).cast("int").as("row"),
        (col("event_id") % 40).cast("int").as("col"))
        .groupBy("row", "col").agg(count(lit(1)).cast("double").as("value"))
      val gi = GeoTiff.GeoInfo(rows = 30, cols = 40,
        x0 = 0.0, y0 = 30.0, resX = 1.0, resY = 1.0)
      val path = scratchDir("graft_tif")
        .resolve("counts.tif").toString
      GeoTiff.write(cells, gi, path)
      GeoTiff.read(s, path, window = Some((5, 10, 24, 29)), bandRows = 8)
        .groupBy(col("row").cast("long").as("row"))
        .agg(sum(col("value")).cast("long").as("pixel_sum"),
          count(lit(1)).as("n_cells"))
    },
      """WITH cells AS (
        |  SELECT CAST(user_id % 30 AS BIGINT) AS r,
        |         CAST(event_id % 40 AS BIGINT) AS c, count(*) AS n
        |  FROM events
        |  WHERE user_id % 30 BETWEEN 5 AND 24 AND event_id % 40 BETWEEN 10 AND 29
        |  GROUP BY 1, 2),
        |rws AS (SELECT CAST(range AS BIGINT) AS row FROM range(5, 25))
        |SELECT rws.row AS row, CAST(coalesce(sum(cells.n), 0) AS BIGINT) AS pixel_sum,
        |       CAST(20 AS BIGINT) AS n_cells
        |FROM rws LEFT JOIN cells ON cells.r = rws.row
        |GROUP BY rws.row""".stripMargin),

    // S4 CRS leg, UTM: closed-form lon/lat points are projected to
    // EPSG:32632 (Krüger series), written as a .shp WITH a .prj sidecar,
    // and read back — Shapefile.read must DETECT the .prj and reproject
    // to 4326 on its own (the reference's transparent any-CRS ingestion,
    // lib/initialization.py:39,58,80). The oracle is the original
    // closed-form arithmetic: any error in .prj detection, the forward
    // or the inverse transverse Mercator breaks the 6-decimal hash.
    QuerySpec("q83_utm_prj_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(7.5) + (col("s_suppkey") % 100) * 0.03).as("lon"),
        (lit(48.0) + (col("s_suppkey") % 73) * 0.05).as("lat"))
      val utm = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(32632), col("lon"), col("lat")),
          CrsFns.toY(lit(32632), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_utm")
        .resolve("pts32632").toString
      graft.sources.Shapefile.write(utm, "geometry", base, epsg = Some(32632))
      graft.sources.Shapefile.read(s, base) // auto-reprojects via .prj
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(7.5 + (s_suppkey % 100) * 0.03, 6) AS lon,
        |  round(48.0 + (s_suppkey % 73) * 0.05, 6) AS lat
        |FROM supplier""".stripMargin),

    // Lambert-93 (EPSG:2154) shapefile round trip — q83's contract for the
    // French national CRS: project a closed-form point grid onto the
    // two-standard-parallel Lambert conformal conic, write .shp + .prj,
    // read back through .prj auto-detection and auto-reprojection. The
    // oracle re-derives the original grid, so forward, inverse, WKT and
    // sidecar all have to agree to 1e-6 deg.
    QuerySpec("q95_lambert93_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(-4.0) + (col("s_suppkey") % 100) * 0.12).as("lon"),
        (lit(41.5) + (col("s_suppkey") % 73) * 0.13).as("lat"))
      val lam = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(2154), col("lon"), col("lat")),
          CrsFns.toY(lit(2154), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_l93")
        .resolve("pts2154").toString
      graft.sources.Shapefile.write(lam, "geometry", base, epsg = Some(2154))
      graft.sources.Shapefile.read(s, base) // auto-reprojects via .prj
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(-4.0 + (s_suppkey % 100) * 0.12, 6) AS lon,
        |  round(41.5 + (s_suppkey % 73) * 0.13, 6) AS lat
        |FROM supplier""".stripMargin),

    // British National Grid (EPSG:27700, Airy TM + OSGB36 Helmert bridge)
    // write→read→auto-reproject round trip; oracle = regenerated inputs
    // (bridge inverse is algebraic-exact; floor ~2e-8 deg ≪ 6-dp rounding).
    QuerySpec("q99_osgb_prj_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(-5.5) + (col("s_suppkey") % 100) * 0.07).as("lon"),
        (lit(50.1) + (col("s_suppkey") % 73) * 0.1).as("lat"))
      val bng = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(27700), col("lon"), col("lat")),
          CrsFns.toY(lit(27700), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_bng")
        .resolve("pts27700").toString
      graft.sources.Shapefile.write(bng, "geometry", base, epsg = Some(27700))
      graft.sources.Shapefile.read(s, base) // auto-reprojects via .prj
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(-5.5 + (s_suppkey % 100) * 0.07, 6) AS lon,
        |  round(50.1 + (s_suppkey % 73) * 0.1, 6) AS lat
        |FROM supplier""".stripMargin),

    // Swiss LV95 (EPSG:2056, CH1903+ oblique Mercator) write→read→auto-
    // reproject round trip — the first CRS chain through a geocentric
    // DATUM BRIDGE in the gate (Bessel ↔ WGS84, swisstopo translation).
    // The bridge's fixed-point floor is ~2e-8 deg, two orders under the
    // 6-dp rounding, so the oracle is the regenerated input points; the
    // projection itself is anchored in CrsSpec against swisstopo's
    // independent approximate polynomials.
    QuerySpec("q97_swiss_prj_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(6.0) + (col("s_suppkey") % 100) * 0.04).as("lon"),
        (lit(45.9) + (col("s_suppkey") % 73) * 0.03).as("lat"))
      val lv = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(2056), col("lon"), col("lat")),
          CrsFns.toY(lit(2056), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_lv95")
        .resolve("pts2056").toString
      graft.sources.Shapefile.write(lv, "geometry", base, epsg = Some(2056))
      graft.sources.Shapefile.read(s, base) // auto-reprojects via .prj
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(6.0 + (s_suppkey % 100) * 0.04, 6) AS lon,
        |  round(45.9 + (s_suppkey % 73) * 0.03, 6) AS lat
        |FROM supplier""".stripMargin),

    // Krovak S-JTSK (EPSG:5514) .prj round trip over CZ/SK: project a
    // deterministic WGS84 grid into the oblique conformal conic, write a
    // shapefile with its .prj sidecar, read it back through auto-detect
    // and reprojection — the oracle regenerates the input grid at 6 dp
    // (round-trip floor ~2e-8 deg ≪ the rounding).
    QuerySpec("q108_krovak_prj_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(12.2) + (col("s_suppkey") % 100) * 0.1).as("lon"),
        (lit(47.8) + (col("s_suppkey") % 73) * 0.042).as("lat"))
      val kro = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(5514), col("lon"), col("lat")),
          CrsFns.toY(lit(5514), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_krovak")
        .resolve("pts5514").toString
      graft.sources.Shapefile.write(kro, "geometry", base, epsg = Some(5514))
      graft.sources.Shapefile.read(s, base) // auto-reprojects via .prj
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(12.2 + (s_suppkey % 100) * 0.1, 6) AS lon,
        |  round(47.8 + (s_suppkey % 73) * 0.042, 6) AS lat
        |FROM supplier""".stripMargin),

    // PARAMETRIC .prj fallback (the generic tail behind the anchored
    // national families — the reference accepts ANY CRS via pyproj,
    // lib/initialization.py:38-39): points are projected forward through
    // the ANCHORED UTM-33N kernel, the layer ships with a .prj whose
    // NAME nothing recognizes (no AUTHORITY, no heuristic) but whose
    // PARAMETER values say UTM 33N — the read side must fall back to
    // Crs.parametricFromPrj and still return the original lon/lat.
    // identity at 6 dp: forward (anchored UTM) + inverse (parametric
    // reader) must cancel to sub-micro-degree
    QuerySpec("q127_parametric_prj_roundtrip", (s, dir) => {
      import graft.geo.CrsFns
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(12.2) + (col("s_suppkey") % 100) * 0.05).as("lon"),
        (lit(40.0) + (col("s_suppkey") % 80) * 0.29).as("lat"))
      val utm = pts.select(col("s_suppkey"),
        format_string("POINT (%s %s)",
          CrsFns.toX(lit(32633), col("lon"), col("lat")),
          CrsFns.toY(lit(32633), col("lon"), col("lat"))).as("geometry"))
      val base = scratchDir("graft_parametric").resolve("pts").toString
      graft.sources.Shapefile.write(utm, "geometry", base) // no .prj yet
      val prjTxt =
        """PROJCS["Some_Local_Grid_1997",GEOGCS["GCS_WGS_1984",""" +
          """DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],""" +
          """PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],""" +
          """PROJECTION["Transverse_Mercator"],""" +
          """PARAMETER["False_Easting",500000.0],""" +
          """PARAMETER["False_Northing",0.0],""" +
          """PARAMETER["Central_Meridian",15.0],""" +
          """PARAMETER["Scale_Factor",0.9996],""" +
          """PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""
      val p = new org.apache.hadoop.fs.Path(base + ".prj")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val os = fs.create(p, true)
      try os.write(prjTxt.getBytes("UTF-8")) finally os.close()
      graft.sources.Shapefile.read(s, base) // parametric fallback fires
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(12.2 + (s_suppkey % 100) * 0.05, 6) AS lon,
        |  round(40.0 + (s_suppkey % 80) * 0.29, 6) AS lat
        |FROM supplier""".stripMargin),

    // Oblique (double) stereographic — EPSG 9809, Dutch RD New's method —
    // under the oracle: NL-envelope points are projected with the
    // parametric kernel, written as a shapefile whose .prj declares
    // Oblique_Stereographic, and read back through the real parametric
    // fallback (projection inverse to WGS84). The oracle reproduces the
    // inputs: forward∘inverse must be the identity at 6 dp.
    QuerySpec("q135_oblique_stereo_roundtrip", (s, dir) => {
      val prjTxt =
        """PROJCS["Custom_Double_Stereo",GEOGCS["GCS_WGS_1984",""" +
          """DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],""" +
          """PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],""" +
          """PROJECTION["Oblique_Stereographic"],""" +
          """PARAMETER["False_Easting",155000.0],""" +
          """PARAMETER["False_Northing",463000.0],""" +
          """PARAMETER["Central_Meridian",5.38763888888889],""" +
          """PARAMETER["Scale_Factor",0.9999079],""" +
          """PARAMETER["Latitude_Of_Origin",52.15616055555555],""" +
          """UNIT["Meter",1.0]]"""
      val crs = graft.geo.Crs.parametricFromPrj(prjTxt)
        .getOrElse(sys.error("oblique stereographic refused"))
      val fwd = udf { (lon: Double, lat: Double) => crs.fromWgs84(lon, lat) }
      val pts = t(s, dir, "supplier").select(col("s_suppkey"),
        (lit(3.4) + (col("s_suppkey") % 100) * 0.03).as("lon"),
        (lit(50.8) + (col("s_suppkey") % 80) * 0.03).as("lat"))
      val proj = pts
        .withColumn("__xy", fwd(col("lon"), col("lat")))
        .select(col("s_suppkey"), format_string("POINT (%s %s)",
          col("__xy._1"), col("__xy._2")).as("geometry"))
      val base = scratchDir("graft_oblstereo").resolve("pts").toString
      graft.sources.Shapefile.write(proj, "geometry", base)
      val p = new org.apache.hadoop.fs.Path(base + ".prj")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val os = fs.create(p, true)
      try os.write(prjTxt.getBytes("UTF-8")) finally os.close()
      graft.sources.Shapefile.read(s, base)
        .select(col("s_suppkey"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 1).cast("double"), 6).as("lon"),
          round(regexp_extract(col("geometry"),
            "POINT \\(([-0-9.eE]+) ([-0-9.eE]+)\\)", 2).cast("double"), 6).as("lat"))
    },
      """SELECT s_suppkey,
        |  round(3.4 + (s_suppkey % 100) * 0.03, 6) AS lon,
        |  round(50.8 + (s_suppkey % 80) * 0.03, 6) AS lat
        |FROM supplier""".stripMargin),

    // Focal (3x3 neighborhood) raster statistics: contribution explode +
    // one groupBy shuffle — no self-join. Sparse canvas from event counts.
    QuerySpec("q78_focal_stats", (s, dir) => {
      import graft.sources.InputMaps
      val cells = events(s, dir).select(
        (col("user_id") % 30).cast("int").as("row"),
        (col("event_id") % 40).cast("int").as("col"))
        .groupBy("row", "col").agg(count(lit(1)).cast("double").as("value"))
      InputMaps.focalStats(cells, radius = 1)
        .filter(col("row").between(0, 29) && col("col").between(0, 39))
        .select(col("row").cast("long").as("row"),
          col("col").cast("long").as("col"),
          round(col("focal_mean"), 6).as("focal_mean"),
          col("focal_min").cast("long").as("focal_min"),
          col("focal_max").cast("long").as("focal_max"), col("focal_n"))
    },
      """WITH cells AS (
        |  SELECT CAST(user_id % 30 AS BIGINT) AS row,
        |         CAST(event_id % 40 AS BIGINT) AS col,
        |         CAST(count(*) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2),
        |contrib AS (
        |  SELECT cells.row + dr.range AS row, cells.col + dc.range AS col, value
        |  FROM cells, range(-1, 2) dr, range(-1, 2) dc)
        |SELECT row, col, round(avg(value), 6) AS focal_mean,
        |  CAST(min(value) AS BIGINT) AS focal_min,
        |  CAST(max(value) AS BIGINT) AS focal_max, count(*) AS focal_n
        |FROM contrib
        |WHERE row BETWEEN 0 AND 29 AND col BETWEEN 0 AND 39
        |GROUP BY 1, 2""".stripMargin),

    // NTv2 grid-shift under the oracle: parse the synthesized .gsb
    // (byte layout, endianness probe, positive-west longitudes, S→N/E→W
    // node order) and apply Grid.forward to a 10×10 lattice of points
    // strictly inside cells; DuckDB recomputes the node values from the
    // closed-form formula and mirrors the engine's bilinear arithmetic
    // operation-for-operation, so both legs produce identical doubles.
    // q119's batched ADC probe at k=10 scored against the exact L2
    // top-10 — recall = |approx ∩ exact| / 10 per query.
    // Mirrors graft.geo.Ntv2.Grid.shiftSeconds/forward op-for-op: node
    // values from the q134 fixture formula (exact in float32), fractional
    // cell position from the same double arithmetic, bilinear terms and
    // sum in the same order — identical IEEE doubles on both legs.
    QuerySpec("q134_ntv2_shift", (s, dir) => {
      val grid = graft.geo.Ntv2.parse(ntv2FixtureBytes())
      val shift = udf { (lonDeg: Double, latDeg: Double) =>
        grid.forward(lonDeg, latDeg).get
      }
      s.range(100).select(
        col("id"),
        // 3600.0D: a bare 3600.0 parses as DECIMAL(5,1) in Spark SQL and
        // the decimal quotient rounds at scale 6 — enough to move the
        // scaled-integer output by a unit vs the oracle's double division
        expr("(162000 + (id % 10) * 330 + 75) / 3600.0D").as("lat_in"),
        expr("-((230400 + (id div 10) * 330 + 75) / 3600.0D)").as("lon_in"))
        .withColumn("__out", shift(col("lon_in"), col("lat_in")))
        // scaled by 3600·1024: every output is an INTEGER number of
        // 1/1024-arcsec units (shifts are dyadic k/1024 arcsec, inputs
        // integer arcsec), so the comparison is exact — 6-dp rounding of
        // the raw degrees lands on .5 ties where engine round() rules
        // differ
        .select(col("id"),
          round(col("__out._1") * 3686400.0, 0).cast("long").as("lon_to"),
          round(col("__out._2") * 3686400.0, 0).cast("long").as("lat_to"))
    },
      """WITH pts AS (
        |  SELECT i AS id,
        |    (162000 + (i % 10) * 330 + 75) / 3600.0::DOUBLE AS lat_in,
        |    -((230400 + (i // 10) * 330 + 75) / 3600.0::DOUBLE) AS lon_in
        |  FROM range(100) t(i)),
        |cell AS (
        |  SELECT id, lon_in, lat_in,
        |    (lat_in * 3600.0::DOUBLE - 162000) / 300.0::DOUBLE AS rf,
        |    (-lon_in * 3600.0::DOUBLE - 230400) / 300.0::DOUBLE AS cf
        |  FROM pts),
        |frac AS (
        |  SELECT id, lon_in, lat_in,
        |    CAST(floor(rf) AS BIGINT) AS r0, CAST(floor(cf) AS BIGINT) AS c0,
        |    rf - floor(rf) AS dr, cf - floor(cf) AS dc
        |  FROM cell),
        |bil AS (
        |  SELECT id, lon_in, lat_in,
        |    (((r0*3 + c0*5) % 41) / 64.0::DOUBLE) * (1 - dr) * (1 - dc)
        |      + (((r0*3 + (c0+1)*5) % 41) / 64.0::DOUBLE) * (1 - dr) * dc
        |      + ((((r0+1)*3 + c0*5) % 41) / 64.0::DOUBLE) * dr * (1 - dc)
        |      + ((((r0+1)*3 + (c0+1)*5) % 41) / 64.0::DOUBLE) * dr * dc AS d_lat,
        |    (((r0*7 + c0*11) % 37) / 64.0::DOUBLE) * (1 - dr) * (1 - dc)
        |      + (((r0*7 + (c0+1)*11) % 37) / 64.0::DOUBLE) * (1 - dr) * dc
        |      + ((((r0+1)*7 + c0*11) % 37) / 64.0::DOUBLE) * dr * (1 - dc)
        |      + ((((r0+1)*7 + (c0+1)*11) % 37) / 64.0::DOUBLE) * dr * dc AS d_lon_w
        |  FROM frac)
        |SELECT id,
        |  CAST(round((lon_in - d_lon_w / 3600.0::DOUBLE) * 3686400.0::DOUBLE, 0) AS BIGINT) AS lon_to,
        |  CAST(round((lat_in + d_lat / 3600.0::DOUBLE) * 3686400.0::DOUBLE, 0) AS BIGINT) AS lat_to
        |FROM bil""".stripMargin),

    // J5 at cluster scale: tile-salted equi-join spatial join (no broadcast,
    // no BNLJ) — same semantics and same oracle as q20.
    QuerySpec("q52_spatial_join_tiled", (s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 100 + 0.5).cast("double").as("x"),
        ((col("c_custkey") * 7) % 100 + 0.5).cast("double").as("y"))
      val polys = t(s, dir, "region").select(col("r_name"),
        format_string("POLYGON ((%d 0, %d 0, %d 100, %d 100, %d 0))",
          col("r_regionkey") * 20, col("r_regionkey") * 20 + 20,
          col("r_regionkey") * 20 + 20, col("r_regionkey") * 20,
          col("r_regionkey") * 20).as("wkt"))
      SpatialOps.tiledPointInPolygonJoin(pts, "x", "y", polys, "wkt", tileSize = 25.0)
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
    },
      """SELECT r_name, count(*) AS n_customers
        |FROM customer JOIN region
        |  ON (c_custkey % 100 + 0.5) >= r_regionkey * 20
        | AND (c_custkey % 100 + 0.5) < r_regionkey * 20 + 20
        |GROUP BY r_name""".stripMargin)
  )
}
