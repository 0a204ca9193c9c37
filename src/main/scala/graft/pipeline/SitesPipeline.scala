package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ScalarFns
import graft.geo.GeoFns

/** `generate_sites_from_shapefile` (code/lib/generate_intermediate_files.py:
  * 38-117) + the region preparation of `initialization`
  * (code/lib/initialization.py:26-108): region polygons → the model's Site
  * table with cleaned names, centroid coordinates, area, and slacknode
  * flag on the alphabetically first site.
  */
object SitesPipeline {

  /** Cylindrical equal-area planar area in km² for a lat/lon polygon —
    * the reference's area computation (generate_intermediate_files.py:
    * 79-82) uses the same projection idea; for the engine's synthetic
    * fixtures the shoelace area × cos(lat_centroid) scaling suffices and
    * is documented as the approximation.
    */
  private val areaKm2 = udf { (wkt: String) =>
    val ring = graft.geo.Geometry.parsePolygon(wkt)
    val c = graft.geo.Geometry.centroid(ring)
    val degArea = graft.geo.Geometry.ringArea(ring)
    val kmPerDegLat = 111.195
    degArea * kmPerDegLat * kmPerDegLat * math.cos(math.toRadians(c.y))
  }

  def generateSites(regions: DataFrame, nameCol: String = "region",
      wktCol: String = "wkt"): DataFrame = {
    val base = regions
      .withColumn("Site", ScalarFns.cleanName(col(nameCol)))
      .filter(GeoFns.stArea(col(wktCol)) > 0) // P5: drop empty geometries
      .withColumn("lat", GeoFns.stCentroidY(col(wktCol)))
      .withColumn("long", GeoFns.stCentroidX(col(wktCol)))
      .withColumn("area_km2", areaKm2(col(wktCol)))
    // alphabetic site_id, ranked on the driver: one cleaned name per
    // region is small enough to collect once. Names must be unique after
    // cleaning, or two geometries would share a site_id downstream —
    // refuse loudly (a null name counts as a name here; its row is
    // dropped below).
    val names = base.select(col("Site")).collect().map(_.getString(0))
    require(names.distinct.length == names.length,
      "generateSites: region names collide after clean_names — site_id " +
        "would no longer be unique; disambiguate the input names")
    // cleanName emits ASCII, where String order equals Spark's byte order
    val ids = names.filter(_ != null).sorted.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    base.filter(col("Site").isNotNull)
      .withColumn("site_id", element_at(typedLit(ids), col("Site")))
      .withColumn("slacknode", when(col("site_id") === 1, 1).otherwise(0))
      .select(col("Site"), col("site_id"), col("slacknode"), col("lat"),
        col("long"), col("area_km2"), col(wktCol))
  }
}
