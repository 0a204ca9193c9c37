package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one declared query per implemented operator of
  * SURVEY.md §2 (+ the training-data-pipeline operators). Each query is a
  * [[graft.queries.QuerySpec]] that holds its Spark plan beside its DuckDB
  * oracle; the specs are registered per operator family under
  * `graft.queries`, and [[queries]] and [[oracleSql]] are derived from
  * them once.
  */
object SparkEntry {

  /** Scratch-dir registry. Queries that exercise persisted-index
    * lifecycles (q62/q79/q93/q96, the geo sink round-trips) write real
    * parquet/SHP/TIFF under java temp dirs. Round 5's bench quantified the
    * cost of NOT cleaning up between queries: undeleted index dirs plus
    * accumulated `localCheckpoint`/persist blocks degraded the shared
    * 92-query suite ~1.55× suite-wide. Every temp dir a query creates is
    * registered here; [[releaseScratch]] deletes them and frees every
    * cached/checkpointed block. Sequential harnesses (Bench, Verify) call
    * it after each query, outside the timed window.
    */
  private val scratch =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  private[graft] def scratchDir(prefix: String): java.nio.file.Path =
    scratch.synchronized {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      scratch += p
      p
    }

  /** Delete all registered scratch dirs and drop every cached DataFrame
    * and persisted/checkpointed RDD block from the BlockManager. Safe to
    * call between fully-consumed queries; never throws.
    */
  def releaseScratch(spark: SparkSession): Unit = {
    val dirs = scratch.synchronized { val d = scratch.toList; scratch.clear(); d }
    dirs.foreach { root =>
      try {
        import java.nio.file.{Files, Path}
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach {
            (p: Path) => try { Files.deleteIfExists(p); () } catch { case _: Exception => () }
          }
          finally walk.close()
        }
      } catch { case _: Exception => () }
    }
    try spark.catalog.clearCache() catch { case _: Exception => () }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Exception => () }
  }

  /** Flagship query (driver smoke-checks rows>0 on sf0.001): the q44 star
    * join — revenue by region/nation with all four dims broadcast.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q44_star_join")(spark, "/root/testdata/sf0.001")

  /** Every declared query, family by family. */
  private[graft] val specs: Seq[QuerySpec] =
    RelationalQueries.specs ++
    GeoQueries.specs ++
    DedupQueries.specs ++
    RetrievalQueries.specs ++
    CurationQueries.specs ++
    TextQueries.specs ++
    TrainPrepQueries.specs ++
    GraphQueries.specs ++
    ExperimentQueries.specs ++
    EvalQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
