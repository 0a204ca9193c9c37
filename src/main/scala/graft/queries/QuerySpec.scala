package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its Spark plan and the DuckDB oracle that checks it.
  * `build(spark, sfDir)` reads the sf tables under `sfDir`; `oracleSql`
  * runs in DuckDB over views of the same tables, and the two results are
  * compared after sorting columns by name and rows by value.
  *
  * Conventions:
  *  - every aliased output column matches between Spark and oracle SQL
  *    (the comparison sorts columns by name before hashing);
  *  - double-valued aggregates are rounded (2–6 dp) in BOTH engines so
  *    floating-point summation order cannot flip the hash;
  *  - deterministic tie-breaks on every rank/limit.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
