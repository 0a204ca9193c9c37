package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT clustering — Z-order (Morton) keys, the
  * technique warehouse engines use to make ONE physical sort serve
  * min/max file pruning on SEVERAL columns at once (Delta/Iceberg
  * `OPTIMIZE ZORDER BY`; Morton 1966 for the curve itself).
  *
  * Why this matters at 100 TB: parquet pruning is only as good as the
  * per-file min/max envelopes. A corpus sorted by `x` prunes `x`
  * predicates perfectly and `y` predicates not at all; a Z-ordered
  * layout gives every file a TIGHT envelope on BOTH dimensions (each
  * fixed zkey prefix is an axis-aligned square of the key grid), so
  * `WHERE x BETWEEN …` and `WHERE y BETWEEN …` each skip ~√-fraction
  * of files instead of none. [[graft.queries.RelationalQueries]] q201
  * gates the key arithmetic and the per-bucket envelope tightness under
  * the DuckDB oracle; `LayoutSpec` pins the curve properties.
  *
  * Spark-first shape: the key is a chain of BUILTIN shift/mask ops (the
  * standard magic-number bit spread, 6 ops per dimension) — whole-stage
  * codegen keeps it in the scan pipeline, no UDF, no custom expression
  * needed; the layout step is `repartitionByRange(zkey)` +
  * `sortWithinPartitions(zkey)`, i.e. one range shuffle, exactly what a
  * plain single-column layout sort costs.
  */
object Layout {

  /** Spread the low 32 bits of a non-negative long across the even bit
    * positions of a 64-bit value (Morton magic-number spread):
    * bit i of `c` lands at bit 2i.
    */
  def mortonSpread(c: Column): Column = {
    val v0 = c.bitwiseAND(lit(0xFFFFFFFFL))
    val v1 = (v0.bitwiseOR(shiftleft(v0, 16)))
      .bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val v2 = (v1.bitwiseOR(shiftleft(v1, 8)))
      .bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val v3 = (v2.bitwiseOR(shiftleft(v2, 4)))
      .bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val v4 = (v3.bitwiseOR(shiftleft(v3, 2)))
      .bitwiseAND(lit(0x3333333333333333L))
    (v4.bitwiseOR(shiftleft(v4, 1)))
      .bitwiseAND(lit(0x5555555555555555L))
  }

  /** The 2-D Z-order key: bits of `x` at even positions, bits of `y` at
    * odd. Inputs must be in `[0, 2^31)` — bucket wider domains first
    * ([[equiWidthBucket]]); the result is then always non-negative, so
    * plain long ordering IS curve ordering.
    */
  def zorder2(x: Column, y: Column): Column =
    mortonSpread(x).bitwiseOR(shiftleft(mortonSpread(y), 1))

  /** Equi-width bucket of `c` into `[0, 2^bits)` given the column's
    * closed [lo, hi] domain: `floor((c - lo) * 2^bits / (hi - lo + 1))`.
    *
    * The floor is EXACT despite the double division, by the bounds
    * enforced here: numerator ≤ (hi-lo+1)·2^bits ≤ 2^31·2^20 = 2^51
    * (exact as a double), so the correctly-rounded quotient carries
    * relative error ≤ 2^-53, i.e. absolute error ≤ 2^20·2^-53 = 2^-33 —
    * while a non-integer true quotient sits ≥ 1/(hi-lo+1) ≥ 2^-31 from
    * any integer, and an integer true quotient divides exactly. The
    * same expression therefore replays bit-identically in the DuckDB
    * oracle (q201) without an integer-division operator on either side.
    */
  def equiWidthBucket(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(bits > 0 && bits <= 20, s"bits=$bits outside (0, 20]")
    require(hi >= lo, s"empty domain [$lo, $hi]")
    require(hi - lo + 1 <= (1L << 31),
      s"domain [$lo, $hi] wider than 2^31 — pre-scale the column")
    floor((c - lit(lo)).cast("double") * lit((1L << bits).toDouble) /
      lit((hi - lo + 1).toDouble)).cast("long")
  }

  /** Cluster a relation for multi-dimensional pruning: equi-width-
    * bucket the two layout columns from their observed min/max (ONE
    * tiny aggregate, collected as a single row), key every row with
    * [[zorder2]] of the buckets, and range-partition + locally sort on
    * that key into `nParts` output partitions — write the result and
    * every file's (x, y) envelope is a tight curve square. The zkey
    * rides along as `zkeyCol` for inspection/row-group sorting.
    */
  def clusterByZorder(df: DataFrame, xCol: String, yCol: String,
      nParts: Int, bits: Int = 16, zkeyCol: String = "__zkey"): DataFrame = {
    val r = df.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"cannot Z-order an empty relation or all-null $xCol/$yCol")
    val keyed = df.withColumn(zkeyCol, zorder2(
      equiWidthBucket(col(xCol).cast("long"), r.getLong(0), r.getLong(1), bits),
      equiWidthBucket(col(yCol).cast("long"), r.getLong(2), r.getLong(3), bits)))
    keyed.repartitionByRange(nParts, col(zkeyCol))
      .sortWithinPartitions(col(zkeyCol))
  }
}
