package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ops

/** Load time-series chain — the reference's entry point 1 (doc/theory.rst:
  * 102-135): `clean_load_data_ENTSOE` → `clean_sector_shares_Eurostat` →
  * `generate_load_timeseries`, on the long TS relation (t, key, value)
  * instead of 8760-column wide matrices (SURVEY §1.1).
  *
  * Scale posture: the TS fact is long-format and partitioned by key;
  * shares and weights are broadcast dimensions. The hour-keyed fan-outs
  * are pinned to the session's shuffle width (`Ops.pinPartitions`), so
  * their parallelism does not depend on how many files fed them.
  */
object LoadPipeline {

  /** `clean_load_data_ENTSOE` (code/lib/correction_functions.py:262-324).
    * Input rows: (country, year, month, day, hour, coverage, value) — the
    * month×day×hour layout already key-derived (R6 rewritten as keyed
    * columns; positional reshaping is an anti-pattern on unordered rows).
    *
    * - filter to the model year (P2)
    * - scale by coverage ratio: value / coverage * 100 (:285-289)
    * - hour-of-year key t (1..8760), dropping nonexistent day slots
    * - recode country names via the mapping table (J10)
    * - sum duplicate countries (A1, :309-313)
    * - gap-fill zeros from the previous day scaled by trend (W1, :315-318)
    *
    * The recoded rows are pinned by country to the session's shuffle
    * width, so the (country, t) sum and the per-country gap-fill window
    * share that one exchange and run that many tasks wide; an unpinned
    * plan has two exchanges that AQE coalesces to one task each on a
    * single-file export.
    */
  def cleanLoad(raw: DataFrame, year: Int, countryMap: DataFrame): DataFrame = {
    // try_make_timestamp_ntz, not make_date: the reference's month×day×hour
    // input layout contains nonexistent slots (Feb-30 …) which must yield a
    // null t and be dropped — under Spark 4's default ANSI mode make_date
    // would THROW on them instead.
    val tsDay = try_make_timestamp_ntz(col("year"), col("month"), col("day"),
      lit(0), lit(0), lit(0)).cast("date")
    val scaled = raw.filter(col("year") === year)
      .filter(col("value").isNotNull)
      .withColumn("value",
        when(col("coverage") > 0, col("value") / col("coverage") * 100).otherwise(col("value")))
      .withColumn("t", dayofyear(tsDay) * 24 - 24 + col("hour"))
      .filter(col("t").isNotNull)
    val recoded = Ops.pinPartitions(
      Ops.recode(scaled, "country", countryMap, "from_name", "to_name"), col("country"))
    val summed = recoded.groupBy(col("country"), col("t"))
      .agg(sum(col("value")).as("value"))
    Ops.gapFillDayTrend(summed, Seq("country"), "t", "value")
  }

  /** Per-country load statistics (the `stats_countries` named dataset):
    * yearly total, peak, trough, mean — the reference prints these after
    * cleaning (correction_functions.py progress checks) and ships them as
    * a CSV.
    */
  def loadStats(load: DataFrame): DataFrame =
    load.groupBy(col("country"))
      .agg(sum(col("value")).as("year_total"),
        max(col("value")).as("peak"),
        min(col("value")).as("trough"),
        avg(col("value")).as("mean"))

  /** `clean_sector_shares_Eurostat` (code/lib/correction_functions.py:
    * 327-386): filter year/countries, recode country + sector names,
    * normalize to shares summing to 1 per country (A3). Stays long —
    * the reference's pivot (R2) is an export-edge concern.
    */
  def sectorShares(raw: DataFrame, year: Int, countryMap: DataFrame,
      sectorMap: DataFrame): DataFrame = {
    val filtered = raw.filter(col("year") === year)
      .withColumn("value", coalesce(col("value").cast("double"), lit(0.0)))
    val recoded = Ops.recode(
      Ops.recode(filtered, "country", countryMap, "from_name", "to_name"),
      "sector", sectorMap, "from_name", "to_name")
    val summed = recoded.groupBy(col("country"), col("sector"))
      .agg(sum(col("value")).as("value"))
    Ops.normalizePerGroup(summed, Seq("country"), "value", "share")
      .select(col("country"), col("sector"), col("share"))
  }

  /** `generate_load_timeseries` (code/lib/generate_intermediate_files.py:
    * 204-397), condensed to its dataflow:
    *
    *   regional_ts(t, region) = Σ_sector  country_total(country)
    *                                      × share(country, sector)
    *                                      × profile(t, sector)          [Σ_t profile = 1]
    *                                      × weight(region | country, sector)
    *
    * load: (country, t, value) cleaned hourly load;
    * shares: (country, sector, share) from [[sectorShares]];
    * profiles: (t, sector, weight) normalized per sector (A3 upstream);
    * regionWeights: (region, country, sector, w) from zonal statistics
    *   (A6), w normalized per (country, sector).
    *
    * Scale posture: the large side is the hourly expansion, |regions| ×
    * |sectors| × |hours| rows, while everything that drives it is small.
    * So the country-level factors fold first into a coefficient table
    * with one row per (region, country, sector) — totals ⋈ shares ⋈
    * weights — which is broadcast into the hourly profiles. The profiles
    * are pinned by `t` to the session's shuffle width; that partitioning
    * already satisfies the (region, t) sum, so the expansion and the sum
    * run that many tasks wide behind one exchange, at any number of
    * countries. Each term keeps the product order
    * `((year_total × share) × profile) × w`; only the order in which one
    * (region, t)'s terms are added depends on the plan.
    */
  def loadTimeseries(load: DataFrame, shares: DataFrame, profiles: DataFrame,
      regionWeights: DataFrame): DataFrame = {
    // A9: yearly totals per country — single definition shared with the
    // exported stats_countries dataset.
    val totals = loadStats(load).select(col("country"), col("year_total"))
    val coefficients = totals
      .join(broadcast(shares), Seq("country"))
      .join(broadcast(regionWeights), Seq("country", "sector"))
      .select(col("region"), col("sector"),
        (col("year_total") * col("share")).as("__yearly"), col("w"))
    Ops.pinPartitions(profiles.select(col("t"), col("sector"), col("weight")), col("t"))
      .join(broadcast(coefficients), Seq("sector"))
      .withColumn("v", col("__yearly") * col("weight") * col("w"))
      .groupBy(col("region"), col("t"))
      .agg(sum(col("v")).as("value"))
  }
}
