package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column kernel of the engine — pure `Column` compositions over
  * `org.apache.spark.sql.functions._` so every function stays inside
  * whole-stage codegen (no UDF boundary, no serialization).
  *
  * Reference semantics reproduced here (citations into /root/reference/):
  *  - EU decimal parse/format: pandas `decimal=","` readers, e.g.
  *    code/lib/correction_functions.py:20-22,125-127 and the thousands-strip
  *    casts at code/lib/correction_functions.py:366,721,725.
  *  - `clean_names`: code/lib/correction_functions.py:809-822 (ASCII strip,
  *    space→underscore, truncate to 63 chars).
  *  - geodesic distance: geopy call at
  *    code/lib/generate_intermediate_files.py:496-501 (haversine is the
  *    declared approximation, <0.5% off WGS-84 geodesic — SURVEY §2.8).
  *  - date/season dims: pd.date_range + dict_daytype/dict_season lookups,
  *    code/lib/correction_functions.py:26-33,112-123.
  */
object ScalarFns {

  /** The Lehmer/MINSTD modulus, 2^31 − 1. */
  private[graft] final val LehmerM = 2147483647L

  /** Lehmer/MINSTD step — `(x % M) * 48271 % M` with M = [[LehmerM]].
    * 48271 · 2^31 < 2^63, so the product never overflows a long under
    * ANSI mode, and the identical expression replays in the oracle.
    */
  private[graft] def lehmer(x: Column): Column =
    pmod(pmod(x, lit(LehmerM)) * lit(48271L), lit(LehmerM))

  /** Parse a European-formatted number ("1 234,56", "1.234,56", "inf") into
    * a double. Thousands separators (space / dot) are stripped, the decimal
    * comma becomes a dot, literal "inf" becomes +Infinity
    * (code/lib/generate_intermediate_files.py:505,582,657,793).
    */
  def euToDouble(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(trim(c), "[ .]", ""), ",", ".")
    when(lower(trim(c)) === "inf", lit(Double.PositiveInfinity))
      .otherwise(cleaned.cast("double"))
  }

  /** Simple EU decimal parse for strings WITHOUT thousands separators:
    * just swap the decimal comma. (`translate` is a single pass, codegen'd.)
    */
  def euDecimal(c: Column): Column =
    translate(c, ",.", ".,").cast("double")

  /** Format a double with a decimal comma (EU CSV sink, S6). */
  def euFormat(c: Column): Column =
    translate(c.cast("string"), ".,", ",.")

  /** `clean_names` (code/lib/correction_functions.py:809-822): drop
    * non-ASCII, spaces→underscores, truncate to 63 chars (shapefile field
    * limit in the reference; kept for output parity).
    */
  def cleanName(c: Column): Column =
    substring(regexp_replace(regexp_replace(c, "[^\\x00-\\x7F]", ""), " ", "_"), 1, 63)

  /** Great-circle distance in km between two (lat, lon) points, WGS-84 mean
    * radius. Pure column arithmetic — whole-stage codegen, no UDF.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * 6371.0088) * asin(sqrt(a))
  }

  /** Day-type recode mirroring dict_daytype
    * (code/lib/correction_functions.py:112-123): Mon–Fri = "Working day",
    * Sat = "Saturday", Sun = "Sunday".
    */
  def dayType(date: Column): Column = {
    val dow = dayofweek(date) // 1 = Sunday .. 7 = Saturday
    when(dow === 1, "Sunday")
      .when(dow === 7, "Saturday")
      .otherwise("Working day")
  }

  /** Season recode mirroring dict_season (code/lib/correction_functions.py:
    * 176-184): Nov–Mar = Winter, Apr–Oct = Summer.
    */
  def season(date: Column): Column =
    when(month(date).isin(11, 12, 1, 2, 3), "Winter").otherwise("Summer")

  /** Unit count from capacity: `cap // unit + (cap % unit > 0)`
    * (code/lib/correction_functions.py:797-801).
    */
  def unitCount(cap: Column, unitSize: Column): Column =
    floor(cap / unitSize) + when(cap % unitSize > 0, 1).otherwise(0)
}
