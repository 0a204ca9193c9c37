package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ScalarFns, TextFns}
import graft.operators.Ops
import graft.queries.QueryFixtures._

/** Relational queries: TPC-H-style scans, joins, aggregates and windows,
  * plus the `Ops`, `ScalarFns`, `EventStream` and `Layout` operators.
  */
object RelationalQueries {

  /** Vincenty's λ-iteration, unrolled to 8 fixed steps as chained CTEs
    * (DuckDB has no loops; 8 ≥ the ~4 steps non-antipodal pairs need, and
    * beyond convergence extra steps move λ by < 1e-12 — nanometers,
    * invisible at the meter rounding). Lateral column aliases keep each
    * step readable. Mirrors `GeoMath.geodesicKm` term for term.
    */
  private val GeodesicOracleSql: String = {
    val f = "0.0033528106647474805" // WGS-84 1/298.257223563
    // two-layer CTE per step: the inner SELECT holds the lateral aliases,
    // the outer projects ONLY (keys, constants, new λ) — a carried column
    // named like a lateral alias would take binding precedence over it in
    // the NEXT step and silently freeze the iteration
    def step(i: Int, last: Boolean): String = {
      val proj = if (last) "c_custkey, ss, cs, sg, c2a, c2sm"
        else "c_custkey, su1, cu1, su2, cu2, L, lamN AS lam"
      s"""it$i AS (SELECT $proj FROM (
         |  SELECT c_custkey, su1, cu1, su2, cu2, L,
         |  sin(lam) AS sl, cos(lam) AS cl,
         |  cu2 * sl AS t1, cu1 * su2 - su1 * cu2 * cl AS t2,
         |  sqrt(t1 * t1 + t2 * t2) AS ss,
         |  su1 * su2 + cu1 * cu2 * cl AS cs,
         |  atan2(ss, cs) AS sg,
         |  cu1 * cu2 * sl / ss AS sa, 1 - sa * sa AS c2a,
         |  cs - 2 * su1 * su2 / c2a AS c2sm,
         |  $f / 16 * c2a * (4 + $f * (4 - 3 * c2a)) AS cc,
         |  L + (1 - cc) * $f * sa * (sg + cc * ss *
         |    (c2sm + cc * cs * (-1 + 2 * c2sm * c2sm))) AS lamN
         |  FROM it${i - 1}))""".stripMargin
    }
    val iters = (1 to 8).map(i => step(i, i == 8)).mkString(",\n")
    s"""WITH p AS (SELECT c_custkey,
       |    35.0 + (c_custkey % 40) * 0.9 AS lat1,
       |    -10.0 + (c_custkey % 61) * 0.7 AS lon1,
       |    35.0 + (c_custkey % 40) * 0.9
       |      + ((c_custkey * 7) % 11 - 5) * 1.3 + 0.05 AS lat2,
       |    -10.0 + (c_custkey % 61) * 0.7
       |      + ((c_custkey * 13) % 17 - 8) * 1.1 AS lon2
       |  FROM customer),
       |it0 AS (SELECT c_custkey, radians(lon2 - lon1) AS L,
       |    sin(atan((1 - $f) * tan(radians(lat1)))) AS su1,
       |    cos(atan((1 - $f) * tan(radians(lat1)))) AS cu1,
       |    sin(atan((1 - $f) * tan(radians(lat2)))) AS su2,
       |    cos(atan((1 - $f) * tan(radians(lat2)))) AS cu2,
       |    radians(lon2 - lon1) AS lam
       |  FROM p),
       |$iters
       |SELECT c_custkey, round(
       |  6356752.314245179 * (1 + u2sq / 16384 * (4096 + u2sq * (-768
       |      + u2sq * (320 - 175 * u2sq)))) *
       |    (sg - (u2sq / 1024 * (256 + u2sq * (-128 + u2sq * (74 - 47 * u2sq))))
       |      * ss * (c2sm
       |        + (u2sq / 1024 * (256 + u2sq * (-128 + u2sq * (74 - 47 * u2sq)))) / 4 *
       |        (cs * (-1 + 2 * c2sm * c2sm)
       |          - (u2sq / 1024 * (256 + u2sq * (-128 + u2sq * (74 - 47 * u2sq)))) / 6
       |            * c2sm * (-3 + 4 * ss * ss) * (-3 + 4 * c2sm * c2sm))))
       |  / 1000.0, 3) AS geo_km
       |FROM (SELECT *,
       |  c2a * 0.0067394967422764341 AS u2sq
       |  FROM it8)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // A1/A2: group-by multi-aggregate (TPC-H Q1 pricing summary).
    QuerySpec("q01_agg_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // P1/P2/P4: projection + predicate pushdown to the parquet scan.
    QuerySpec("q02_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity").between(10, 20)
          && col("l_shipdate").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
        |  AND l_shipdate IS NOT NULL""".stripMargin),

    // J1: broadcast equi join fact × small dim.
    QuerySpec("q03_join_broadcast", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
      """SELECT p_brand, count(*) AS n_lines, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // P3: membership filter as left-semi join.
    QuerySpec("q04_semi_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority""".stripMargin),

    // J3: full outer join with zero-fill (candidate ⊕ existing pattern).
    QuerySpec("q05_outer_join_fill", (s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
      val sp = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("s_cnt"))
      c.join(sp, Seq("nationkey"), "outer").na.fill(0, Seq("c_cnt", "s_cnt"))
    },
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  coalesce(c.c_cnt, 0) AS c_cnt, coalesce(s.s_cnt, 0) AS s_cnt
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS c_cnt FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS s_cnt FROM supplier GROUP BY 1) s
        |ON c.nationkey = s.nationkey""".stripMargin),

    // J7: range/as-of lookup against a broadcast threshold table (incl. inf).
    QuerySpec("q06_range_lookup", (s, dir) => {
      import s.implicits._
      val limits = Seq((5.0, "tiny"), (15.0, "small"), (30.0, "medium"),
        (Double.PositiveInfinity, "large")).toDF("threshold", "bucket")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      Ops.rangeLookup(li, "l_quantity", limits, "threshold")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
      """SELECT CASE WHEN l_quantity <= 5 THEN 'tiny'
        |            WHEN l_quantity <= 15 THEN 'small'
        |            WHEN l_quantity <= 30 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // W1: gap fill from previous day scaled by recent trend (single-pass).
    QuerySpec("q07_gap_fill", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("value", when(col("value") < 2, 0.0).otherwise(col("value")))
      Ops.gapFillDayTrend(ev, Seq("user_id"), "event_id", "value")
        .select(col("event_id"), col("user_id"), round(col("value"), 6).as("filled_value"))
    },
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN value < 2 THEN 0.0 ELSE value END AS value
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, value,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS recent,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN 29 PRECEDING AND 25 PRECEDING) AS day_ago,
        |    lag(value, 24) OVER (PARTITION BY user_id ORDER BY event_id) AS prev24
        |  FROM ev)
        |SELECT event_id, user_id,
        |  round(CASE WHEN value = 0 AND day_ago > 0 AND prev24 IS NOT NULL
        |    THEN recent / day_ago * prev24 ELSE value END, 6) AS filled_value
        |FROM w""".stripMargin),

    // W3: top-k per group with deterministic tie-break.
    QuerySpec("q08_topk_per_group", (s, dir) => {
      Ops.topKPerGroup(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin),

    // A5: per-group mode with deterministic tie-break.
    QuerySpec("q09_mode_impute", (s, dir) => {
      Ops.modePerGroup(t(s, dir, "customer"), Seq("c_nationkey"), "c_mktsegment")
    },
      """SELECT c_nationkey, c_mktsegment AS c_mktsegment_mode
        |FROM (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |      FROM customer GROUP BY 1, 2)
        |QUALIFY row_number() OVER (PARTITION BY c_nationkey
        |  ORDER BY cnt DESC, c_mktsegment) = 1""".stripMargin),

    // R1: positional explode of a delimited cell.
    QuerySpec("q11_explode_split", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
        .select(col("p_partkey"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("word"))
    },
      """SELECT p_partkey,
        |  unnest(range(1, len(str_split(p_name, ' ')) + 1)) AS pos,
        |  unnest(str_split(p_name, ' ')) AS word
        |FROM part""".stripMargin),

    // R2: pivot long→wide (counts per nation × order status).
    QuerySpec("q12_pivot_status", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val wide = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name")).pivot("o_orderstatus", Seq("F", "O", "P")).count()
      wide.select(col("n_name"), coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"), coalesce(col("P"), lit(0L)).as("P"))
    },
      """SELECT n_name,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // R3: unpivot wide→long (measure, value rows).
    QuerySpec("q13_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
    },
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin),

    // U1: union-by-name with missing-column null fill.
    QuerySpec("q14_union_align", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey").as("id"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"),
        lit("customer").as("src"))
      val sp = t(s, dir, "supplier").select(col("s_suppkey").as("id"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("src"))
      c.unionByName(sp, allowMissingColumns = true)
    },
      """SELECT c_custkey AS id, c_acctbal AS acctbal, c_mktsegment AS mktsegment,
        |  'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_acctbal, NULL, 'supplier' FROM supplier""".stripMargin),

    // R5: cross product of small key domains.
    QuerySpec("q15_cross_domain", (s, dir) => {
      val r = t(s, dir, "region").select(col("r_name")).distinct()
      val p = t(s, dir, "orders").select(col("o_orderpriority")).distinct()
      r.crossJoin(p).withColumn("domain_key",
        concat(col("r_name"), lit("."), col("o_orderpriority")))
    },
      """SELECT r_name, o_orderpriority, r_name || '.' || o_orderpriority AS domain_key
        |FROM (SELECT DISTINCT r_name FROM region)
        |CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)""".stripMargin),

    // Scalar string kernel: clean_names (ASCII strip, underscores, truncate).
    QuerySpec("q16_string_clean", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        ScalarFns.cleanName(concat(col("p_name"), lit(" "), col("p_brand"))).as("clean_name"),
        upper(col("p_type")).as("type_upper"),
        length(col("p_name")).cast("long").as("name_len"))
    },
      """SELECT p_partkey,
        |  substr(replace(regexp_replace(p_name || ' ' || p_brand, '[^\x00-\x7F]', '', 'g'),
        |    ' ', '_'), 1, 63) AS clean_name,
        |  upper(p_type) AS type_upper,
        |  length(p_name) AS name_len
        |FROM part""".stripMargin),

    // Date dims: year/month/quarter/dayname + daytype/season recodes.
    QuerySpec("q17_date_dims", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_format(col("o_orderdate"), "EEEE").as("day_name"),
        ScalarFns.dayType(col("o_orderdate")).as("day_type"),
        ScalarFns.season(col("o_orderdate")).as("season"))
    },
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  quarter(o_orderdate) AS qtr, dayname(o_orderdate) AS day_name,
        |  CASE WHEN dayofweek(o_orderdate) = 0 THEN 'Sunday'
        |       WHEN dayofweek(o_orderdate) = 6 THEN 'Saturday'
        |       ELSE 'Working day' END AS day_type,
        |  CASE WHEN month(o_orderdate) IN (11, 12, 1, 2, 3) THEN 'Winter'
        |       ELSE 'Summer' END AS season
        |FROM orders""".stripMargin),

    // EU-decimal parse round-trip (S1 dialect).
    QuerySpec("q18_eu_decimal", (s, dir) => {
      val eu = regexp_replace(format_string("%.2f", col("p_retailprice")), "\\.", ",")
      t(s, dir, "part").select(col("p_partkey"),
        ScalarFns.euToDouble(eu).as("eu_parsed"))
    },
      """SELECT p_partkey,
        |  CAST(replace(replace(printf('%.2f', p_retailprice), '.', ','), ',', '.') AS DOUBLE)
        |    AS eu_parsed
        |FROM part""".stripMargin),

    // Haversine distance between synthetic nation centroids (all pairs).
    QuerySpec("q19_haversine", (s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"),
        (lit(-30.0) + col("n_nationkey") * 2.5).as("lat"),
        (lit(-20.0) + col("n_nationkey") * 3.1).as("lon"))
      val a = n.select(col("n_nationkey").as("k1"), col("lat").as("lat1"), col("lon").as("lon1"))
      val b = n.select(col("n_nationkey").as("k2"), col("lat").as("lat2"), col("lon").as("lon2"))
      a.join(b, col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          // native codegen'd Catalyst expression (graft.expr.HaversineKmExpr);
          // bit-identical to the Column-composed ScalarFns.haversineKm
          round(graft.expr.GraftExpressions.haversineKm(
            col("lat1"), col("lon1"), col("lat2"), col("lon2")), 3).as("dist_km"))
    },
      """WITH n AS (SELECT n_nationkey AS k, -30.0 + n_nationkey * 2.5 AS lat,
        |  -20.0 + n_nationkey * 3.1 AS lon FROM nation)
        |SELECT a.k AS k1, b.k AS k2,
        |  round(2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |    cos(radians(a.lat)) * cos(radians(b.lat)) *
        |    pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) AS dist_km
        |FROM n a JOIN n b ON a.k < b.k""".stripMargin),

    // A6 variant: zonal VALUE COUNTS (landuse-class pivot per region) —
    // the reference's per-region class histogram as one groupBy+pivot.
    QuerySpec("q59_zonal_classes", (s, dir) => {
      val px = events(s, dir).select(
        (floor((col("event_id") % 40 + 0.5) / 10) +
          lit(4) * floor((col("user_id") % 30 + 0.5) / 10)).cast("long").as("zone_id"),
        col("event_type"))
      px.groupBy(col("zone_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select(col("zone_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))
    },
      """SELECT CAST(floor((event_id % 40 + 0.5) / 10) + 4 * floor((user_id % 30 + 0.5) / 10)
        |    AS BIGINT) AS zone_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin),

    // W-analytics: running aggregates per key (rank, running count/sum).
    QuerySpec("q29_running_window", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .as("run_sum"))
    },
      """SELECT event_id, user_id,
        |  row_number() OVER w AS rn,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // Sessionization: 30-min-gap session ids + per-session aggregates.
    QuerySpec("q30_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // ts is int64 nanos (see events()); 30 min = 1.8e12 ns.
      val ev = events(s, dir).withColumn("prev_ns", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ns").isNull || col("ts") - col("prev_ns") > 1800000000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
    },
      """WITH w AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(CASE WHEN prev_ns IS NULL OR epoch_ns(ts) - prev_ns > 1800000000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM w)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM s GROUP BY 1, 2""".stripMargin),

    // A3: normalize to group total via window sum (profile normalization).
    QuerySpec("q31_normalize_group", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      Ops.normalizePerGroup(o, Seq("o_custkey"), "o_totalprice", "share")
        .select(col("o_orderkey"), col("o_custkey"), round(col("share"), 6).as("share"))
    },
      """SELECT o_orderkey, o_custkey,
        |  round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6) AS share
        |FROM orders""".stripMargin),

    // Canonical edge direction (reverse_lines) + A1 edge aggregation.
    QuerySpec("q32_canonical_edge", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_partkey") % 50).as("a"), (col("l_suppkey") % 50).as("b"), col("l_quantity"))
      Ops.canonicalEdge(li, "a", "b")
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 2).as("cap"))
    },
      """SELECT least(l_partkey % 50, l_suppkey % 50) AS a,
        |  greatest(l_partkey % 50, l_suppkey % 50) AS b,
        |  count(*) AS n_lines, round(sum(l_quantity), 2) AS cap
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // A7: cumulative-count dedup suffix on colliding names.
    QuerySpec("q33_dedup_suffix", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        concat(lit("cust_"), col("c_custkey") % 20).as("name"))
      Ops.dedupSuffix(c, "name", Seq(col("c_custkey").asc))
    },
      """WITH c AS (SELECT c_custkey, 'cust_' || (c_custkey % 20) AS name FROM customer),
        |r AS (SELECT c_custkey, name,
        |  row_number() OVER (PARTITION BY name ORDER BY c_custkey) - 1 AS cc FROM c)
        |SELECT c_custkey, CASE WHEN cc > 0 THEN name || '_' || cc ELSE name END AS name
        |FROM r""".stripMargin),

    // W2: forward fill of sparse values down an ordered column.
    QuerySpec("q34_forward_fill", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice")).as("sparse"))
      Ops.forwardFill(o, "o_orderkey", Seq("sparse"), Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("sparse"), 2).as("filled"))
    },
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice END AS sparse FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  round(last_value(sparse IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS filled
        |FROM o""".stripMargin),

    // J10: dict recode via broadcast mapping incl. comma-split keys.
    QuerySpec("q35_recode", (s, dir) => {
      import s.implicits._
      val mapping = Seq(("AFRICA, AMERICA", "WEST"), ("ASIA", "EAST"),
        ("EUROPE", "EU")).toDF("from_name", "to_name")
      Ops.recode(t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
        "r_name", mapping, "from_name", "to_name")
    },
      """SELECT r_regionkey,
        |  CASE r_name WHEN 'AFRICA' THEN 'WEST' WHEN 'AMERICA' THEN 'WEST'
        |    WHEN 'ASIA' THEN 'EAST' WHEN 'EUROPE' THEN 'EU' ELSE r_name END AS r_name
        |FROM region""".stripMargin),

    // R1 proper: multi-column lockstep explode with null padding (2- vs
    // 3-element cells → shorter list padded with null).
    QuerySpec("q38_explode_zip", (s, dir) => {
      val df = t(s, dir, "part").select(col("p_partkey"),
        concat_ws(";", col("p_size"), col("p_size") * 2).as("multi1"),
        concat_ws(";", col("p_brand"), col("p_type"), col("p_name")).as("multi2"))
      Ops.explodeZip(df, Seq("multi1", "multi2"))
    },
      """WITH m AS (SELECT p_partkey,
        |  p_size::VARCHAR || ';' || (p_size * 2)::VARCHAR AS m1,
        |  p_brand || ';' || p_type || ';' || p_name AS m2 FROM part)
        |SELECT p_partkey,
        |  unnest(str_split(m1, ';')) AS multi1,
        |  unnest(str_split(m2, ';')) AS multi2
        |FROM m""".stripMargin),

    // A8: weighted dot-product aggregation (landuse-pixels × sector weights
    // re-expressed as join + groupBy over the long form).
    QuerySpec("q39_weighted_dot", (s, dir) => {
      import s.implicits._
      val weights = Seq((0, 0.5), (1, 1.25), (2, 2.0), (3, 0.25), (4, 1.0))
        .toDF("lu", "wt")
      val pix = t(s, dir, "lineitem")
        .groupBy((col("l_suppkey") % 10).as("region"), (col("l_partkey") % 5).as("lu"))
        .agg(count(lit(1)).as("cnt"))
      pix.join(broadcast(weights), "lu")
        .groupBy(col("region"))
        .agg(round(sum(col("cnt") * col("wt")), 2).as("weighted"))
    },
      """WITH pix AS (SELECT l_suppkey % 10 AS region, l_partkey % 5 AS lu,
        |  count(*) AS cnt FROM lineitem GROUP BY 1, 2)
        |SELECT region, round(sum(cnt * CAST(wt AS DOUBLE)), 2) AS weighted
        |FROM pix JOIN (VALUES (0, 0.5), (1, 1.25), (2, 2.0), (3, 0.25), (4, 1.0))
        |  AS w(lu, wt) USING (lu)
        |GROUP BY region""".stripMargin),

    // R6-style positional reshape rewritten as keyed computation: the
    // hour-of-year index is DERIVED (ts arithmetic), never positional.
    QuerySpec("q40_hour_index", (s, dir) => {
      events(s, dir)
        .withColumn("t", expr("(ts - 1704067200000000000) div 3600000000000 + 1"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("hourly_value"))
    },
      """SELECT CAST((epoch_ns(ts) - 1704067200000000000) // 3600000000000 AS BIGINT) + 1 AS t,
        |  count(*) AS n, round(sum(value), 2) AS hourly_value
        |FROM events GROUP BY 1""".stripMargin),

    // Ellipsoidal geodesic distance (Vincenty inverse on WGS-84) — the
    // reference's geopy geodesic (lib/generate_intermediate_files.py:
    // 496-501). Closed-form European point pairs; the oracle unrolls the
    // same λ-iteration in SQL, so any kernel drift breaks the hash at
    // meter precision.
    QuerySpec("q85_geodesic", (s, dir) => {
      val k = col("c_custkey")
      val p = t(s, dir, "customer").select(k,
        (lit(35.0) + (k % 40) * 0.9).as("lat1"),
        (lit(-10.0) + (k % 61) * 0.7).as("lon1"),
        (lit(35.0) + (k % 40) * 0.9 + ((k * 7) % 11 - 5) * 1.3 + 0.05).as("lat2"),
        (lit(-10.0) + (k % 61) * 0.7 + ((k * 13) % 17 - 8) * 1.1).as("lon2"))
      p.select(col("c_custkey"),
        round(graft.expr.GraftExpressions.geodesicKm(
          col("lat1"), col("lon1"), col("lat2"), col("lon2")), 3).as("geo_km"))
    },
      GeodesicOracleSql),

    // Histogram-sketch quantiles: per-language p50/p95 token counts from
    // a 32-bin fixed histogram — the no-sort percentile shape for corpus
    // scale; deterministic interpolation the oracle reproduces exactly.
    // width = 256/32 = 8; same clamp + interpolation arithmetic as the
    // engine's histogramQuantiles
    QuerySpec("q91_hist_quantiles", (s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("lang"), TextFns.tokenCount(col("text")).cast("double").as("n"))
      Ops.histogramQuantiles(d, Seq("lang"), "n", lo = 0.0, hi = 256.0,
          bins = 32, qs = Seq(0.5, 0.95))
        .select(col("lang"), round(col("q50"), 6).as("q50"),
          round(col("q95"), 6).as("q95"), col("n_rows"))
    },
      """WITH d AS (SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |b AS (SELECT lang, least(greatest(CAST(floor(n / 8.0) AS INT), 0), 31) AS bin FROM d),
        |c AS (SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |m AS (SELECT lang, bin, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS nn FROM c)
        |SELECT lang,
        |  round(min(CASE WHEN cum >= 0.5 * nn AND cum - c < 0.5 * nn
        |    THEN 0.0 + 8.0 * (bin + (0.5 * nn - (cum - c)) / c) END), 6) AS q50,
        |  round(min(CASE WHEN cum >= 0.95 * nn AND cum - c < 0.95 * nn
        |    THEN 0.0 + 8.0 * (bin + (0.95 * nn - (cum - c)) / c) END), 6) AS q95,
        |  CAST(max(nn) AS BIGINT) AS n_rows
        |FROM m GROUP BY lang""".stripMargin),

    // Salted two-stage aggregation: hot-key sums split across `salts`
    // partial reducers, then merged — the standard skew pattern, made an
    // operator. Long sums are salt-order-independent, so the oracle is
    // the plain GROUP BY.
    QuerySpec("q92_salted_agg", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("rowkey"))
      Ops.saltedSum(li, Seq("l_returnflag"), "qty", col("rowkey"), salts = 32)
        .select(col("l_returnflag"), col("sum_qty"), col("n_rows"))
    },
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Skew-safe SALTED JOIN: half of lineitem collapses onto one hot key
    // (the straggler shape); the big side salts on a row expression, the
    // small side replicates ×8, and the post-join aggregate must equal
    // the plain-join oracle exactly.
    QuerySpec("q103_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 100 < 50, lit(0L))
          .otherwise((col("l_orderkey") % 100).cast("long")).as("k"),
        col("l_quantity").cast("long").as("qty"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("rowkey"))
      val dims = s.range(100).select(col("id").as("k"),
        (col("id") * 3 + 7).as("w"))
      Ops.saltedJoin(li, dims, "k", col("rowkey"), salts = 8)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty") * col("w")).as("wsum"))
    },
      """WITH big AS (SELECT
        |  CASE WHEN l_orderkey % 100 < 50 THEN 0
        |       ELSE l_orderkey % 100 END AS k,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |dims AS (SELECT range AS k, range * 3 + 7 AS w FROM range(100))
        |SELECT CAST(b.k AS BIGINT) AS k, count(*) AS n_rows,
        |  CAST(sum(qty * w) AS BIGINT) AS wsum
        |FROM big b JOIN dims d ON d.k = b.k
        |GROUP BY b.k""".stripMargin),

    // As-of join: every click picks up the latest at-or-before purchase
    // value per user — union-tag + one keyed window, no row expansion.
    // DuckDB's native ASOF JOIN is the oracle.
    QuerySpec("q77_asof_join", (s, dir) => {
      // nanos -> micros (integer div) so the int64 timeline matches
      // DuckDB's microsecond TIMESTAMP exactly
      val ev = events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("ts", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      Ops.asofJoin(clicks, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_value"))
    },
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT user_id, epoch_us(ts) AS ts, max(value) AS value FROM events
        |  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts, r.value AS asof_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // Calendar-spine gap detection: which (site, hour-of-week) slots have
    // NO events — expected-domain cross product anti-joined against the
    // observed slots (the reference's TS completeness check, made
    // relational; the broadcast anti-join side is the observed DISTINCT).
    QuerySpec("q80_missing_slots", (s, dir) => {
      val ev = events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select((col("user_id") % 20).as("site"),
          expr("((ts div 1000) div 3600000000) % 168").as("slot"))
        .distinct()
      val spine = s.range(20).select(col("id").as("site"))
        .crossJoin(s.range(168).select(col("id").as("slot")))
      spine.join(ev, Seq("site", "slot"), "left_anti")
    },
      """WITH present AS (
        |  SELECT DISTINCT user_id % 20 AS site,
        |    (epoch_us(ts) // 3600000000) % 168 AS slot
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |spine AS (SELECT s.range AS site, h.range AS slot
        |  FROM range(20) s, range(168) h)
        |SELECT site, slot FROM spine
        |ANTI JOIN present USING (site, slot)""".stripMargin),

    // U3: set intersection/difference on key domains.
    QuerySpec("q43_set_ops", (s, dir) => {
      val a = t(s, dir, "part").filter(col("p_size") <= 10).select(col("p_brand")).distinct()
      val b = t(s, dir, "part").filter(col("p_retailprice") > 950).select(col("p_brand")).distinct()
      a.intersect(b).withColumn("membership", lit("both"))
        .unionByName(a.except(b).withColumn("membership", lit("only_small")))
        .unionByName(b.except(a).withColumn("membership", lit("only_pricey")))
    },
      """WITH a AS (SELECT DISTINCT p_brand FROM part WHERE p_size <= 10),
        |b AS (SELECT DISTINCT p_brand FROM part WHERE p_retailprice > 950)
        |SELECT p_brand, 'both' AS membership
        |  FROM (SELECT p_brand FROM a INTERSECT SELECT p_brand FROM b)
        |UNION ALL
        |SELECT p_brand, 'only_small'
        |  FROM (SELECT p_brand FROM a EXCEPT SELECT p_brand FROM b)
        |UNION ALL
        |SELECT p_brand, 'only_pricey'
        |  FROM (SELECT p_brand FROM b EXCEPT SELECT p_brand FROM a)""".stripMargin),

    // Star join (flagship shape): revenue per region/nation.
    QuerySpec("q44_star_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // N-GRAM NOVELTY: per held-out document, the fraction of its
    // 3-grams NEVER seen in the reference corpus -- the memorization/
    // novelty metric (the complement of the q69 decontamination
    // overlap, reported per document on the ppm lattice). One semi-
    // join on the gram key against a map-side-distinct reference set;
    // scale-shaped like every other gram join here.
    // q237: the same gram builder on list ops, seen-set via IN.
    QuerySpec("q237_ngram_novelty", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = split(trim(col("text")), " ")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(size(w) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(w) - 2),
          p => array_join(slice(w, p, lit(3)), " "))).as("g"))
      val refSet = grams(docs.filter(col("doc_id") % 3 =!= 0))
        .select(col("g")).distinct()
      val tg = grams(docs.filter(col("doc_id") % 3 === 0))
      val seen = tg.join(refSet, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_seen"))
      tg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(seen, Seq("doc_id"), "left_outer")
        .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
        .withColumn("novelty_ppm",
          floor((col("n_grams") - col("n_seen")).cast("double") * 1000000
            / col("n_grams")).cast("long"))
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(w) - 1), p ->
         |      array_to_string(w[p:p + 2], ' '))) AS g
         |  FROM d WHERE len(w) >= 3),
         |ref AS (SELECT DISTINCT g FROM g WHERE doc_id % 3 <> 0),
         |tg AS (SELECT doc_id, g FROM g WHERE doc_id % 3 = 0),
         |sn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seen
         |  FROM tg WHERE g IN (SELECT g FROM ref) GROUP BY doc_id),
         |al AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM tg GROUP BY doc_id)
         |SELECT al.doc_id, al.n_grams,
         |  COALESCE(sn.n_seen, 0) AS n_seen,
         |  CAST(floor(CAST(al.n_grams - COALESCE(sn.n_seen, 0)
         |    AS DOUBLE) * 1000000 / al.n_grams) AS BIGINT)
         |    AS novelty_ppm
         |FROM al LEFT JOIN sn ON sn.doc_id = al.doc_id""".stripMargin),

    // CORPUS DATASHEET: the per-source "data card" a 100 TB curator
    // publishes -- document/token counts, language spread with a
    // deterministic dominant-language argmax, exact-duplicate ratio,
    // and mean document length on the ppm lattice. Two map-side-
    // combined aggregation passes, no windows, no joins beyond the
    // |sources|-bounded assembly.
    // q230: the datasheet re-derived — struct-max argmax mirrored by a
    // (count desc, lang desc) window rank, ppm ratios with the same
    // DOUBLE-floor.
    QuerySpec("q230_corpus_datasheet", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("lang"),
        col("doc_id"), size(split(trim(col("text")), " ")).as("n_tok"),
        md5(col("text")).as("h"))
      val byLang = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("nl"))
      val dom = byLang.groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs"),
          max(struct(col("nl"), col("lang"))).as("__m"))
        .select(col("source"), col("n_langs"),
          col("__m.lang").as("dominant_lang"))
      val base = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          countDistinct(col("h")).as("n_distinct_texts"))
        .withColumn("uniq_ppm",
          floor(col("n_distinct_texts").cast("double") * 1000000
            / col("n_docs")).cast("long"))
        .withColumn("mean_tok_ppm",
          floor(col("n_tokens").cast("double") * 1000000
            / col("n_docs")).cast("long"))
      base.join(dom, Seq("source"))
    },
      raw"""WITH d AS (SELECT source, lang, doc_id,
         |    CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS n_tok,
         |    md5(text) AS h FROM documents),
         |bl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
         |  FROM d GROUP BY source, lang),
         |dm AS (SELECT source, lang AS dominant_lang FROM bl
         |  QUALIFY row_number() OVER (PARTITION BY source
         |    ORDER BY nl DESC, lang DESC) = 1),
         |nl2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs
         |  FROM (SELECT DISTINCT source, lang FROM d) GROUP BY source),
         |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts
         |  FROM d GROUP BY source)
         |SELECT b.source, b.n_docs, b.n_tokens, b.n_distinct_texts,
         |  CAST(floor(CAST(b.n_distinct_texts AS DOUBLE) * 1000000
         |    / b.n_docs) AS BIGINT) AS uniq_ppm,
         |  CAST(floor(CAST(b.n_tokens AS DOUBLE) * 1000000
         |    / b.n_docs) AS BIGINT) AS mean_tok_ppm,
         |  nl2.n_langs, dm.dominant_lang
         |FROM b JOIN nl2 ON nl2.source = b.source
         |JOIN dm ON dm.source = b.source""".stripMargin),

    // Z-ORDER LAYOUT CLUSTERING: lineitem keyed on the Morton
    // interleave of equi-width-bucketed (l_partkey, l_suppkey), range-
    // partitioned + locally sorted on the key (the Delta/Iceberg
    // OPTIMIZE ZORDER shape), then every 256th-of-curve cell reports
    // its (x, y) ENVELOPE -- the per-file min/max a parquet scan would
    // prune against; under Z-order each cell's span is ~1/16 of BOTH
    // domains at once, which is the whole point. The oracle rebuilds
    // the key bit-by-bit from the DEFINITION of Morton interleave
    // (sum of (bit i) << 2i), not the magic-number spread the engine
    // uses -- two independent derivations of the same curve.
    // q201: the Z-order cell envelopes derived from the DEFINITION of
    // Morton interleave -- bit i of bx lands at 2i, of by at 2i+1, as a
    // per-bit sum -- against the engine's magic-number spread. The
    // equi-width bucket replays the same IEEE double multiply-then-
    // divide (exact floor by the bounds proof in Layout.scala); 256.0
    // is forced DOUBLE so DuckDB's decimal literals can't widen the
    // arithmetic.
    QuerySpec("q201_zorder_layout", (s, dir) => {
      import graft.operators.Layout
      val clustered = Layout.clusterByZorder(t(s, dir, "lineitem"),
        "l_partkey", "l_suppkey", nParts = 16, bits = 8)
      clustered
        .groupBy(shiftright(col("__zkey"), 8).as("cell"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("x_min"),
          max(col("l_partkey")).as("x_max"),
          min(col("l_suppkey")).as("y_min"),
          max(col("l_suppkey")).as("y_max"))
    },
      raw"""WITH s AS (SELECT min(l_partkey) AS lo_x, max(l_partkey) AS hi_x,
         |    min(l_suppkey) AS lo_y, max(l_suppkey) AS hi_y FROM lineitem),
         |b AS (SELECT l.l_partkey AS x, l.l_suppkey AS y,
         |    CAST(floor((l.l_partkey - s.lo_x) * 256.0::DOUBLE
         |      / (s.hi_x - s.lo_x + 1)) AS BIGINT) AS bx,
         |    CAST(floor((l.l_suppkey - s.lo_y) * 256.0::DOUBLE
         |      / (s.hi_y - s.lo_y + 1)) AS BIGINT) AS by
         |  FROM lineitem l CROSS JOIN s),
         |z AS (SELECT x, y,
         |    CAST(list_sum(list_transform(range(0, 8),
         |      i -> (((bx >> i) & 1) << (2 * i))
         |         + (((by >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zkey
         |  FROM b)
         |SELECT zkey >> 8 AS cell, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1""".stripMargin),

    // End-user SQL surface: registered views + the engine's native SQL
    // functions (haversine_km via FunctionRegistry) in one spark.sql text.
    QuerySpec("q58_sql_surface", (s, dir) => {
      graft.expr.GraftExpressions.register(s)
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        WITH n AS (SELECT n_nationkey AS k, -30.0 + n_nationkey * 2.5 AS lat,
          -20.0 + n_nationkey * 3.1 AS lon FROM nation_v)
        SELECT a.k AS k1, b.k AS k2,
          round(haversine_km(a.lat, a.lon, b.lat, b.lon), 3) AS dist_km
        FROM n a JOIN n b ON a.k < b.k""")
    },
      """WITH n AS (SELECT n_nationkey AS k, -30.0 + n_nationkey * 2.5 AS lat,
        |  -20.0 + n_nationkey * 3.1 AS lon FROM nation)
        |SELECT a.k AS k1, b.k AS k2,
        |  round(2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |    cos(radians(a.lat)) * cos(radians(b.lat)) *
        |    pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) AS dist_km
        |FROM n a JOIN n b ON a.k < b.k""".stripMargin),

    // P7 lifetime filter + cohort aggregation (process-table shape on the
    // star schema: suppliers as plants, nation as site).
    QuerySpec("q48_lifetime_cohorts", (s, dir) => {
      t(s, dir, "supplier")
        .withColumn("year", (lit(1980) + col("s_suppkey") % 40).cast("int"))
        .withColumn("lifetime", (lit(20) + col("s_suppkey") % 15).cast("int"))
        .filter(col("year") + col("lifetime") >= 2015)
        .groupBy(col("s_nationkey"), col("year"))
        .agg(round(sum(col("s_acctbal")), 2).as("inst_cap"), count(lit(1)).as("n_plants"))
    },
      """WITH p AS (SELECT s_nationkey, s_acctbal,
        |  CAST(1980 + s_suppkey % 40 AS INT) AS year,
        |  CAST(20 + s_suppkey % 15 AS INT) AS lifetime FROM supplier)
        |SELECT s_nationkey, year, round(sum(s_acctbal), 2) AS inst_cap,
        |  count(*) AS n_plants
        |FROM p WHERE year + lifetime >= 2015
        |GROUP BY s_nationkey, year""".stripMargin),

    // Tumbling event-time window via the streaming-unified operator
    // (EventStream.windowedAgg runs identically under readStream).
    QuerySpec("q51_tumbling_window", (s, dir) => {
      import graft.streaming.EventStream
      val ev = events(s, dir).select(
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))
      EventStream.windowedAgg(ev, "ts", "event_type", "value", "5 minutes", "10 minutes")
        .select(unix_micros(col("window_start")).as("w_start_us"), col("event_type"),
          col("n"), round(col("total"), 2).as("total"))
    },
      """SELECT (epoch_us(ts) // 300000000) * 300000000 AS w_start_us, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),

    // W4: keep the first match per entity after a multi-match join (the
    // reference dedupes each plant to one region after sjoin,
    // spatial_functions.py:502) — overlapping "regions" built from part
    // size ranges so customers match several; rank keeps the smallest.
    QuerySpec("q61_first_match_dedup", (s, dir) => {
      import s.implicits._
      val ranges = Seq((0, 0, 60), (1, 40, 100), (2, 80, 160))
        .toDF("range_id", "lo", "hi")
      val c = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 150).as("score"))
      val joined = c.join(broadcast(ranges),
        col("score") >= col("lo") && col("score") < col("hi"))
      Ops.topKPerGroup(joined, Seq("c_custkey"), Seq(col("range_id").asc), 1)
        .select(col("c_custkey"), col("range_id"))
    },
      """WITH r AS (SELECT * FROM (VALUES (0, 0, 60), (1, 40, 100), (2, 80, 160))
        |  AS t(range_id, lo, hi)),
        |j AS (SELECT c_custkey, range_id FROM customer
        |  JOIN r ON (c_custkey % 150) >= lo AND (c_custkey % 150) < hi)
        |SELECT c_custkey, range_id FROM j
        |QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY range_id) = 1""".stripMargin),

    // A4: exact distinct-cardinality aggregation.
    QuerySpec("q50_cardinality", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(countDistinct(col("o_custkey")).as("n_active_customers"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT c_nationkey,
        |  count(DISTINCT o_custkey) AS n_active_customers,
        |  count(DISTINCT o_orderpriority) AS n_priorities,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin),

    // HOPPING (sliding) WINDOWS: 10-minute windows every 5 minutes
    // over the event stream -- Spark's native sliding window() with the
    // value sum on the exact integer milli lattice (float sums are
    // partition-order-dependent; milli sums are not).
    // q248: sliding-window membership from epoch-microsecond
    // arithmetic — window starts k·slide with (eu − len)//slide < k
    // ≤ eu//slide — and the same integer milli value lattice.
    QuerySpec("q248_hopping_window", (s, dir) => {
      import graft.streaming.EventStream
      val ev = events(s, dir).select(
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))
      EventStream.hoppingAgg(ev, "ts", "event_type", "value",
          "10 minutes", "5 minutes", "1 hour")
        .select(unix_micros(col("window_start")).as("w_start_us"),
          col("event_type"), col("n"), col("total_milli"))
    },
      raw"""WITH e AS (SELECT epoch_us(ts) AS eu, event_type, value
         |  FROM events),
         |x AS (SELECT event_type, value,
         |    unnest(list_transform(range(
         |      (eu - 600000000) // 300000000 + 1,
         |      eu // 300000000 + 1), k -> k * 300000000)) AS w_start_us
         |  FROM e)
         |SELECT w_start_us, event_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         |    AS total_milli
         |FROM x GROUP BY 1, 2""".stripMargin),

    // TRIMMED MEAN: robust per-language document-length summary --
    // symmetric 10% rank cut with the id tie-break (deterministic
    // across engines), mean on the ppm lattice.
    // q259: same rank cut ((n·pct)//100 off each end, id tie-break).
    QuerySpec("q259_trimmed_mean", (s, dir) => {
      import graft.operators.Ops
      Ops.trimmedMeanPpm(t(s, dir, "documents"), "lang", "n_chars",
        "doc_id", trimPct = 10)
    },
      raw"""WITH b AS (SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v,
         |    doc_id AS t FROM documents),
         |r AS (SELECT grp, v,
         |    row_number() OVER (PARTITION BY grp ORDER BY v, t) AS rnk,
         |    count(*) OVER (PARTITION BY grp) AS n FROM b),
         |k AS (SELECT grp, v FROM r
         |  WHERE rnk > n * 10 // 100 AND rnk <= n - n * 10 // 100)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(v) AS BIGINT) AS sum_kept,
         |  CAST(floor(CAST(sum(v) AS DOUBLE) * 1000000 / count(*))
         |    AS BIGINT) AS mean_ppm
         |FROM k GROUP BY grp""".stripMargin),

    // CROSS-SOURCE QUANTILE NORMALIZATION: document lengths mapped to
    // within-source percentile ranks on the ppm lattice -- the score
    // equalizer run before any cross-source cut or mixing decision.
    // q264: percent_rank's (rank-1)/(n-1) with the id tie-break.
    QuerySpec("q264_quantile_norm", (s, dir) => {
      import graft.operators.Ops
      Ops.quantileNormalizePpm(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", "doc_id")
    },
      raw"""WITH r AS (SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents)
         |SELECT doc_id, source, n_chars,
         |  CAST(CASE WHEN n = 1 THEN 0
         |    ELSE floor(CAST(rk - 1 AS DOUBLE) * 1000000 / (n - 1))
         |    END AS BIGINT) AS pct_ppm
         |FROM r""".stripMargin),

    // DATA-QUALITY PROFILE: rows / nulls / exact distincts / string-
    // rendered extremes per column of lineitem, ONE aggregation pass
    // for all columns, melted to one row per column.
    // q265: the same per-column statistics, one UNION branch per
    // column (DuckDB side), string-rendered extremes.
    QuerySpec("q265_profile", (s, dir) => {
      import graft.operators.Ops
      Ops.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_linestatus"))
    },
      Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_linestatus").map { c =>
      raw"""SELECT '$c' AS "column",
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_s,
         |  CAST(max($c) AS VARCHAR) AS max_s
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")),

    // WINSORIZATION: per-language document lengths clamped to the
    // symmetric 10% rank-cut boundary values (the row-preserving
    // sibling of q259's trimmed mean) -- deterministic rank rule with
    // the id tie-break, no percentile interpolation.
    // q276: the same rank cut, boundary values via conditional aggs,
    // clamp re-joined onto every row.
    QuerySpec("q276_winsorize", (s, dir) => {
      import graft.operators.Ops
      Ops.winsorizePpm(t(s, dir, "documents"), "lang", "n_chars",
        "doc_id", trimPct = 10)
    },
      raw"""WITH b AS (SELECT lang AS grp, CAST(doc_id AS BIGINT) AS id,
         |    CAST(n_chars AS BIGINT) AS v,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY n_chars, doc_id) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM documents),
         |c AS (SELECT *, n * 10 // 100 AS cut FROM b),
         |bo AS (SELECT grp,
         |    CAST(min(CASE WHEN r > cut THEN v END) AS BIGINT) AS lo,
         |    CAST(max(CASE WHEN r <= n - cut THEN v END) AS BIGINT)
         |      AS hi
         |  FROM c GROUP BY 1)
         |SELECT c.grp, c.id, c.v,
         |  CAST(least(greatest(c.v, bo.lo), bo.hi) AS BIGINT) AS v_wins,
         |  bo.lo, bo.hi
         |FROM c JOIN bo USING (grp)""".stripMargin),

    // GROUPED OLS: per event type, the regression of centi value on
    // hour-of-week -- five exact integer sums, two floored IEEE
    // divisions in a fixed op order; num/den emitted exact.
    // q285: grouped OLS -- five exact sums, num/den integers, the two
    // floored IEEE divisions in the operator's op order.
    QuerySpec("q285_ols", (s, dir) => {
      import graft.operators.Ops
      Ops.groupOls(
        events(s, dir).select(col("event_type"),
          expr("pmod((ts - pmod(ts, 3600000000000L)) " +
            "div 3600000000000L, 168L)").as("x"),
          floor(col("value") * 100).cast("long").as("y")),
        "event_type", "x", "y")
    },
      raw"""WITH r AS (SELECT event_type AS grp,
         |    ((((epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000
         |      + 3600000000000) % 3600000000000)) // 3600000000000)
         |      % 168) + 168) % 168 AS x,
         |    CAST(floor(value * 100) AS BIGINT) AS y
         |  FROM events),
         |st AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM r GROUP BY grp),
         |f AS (SELECT grp, n, n * sxy - sx * sy AS num,
         |    n * sxx - sx * sx AS den, sx, sy FROM st)
         |SELECT grp, n, num, den,
         |  CASE WHEN den = 0 THEN NULL
         |    ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
         |      * 1000000) AS BIGINT) END AS slope_ppm,
         |  CASE WHEN den = 0 THEN NULL
         |    ELSE CAST(floor((CAST(sy AS DOUBLE)
         |      - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
         |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1000)
         |      AS BIGINT) END AS intercept_milli
         |FROM f""".stripMargin),

    // SEASONAL PROFILE: per event type the hour-of-day activity shape
    // (24 phases, pmod-floor slotting) -- counts, exact sums, floored
    // mean and the seasonal index vs the key mean.
    // q286: seasonal profile -- pmod-floor hour-of-day phases, per-
    // phase exact sums, floored mean and index in the operator's op
    // order, null index for zero-sum keys.
    QuerySpec("q286_seasonal", (s, dir) => {
      import graft.operators.Ops
      Ops.seasonalProfile(
        events(s, dir).select(col("event_type"), col("ts"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "ts", "v",
        slotNs = 3600000000000L, periodSlots = 24)
    },
      raw"""WITH r AS (SELECT event_type AS key, epoch_ns(ts) AS ts,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |ph AS (SELECT key, ((((ts - ((ts % 3600000000000
         |      + 3600000000000) % 3600000000000)) // 3600000000000)
         |      % 24) + 24) % 24 AS phase, v FROM r),
         |cells AS (SELECT key, CAST(phase AS BIGINT) AS phase,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS val_sum
         |  FROM ph GROUP BY 1, 2),
         |tot AS (SELECT key, CAST(sum(n) AS BIGINT) AS na,
         |    CAST(sum(val_sum) AS BIGINT) AS sa
         |  FROM cells GROUP BY key)
         |SELECT c.key, c.phase, c.n, c.val_sum,
         |  CAST(floor(CAST(c.val_sum AS DOUBLE) / CAST(c.n AS DOUBLE)
         |    * 1000) AS BIGINT) AS mean_milli,
         |  CASE WHEN t.sa = 0 THEN NULL
         |    ELSE CAST(floor((CAST(c.val_sum AS DOUBLE)
         |      / CAST(c.n AS DOUBLE)) / (CAST(t.sa AS DOUBLE)
         |      / CAST(t.na AS DOUBLE)) * 1000000) AS BIGINT) END
         |    AS index_ppm
         |FROM cells c JOIN tot t ON t.key = c.key""".stripMargin),

    // GINI CONCENTRATION of document lengths per source -- the exact
    // mean-difference form, one rank window + one fold, one IEEE
    // division.
    // q302: the mean-difference Gini replayed rank-for-rank (equal
    // values contribute symmetrically, so any stable order agrees).
    QuerySpec("q302_gini", (s, dir) => {
      import graft.operators.Ops
      Ops.giniPpm(t(s, dir, "documents"), "source", "n_chars")
    },
      raw"""WITH r AS (SELECT source AS grp,
         |    CAST(n_chars AS BIGINT) AS v,
         |    row_number() OVER (PARTITION BY source ORDER BY n_chars)
         |      AS rk
         |  FROM documents)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v) AS BIGINT) AS total,
         |  CASE WHEN sum(v) = 0 THEN NULL
         |    ELSE CAST(floor(CAST(sum((2 * rk - 1) * v)
         |      - count(*) * sum(v) AS DOUBLE) * 1000000
         |      / CAST(count(*) * sum(v) AS DOUBLE)) AS BIGINT) END
         |    AS gini_ppm
         |FROM r GROUP BY grp""".stripMargin),

    // WALD-WOLFOWITZ RUNS COUNT per event type: value-threshold binary
    // sequence in (ts, event_id) order -- exact run counts plus the
    // expected-runs lattice; streaks or over-alternation both read as
    // a gap from mu.
    // q308: lag-based run starts over the same (ts, id) order, the
    // expected-runs lattice with one double division.
    QuerySpec("q308_runs", (s, dir) => {
      import graft.operators.Ops
      Ops.runsTest(
        events(s, dir).select(col("event_type"), col("ts"),
          col("event_id"),
          when(col("value") >= 30, 1L).otherwise(0L).as("v")),
        "event_type", "ts", "event_id", "v")
    },
      raw"""WITH r AS (SELECT event_type AS key, epoch_ns(ts) AS ts,
         |    event_id AS tie,
         |    CASE WHEN value >= 30 THEN 1 ELSE 0 END AS v
         |  FROM events),
         |c AS (SELECT key, v, CASE WHEN lag(v) OVER (
         |    PARTITION BY key ORDER BY ts, tie) IS DISTINCT FROM v
         |    THEN 1 ELSE 0 END AS chg
         |  FROM r)
         |SELECT key, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(1 - v) AS BIGINT) AS n0,
         |  CAST(sum(v) AS BIGINT) AS n1,
         |  CAST(sum(chg) AS BIGINT) AS runs,
         |  CAST(floor((1.0::DOUBLE + 2.0::DOUBLE
         |    * CAST(sum(1 - v) * sum(v) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT)
         |    AS mu_milli
         |FROM c GROUP BY key""".stripMargin),

    // THEIL-SEN ROBUST SLOPE of doc length vs doc id per source --
    // pairwise slopes on the truncated-ppm lattice, lower median by
    // rank, bounded O(n^2) with the loud group-size contract.
    // q316: Theil-Sen -- pair self-join, truncated-ppm slopes (both
    // engines' integer division truncates), lower median by rank.
    QuerySpec("q316_theil_sen", (s, dir) => {
      import graft.operators.Ops
      Ops.theilSen(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        "source", "doc_id", "n_chars", maxN = 1024)
    },
      raw"""WITH r AS (SELECT source AS grp, doc_id AS x,
         |    n_chars AS y FROM documents),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY grp),
         |pr AS (SELECT a.grp, a.x AS xi, b.x AS xj,
         |    CAST((1000000 * (b.y - a.y)) // (b.x - a.x) AS BIGINT)
         |      AS s
         |  FROM r a JOIN r b ON b.grp = a.grp AND a.x < b.x),
         |rk AS (SELECT grp, s,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY s, xi, xj) AS rn,
         |    count(*) OVER (PARTITION BY grp) AS m
         |  FROM pr),
         |md AS (SELECT grp, CAST(max(m) AS BIGINT) AS n_pairs,
         |    CAST(max(s) AS BIGINT) AS slope_ppm
         |  FROM rk WHERE rn = (m + 1) // 2 GROUP BY grp)
         |SELECT sz.grp, sz.n,
         |  CAST(COALESCE(md.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  md.slope_ppm
         |FROM sz LEFT JOIN md ON md.grp = sz.grp""".stripMargin),

    // SPEARMAN RANK CORRELATION per event type: centi value vs
    // user-id residue -- doubled midranks (exact integers), Pearson
    // on the ranks with DECIMAL sums, one exactly-rounded IEEE
    // sqrt/divide chain at the end.
    // q322: Spearman -- doubled midranks (2*rank + ties - 1), exact
    // HUGEINT moment sums, the same float finish (cast, sqrt,
    // multiply, divide, floor -- all exactly rounded IEEE).
    QuerySpec("q322_spearman", (s, dir) => {
      import graft.operators.Ops
      Ops.spearmanRho(
        events(s, dir).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("x"),
          pmod(col("user_id"), lit(1000L)).as("y")),
        "event_type", "x", "y")
    },
      raw"""WITH r AS (SELECT event_type AS grp,
         |    CAST(floor(value * 100) AS BIGINT) AS x,
         |    ((user_id % 1000) + 1000) % 1000 AS y FROM events),
         |rk AS (SELECT grp,
         |    CAST(2 * rank() OVER (PARTITION BY grp ORDER BY x)
         |      + count(*) OVER (PARTITION BY grp, x) - 1 AS HUGEINT)
         |      AS rx,
         |    CAST(2 * rank() OVER (PARTITION BY grp ORDER BY y)
         |      + count(*) OVER (PARTITION BY grp, y) - 1 AS HUGEINT)
         |      AS ry
         |  FROM r),
         |ag AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         |    sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
         |    sum(ry * ry) AS syy, sum(rx * ry) AS sxy
         |  FROM rk GROUP BY grp)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n < 2 OR n * sxx - sx * sx <= 0
         |      OR n * syy - sy * sy <= 0 THEN NULL
         |    ELSE CAST(floor(1000000.0
         |      * CAST(n * sxy - sx * sy AS DOUBLE)
         |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
         |      AS BIGINT) END AS rho_ppm
         |FROM ag""".stripMargin),

    // KENDALL TAU-B per source: hecto char-length vs doc-id residue
    // (both tie-rich) -- exact concordant/discordant/tie pair counts
    // from the bounded O(n^2) self-join, tie-corrected denominator.
    // q323: Kendall tau-b -- all unordered pairs by doc-id identity,
    // exact sign/tie counts, tie-corrected sqrt denominator in the
    // shared float finish.
    QuerySpec("q323_kendall", (s, dir) => {
      import graft.operators.Ops
      Ops.kendallTauB(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          expr("n_chars div 100").as("x"),
          pmod(col("doc_id"), lit(50L)).as("y")),
        "source", "doc_id", "x", "y", maxN = 1024)
    },
      raw"""WITH r AS (SELECT source AS grp, doc_id AS i,
         |    n_chars // 100 AS x, ((doc_id % 50) + 50) % 50 AS y
         |  FROM documents),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY grp),
         |pr AS (SELECT a.grp,
         |    CASE WHEN (b.x > a.x AND b.y > a.y)
         |        OR (b.x < a.x AND b.y < a.y) THEN 1
         |      WHEN (b.x > a.x AND b.y < a.y)
         |        OR (b.x < a.x AND b.y > a.y) THEN -1
         |      ELSE 0 END AS sgn,
         |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
         |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
         |  FROM r a JOIN r b ON b.grp = a.grp AND a.i < b.i),
         |f AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c,
         |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d,
         |    CAST(sum(tx) AS BIGINT) AS t1,
         |    CAST(sum(ty) AS BIGINT) AS t2
         |  FROM pr GROUP BY grp)
         |SELECT sz.grp, sz.n,
         |  CAST(COALESCE(f.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(f.c, 0) AS BIGINT) AS concordant,
         |  CAST(COALESCE(f.d, 0) AS BIGINT) AS discordant,
         |  CASE WHEN f.n_pairs IS NULL OR f.n_pairs - f.t1 <= 0
         |      OR f.n_pairs - f.t2 <= 0 THEN NULL
         |    ELSE CAST(floor(1000000.0 * CAST(f.c - f.d AS DOUBLE)
         |      / sqrt(CAST((f.n_pairs - f.t1)
         |        * (f.n_pairs - f.t2) AS DOUBLE)))
         |      AS BIGINT) END AS tau_b_ppm
         |FROM sz LEFT JOIN f ON f.grp = sz.grp""".stripMargin),

    // AUTOCORRELATION at lag 24 of the hourly value sums per event
    // type (the q315 feeder) -- fraction-cleared ACF on DECIMAL
    // sums, one integral division; daily seasonality would read
    // positive here.
    // q326: lag-24 autocorrelation of the q315 hourly feeder --
    // positional lead over the (h, h) order, fraction-cleared num/den
    // on HUGEINT, one integral division.
    QuerySpec("q326_acf", (s, dir) => {
      import graft.operators.Ops
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 3600000000000L)) div 3600000000000L")
            .as("h"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("v")).as("hv"))
      Ops.autocorr(hourly, "event_type", "h", "h", "hv", k = 24)
    },
      raw"""WITH hr AS (SELECT event_type AS key,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000
         |      + 3600000000000) % 3600000000000)) // 3600000000000
         |      AS h,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |hv AS (SELECT key, CAST(h AS BIGINT) AS h,
         |    CAST(sum(v) AS BIGINT) AS hv
         |  FROM hr GROUP BY 1, 2),
         |ld AS (SELECT key, hv,
         |    lead(hv, 24) OVER (PARTITION BY key ORDER BY h, h)
         |      AS lv
         |  FROM hv),
         |ag AS (SELECT key, CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(hv AS HUGEINT)) AS s,
         |    sum(CAST(hv AS HUGEINT) * hv) AS ss,
         |    CAST(count(lv) AS HUGEINT) AS npair,
         |    sum(CASE WHEN lv IS NOT NULL
         |      THEN CAST(hv AS HUGEINT) * lv END) AS sxy,
         |    sum(CASE WHEN lv IS NOT NULL
         |      THEN CAST(hv AS HUGEINT) END) AS sx,
         |    sum(CASE WHEN lv IS NOT NULL
         |      THEN CAST(lv AS HUGEINT) END) AS sy
         |  FROM ld GROUP BY key)
         |SELECT key, CAST(n AS BIGINT) AS n,
         |  CAST(24 AS BIGINT) AS lag,
         |  CASE WHEN n <= 24
         |      OR n * n * ss - n * s * s * 2 + n * s * s <= 0
         |    THEN NULL
         |    ELSE CAST((1000000 * (n * n * sxy - n * s * (sx + sy)
         |      + npair * s * s))
         |      // (n * n * ss - n * s * s * 2 + n * s * s) AS BIGINT)
         |    END AS acf_ppm
         |FROM ag""".stripMargin),

    // ROLLING LOWER MEDIAN (w=5) of the centi-value per event type
    // on the (ts, event_id) order -- the robust rolling level
    // companion to the q311 CUSUM; only FULL windows emit, every
    // output stays on the input lattice.
    // q331: rolling lower median -- the 5-row trailing window as a
    // list window aggregate, sorted, element 3; full windows only.
    QuerySpec("q331_rolling_median", (s, dir) => {
      import graft.operators.Ops
      Ops.rollingMedian(events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "ts", "event_id", "v", w = 5)
    },
      raw"""WITH e AS (SELECT event_type AS key, epoch_ns(ts) AS ts,
         |    CAST(event_id AS BIGINT) AS tie,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |w AS (SELECT key, ts, tie, v,
         |    list(v) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS buf
         |  FROM e)
         |SELECT key, ts, tie, v,
         |  CAST(list_sort(buf)[3] AS BIGINT) AS med
         |FROM w WHERE len(buf) = 5""".stripMargin),

    // MEDIAN ABSOLUTE DEVIATION of the centi-values per event type
    // -- both medians LOWER by rank, no float anywhere; the robust
    // scale the q333 fence divides by.
    // q332: MAD -- two lower-median rank walks, the deviation join
    // between them, replayed with explicit row_number/count windows.
    QuerySpec("q332_mad", (s, dir) => {
      import graft.operators.Ops
      Ops.madPerGroup(events(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("v")),
        "event_type", "v")
    },
      raw"""WITH e AS (SELECT event_type AS grp,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |r1 AS (SELECT grp, v,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY v)
         |      AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
         |  FROM e),
         |med AS (SELECT grp, v AS median, n FROM r1
         |  WHERE r = (n + 1) // 2),
         |d AS (SELECT e.grp, med.median, med.n,
         |    abs(e.v - med.median) AS dv
         |  FROM e JOIN med ON e.grp = med.grp),
         |r2 AS (SELECT grp, median, n, dv,
         |    row_number() OVER (PARTITION BY grp ORDER BY dv) AS r
         |  FROM d)
         |SELECT grp, n, CAST(median AS BIGINT) AS median,
         |  CAST(dv AS BIGINT) AS mad
         |FROM r2 WHERE r = (n + 1) // 2""".stripMargin),

    // ROBUST OUTLIER GATE at 1.8x MAD by integer cross-
    // multiplication (1000*dev > 1800*mad) -- the tails of the
    // per-type value distribution, no modified-z float.
    // q333: robust outlier gate -- the q332 stats joined back onto
    // the rows, integer cross-multiplied fence at 1.8 MAD.
    QuerySpec("q333_robust_outliers", (s, dir) => {
      import graft.operators.Ops
      Ops.robustOutliers(events(s, dir).select(col("event_type"),
        col("event_id"),
        floor(col("value") * 100).cast("long").as("v")),
        "event_type", "event_id", "v", kMilli = 1800L)
    },
      raw"""WITH e AS (SELECT event_type AS grp,
         |    CAST(event_id AS BIGINT) AS id,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |r1 AS (SELECT grp, v,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY v)
         |      AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
         |  FROM e),
         |med AS (SELECT grp, v AS median, n FROM r1
         |  WHERE r = (n + 1) // 2),
         |d AS (SELECT e.grp, med.median, med.n,
         |    abs(e.v - med.median) AS dv
         |  FROM e JOIN med ON e.grp = med.grp),
         |r2 AS (SELECT grp, median, n, dv,
         |    row_number() OVER (PARTITION BY grp ORDER BY dv) AS r
         |  FROM d),
         |stats AS (SELECT grp, median, dv AS mad FROM r2
         |  WHERE r = (n + 1) // 2)
         |SELECT e.grp, e.id, e.v, CAST(s.median AS BIGINT) AS median,
         |  CAST(s.mad AS BIGINT) AS mad,
         |  CAST(abs(e.v - s.median) AS BIGINT) AS dev
         |FROM e JOIN stats s ON e.grp = s.grp
         |WHERE abs(e.v - s.median) * 1000 > 1800 * s.mad""".stripMargin),

    // MANN-KENDALL TREND TEST on the daily value sums per event type
    // -- exact S and tie-corrected 18*Var(S) off one bounded pair
    // join, the continuity-corrected z in one IEEE chain to milli;
    // the significance companion to the q315 Theil-Sen slope.
    // q337: Mann-Kendall -- the pair join, tie fold and the one
    // float chain (multiply, divide by the sqrt of num/18, floor)
    // replayed operation for operation.
    QuerySpec("q337_mann_kendall", (s, dir) => {
      import graft.operators.Ops
      val daily = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
            .as("d"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("v")).as("dv"))
      Ops.mannKendallTrend(daily, "event_type", "d", "d", "dv")
    },
      raw"""WITH dl AS (SELECT event_type AS grp,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000
         |      + 86400000000000) % 86400000000000))
         |      // 86400000000000 AS d,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |dv AS (SELECT grp, CAST(d AS BIGINT) AS d,
         |    CAST(sum(v) AS BIGINT) AS dv FROM dl GROUP BY 1, 2),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM dv
         |  GROUP BY 1),
         |pr AS (SELECT a.grp, CAST(sum(CASE WHEN b.dv > a.dv THEN 1
         |      WHEN b.dv < a.dv THEN -1 ELSE 0 END) AS BIGINT) AS s
         |  FROM dv a JOIN dv b ON a.grp = b.grp AND a.d < b.d
         |  GROUP BY 1),
         |tc AS (SELECT grp,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tcorr
         |  FROM (SELECT grp, dv, CAST(count(*) AS BIGINT) AS c
         |    FROM dv GROUP BY 1, 2) GROUP BY 1),
         |f AS (SELECT sz.grp, sz.n, COALESCE(pr.s, 0) AS s,
         |    sz.n * (sz.n - 1) * (2 * sz.n + 5) - tc.tcorr
         |      AS var_num18
         |  FROM sz LEFT JOIN pr ON pr.grp = sz.grp
         |  JOIN tc ON tc.grp = sz.grp)
         |SELECT grp, n, s, var_num18,
         |  CASE WHEN var_num18 <= 0 THEN NULL
         |    WHEN s = 0 THEN 0
         |    ELSE CAST(floor(CAST((s - CASE WHEN s > 0 THEN 1
         |        ELSE -1 END) * 1000 AS DOUBLE)
         |      / sqrt(CAST(var_num18 AS DOUBLE) / 18.0::DOUBLE))
         |      AS BIGINT) END AS z_milli
         |FROM f""".stripMargin),

    // HERFINDAHL-HIRSCHMAN CONCENTRATION of source shares per
    // language -- one integral division on DECIMAL(38); 1e6/C = a
    // perfectly even corpus, 1e6 = one domain wearing every hat.
    // q338: HHI -- (grp, cat) counts, one HUGEINT integral division.
    QuerySpec("q338_hhi", (s, dir) => {
      import graft.operators.Ops
      Ops.hhiPpm(t(s, dir, "documents"), "lang", "source")
    },
      raw"""WITH c AS (SELECT lang AS grp, source AS cat,
         |    CAST(count(*) AS BIGINT) AS nc FROM documents
         |  GROUP BY 1, 2)
         |SELECT grp, CAST(sum(nc) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_categories,
         |  CAST((1000000::HUGEINT * sum(CAST(nc AS HUGEINT) * nc))
         |    // (CAST(sum(nc) AS HUGEINT)
         |      * CAST(sum(nc) AS BIGINT)) AS BIGINT) AS hhi_ppm
         |FROM c GROUP BY grp""".stripMargin),

    // ASSOCIATION RULES over (user, event type) baskets -- exact
    // support/confidence/lift on the ppm lattice from one
    // basket-keyed pair join; lift > 1e6 = co-occurrence above
    // independence.
    // q346: association rules -- distinct membership, basket-keyed
    // pairs, the three ppm divisions (lift on HUGEINT).
    QuerySpec("q346_assoc", (s, dir) => {
      import graft.operators.Ops
      Ops.associationRules(events(s, dir)
        .select(col("user_id"), col("event_type")),
        "user_id", "event_type", minSupportPpm = 10000L)
    },
      raw"""WITH m AS (SELECT DISTINCT user_id AS bk,
         |    event_type AS item FROM events),
         |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nbk
         |  FROM m),
         |it AS (SELECT item, CAST(count(*) AS BIGINT) AS ni FROM m
         |  GROUP BY 1),
         |p AS (SELECT a.item AS antecedent, b.item AS consequent,
         |    CAST(count(*) AS BIGINT) AS n_ab
         |  FROM m a JOIN m b ON a.bk = b.bk AND a.item <> b.item
         |  GROUP BY 1, 2)
         |SELECT p.antecedent, p.consequent, ia.ni AS n_a,
         |  ib.ni AS n_b, p.n_ab,
         |  CAST((1000000 * p.n_ab) // nb.nbk AS BIGINT)
         |    AS support_ppm,
         |  CAST((1000000 * p.n_ab) // ia.ni AS BIGINT)
         |    AS confidence_ppm,
         |  CAST((1000000::HUGEINT * p.n_ab * nb.nbk)
         |    // (CAST(ia.ni AS HUGEINT) * ib.ni) AS BIGINT)
         |    AS lift_ppm
         |FROM p JOIN it ia ON ia.item = p.antecedent
         |JOIN it ib ON ib.item = p.consequent
         |CROSS JOIN nb
         |WHERE (1000000 * p.n_ab) // nb.nbk >= 10000""".stripMargin),

    // WEIGHTED LOWER MEDIAN of the centi-values per event type with
    // event-id-residue weights -- integer cross-multiplied
    // threshold, reduces to q332's median at w = 1.
    // q352: weighted median -- cumulative-weight window, integer
    // cross-multiplied threshold, min passing value.
    QuerySpec("q352_weighted_median", (s, dir) => {
      import graft.operators.Ops
      Ops.weightedMedianPerGroup(events(s, dir)
        .select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"),
          (pmod(col("event_id"), lit(5L)) + 1L).as("w")),
        "event_type", "v", "w")
    },
      raw"""WITH e AS (SELECT event_type AS grp,
         |    CAST(floor(value * 100) AS BIGINT) AS v,
         |    CAST(event_id % 5 + 1 AS BIGINT) AS w FROM events),
         |c AS (SELECT grp, v, w,
         |    CAST(sum(w) OVER (PARTITION BY grp ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         |    CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS wt,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
         |  FROM e)
         |SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  CAST(max(wt) AS BIGINT) AS w_total,
         |  CAST(min(v) AS BIGINT) AS wmedian
         |FROM c WHERE cw * 2 >= wt GROUP BY grp""".stripMargin),

    // HILL TAIL INDEX (k=20) of document lengths per language --
    // per-term micro-nat log-ratios over the top-21 order
    // statistics; the heavy-tail monitor for length distributions.
    // q353: Hill -- desc rank, the k+1 threshold join, per-term
    // micro-nat ln floors, one integral division by k.
    QuerySpec("q353_hill", (s, dir) => {
      import graft.operators.Ops
      Ops.hillTailIndex(t(s, dir, "documents"), "lang", "n_chars",
        k = 20)
    },
      raw"""WITH d AS (SELECT lang AS grp, CAST(n_chars AS BIGINT)
         |    AS v FROM documents),
         |rk AS (SELECT grp, v,
         |    CAST(row_number() OVER (PARTITION BY grp
         |      ORDER BY v DESC) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
         |  FROM d),
         |th AS (SELECT grp, v AS x_k1 FROM rk WHERE r = 21),
         |tm AS (SELECT rk.grp, th.x_k1,
         |    CAST(floor(1000000.0::DOUBLE
         |      * ln(CAST(rk.v AS DOUBLE) / CAST(th.x_k1 AS DOUBLE)))
         |      AS BIGINT) AS term
         |  FROM rk JOIN th ON th.grp = rk.grp WHERE rk.r <= 20),
         |f AS (SELECT grp, CAST(max(x_k1) AS BIGINT) AS x_k1,
         |    CAST(sum(term) // 20 AS BIGINT) AS hill_micro
         |  FROM tm GROUP BY 1)
         |SELECT s.grp, s.n, CAST(20 AS BIGINT) AS k, f.x_k1,
         |  f.hill_micro
         |FROM (SELECT grp, CAST(max(n) AS BIGINT) AS n FROM rk
         |  GROUP BY 1) s
         |LEFT JOIN f ON f.grp = s.grp""".stripMargin),

    // NET PROMOTER SCORE per event type on the value-derived 0-10
    // scale -- band counts and one truncation.
    // q360: NPS -- band counts, one truncation toward zero.
    QuerySpec("q360_nps", (s, dir) => {
      import graft.operators.Ops
      Ops.npsPerGroup(events(s, dir)
        .select(col("event_type"),
          pmod(floor(col("value")).cast("long"), lit(11L)).as("sc")),
        "event_type", "sc")
    },
      raw"""WITH e AS (SELECT event_type AS grp,
         |    ((CAST(floor(value) AS BIGINT) % 11) + 11) % 11 AS s
         |  FROM events)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN s >= 9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS promoters,
         |  CAST(sum(CASE WHEN s >= 7 AND s <= 8 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS passives,
         |  CAST(sum(CASE WHEN s <= 6 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS detractors,
         |  CAST((1000000 * (sum(CASE WHEN s >= 9 THEN 1 ELSE 0 END)
         |    - sum(CASE WHEN s <= 6 THEN 1 ELSE 0 END)))
         |    // count(*) AS BIGINT) AS nps_ppm
         |FROM e GROUP BY grp""".stripMargin),

    // KENDALL TAU-B AT SCALE: the q323 fixture bit-for-bit, but via
    // the distributed O(n log n) inversion count (two permutation
    // row_numbers, a dense Bg^2 grid for cross-bucket pairs, local
    // merge counts inside buckets) -- no pair join anywhere; the
    // oracle is the same O(n^2) pair SQL, proving the factoring.
    // q366: the q323 oracle verbatim — the O(n^2) pair SQL is the
    // definition the inversion-count factoring must reproduce.
    QuerySpec("q366_kendall_large", (s, dir) => {
      import graft.operators.Ops
      Ops.kendallTauLarge(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          expr("n_chars div 100").as("x"),
          pmod(col("doc_id"), lit(50L)).as("y")),
        "source", "doc_id", "x", "y")
    },
      raw"""WITH r AS (SELECT source AS grp, doc_id AS i,
         |    n_chars // 100 AS x, ((doc_id % 50) + 50) % 50 AS y
         |  FROM documents),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY grp),
         |pr AS (SELECT a.grp,
         |    CASE WHEN (b.x > a.x AND b.y > a.y)
         |        OR (b.x < a.x AND b.y < a.y) THEN 1
         |      WHEN (b.x > a.x AND b.y < a.y)
         |        OR (b.x < a.x AND b.y > a.y) THEN -1
         |      ELSE 0 END AS sgn,
         |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
         |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
         |  FROM r a JOIN r b ON b.grp = a.grp AND a.i < b.i),
         |f AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c,
         |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d,
         |    CAST(sum(tx) AS BIGINT) AS t1,
         |    CAST(sum(ty) AS BIGINT) AS t2
         |  FROM pr GROUP BY grp)
         |SELECT sz.grp, sz.n,
         |  CAST(COALESCE(f.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(f.c, 0) AS BIGINT) AS concordant,
         |  CAST(COALESCE(f.d, 0) AS BIGINT) AS discordant,
         |  CASE WHEN f.n_pairs IS NULL OR f.n_pairs - f.t1 <= 0
         |      OR f.n_pairs - f.t2 <= 0 THEN NULL
         |    ELSE CAST(floor(1000000.0 * CAST(f.c - f.d AS DOUBLE)
         |      / sqrt(CAST((f.n_pairs - f.t1)
         |        * (f.n_pairs - f.t2) AS DOUBLE)))
         |      AS BIGINT) END AS tau_b_ppm
         |FROM sz LEFT JOIN f ON f.grp = sz.grp""".stripMargin),

    // MANN-KENDALL AT SCALE: the q337 daily series bit-for-bit via
    // the same inversion-count engine (S = n0 - n2 - 2D with D the
    // strict inversion count of value order against time order).
    // q367: the q337 oracle verbatim — same pair-join definition the
    // S = n0 - n2 - 2D inversion identity must reproduce.
    QuerySpec("q367_mann_kendall_large", (s, dir) => {
      import graft.operators.Ops
      val daily = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
            .as("d"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("v")).as("dv"))
      Ops.mannKendallLarge(daily, "event_type", "d", "d", "dv")
    },
      raw"""WITH dl AS (SELECT event_type AS grp,
         |    (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000
         |      + 86400000000000) % 86400000000000))
         |      // 86400000000000 AS d,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |dv AS (SELECT grp, CAST(d AS BIGINT) AS d,
         |    CAST(sum(v) AS BIGINT) AS dv FROM dl GROUP BY 1, 2),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM dv
         |  GROUP BY 1),
         |pr AS (SELECT a.grp, CAST(sum(CASE WHEN b.dv > a.dv THEN 1
         |      WHEN b.dv < a.dv THEN -1 ELSE 0 END) AS BIGINT) AS s
         |  FROM dv a JOIN dv b ON a.grp = b.grp AND a.d < b.d
         |  GROUP BY 1),
         |tc AS (SELECT grp,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tcorr
         |  FROM (SELECT grp, dv, CAST(count(*) AS BIGINT) AS c
         |    FROM dv GROUP BY 1, 2) GROUP BY 1),
         |f AS (SELECT sz.grp, sz.n, COALESCE(pr.s, 0) AS s,
         |    sz.n * (sz.n - 1) * (2 * sz.n + 5) - tc.tcorr
         |      AS var_num18
         |  FROM sz LEFT JOIN pr ON pr.grp = sz.grp
         |  JOIN tc ON tc.grp = sz.grp)
         |SELECT grp, n, s, var_num18,
         |  CASE WHEN var_num18 <= 0 THEN NULL
         |    WHEN s = 0 THEN 0
         |    ELSE CAST(floor(CAST((s - CASE WHEN s > 0 THEN 1
         |        ELSE -1 END) * 1000 AS DOUBLE)
         |      / sqrt(CAST(var_num18 AS DOUBLE) / 18.0::DOUBLE))
         |      AS BIGINT) END AS z_milli
         |FROM f""".stripMargin),

    // ROLLING MEDIAN AT w=600 -- past rollingMedian's 512 buffer
    // contract -- via the lattice-histogram factoring: deca-bucketed
    // values (10-value lattice), one trailing-count window per
    // lattice value, median = first value whose window count reaches
    // 300; the oracle sorts each 600-row window outright.
    // q370: rolling median w=600 — the oracle is the DEFINITION
    // (sort each full 600-row window, take element 300), which the
    // lattice-histogram factoring must reproduce.
    QuerySpec("q370_rolling_median_large", (s, dir) => {
      import graft.operators.Ops
      Ops.rollingMedianLarge(events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr("CAST(floor(value) AS BIGINT) div 20").as("v")),
        "event_type", "ts", "event_id", "v", w = 600)
    },
      raw"""WITH e AS (SELECT event_type AS key, epoch_ns(ts) AS ts,
         |    event_id AS tie,
         |    CAST(floor(value) AS BIGINT) // 20 AS v FROM events),
         |w AS (SELECT key, ts, tie, v,
         |    list(v) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 599 PRECEDING AND CURRENT ROW) AS buf,
         |    count(*) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 599 PRECEDING AND CURRENT ROW) AS n
         |  FROM e)
         |SELECT key, CAST(ts AS BIGINT) AS ts,
         |  CAST(tie AS BIGINT) AS tie, v,
         |  CAST(list_extract(list_sort(buf), 300) AS BIGINT) AS med
         |FROM w WHERE n = 600""".stripMargin),

    // THEIL-SEN AT SCALE: the q316 fixture bit-for-bit via 16-ary
    // parametric search on the slope lattice -- each round one
    // inversion count over (group, candidate) composite keys, no
    // pair join anywhere; the oracle is the O(n^2) pair SQL.
    // q373: Theil-Sen at scale — gated against the SAME O(n^2) pair
    // SQL as q316 (one definition, two factorings).
    QuerySpec("q373_theil_sen_large", (s, dir) => {
      import graft.operators.Ops
      Ops.theilSenLarge(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        "source", "doc_id", "n_chars", fanout = 63, buckets = 1)
    },
      raw"""WITH r AS (SELECT source AS grp, doc_id AS x,
         |    n_chars AS y FROM documents),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY grp),
         |pr AS (SELECT a.grp, a.x AS xi, b.x AS xj,
         |    CAST((1000000 * (b.y - a.y)) // (b.x - a.x) AS BIGINT)
         |      AS s
         |  FROM r a JOIN r b ON b.grp = a.grp AND a.x < b.x),
         |rk AS (SELECT grp, s,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY s, xi, xj) AS rn,
         |    count(*) OVER (PARTITION BY grp) AS m
         |  FROM pr),
         |md AS (SELECT grp, CAST(max(m) AS BIGINT) AS n_pairs,
         |    CAST(max(s) AS BIGINT) AS slope_ppm
         |  FROM rk WHERE rn = (m + 1) // 2 GROUP BY grp)
         |SELECT sz.grp, sz.n,
         |  CAST(COALESCE(md.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  md.slope_ppm
         |FROM sz LEFT JOIN md ON md.grp = sz.grp""".stripMargin),

    // JONCKHEERE-TERPSTRA ordered-alternative test: do per-user
    // session spans INCREASE across the ordered user-residue arms --
    // 2J and C exact integers off ONE inversion count (no pair
    // join), Lehmann's tie-corrected variance in one fixed IEEE
    // chain, continuity-corrected z to milli.
    // q374: Jonckheere-Terpstra — the O(n^2) pair definition of 2J,
    // the fold-based tie-corrected variance in the engine's exact
    // IEEE op order, continuity-corrected z.
    QuerySpec("q374_jonckheere", (s, dir) => {
      import graft.operators.Ops
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"))
        .withColumn("exp", pmod(expr("user_id div 2"), lit(3L)))
        .withColumn("g", pmod(col("user_id"), lit(3L)))
      Ops.jonckheereTerpstra(subj, "exp", "g", "dur")
    },
      raw"""WITH subj AS (SELECT
         |    (((user_id // 2) % 3) + 3) % 3 AS grp,
         |    ((user_id % 3) + 3) % 3 AS g,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS v
         |  FROM events GROUP BY user_id),
         |sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT g) AS BIGINT) AS n_groups
         |  FROM subj GROUP BY 1),
         |pr AS (SELECT a.grp,
         |    CAST(sum(CASE WHEN a.v < b.v THEN 2
         |      WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS jt2,
         |    CAST(count(*) AS BIGINT) AS cc
         |  FROM subj a JOIN subj b ON b.grp = a.grp AND a.g < b.g
         |  GROUP BY 1),
         |gf AS (SELECT grp,
         |    CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS a2,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS a25,
         |    CAST(sum(c * (c - 1) * (c - 2)) AS BIGINT) AS a3
         |  FROM (SELECT grp, g, CAST(count(*) AS BIGINT) AS c
         |    FROM subj GROUP BY 1, 2) GROUP BY 1),
         |vf AS (SELECT grp,
         |    CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS b2,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS b25,
         |    CAST(sum(c * (c - 1) * (c - 2)) AS BIGINT) AS b3
         |  FROM (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
         |    FROM subj GROUP BY 1, 2) GROUP BY 1),
         |f AS (SELECT sz.grp, sz.n, sz.n_groups,
         |    COALESCE(pr.jt2, 0) AS jt2, COALESCE(pr.cc, 0) AS cc,
         |    COALESCE(pr.jt2, 0) - COALESCE(pr.cc, 0) AS num2,
         |    CASE WHEN sz.n <= 2 THEN NULL ELSE
         |      CAST(sz.n * (sz.n - 1) * (2 * sz.n + 5)
         |        - gf.a25 - vf.b25 AS DOUBLE) / 72.0::DOUBLE
         |      + CAST(gf.a3 AS DOUBLE) * CAST(vf.b3 AS DOUBLE)
         |        / (36.0::DOUBLE * CAST(sz.n * (sz.n - 1)
         |          * (sz.n - 2) AS DOUBLE))
         |      + (2.0::DOUBLE * CAST(gf.a2 AS DOUBLE))
         |        * (2.0::DOUBLE * CAST(vf.b2 AS DOUBLE))
         |        / (8.0::DOUBLE * CAST(sz.n * (sz.n - 1) AS DOUBLE))
         |      END AS var
         |  FROM sz LEFT JOIN pr ON pr.grp = sz.grp
         |  JOIN gf ON gf.grp = sz.grp JOIN vf ON vf.grp = sz.grp)
         |SELECT grp, n, n_groups, jt2, cc AS e2,
         |  CASE WHEN n <= 2 OR var IS NULL OR var <= 0.0 THEN NULL
         |    WHEN num2 = 0 THEN 0
         |    ELSE CAST(floor(CAST((num2 - CASE WHEN num2 > 0 THEN 1
         |      ELSE -1 END) * 500 AS DOUBLE) / sqrt(var)) AS BIGINT)
         |    END AS z_milli
         |FROM f""".stripMargin)
  )
}
