package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.QueryFixtures._

/** Experiment queries: `Experiment` and `Drift`.
  */
object ExperimentQueries {

  val specs: Seq[QuerySpec] = Seq(
    // A/B CONVERSION ANALYSIS: per-user variant (user_id parity) and
    // purchase conversion folded to the 2x2 table, ppm rates, risk
    // difference, and the chi-square statistic on an exact integer
    // lattice (one IEEE division at the end).
    // q254: the 2x2 fold and the chi-square lattice replayed
    // term-for-term (integer products, one DOUBLE division + floor).
    QuerySpec("q254_ab_test", (s, dir) => {
      import graft.operators.Experiment
      Experiment.abTest(
        events(s, dir).withColumn("variant", pmod(col("user_id"), lit(2L))),
        "user_id", "variant", "event_type", "purchase")
    },
      raw"""WITH pu AS (SELECT user_id,
         |    CAST(user_id % 2 AS BIGINT) AS variant,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END) AS BIGINT) AS conv
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT
         |    CAST(COALESCE(sum(CASE WHEN variant = 0 THEN conv END), 0)
         |      AS BIGINT) AS a,
         |    CAST(COALESCE(sum(CASE WHEN variant = 0 THEN 1 - conv END),
         |      0) AS BIGINT) AS b,
         |    CAST(COALESCE(sum(CASE WHEN variant = 1 THEN conv END), 0)
         |      AS BIGINT) AS c,
         |    CAST(COALESCE(sum(CASE WHEN variant = 1 THEN 1 - conv END),
         |      0) AS BIGINT) AS d
         |  FROM pu),
         |r AS (SELECT a, b, c, d,
         |    CASE WHEN a + b = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(floor(CAST(a AS DOUBLE) * 1000000 / (a + b))
         |        AS BIGINT) END AS rate0_ppm,
         |    CASE WHEN c + d = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(floor(CAST(c AS DOUBLE) * 1000000 / (c + d))
         |        AS BIGINT) END AS rate1_ppm
         |  FROM w)
         |SELECT a, b, c, d, rate0_ppm, rate1_ppm,
         |  rate1_ppm - rate0_ppm AS risk_diff_ppm,
         |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(CAST((a + b + c + d) * (a * d - b * c)
         |      * (a * d - b * c) AS DOUBLE) * 1000
         |      / ((a + b) * (c + d) * (a + c) * (b + d))) AS BIGINT)
         |    END AS chi2_milli
         |FROM r""".stripMargin),

    // COHORT RETENTION TRIANGLE: users by first-seen hour, activity
    // per hour offset, retention on the ppm lattice -- integer period
    // buckets, one distinct reduction, map-side combined.
    // q255: integer hour buckets, first-seen minimum, distinct
    // (cohort, offset, user) reduction, ppm floor.
    QuerySpec("q255_retention", (s, dir) => {
      import graft.operators.Experiment
      Experiment.retentionCohorts(events(s, dir), "user_id", "ts",
        periodNs = 3600000000000L)
    },
      raw"""WITH e AS (SELECT user_id AS "user",
         |    epoch_ns(ts) // 3600000000000 AS period FROM events),
         |fs AS (SELECT "user", min(period) AS cohort FROM e GROUP BY 1),
         |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
         |  FROM fs GROUP BY 1),
         |act AS (SELECT DISTINCT fs.cohort,
         |    e.period - fs.cohort AS "offset", e."user"
         |  FROM e JOIN fs USING ("user")),
         |ag AS (SELECT cohort, "offset",
         |    CAST(count(*) AS BIGINT) AS n_active
         |  FROM act GROUP BY 1, 2)
         |SELECT ag.cohort, ag."offset", ag.n_active, sz.cohort_users,
         |  CAST(floor(CAST(n_active AS DOUBLE) * 1000000 / cohort_users)
         |    AS BIGINT) AS retention_ppm
         |FROM ag JOIN sz USING (cohort)""".stripMargin),

    // ROLLING ACTIVE USERS: distinct users in the trailing 6 hours at
    // every 1-hour slide start -- the DAU/WAU family; each event lands
    // in 6 window replicas inside codegen, one distinct reduction.
    // q262: the same window-start arithmetic on epoch-ns (all
    // positive, so plain floor division agrees).
    QuerySpec("q262_rolling_actives", (s, dir) => {
      import graft.operators.Experiment
      Experiment.rollingActives(events(s, dir), "user_id", "ts",
        windowNs = 21600000000000L, slideNs = 3600000000000L)
    },
      raw"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),
         |x AS (SELECT user_id, unnest(list_transform(range(
         |    (ts - 21600000000000) // 3600000000000 + 1,
         |    ts // 3600000000000 + 1), k -> k * 3600000000000))
         |    AS w_start
         |  FROM e),
         |d AS (SELECT DISTINCT w_start, user_id FROM x)
         |SELECT w_start, CAST(count(*) AS BIGINT) AS n_active
         |FROM d GROUP BY 1""".stripMargin),

    // A/B/n CONVERSION ANALYSIS: three arms (user_id mod 3), per-arm
    // users/converters/rate and the k-by-2 chi-square -- integer-exact
    // residuals, per-cell IEEE division floored to micro units, integer
    // sum (the oracle replays every cell in the same op order).
    // q266: the k-by-2 chi-square replayed cell-for-cell — integer
    // residual d = N·nc − nu·C, per-cell IEEE square/divide in the
    // SAME op order as the Spark side, micro floor, integer sum.
    QuerySpec("q266_ab_test_k", (s, dir) => {
      import graft.operators.Experiment
      Experiment.abTestK(
        events(s, dir).withColumn("variant", pmod(col("user_id"), lit(3L))),
        "user_id", "variant", "event_type", "purchase")
    },
      raw"""WITH pu AS (SELECT user_id,
         |    CAST(user_id % 3 AS BIGINT) AS variant,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END) AS BIGINT) AS conv
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(conv) AS BIGINT) AS n_conv
         |  FROM pu GROUP BY 1),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nn,
         |    CAST(sum(n_conv) AS BIGINT) AS cc FROM c),
         |cells AS (SELECT variant, n_users, n_conv,
         |    CAST(floor(CAST(n_conv AS DOUBLE) * 1000000 / n_users)
         |      AS BIGINT) AS rate_ppm,
         |    nn * n_conv - n_users * cc AS d, nn, cc
         |  FROM c, t),
         |terms AS (SELECT variant, n_users, n_conv, rate_ppm, nn, cc,
         |    CASE WHEN cc > 0 AND cc < nn THEN
         |      CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
         |        / CAST(nn * n_users * cc AS DOUBLE) * 1000000)
         |        AS BIGINT)
         |      + CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
         |        / CAST(nn * n_users * (nn - cc) AS DOUBLE) * 1000000)
         |        AS BIGINT)
         |      ELSE 0 END AS term
         |  FROM cells),
         |chi AS (SELECT CAST(sum(term) AS BIGINT) AS s,
         |    max(nn) AS n2, max(cc) AS c2 FROM terms)
         |SELECT variant, n_users, n_conv, rate_ppm,
         |  CASE WHEN c2 > 0 AND c2 < n2 THEN s END AS chi2_micro
         |FROM terms, chi""".stripMargin),

    // MANN-WHITNEY U per experiment (event type): the nonparametric
    // two-sample test for the continuous `value` metric (centi
    // lattice), groups by user parity -- midranks exact on a DOUBLED
    // rank lattice, one experiment-partitioned window over distinct
    // values, U statistics per experiment.
    // q273: the doubled-midrank lattice replayed — per (exp, value)
    // group counts, ROWS-framed cumulative below-count, 2·mid =
    // 2·below + c0 + c1 + 1, U from the rank-sum identity.
    QuerySpec("q273_mann_whitney", (s, dir) => {
      import graft.operators.Experiment
      Experiment.mannWhitneyU(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "g", "v")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 2 AS BIGINT) AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |c AS (SELECT exp, v,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM e GROUP BY 1, 2),
         |r AS (SELECT exp, c0, c1,
         |    CAST(COALESCE(sum(c0 + c1) OVER (PARTITION BY exp
         |      ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS below
         |  FROM c),
         |m AS (SELECT exp, c0, c1, 2 * below + c0 + c1 + 1 AS mid2
         |  FROM r),
         |f AS (SELECT exp, CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c1 * mid2) AS BIGINT) AS r1_x2
         |  FROM m GROUP BY 1)
         |SELECT exp, n0, n1, r1_x2,
         |  CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
         |  CAST(2 * n0 * n1 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT)
         |    AS u0_x2
         |FROM f""".stripMargin),

    // SAMPLE-RATIO-MISMATCH CHECK: observed per-variant user counts
    // (user_id mod 4) vs a deliberately DIFFERENT 2:1:1:1 design --
    // the chi-square goodness-of-fit on the abTestK micro lattice
    // flags the mismatch; zero-user designed variants would report 0.
    // q275: the goodness-of-fit chi-square replayed cell-for-cell
    // against the 2:1:1:1 design (W = 5), abTestK op order.
    QuerySpec("q275_srm", (s, dir) => {
      import graft.operators.Experiment
      Experiment.srmCheck(
        events(s, dir).withColumn("variant", pmod(col("user_id"), lit(4L))),
        "user_id", "variant",
        Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    },
      raw"""WITH pu AS (SELECT user_id, CAST(user_id % 4 AS BIGINT)
         |    AS variant FROM events GROUP BY 1, 2),
         |obs AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users
         |  FROM pu GROUP BY 1),
         |d AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT),
         |    CAST(2 AS BIGINT)), (1, 1), (2, 1), (3, 1)) t(variant, w)),
         |cells AS (SELECT d.variant,
         |    CAST(COALESCE(obs.n_users, 0) AS BIGINT) AS n_users, d.w
         |  FROM d LEFT JOIN obs USING (variant)),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nn FROM cells),
         |terms AS (SELECT variant, n_users,
         |    CAST(floor(CAST(w AS DOUBLE) * 1000000 / 5) AS BIGINT)
         |      AS expected_ppm,
         |    5 * n_users - nn * w AS dd, nn, w
         |  FROM cells, t),
         |x AS (SELECT variant, n_users, expected_ppm,
         |    CASE WHEN nn > 0 THEN CAST(floor(CAST(dd AS DOUBLE)
         |      * CAST(dd AS DOUBLE) / CAST(5 * nn * w AS DOUBLE)
         |      * 1000000) AS BIGINT) ELSE 0 END AS term, nn
         |  FROM terms),
         |chi AS (SELECT CAST(sum(term) AS BIGINT) AS s, max(nn) AS n2
         |  FROM x)
         |SELECT variant, n_users, expected_ppm,
         |  CASE WHEN n2 > 0 THEN s END AS chi2_micro
         |FROM x, chi""".stripMargin),

    // LEVEL-SHIFT SCAN: per event type, trailing vs leading 32-row
    // value sums (centi lattice) at every full-window position -- the
    // drift monitor; one key-partitioned window pass, two ROWS frames.
    // q277: the two ROWS frames replayed on the centi lattice,
    // full-window positions only.
    QuerySpec("q277_level_shift", (s, dir) => {
      import graft.operators.Drift
      Drift.levelShift(
        events(s, dir).select(col("event_type"), col("ts"),
          col("event_id"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "ts", "event_id", "v", w = 32)
    },
      raw"""WITH e AS (SELECT event_type AS key, epoch_ns(ts) AS ts,
         |    event_id AS tie, CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |x AS (SELECT key, ts, tie,
         |    CAST(sum(v) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS trail_sum,
         |    count(*) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS tn,
         |    CAST(sum(v) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 1 FOLLOWING AND 32 FOLLOWING) AS BIGINT)
         |      AS lead_sum,
         |    count(*) OVER (PARTITION BY key ORDER BY ts, tie
         |      ROWS BETWEEN 1 FOLLOWING AND 32 FOLLOWING) AS ln
         |  FROM e)
         |SELECT key, ts, CAST(tie AS BIGINT) AS tie, trail_sum,
         |  lead_sum, CAST(lead_sum - trail_sum AS BIGINT) AS shift
         |FROM x WHERE tn = 32 AND ln = 32""".stripMargin),

    // CUPED VARIANCE REDUCTION: per-user pre metric (view-event value,
    // centi lattice) vs post metric (click-event value) -- theta from
    // exact integer sums, one IEEE division, fixed-op-order per-row
    // adjustment replayed verbatim by the oracle.
    // q281: CUPED -- integer sums, the single IEEE theta division and
    // the per-row fold replayed in the operator's exact op order.
    QuerySpec("q281_cuped", (s, dir) => {
      import graft.operators.Experiment
      val ev = events(s, dir)
      val perUser = ev.groupBy(col("user_id")).agg(
        coalesce(sum(when(col("event_type") === "view",
          floor(col("value") * 100).cast("long"))), lit(0L)).as("pre"),
        coalesce(sum(when(col("event_type") === "click",
          floor(col("value") * 100).cast("long"))), lit(0L)).as("post"))
      Experiment.cuped(perUser, "user_id", "pre", "post")
    },
      raw"""WITH pu AS (SELECT user_id AS id,
         |    CAST(COALESCE(sum(CASE WHEN event_type = 'view'
         |      THEN CAST(floor(value * 100) AS BIGINT) END), 0)
         |      AS BIGINT) AS pre,
         |    CAST(COALESCE(sum(CASE WHEN event_type = 'click'
         |      THEN CAST(floor(value * 100) AS BIGINT) END), 0)
         |      AS BIGINT) AS post
         |  FROM events GROUP BY user_id),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pre) AS BIGINT) AS sx,
         |    CAST(sum(post) AS BIGINT) AS sy,
         |    CAST(sum(pre * post) AS BIGINT) AS sxy,
         |    CAST(sum(pre * pre) AS BIGINT) AS sxx FROM pu),
         |th AS (SELECT n, sx, n * sxy - sx * sy AS num,
         |    n * sxx - sx * sx AS den FROM st)
         |SELECT pu.id, pu.pre, pu.post,
         |  CASE WHEN th.den = 0 THEN NULL
         |    ELSE CAST(floor(CAST(th.num AS DOUBLE)
         |      / CAST(th.den AS DOUBLE) * 1000000) AS BIGINT) END
         |    AS theta_ppm,
         |  CASE WHEN th.den = 0
         |    THEN CAST(floor(CAST(pu.post AS DOUBLE) * 1000000)
         |      AS BIGINT)
         |    ELSE CAST(floor((CAST(pu.post AS DOUBLE)
         |      - CAST(th.num AS DOUBLE) / CAST(th.den AS DOUBLE)
         |        * (CAST(pu.pre AS DOUBLE)
         |          - CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)))
         |      * 1000000) AS BIGINT) END AS adj_micro
         |FROM pu, th""".stripMargin),

    // KAPLAN-MEIER SURVIVAL: per-user observation span in whole hours,
    // event = reached a purchase (else censored), two arms by user id
    // parity -- risk sets from one descending cumulative window, the
    // ppm survival recurrence folded per group and replayed by the
    // oracle as a recursive CTE.
    // q282: Kaplan-Meier -- risk sets from the descending cumulative
    // window, the ppm survival recurrence replayed as a recursive CTE
    // walking event-time ranks per group.
    QuerySpec("q282_survival", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      Experiment.survivalKm(subj, "grp", "dur", "ev")
    },
      raw"""WITH RECURSIVE subj AS (SELECT
         |    ((user_id % 2) + 2) % 2 AS grp,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |bd AS (SELECT grp, t, count(*) AS c,
         |    CAST(sum(e) AS BIGINT) AS d FROM subj GROUP BY grp, t),
         |rk AS (SELECT grp, t, d, CAST(sum(c) OVER (PARTITION BY grp
         |      ORDER BY t DESC) AS BIGINT) AS n_risk FROM bd),
         |et AS (SELECT grp, t, n_risk, d, row_number() OVER (
         |    PARTITION BY grp ORDER BY t) AS rn FROM rk WHERE d >= 1),
         |km AS (
         |  SELECT grp, rn, t, n_risk, d,
         |    (1000000 * (n_risk - d)) // n_risk AS s_ppm
         |  FROM et WHERE rn = 1
         |  UNION ALL
         |  SELECT e.grp, e.rn, e.t, e.n_risk, e.d,
         |    (km.s_ppm * (e.n_risk - e.d)) // e.n_risk
         |  FROM km JOIN et e ON e.grp = km.grp AND e.rn = km.rn + 1)
         |SELECT CAST(grp AS BIGINT) AS grp, CAST(t AS BIGINT) AS t,
         |  n_risk, d, CAST(s_ppm AS BIGINT) AS s_ppm
         |FROM km""".stripMargin),

    // BENFORD FIRST-DIGIT AUDIT: account balances on the centi lattice
    // per market segment -- nine zero-filled digit rows per key, the
    // visible zero bucket, and the goodness-of-fit chi-square on the
    // exact micro lattice.
    // q283: Benford audit -- digit relation, nine-row zero-filled
    // domain, the micro-lattice chi-square cells in the operator's
    // exact double op order.
    QuerySpec("q283_benford", (s, dir) => {
      import graft.operators.Drift
      Drift.benfordCheck(
        t(s, dir, "customer").select(col("c_mktsegment"),
          floor(col("c_acctbal") * 100).cast("long").as("v")),
        "c_mktsegment", "v")
    },
      raw"""WITH v AS (SELECT c_mktsegment AS key,
         |    CAST(floor(c_acctbal * 100) AS BIGINT) AS v
         |  FROM customer),
         |d AS (SELECT key, CASE WHEN v = 0 THEN NULL
         |    ELSE CAST(substr(CAST(abs(v) AS VARCHAR), 1, 1) AS BIGINT)
         |    END AS digit FROM v),
         |pk AS (SELECT key, CAST(count(digit) AS BIGINT) AS nn,
         |    CAST(sum(CASE WHEN digit IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_zero
         |  FROM d GROUP BY key),
         |ob AS (SELECT key, digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM d WHERE digit IS NOT NULL GROUP BY key, digit),
         |dom AS (SELECT * FROM (VALUES (1, 301030), (2, 176091),
         |    (3, 124939), (4, 96910), (5, 79181), (6, 66947),
         |    (7, 57992), (8, 51153), (9, 45757))
         |    t(digit, expected_ppm)),
         |cells AS (SELECT pk.key, CAST(dom.digit AS BIGINT) AS digit,
         |    CAST(dom.expected_ppm AS BIGINT) AS expected_ppm,
         |    CAST(COALESCE(ob.n_obs, 0) AS BIGINT) AS n_obs,
         |    pk.nn, pk.n_zero
         |  FROM pk CROSS JOIN dom LEFT JOIN ob
         |    ON ob.key = pk.key AND ob.digit = dom.digit),
         |t2 AS (SELECT *, 1000000 * n_obs - nn * expected_ppm AS r,
         |    CASE WHEN nn > 0 THEN CAST(floor(
         |      (CAST(1000000 * n_obs - nn * expected_ppm AS DOUBLE)
         |        / 1000000.0)
         |      * (CAST(1000000 * n_obs - nn * expected_ppm AS DOUBLE)
         |        / 1000000.0)
         |      / (CAST(nn AS DOUBLE) * CAST(expected_ppm AS DOUBLE)
         |        / 1000000.0) * 1000000) AS BIGINT) END AS term
         |  FROM cells),
         |chi AS (SELECT key, CAST(sum(term) AS BIGINT) AS chi2_micro
         |  FROM t2 GROUP BY key)
         |SELECT t2.key, t2.digit, t2.n_obs, t2.expected_ppm, t2.n_zero,
         |  chi.chi2_micro
         |FROM t2 JOIN chi ON chi.key = t2.key""".stripMargin),

    // CHI-SQUARE HISTOGRAM DRIFT: per event type, the user-id-bucket
    // histogram compared between the two event-id parities -- the
    // two-sample homogeneity statistic on the micro lattice.
    // q284: two-sample chi-square homogeneity per key -- integer
    // residuals T*O - row*col, cells floored to micro in the exact
    // double op order, null when a period marginal is empty.
    QuerySpec("q284_chi_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.chiSquareDrift(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(8L)).as("bucket"),
          (col("event_id") % 2).as("period")),
        "event_type", "bucket", "period")
    },
      raw"""WITH r AS (SELECT event_type AS key,
         |    ((user_id % 8) + 8) % 8 AS bucket, event_id % 2 AS p
         |  FROM events),
         |cells AS (SELECT key, CAST(bucket AS BIGINT) AS bucket,
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1
         |  FROM r GROUP BY 1, 2),
         |ks AS (SELECT key, CAST(sum(n0) AS BIGINT) AS c0,
         |    CAST(sum(n1) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM cells GROUP BY key),
         |tm AS (SELECT cells.key, cells.bucket, cells.n0, cells.n1,
         |    ks.n_buckets, ks.c0, ks.c1, ks.c0 + ks.c1 AS tt,
         |    cells.n0 + cells.n1 AS rw
         |  FROM cells JOIN ks ON ks.key = cells.key),
         |tt2 AS (SELECT *,
         |    CASE WHEN rw = 0 OR c0 = 0 OR tt = 0 THEN 0
         |      ELSE CAST(floor(CAST(tt * n0 - rw * c0 AS DOUBLE)
         |        * CAST(tt * n0 - rw * c0 AS DOUBLE)
         |        / (CAST(tt AS DOUBLE) * CAST(rw AS DOUBLE)
         |          * CAST(c0 AS DOUBLE)) * 1000000) AS BIGINT) END
         |      AS term0,
         |    CASE WHEN rw = 0 OR c1 = 0 OR tt = 0 THEN 0
         |      ELSE CAST(floor(CAST(tt * n1 - rw * c1 AS DOUBLE)
         |        * CAST(tt * n1 - rw * c1 AS DOUBLE)
         |        / (CAST(tt AS DOUBLE) * CAST(rw AS DOUBLE)
         |          * CAST(c1 AS DOUBLE)) * 1000000) AS BIGINT) END
         |      AS term1
         |  FROM tm),
         |chi AS (SELECT key, CAST(sum(term0 + term1) AS BIGINT) AS ch,
         |    max(CASE WHEN c0 = 0 OR c1 = 0 THEN 1 ELSE 0 END)
         |      AS degen
         |  FROM tt2 GROUP BY key)
         |SELECT tt2.key, tt2.bucket, tt2.n0, tt2.n1, tt2.n_buckets,
         |  CASE WHEN chi.degen = 1 THEN NULL ELSE chi.ch END
         |    AS chi2_micro
         |FROM tt2 JOIN chi ON chi.key = tt2.key""".stripMargin),

    // DIFFERENCE-IN-DIFFERENCES: user-id parity as the treatment flag,
    // event-id parity as the period, centi-lattice values -- the 2x2
    // estimator with every mean a floored IEEE division.
    // q291: the 2x2 DiD fold -- exact cell counts/sums, every mean one
    // floored IEEE division, the estimator in the operator's op order.
    QuerySpec("q291_did", (s, dir) => {
      import graft.operators.Experiment
      Experiment.diffInDiff(
        events(s, dir).select(pmod(col("user_id"), lit(2L)).as("g"),
          (col("event_id") % 2).as("p"),
          floor(col("value") * 100).cast("long").as("y")),
        "g", "p", "y")
    },
      raw"""WITH r AS (SELECT ((user_id % 2) + 2) % 2 AS g,
         |    event_id % 2 AS p,
         |    CAST(floor(value * 100) AS BIGINT) AS y FROM events),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN g = 0 AND p = 0 THEN y ELSE 0 END)
         |      AS BIGINT) AS s00,
         |    CAST(sum(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN g = 0 AND p = 1 THEN y ELSE 0 END)
         |      AS BIGINT) AS s01,
         |    CAST(sum(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN g = 1 AND p = 0 THEN y ELSE 0 END)
         |      AS BIGINT) AS s10,
         |    CAST(sum(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN g = 1 AND p = 1 THEN y ELSE 0 END)
         |      AS BIGINT) AS s11
         |  FROM r)
         |SELECT n00, s00, n01, s01, n10, s10, n11, s11,
         |  CASE WHEN n00 = 0 THEN NULL ELSE CAST(floor(
         |    CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) * 1000)
         |    AS BIGINT) END AS mean00_milli,
         |  CASE WHEN n01 = 0 THEN NULL ELSE CAST(floor(
         |    CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) * 1000)
         |    AS BIGINT) END AS mean01_milli,
         |  CASE WHEN n10 = 0 THEN NULL ELSE CAST(floor(
         |    CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) * 1000)
         |    AS BIGINT) END AS mean10_milli,
         |  CASE WHEN n11 = 0 THEN NULL ELSE CAST(floor(
         |    CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) * 1000)
         |    AS BIGINT) END AS mean11_milli,
         |  CASE WHEN n00 = 0 OR n01 = 0 OR n10 = 0 OR n11 = 0
         |    THEN NULL
         |    ELSE CAST(floor(((CAST(s11 AS DOUBLE)
         |      / CAST(n11 AS DOUBLE) - CAST(s10 AS DOUBLE)
         |      / CAST(n10 AS DOUBLE)) - (CAST(s01 AS DOUBLE)
         |      / CAST(n01 AS DOUBLE) - CAST(s00 AS DOUBLE)
         |      / CAST(n00 AS DOUBLE))) * 1000000) AS BIGINT) END
         |    AS did_micro
         |FROM c""".stripMargin),

    // STICKINESS (DAU/WAU shape): hourly-aligned window starts, the
    // 6h distinct actives over the 24h distinct actives on the exact
    // ppm lattice.
    // q296: two explode-window distinct-active relations joined on
    // the window start, the ppm ratio by integer division.
    QuerySpec("q296_stickiness", (s, dir) => {
      import graft.operators.Experiment
      Experiment.stickiness(events(s, dir), "user_id", "ts",
        shortNs = 21600000000000L, longNs = 86400000000000L,
        slideNs = 3600000000000L)
    },
      raw"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),
         |xs AS (SELECT user_id, unnest(list_transform(range(
         |    (ts - 21600000000000) // 3600000000000 + 1,
         |    ts // 3600000000000 + 1), k -> k * 3600000000000))
         |    AS w_start FROM e),
         |s AS (SELECT w_start, CAST(count(*) AS BIGINT) AS n_short
         |  FROM (SELECT DISTINCT w_start, user_id FROM xs)
         |  GROUP BY 1),
         |xl AS (SELECT user_id, unnest(list_transform(range(
         |    (ts - 86400000000000) // 3600000000000 + 1,
         |    ts // 3600000000000 + 1), k -> k * 3600000000000))
         |    AS w_start FROM e),
         |l AS (SELECT w_start, CAST(count(*) AS BIGINT) AS n_long
         |  FROM (SELECT DISTINCT w_start, user_id FROM xl)
         |  GROUP BY 1)
         |SELECT s.w_start, s.n_short, l.n_long,
         |  CAST((1000000 * s.n_short) // l.n_long AS BIGINT)
         |    AS stickiness_ppm
         |FROM s JOIN l ON l.w_start = s.w_start""".stripMargin),

    // NULL-RATE DRIFT between the event-id parities over two derived
    // nullable columns -- one aggregation pass for both columns,
    // exact ppm rates.
    // q301: both columns' four counts in one pass, exact ppm rates,
    // empty-period nulls.
    QuerySpec("q301_null_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.nullRateDrift(
        events(s, dir).select((col("event_id") % 2).as("p"),
          when(col("value") >= 50, col("value")).as("big_v"),
          when(col("event_id") % 5 =!= 0, col("props")).as("props5")),
        Seq("big_v", "props5"), "p")
    },
      raw"""WITH r AS (SELECT event_id % 2 AS p,
         |    CASE WHEN value >= 50 THEN value END AS big_v,
         |    CASE WHEN event_id % 5 <> 0 THEN props END AS props5
         |  FROM events),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN p = 0 AND big_v IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS z0a,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN p = 1 AND big_v IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS z1a,
         |    CAST(sum(CASE WHEN p = 0 AND props5 IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS z0b,
         |    CAST(sum(CASE WHEN p = 1 AND props5 IS NULL THEN 1
         |      ELSE 0 END) AS BIGINT) AS z1b
         |  FROM r),
         |m AS (
         |  SELECT 'big_v' AS "column", n0, z0a AS nulls0, n1,
         |    z1a AS nulls1 FROM agg
         |  UNION ALL
         |  SELECT 'props5', n0, z0b, n1, z1b FROM agg)
         |SELECT "column", n0, nulls0, n1, nulls1,
         |  CASE WHEN n0 = 0 THEN NULL
         |    ELSE CAST((1000000 * nulls0) // n0 AS BIGINT) END
         |    AS rate0_ppm,
         |  CASE WHEN n1 = 0 THEN NULL
         |    ELSE CAST((1000000 * nulls1) // n1 AS BIGINT) END
         |    AS rate1_ppm,
         |  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
         |    ELSE CAST((1000000 * nulls1) // n1
         |      - (1000000 * nulls0) // n0 AS BIGINT) END AS delta_ppm
         |FROM m""".stripMargin),

    // BENJAMINI-HOCHBERG FDR per event-type family: synthetic
    // hypothesis p-values on the ppm lattice, the step-up rejection
    // set via integer cross-multiplication at alpha = 5%.
    // q309: family-partitioned ranks, the integer step-up condition,
    // max passing rank per family joined back.
    QuerySpec("q309_bh", (s, dir) => {
      import graft.operators.Experiment
      val hyp = events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(100L)).as("hyp"))
        .distinct()
        .withColumn("p_ppm",
          when(col("hyp") < 10, col("hyp") * 137 + 3)
            .otherwise(pmod(col("hyp") * 9973
              + length(col("event_type")).cast("long") * 131071,
              lit(1000001L))))
      Experiment.benjaminiHochberg(hyp, "event_type", "hyp", "p_ppm",
        alphaPpm = 50000L)
    },
      raw"""WITH hyp AS (SELECT DISTINCT event_type AS grp,
         |    ((user_id % 100) + 100) % 100 AS hyp FROM events),
         |pv AS (SELECT grp, hyp AS id,
         |    CASE WHEN hyp < 10 THEN hyp * 137 + 3
         |      ELSE ((hyp * 9973 + length(grp) * 131071) % 1000001
         |        + 1000001) % 1000001 END AS p_ppm FROM hyp),
         |rk AS (SELECT grp, id, p_ppm,
         |    CAST(row_number() OVER (PARTITION BY grp
         |      ORDER BY p_ppm, id) AS BIGINT) AS k,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
         |  FROM pv),
         |ks AS (SELECT grp, CAST(COALESCE(max(CASE
         |    WHEN p_ppm * m <= k * 50000 THEN k END), 0) AS BIGINT)
         |    AS k_star
         |  FROM rk GROUP BY grp)
         |SELECT rk.grp, rk.id, rk.p_ppm, rk.k, rk.m, ks.k_star,
         |  rk.k <= ks.k_star AS reject
         |FROM rk JOIN ks ON ks.grp = rk.grp""".stripMargin),

    // LOG-RANK TEST per experiment: the q282 subject derivation split
    // into 3 experiments x 2 arms -- integer O/E1 on the micro
    // lattice, the hypergeometric variance in one fixed double chain,
    // chi-square inputs exact.
    // q310: log-rank -- the q282 subject walk split 3 exps x 2 arms;
    // E1 terms pure integer division, V terms in the engine's exact
    // double op order, chi-square from the micro-lattice inputs.
    QuerySpec("q310_logrank", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("exp", pmod(expr("user_id div 2"), lit(3L)))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      Experiment.logRank(subj, "exp", "grp", "dur", "ev")
    },
      raw"""WITH subj AS (SELECT
         |    (((user_id // 2) % 3) + 3) % 3 AS exp,
         |    ((user_id % 2) + 2) % 2 AS grp,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |bd AS (SELECT exp, t,
         |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
         |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
         |    sum(CASE WHEN grp = 0 THEN e ELSE 0 END) AS d0,
         |    sum(CASE WHEN grp = 1 THEN e ELSE 0 END) AS d1
         |  FROM subj GROUP BY exp, t),
         |rk AS (SELECT exp, t, d0, d1,
         |    sum(c0) OVER (PARTITION BY exp ORDER BY t DESC) AS n0,
         |    sum(c1) OVER (PARTITION BY exp ORDER BY t DESC) AS n1
         |  FROM bd),
         |et AS (SELECT exp, d1, n0, n1, n0 + n1 AS n, d0 + d1 AS d
         |  FROM rk WHERE d0 + d1 >= 1),
         |tm AS (SELECT exp, d1,
         |    (1000000 * (d * n1)) // n AS e1k,
         |    CASE WHEN n <= 1 THEN 0 ELSE CAST(floor(
         |      CAST(d * n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |        * CAST(n - d AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |        * CAST(n - 1 AS DOUBLE)) * 1000000) AS BIGINT) END
         |      AS vk
         |  FROM et),
         |fold AS (SELECT exp, CAST(sum(d1) AS BIGINT) AS o1,
         |    CAST(sum(e1k) AS BIGINT) AS e1_micro,
         |    CAST(sum(vk) AS BIGINT) AS v_micro
         |  FROM tm GROUP BY exp),
         |arms AS (SELECT exp, grp, CAST(count(*) AS BIGINT) AS n_subj,
         |    CAST(sum(e) AS BIGINT) AS o
         |  FROM subj GROUP BY exp, grp)
         |SELECT CAST(arms.exp AS BIGINT) AS exp,
         |  CAST(arms.grp AS BIGINT) AS grp, arms.n_subj, arms.o,
         |  CAST(COALESCE(fold.e1_micro, 0) AS BIGINT) AS e1_micro,
         |  CAST(COALESCE(fold.v_micro, 0) AS BIGINT) AS v_micro,
         |  CASE WHEN fold.v_micro IS NULL OR fold.v_micro = 0
         |    THEN NULL ELSE CAST(floor(
         |    CAST(1000000 * fold.o1 - fold.e1_micro AS DOUBLE)
         |    * CAST(1000000 * fold.o1 - fold.e1_micro AS DOUBLE)
         |    / CAST(fold.v_micro AS DOUBLE)) AS BIGINT) END
         |    AS chi2_micro
         |FROM arms LEFT JOIN fold ON fold.exp = arms.exp""".stripMargin),

    // KOLMOGOROV-SMIRNOV DRIFT per event type between the event-id
    // parities over centi-lattice values -- D as an exact integer
    // cross-multiplication over the pooled CDF, ks_ppm exact.
    // q311: two-sample KS -- pooled distinct-value CDFs as cumulative
    // windows, D by integer cross-multiplication, ks_ppm exact.
    QuerySpec("q311_ks_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.ksDrift(
        events(s, dir).select(col("event_type"),
          (col("event_id") % 2).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "g", "v")
    },
      raw"""WITH r AS (SELECT event_type AS key, event_id % 2 AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |c AS (SELECT key, v,
         |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c0,
         |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1
         |  FROM r GROUP BY key, v),
         |w AS (SELECT key,
         |    sum(c0) OVER (PARTITION BY key ORDER BY v) AS a0,
         |    sum(c1) OVER (PARTITION BY key ORDER BY v) AS a1,
         |    sum(c0) OVER (PARTITION BY key) AS t0,
         |    sum(c1) OVER (PARTITION BY key) AS t1
         |  FROM c)
         |SELECT key, CAST(max(t0) AS BIGINT) AS n0,
         |  CAST(max(t1) AS BIGINT) AS n1,
         |  CAST(max(abs(a0 * t1 - a1 * t0)) AS BIGINT) AS d_num,
         |  CASE WHEN max(t0) = 0 OR max(t1) = 0 THEN NULL
         |    ELSE CAST((1000000 * max(abs(a0 * t1 - a1 * t0)))
         |      // (max(t0) * max(t1)) AS BIGINT) END AS ks_ppm
         |FROM w GROUP BY key""".stripMargin),

    // POPULATION STABILITY INDEX per event type over the q284
    // user-bucket histogram -- add-one smoothed shares, per-bucket
    // ln terms floored to micro in a fixed double op order.
    // q312: PSI -- add-one smoothed shares over the observed bucket
    // domain, per-bucket (p1-p0)*ln(p1/p0) floored to micro in the
    // engine's exact double op order, integer-summed per key.
    QuerySpec("q312_psi", (s, dir) => {
      import graft.operators.Drift
      Drift.psi(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(8L)).as("bucket"),
          (col("event_id") % 2).as("period")),
        "event_type", "bucket", "period")
    },
      raw"""WITH r AS (SELECT event_type AS key,
         |    ((user_id % 8) + 8) % 8 AS bucket, event_id % 2 AS p
         |  FROM events),
         |cells AS (SELECT key, CAST(bucket AS BIGINT) AS bucket,
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1
         |  FROM r GROUP BY 1, 2),
         |ks AS (SELECT key, CAST(sum(n0) AS BIGINT) AS c0,
         |    CAST(sum(n1) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM cells GROUP BY key),
         |tm AS (SELECT cells.key, cells.bucket, cells.n0, cells.n1,
         |    ks.n_buckets, ks.c0, ks.c1,
         |    CAST(cells.n0 + 1 AS DOUBLE)
         |      / CAST(ks.c0 + ks.n_buckets AS DOUBLE) AS p0,
         |    CAST(cells.n1 + 1 AS DOUBLE)
         |      / CAST(ks.c1 + ks.n_buckets AS DOUBLE) AS p1
         |  FROM cells JOIN ks ON ks.key = cells.key),
         |t2 AS (SELECT *, CAST(floor((p1 - p0) * ln(p1 / p0)
         |    * 1000000) AS BIGINT) AS term FROM tm),
         |fold AS (SELECT key, CAST(sum(term) AS BIGINT) AS psi,
         |    max(CASE WHEN c0 = 0 OR c1 = 0 THEN 1 ELSE 0 END)
         |      AS degen
         |  FROM t2 GROUP BY key)
         |SELECT t2.key, t2.bucket, t2.n0, t2.n1, t2.n_buckets,
         |  CASE WHEN fold.degen = 1 THEN NULL ELSE fold.psi END
         |    AS psi_micro
         |FROM t2 JOIN fold ON fold.key = t2.key""".stripMargin),

    // TWO-SIDED CUSUM over hourly centi-value sums per event type --
    // the sequential shift detector folded into two exact window
    // passes via the prefix-minimum identity; no float anywhere.
    // q315: CUSUM via the prefix-minimum identity -- two cumulative
    // sums + two running minimums, all integer.
    QuerySpec("q315_cusum", (s, dir) => {
      import graft.operators.Drift
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 3600000000000L)) div 3600000000000L")
            .as("h"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("v")).as("hv"))
      Drift.cusum(hourly, "event_type", "h", "h", "hv",
        mu = 500000L, kappa = 10000L)
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
         |pp AS (SELECT key, h, hv,
         |    CAST(sum(hv - 500000 - 10000) OVER (PARTITION BY key
         |      ORDER BY h, h) AS BIGINT) AS p_pos,
         |    CAST(sum(500000 - hv - 10000) OVER (PARTITION BY key
         |      ORDER BY h, h) AS BIGINT) AS p_neg
         |  FROM hv)
         |SELECT key, h AS ts, h AS tie,
         |  p_pos - least(0, min(p_pos) OVER (PARTITION BY key
         |    ORDER BY h, h)) AS s_pos,
         |  p_neg - least(0, min(p_neg) OVER (PARTITION BY key
         |    ORDER BY h, h)) AS s_neg
         |FROM pp""".stripMargin),

    // EMBEDDING DRIFT: mean-vector cosine between the vec-id parities
    // per label-mod-3 key -- exact milli-lattice dimension sums on
    // DECIMAL, one exactly-rounded IEEE sqrt.
    // q318: embedding drift -- milli-quantized components, exact
    // HUGEINT dimension sums, scale-invariant cosine on the sums,
    // one exactly-rounded sqrt.
    QuerySpec("q318_embedding_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.embeddingDrift(
        t(s, dir, "embeddings").select(
          pmod(col("label").cast("long"), lit(3L)).as("k"),
          (col("vec_id") % 2).as("p"), col("embedding")),
        "k", "p", "embedding", dim = 64)
    },
      raw"""WITH r AS (SELECT (label % 3 + 3) % 3 AS k,
         |    vec_id % 2 AS p,
         |    unnest(embedding) AS x,
         |    unnest(range(1, len(embedding) + 1)) AS d
         |  FROM embeddings),
         |q AS (SELECT k, p, d,
         |    CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qv
         |  FROM r),
         |s AS (SELECT k, d,
         |    CAST(sum(CASE WHEN p = 0 THEN qv ELSE 0 END) AS BIGINT)
         |      AS s0,
         |    CAST(sum(CASE WHEN p = 1 THEN qv ELSE 0 END) AS BIGINT)
         |      AS s1,
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM q GROUP BY k, d),
         |f AS (SELECT k,
         |    sum(CAST(s0 AS HUGEINT) * CAST(s1 AS HUGEINT)) AS dot,
         |    sum(CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT)) AS n0sq,
         |    sum(CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)) AS n1sq,
         |    CAST(max(c0) AS BIGINT) AS n0,
         |    CAST(max(c1) AS BIGINT) AS n1
         |  FROM s GROUP BY k)
         |SELECT CAST(k AS BIGINT) AS key, n0, n1,
         |  CASE WHEN n0 = 0 OR n1 = 0 OR n0sq = 0 OR n1sq = 0
         |    THEN NULL
         |    ELSE CAST(floor(CAST(dot AS DOUBLE)
         |      / sqrt(CAST(n0sq AS DOUBLE) * CAST(n1sq AS DOUBLE))
         |      * 1000000) AS BIGINT) END AS cos_ppm
         |FROM f""".stripMargin),

    // QUANTILE DRIFT: p25/p50/p75/p95 of centi values per event type
    // between the event-id parities -- exact integer-ceil ranks, the
    // magnitude companion to the q311 KS verdict.
    // q319: quantile drift -- integer-ceil ranks per (key, period),
    // both quantiles + delta per requested percentile.
    QuerySpec("q319_quantile_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.quantileDrift(
        events(s, dir).select(col("event_type"),
          (col("event_id") % 2).as("p"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "p", "v", pcts = Seq(25, 50, 75, 95))
    },
      raw"""WITH r AS (SELECT event_type AS key, event_id % 2 AS p,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |rk AS (SELECT key, p, v,
         |    CAST(row_number() OVER (PARTITION BY key, p ORDER BY v)
         |      AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY key, p) AS BIGINT) AS n
         |  FROM r),
         |qs AS (SELECT unnest([25, 50, 75, 95]) AS pct),
         |hits AS (SELECT rk.key, CAST(qs.pct AS BIGINT) AS pct, rk.p,
         |    rk.v
         |  FROM rk CROSS JOIN qs
         |  WHERE rk.r = greatest(1, (qs.pct * rk.n + 99) // 100)),
         |cn AS (SELECT key,
         |    CAST(sum(CASE WHEN p = 0 AND r = 1 THEN n ELSE 0 END)
         |      AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN p = 1 AND r = 1 THEN n ELSE 0 END)
         |      AS BIGINT) AS n1
         |  FROM rk GROUP BY key),
         |bp AS (SELECT key, pct,
         |    max(CASE WHEN p = 0 THEN v END) AS v0,
         |    max(CASE WHEN p = 1 THEN v END) AS v1
         |  FROM hits GROUP BY key, pct)
         |SELECT bp.key, bp.pct, cn.n0, cn.n1, bp.v0, bp.v1,
         |  bp.v1 - bp.v0 AS delta
         |FROM bp JOIN cn ON cn.key = bp.key""".stripMargin),

    // POISSON BOOTSTRAP CI of the mean centi value per event type --
    // 64 deterministic seeded-Lehmer replicates, per-mille rank
    // quantiles; every weight replayed by the oracle.
    // q320: Poisson bootstrap -- the Lehmer triple replayed on MINSTD
    // arithmetic, the 8 cumulative thresholds inlined as the SAME
    // driver-computed literals the plan bakes in, rank quantiles.
    QuerySpec("q320_bootstrap", (s, dir) => {
      import graft.operators.Experiment
      Experiment.bootstrapCi(
        events(s, dir).select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "event_id", "v", b = 64, seed = 20260816L,
        loPm = 25, hiPm = 975)
    },
      {
      val m = 2147483647L
      val seed = 20260816L
      val ts = graft.operators.Experiment.poissonThresholds
      val wExpr = ts.map(t => s"CASE WHEN u >= $t THEN 1 ELSE 0 END")
        .mkString(" + ")
      raw"""WITH r AS (SELECT event_type AS key, event_id AS id,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |pt AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
         |    CAST(floor(CAST(sum(v) AS DOUBLE) * 1000000
         |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_micro
         |  FROM r GROUP BY key),
         |reps AS (SELECT key, id, v,
         |    unnest(range(0, 64)) AS rep FROM r),
         |uu AS (SELECT key, v, rep,
         |    ((((((id + $seed) % $m) * 48271 % $m + rep) % $m)
         |      * 48271 % $m) * 48271) % $m AS u
         |  FROM reps),
         |ww AS (SELECT key, v, rep,
         |    CAST($wExpr AS BIGINT) AS w FROM uu),
         |rm AS (SELECT key, rep,
         |    CAST(sum(w * v) AS BIGINT) AS swv,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM ww GROUP BY key, rep),
         |mn AS (SELECT key, rep,
         |    CAST(floor(CAST(swv AS DOUBLE) * 1000000
         |      / CAST(sw AS DOUBLE)) AS BIGINT) AS mean
         |  FROM rm WHERE sw > 0),
         |rk AS (SELECT key, mean,
         |    CAST(row_number() OVER (PARTITION BY key
         |      ORDER BY mean, rep) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS beff
         |  FROM mn),
         |ci AS (SELECT key, CAST(max(beff) AS BIGINT) AS b_eff,
         |    max(CASE WHEN rk = greatest(1, (25 * beff + 999) // 1000)
         |      THEN mean END) AS lo_micro,
         |    max(CASE WHEN rk = greatest(1, (975 * beff + 999) // 1000)
         |      THEN mean END) AS hi_micro
         |  FROM rk GROUP BY key)
         |SELECT ci.key, pt.n, ci.b_eff, pt.mean_micro, ci.lo_micro,
         |  ci.hi_micro
         |FROM ci JOIN pt ON pt.key = ci.key""".stripMargin
    }),

    // JENSEN-SHANNON DIVERGENCE between the event-id parities per
    // event type over user-id-residue buckets -- the unsmoothed,
    // bounded companion to the q312 PSI (same fixture family, wider
    // bucket domain).
    // q327: Jensen-Shannon -- unsmoothed count ratios, the two-sided
    // micro term in the engine's exact IEEE op order (explicit zero
    // branches, no NaN), degenerate periods null.
    QuerySpec("q327_js_drift", (s, dir) => {
      import graft.operators.Drift
      Drift.jsDivergence(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(10L)).as("bucket"),
          (col("event_id") % 2).as("period")),
        "event_type", "bucket", "period")
    },
      raw"""WITH r AS (SELECT event_type AS key,
         |    ((user_id % 10) + 10) % 10 AS bucket, event_id % 2 AS p
         |  FROM events),
         |cells AS (SELECT key, CAST(bucket AS BIGINT) AS bucket,
         |    CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1
         |  FROM r GROUP BY 1, 2),
         |ks AS (SELECT key, CAST(sum(n0) AS BIGINT) AS c0,
         |    CAST(sum(n1) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM cells GROUP BY key),
         |tm AS (SELECT cells.key, cells.bucket, cells.n0, cells.n1,
         |    ks.n_buckets, ks.c0, ks.c1,
         |    CAST(cells.n0 AS DOUBLE) / CAST(ks.c0 AS DOUBLE) AS p0,
         |    CAST(cells.n1 AS DOUBLE) / CAST(ks.c1 AS DOUBLE) AS p1
         |  FROM cells JOIN ks ON ks.key = cells.key),
         |t2 AS (SELECT *, CAST(floor((
         |    (CASE WHEN n0 = 0 THEN 0.0
         |      ELSE p0 * ln(2.0 * p0 / (p0 + p1)) END)
         |    + (CASE WHEN n1 = 0 THEN 0.0
         |      ELSE p1 * ln(2.0 * p1 / (p0 + p1)) END))
         |    * 500000.0) AS BIGINT) AS term FROM tm),
         |fold AS (SELECT key, CAST(sum(term) AS BIGINT) AS jsd,
         |    max(CASE WHEN c0 = 0 OR c1 = 0 THEN 1 ELSE 0 END)
         |      AS degen
         |  FROM t2 GROUP BY key)
         |SELECT t2.key, t2.bucket, t2.n0, t2.n1, t2.n_buckets,
         |  CASE WHEN fold.degen = 1 THEN NULL ELSE fold.jsd END
         |    AS jsd_micro
         |FROM t2 JOIN fold ON fold.key = t2.key""".stripMargin),

    // CLIFF'S DELTA: the q273 fixture read as an effect size --
    // (u1_x2 - n0*n1) rescaled to ppm dominance, integer-exact
    // through the shared Mann-Whitney machinery.
    // q329: Cliff's delta -- the q273 Mann-Whitney chain, then the
    // dominance rescale (u1_x2 - n0*n1) / (n0*n1) in ppm.
    QuerySpec("q329_cliffs_delta", (s, dir) => {
      import graft.operators.Experiment
      Experiment.cliffsDelta(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "g", "v")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 2 AS BIGINT) AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |c AS (SELECT exp, v,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM e GROUP BY 1, 2),
         |r AS (SELECT exp, c0, c1,
         |    CAST(COALESCE(sum(c0 + c1) OVER (PARTITION BY exp
         |      ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS below
         |  FROM c),
         |m AS (SELECT exp, c0, c1, 2 * below + c0 + c1 + 1 AS mid2
         |  FROM r),
         |f AS (SELECT exp, CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c1 * mid2) AS BIGINT) AS r1_x2
         |  FROM m GROUP BY 1)
         |SELECT exp, n0, n1,
         |  CASE WHEN n0 * n1 = 0 THEN NULL
         |    ELSE CAST((1000000 * ((r1_x2 - n1 * (n1 + 1))
         |      - n0 * n1)) // (n0 * n1) AS BIGINT)
         |    END AS delta_ppm
         |FROM f""".stripMargin),

    // COHEN'S D on the same arms: exact integer moment sums per arm,
    // the pooled-SD standardized difference in ONE fixed IEEE chain,
    // floored to milli.
    // q330: Cohen's d -- exact integer arm moments, the one fixed
    // IEEE chain (means, pooled SS over n, sqrt, multiply by 1000,
    // floor) replayed operation for operation.
    QuerySpec("q330_cohens_d", (s, dir) => {
      import graft.operators.Experiment
      Experiment.cohensD(
        events(s, dir).select(col("event_type"),
          pmod(col("user_id"), lit(2L)).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "g", "v")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 2 AS BIGINT) AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |a AS (SELECT exp,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN g = 0 THEN v ELSE 0 END) AS BIGINT)
         |      AS s0,
         |    CAST(sum(CASE WHEN g = 1 THEN v ELSE 0 END) AS BIGINT)
         |      AS s1,
         |    CAST(sum(CASE WHEN g = 0 THEN v * v ELSE 0 END)
         |      AS BIGINT) AS q0,
         |    CAST(sum(CASE WHEN g = 1 THEN v * v ELSE 0 END)
         |      AS BIGINT) AS q1
         |  FROM e GROUP BY exp)
         |SELECT exp, n0, n1,
         |  CASE WHEN n0 < 2 OR n1 < 2 THEN NULL
         |    WHEN n0 * q0 - s0 * s0 = 0 AND n1 * q1 - s1 * s1 = 0
         |      THEN NULL
         |    ELSE CAST(floor(1000.0
         |      * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |        - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         |      / sqrt((CAST(n0 * q0 - s0 * s0 AS DOUBLE)
         |          / CAST(n0 AS DOUBLE)
         |        + CAST(n1 * q1 - s1 * s1 AS DOUBLE)
         |          / CAST(n1 AS DOUBLE))
         |        / CAST(n0 + n1 - 2 AS DOUBLE))) AS BIGINT)
         |    END AS d_milli
         |FROM a""".stripMargin),

    // POST-STRATIFIED ATE per event type: user-residue strata (mod
    // 5) over user-residue arms (mod 2), size-weighted within-
    // stratum contrasts on the micro lattice, one-arm strata
    // excluded VISIBLY, the unadjusted contrast riding along.
    // q334: post-stratified ATE -- per-stratum arm cells, the micro
    // cleared fraction per surviving stratum, size-weighted fold,
    // the unadjusted contrast over the same included rows.
    QuerySpec("q334_stratified_ate", (s, dir) => {
      import graft.operators.Experiment
      Experiment.stratifiedAte(events(s, dir).select(
        col("event_type"),
        pmod(col("user_id"), lit(5L)).as("stratum"),
        pmod(col("user_id"), lit(2L)).as("g"),
        floor(col("value") * 100).cast("long").as("v")),
        "event_type", "stratum", "g", "v")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 5 AS BIGINT) AS stratum,
         |    CAST(user_id % 2 AS BIGINT) AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |c AS (SELECT exp, stratum,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN g = 0 THEN v ELSE 0 END) AS BIGINT)
         |      AS s0,
         |    CAST(sum(CASE WHEN g = 1 THEN v ELSE 0 END) AS BIGINT)
         |      AS s1
         |  FROM e GROUP BY 1, 2),
         |cc AS (SELECT exp, n0, n1, (n0 > 0 AND n1 > 0) AS ok,
         |    CASE WHEN n0 > 0 AND n1 > 0 THEN
         |      (1000000::HUGEINT
         |        * (s1::HUGEINT * n0 - s0::HUGEINT * n1))
         |        // (n1::HUGEINT * n0) END AS diff,
         |    s0, s1
         |  FROM c)
         |SELECT exp,
         |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_strata,
         |  CAST(sum(CASE WHEN ok THEN n0 + n1 ELSE 0 END) AS BIGINT)
         |    AS n,
         |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_excluded_strata,
         |  CAST(sum(CASE WHEN NOT ok THEN n0 + n1 ELSE 0 END)
         |    AS BIGINT) AS n_excluded_rows,
         |  CASE WHEN sum(CASE WHEN ok THEN 1 ELSE 0 END) = 0
         |      THEN NULL
         |    ELSE CAST(sum(CASE WHEN ok
         |        THEN (n0 + n1)::HUGEINT * diff
         |        ELSE 0::HUGEINT END)
         |      // sum(CASE WHEN ok THEN n0 + n1 ELSE 0 END)::HUGEINT
         |      AS BIGINT) END AS ate_micro,
         |  CASE WHEN sum(CASE WHEN ok THEN 1 ELSE 0 END) = 0
         |      THEN NULL
         |    ELSE CAST((1000000::HUGEINT
         |      * (sum(CASE WHEN ok THEN s1 ELSE 0 END)::HUGEINT
         |          * sum(CASE WHEN ok THEN n0 ELSE 0 END)
         |        - sum(CASE WHEN ok THEN s0 ELSE 0 END)::HUGEINT
         |          * sum(CASE WHEN ok THEN n1 ELSE 0 END)))
         |      // (sum(CASE WHEN ok THEN n1 ELSE 0 END)::HUGEINT
         |        * sum(CASE WHEN ok THEN n0 ELSE 0 END))
         |      AS BIGINT) END AS simple_diff_micro
         |FROM cc GROUP BY exp""".stripMargin),

    // HOLM-BONFERRONI step-down FWER control over the q309 synthetic
    // hypothesis families -- running max of (m-k+1)*p clipped to
    // 1e6, reject = adj <= alpha; the launch-gate companion to BH's
    // FDR on the same fixture.
    // q335: Holm step-down -- the q309 synthetic p-value families,
    // running max of (m-k+1)*p clipped to 1e6 in one rank window.
    QuerySpec("q335_holm", (s, dir) => {
      import graft.operators.Experiment
      val hyp = events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(100L)).as("hyp"))
        .distinct()
        .withColumn("p_ppm",
          when(col("hyp") < 10, col("hyp") * 137 + 3)
            .otherwise(pmod(col("hyp") * 9973
              + length(col("event_type")).cast("long") * 131071,
              lit(1000001L))))
      Experiment.holmBonferroni(hyp, "event_type", "hyp", "p_ppm",
        alphaPpm = 50000L)
    },
      raw"""WITH hyp AS (SELECT DISTINCT event_type AS grp,
         |    ((user_id % 100) + 100) % 100 AS hyp FROM events),
         |pv AS (SELECT grp, hyp AS id,
         |    CASE WHEN hyp < 10 THEN hyp * 137 + 3
         |      ELSE ((hyp * 9973 + length(grp) * 131071) % 1000001
         |        + 1000001) % 1000001 END AS p_ppm FROM hyp),
         |rk AS (SELECT grp, CAST(id AS BIGINT) AS id,
         |    CAST(p_ppm AS BIGINT) AS p_ppm,
         |    CAST(row_number() OVER (PARTITION BY grp
         |      ORDER BY p_ppm, id) AS BIGINT) AS k,
         |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
         |  FROM pv),
         |adj AS (SELECT grp, id, p_ppm, k, m,
         |    CAST(least(1000000, max((m - k + 1) * p_ppm)
         |      OVER (PARTITION BY grp ORDER BY p_ppm, id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |      AS BIGINT) AS adj_ppm
         |  FROM rk)
         |SELECT grp, id, p_ppm, k, m, adj_ppm,
         |  (adj_ppm <= 50000) AS reject
         |FROM adj""".stripMargin),

    // SHANNON ENTROPY of the same source distribution -- per-category
    // micro-nat terms in one fixed IEEE op order (the benford/jsd ln
    // discipline), max-entropy denominator riding along.
    // q339: entropy -- per-category micro-nat terms in the same
    // fixed IEEE op order ((1e6 * p) * ln(1/p), floor), integer sum.
    QuerySpec("q339_entropy", (s, dir) => {
      import graft.operators.Drift
      Drift.categoryEntropy(t(s, dir, "documents"), "lang", "source")
    },
      raw"""WITH c AS (SELECT lang AS key, source AS cat,
         |    CAST(count(*) AS BIGINT) AS nc FROM documents
         |  GROUP BY 1, 2),
         |w AS (SELECT key, nc,
         |    CAST(sum(nc) OVER (PARTITION BY key) AS BIGINT) AS n
         |  FROM c),
         |t AS (SELECT key, n,
         |    CAST(floor((1000000.0::DOUBLE
         |      * (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)))
         |      * ln(CAST(n AS DOUBLE) / CAST(nc AS DOUBLE)))
         |      AS BIGINT) AS term
         |  FROM w)
         |SELECT key, CAST(max(n) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_categories,
         |  CAST(sum(term) AS BIGINT) AS entropy_micro,
         |  CAST(floor(1000000.0::DOUBLE
         |    * ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
         |    AS max_entropy_micro
         |FROM t GROUP BY key""".stripMargin),

    // AMOC CHANGEPOINT on the hourly value sums per event type --
    // the best single L2 split by exact DECIMAL-cleared gain on the
    // micro lattice, >= 24 h on each side; the offline locator the
    // q311 CUSUM alarm hands its flagged window to.
    // q341: AMOC -- prefix sums, the HUGEINT-cleared gain per
    // candidate, argmax by (gain DESC, pos ASC), visible null rows.
    QuerySpec("q341_amoc", (s, dir) => {
      import graft.operators.Drift
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("(ts - pmod(ts, 3600000000000L)) div 3600000000000L")
            .as("h"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("v")).as("hv"))
      Drift.changepointAmoc(hourly, "event_type", "h", "h", "hv",
        minSeg = 24)
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
         |pre AS (SELECT key, h AS ts, h AS tie, hv,
         |    CAST(row_number() OVER (PARTITION BY key
         |      ORDER BY h, h) AS BIGINT) AS pos,
         |    CAST(sum(hv) OVER (PARTITION BY key ORDER BY h, h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS sl,
         |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
         |    CAST(sum(hv) OVER (PARTITION BY key) AS BIGINT) AS s
         |  FROM hv),
         |cand AS (SELECT key, ts, tie, pos, n, sl, s,
         |    (1000000::HUGEINT * (CAST(sl AS HUGEINT) * sl
         |        * (n - pos) * n
         |      + CAST(s - sl AS HUGEINT) * (s - sl) * pos * n
         |      - CAST(s AS HUGEINT) * s * pos * (n - pos)))
         |      // (CAST(pos AS HUGEINT) * (n - pos) * n) AS gain
         |  FROM pre WHERE pos >= 24 AND pos <= n - 24),
         |best AS (SELECT key, ts, tie, pos, sl, s, n, gain,
         |    row_number() OVER (PARTITION BY key
         |      ORDER BY gain DESC, pos ASC) AS rk
         |  FROM cand),
         |sz AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM hv
         |  GROUP BY 1)
         |SELECT sz.key, sz.n, b.pos AS n_left,
         |  CAST(b.ts AS BIGINT) AS split_ts,
         |  CAST(b.tie AS BIGINT) AS split_tie,
         |  CAST(b.gain AS BIGINT) AS gain_micro,
         |  CAST((1000000::HUGEINT * b.sl) // b.pos AS BIGINT)
         |    AS mean_left_micro,
         |  CAST((1000000::HUGEINT * (b.s - b.sl)) // (b.n - b.pos)
         |    AS BIGINT) AS mean_right_micro
         |FROM sz LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
         |  ON b.key = sz.key""".stripMargin),

    // WALD SPRT per event type on the high-value indicator (value >=
    // 50) in arrival order -- H1: p = 0.52 vs H0: p = 0.48 at alpha
    // 5% / beta 10%; the always-valid sequential decision next to
    // the q265 fixed-horizon z.
    // q342: SPRT -- the running llr walk with the same ln-ratio
    // constants and per-row micro floor, first boundary crossing.
    QuerySpec("q342_sprt", (s, dir) => {
      import graft.operators.Experiment
      Experiment.sprtBinary(events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          when(col("value") >= 50, 1L).otherwise(0L).as("conv")),
        "event_type", "ts", "event_id", "conv",
        p0Milli = 480L, p1Milli = 520L,
        alphaMilli = 50L, betaMilli = 100L)
    },
      raw"""WITH e AS (SELECT event_type AS exp, epoch_ns(ts) AS t,
         |    event_id AS i,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS c
         |  FROM events),
         |w AS (SELECT exp, t, i,
         |    CAST(sum(c) OVER (PARTITION BY exp ORDER BY t, i
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY exp ORDER BY t, i
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
         |  FROM e),
         |l AS (SELECT exp, t, i, s, n,
         |    CAST(floor(1000000.0::DOUBLE
         |      * ((CAST(s AS DOUBLE)
         |          * ln(CAST(520 AS DOUBLE) / CAST(480 AS DOUBLE)))
         |        + (CAST(n - s AS DOUBLE)
         |          * ln(CAST(480 AS DOUBLE) / CAST(520 AS DOUBLE)))))
         |      AS BIGINT) AS llr
         |  FROM w),
         |bnd AS (SELECT
         |    CAST(floor(1000000.0::DOUBLE * ln(CAST(900 AS DOUBLE)
         |      / CAST(50 AS DOUBLE))) AS BIGINT) AS up,
         |    CAST(floor(1000000.0::DOUBLE * ln(CAST(100 AS DOUBLE)
         |      / CAST(950 AS DOUBLE))) AS BIGINT) AS lo),
         |sm AS (SELECT exp, max(n) AS n, max(s) AS s FROM l
         |  GROUP BY 1),
         |fin AS (SELECT l.exp, l.llr FROM l JOIN sm
         |  ON sm.exp = l.exp AND sm.n = l.n),
         |cr AS (SELECT l.exp, l.t, l.i, l.n, l.llr, bnd.up, bnd.lo,
         |    row_number() OVER (PARTITION BY l.exp
         |      ORDER BY l.t, l.i) AS rk
         |  FROM l CROSS JOIN bnd
         |  WHERE l.llr >= bnd.up OR l.llr <= bnd.lo),
         |c1 AS (SELECT * FROM cr WHERE rk = 1)
         |SELECT sm.exp, sm.n, sm.s, fin.llr AS llr_final_micro,
         |  bnd.up AS upper_micro, bnd.lo AS lower_micro,
         |  COALESCE(CASE WHEN c1.llr >= bnd.up THEN 'reject_h0'
         |    ELSE 'accept_h0' END, 'continue') AS decision,
         |  CAST(c1.t AS BIGINT) AS decision_ts,
         |  CAST(c1.i AS BIGINT) AS decision_tie,
         |  c1.n AS n_at_decision, c1.llr AS llr_at_decision
         |FROM sm CROSS JOIN bnd
         |JOIN fin ON fin.exp = sm.exp
         |LEFT JOIN c1 ON c1.exp = sm.exp""".stripMargin),

    // COCHRAN-MANTEL-HAENSZEL inputs + MH pooled odds ratio per
    // event type: the q334 strata over the binary high-value
    // outcome, per-stratum micro terms, DECIMAL variance products.
    // q343: CMH -- 2x2 cells per stratum, per-stratum micro terms
    // (HUGEINT for the four-way variance product), one fold.
    QuerySpec("q343_cmh", (s, dir) => {
      import graft.operators.Experiment
      Experiment.mantelHaenszel(events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(5L)).as("stratum"),
          pmod(col("user_id"), lit(2L)).as("g"),
          when(col("value") >= 50, 1L).otherwise(0L).as("conv")),
        "event_type", "stratum", "g", "conv")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 5 AS BIGINT) AS stratum,
         |    CAST(user_id % 2 AS BIGINT) AS g,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS c
         |  FROM events),
         |cl AS (SELECT exp, stratum,
         |    CAST(sum(CASE WHEN g = 1 AND c = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN g = 1 AND c = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS b,
         |    CAST(sum(CASE WHEN g = 0 AND c = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN g = 0 AND c = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d
         |  FROM e GROUP BY 1, 2),
         |t2 AS (SELECT exp, a, b, c2, d, a + b + c2 + d AS n,
         |    (a + b + c2 + d >= 2) AS ok FROM cl),
         |t3 AS (SELECT exp, n, ok,
         |    CASE WHEN ok THEN (1000000 * a * d) // n END AS r,
         |    CASE WHEN ok THEN (1000000 * b * c2) // n END AS s,
         |    CASE WHEN ok THEN (1000000 * (a + b) * (a + c2)) // n
         |      END AS ee,
         |    CASE WHEN ok THEN CAST((1000000::HUGEINT * (a + b)
         |        * (c2 + d) * (a + c2) * (b + d))
         |      // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
         |      END AS v,
         |    a FROM t2)
         |SELECT exp,
         |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_strata,
         |  CAST(sum(CASE WHEN ok THEN n ELSE 0 END) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_excluded_strata,
         |  CAST(sum(CASE WHEN NOT ok THEN n ELSE 0 END) AS BIGINT)
         |    AS n_excluded_rows,
         |  CAST(sum(CASE WHEN ok THEN a ELSE 0 END) AS BIGINT)
         |    AS sum_a,
         |  CAST(sum(CASE WHEN ok THEN ee ELSE 0 END) AS BIGINT)
         |    AS e_micro,
         |  CAST(sum(CASE WHEN ok THEN v ELSE 0 END) AS BIGINT)
         |    AS v_micro,
         |  CASE WHEN CAST(sum(CASE WHEN ok THEN s ELSE 0 END)
         |      AS BIGINT) <= 0 THEN NULL
         |    ELSE CAST((1000000::HUGEINT
         |      * sum(CASE WHEN ok THEN r ELSE 0 END))
         |      // sum(CASE WHEN ok THEN s ELSE 0 END)::HUGEINT
         |      AS BIGINT) END AS or_mh_ppm
         |FROM t3 GROUP BY exp""".stripMargin),

    // NELSON-AALEN CUMULATIVE HAZARD over the q282 subject
    // derivation -- the additive hazard view of the same risk sets,
    // per-time micro terms, one ascending window sum (no recursion,
    // no maxTimes).
    // q344: Nelson-Aalen -- the q282 subjects, reverse-cumulative
    // risk sets, per-time micro terms, one ascending window sum.
    QuerySpec("q344_nelson_aalen", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      Experiment.nelsonAalen(subj, "grp", "dur", "ev")
    },
      raw"""WITH subj AS (SELECT ((user_id % 2) + 2) % 2 AS grp,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |bd AS (SELECT CAST(grp AS BIGINT) AS grp,
         |    CAST(t AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(e) AS BIGINT) AS d
         |  FROM subj GROUP BY 1, 2),
         |rk AS (SELECT grp, t, d,
         |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY t DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
         |  FROM bd),
         |et AS (SELECT grp, t, n_risk, d,
         |    (1000000 * d) // n_risk AS term
         |  FROM rk WHERE d >= 1)
         |SELECT grp, t, n_risk, d,
         |  CAST(sum(term) OVER (PARTITION BY grp ORDER BY t
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_micro
         |FROM et""".stripMargin),

    // MUTUAL INFORMATION between the two q357 rater columns per
    // event type -- per-cell micro-nat terms (negative cells floor
    // down, stated), the dependence the kappa quantifies as
    // agreement.
    // q359: mutual information -- cells, marginals, the identical
    // (1e6 * p) * ln(p/(pq)) per-cell chain, integer sum.
    QuerySpec("q359_mi", (s, dir) => {
      import graft.operators.Drift
      Drift.mutualInformation(events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(4L)).as("a"),
          pmod(col("user_id") + pmod(col("event_id"), lit(3L)),
            lit(4L)).as("b")),
        "event_type", "a", "b")
    },
      raw"""WITH e AS (SELECT event_type AS key,
         |    CAST(user_id % 4 AS BIGINT) AS a,
         |    CAST((user_id + event_id % 3) % 4 AS BIGINT) AS b
         |  FROM events),
         |cl AS (SELECT key, a, b, CAST(count(*) AS BIGINT) AS nab
         |  FROM e GROUP BY 1, 2, 3),
         |at AS (SELECT key, a, CAST(sum(nab) AS BIGINT) AS na
         |  FROM cl GROUP BY 1, 2),
         |bt AS (SELECT key, b, CAST(sum(nab) AS BIGINT) AS nb
         |  FROM cl GROUP BY 1, 2),
         |nt AS (SELECT key, CAST(sum(nab) AS BIGINT) AS n FROM cl
         |  GROUP BY 1),
         |tm AS (SELECT cl.key, nt.n,
         |    CAST(floor((1000000.0::DOUBLE
         |      * (CAST(cl.nab AS DOUBLE) / CAST(nt.n AS DOUBLE)))
         |      * ln((CAST(cl.nab AS DOUBLE) * CAST(nt.n AS DOUBLE))
         |        / (CAST(at.na AS DOUBLE)
         |          * CAST(bt.nb AS DOUBLE)))) AS BIGINT) AS term
         |  FROM cl JOIN at ON at.key = cl.key AND at.a = cl.a
         |  JOIN bt ON bt.key = cl.key AND bt.b = cl.b
         |  JOIN nt ON nt.key = cl.key)
         |SELECT key, CAST(max(n) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(term) AS BIGINT) AS mi_micro
         |FROM tm GROUP BY key""".stripMargin),

    // GEHAN-BRESLOW WEIGHTED LOG-RANK over the q310 subjects -- the
    // early-difference (novelty-effect) sensitive variant; weighted
    // O and E are EXACT integers because the n_k weight cancels the
    // risk-set denominator.
    // q361: Gehan-Breslow -- the q310 subjects, exact weighted O/E
    // (the weight cancels the denominator), per-time HUGEINT
    // variance floors, the one float chi2 chain.
    QuerySpec("q361_gehan", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("exp", pmod(expr("user_id div 2"), lit(3L)))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      Experiment.gehanBreslow(subj, "exp", "grp", "dur", "ev")
    },
      raw"""WITH subj AS (SELECT
         |    ((user_id % 2) + 2) % 2 AS g,
         |    (((user_id // 2) % 3) + 3) % 3 AS exp,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |bd AS (SELECT CAST(exp AS BIGINT) AS exp,
         |    CAST(t AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1,
         |    CAST(sum(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT)
         |      AS d1,
         |    CAST(sum(e) AS BIGINT) AS d
         |  FROM subj GROUP BY 1, 2),
         |rk AS (SELECT exp, t, d1, d,
         |    CAST(sum(c0) OVER (PARTITION BY exp ORDER BY t DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n0,
         |    CAST(sum(c1) OVER (PARTITION BY exp ORDER BY t DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
         |  FROM bd),
         |tm AS (SELECT exp, n0 + n1 AS n, n0, n1, d, d1 FROM rk
         |  WHERE d >= 1),
         |f AS (SELECT exp, CAST(count(*) AS BIGINT)
         |      AS n_event_times,
         |    CAST(sum(CAST(n AS HUGEINT) * d1) AS BIGINT) AS o1w,
         |    CAST(sum(CAST(d AS HUGEINT) * n1) AS BIGINT) AS e1w,
         |    CAST(sum(CASE WHEN n <= 1 THEN 0::HUGEINT
         |      ELSE (1000000::HUGEINT * d * n1 * n0 * (n - d))
         |        // (n - 1) END) AS BIGINT) AS vw
         |  FROM tm GROUP BY 1)
         |SELECT exp, n_event_times, o1w, e1w, vw AS vw_micro,
         |  CASE WHEN vw <= 0 THEN NULL
         |    ELSE CAST(floor(CAST(o1w - e1w AS DOUBLE)
         |      * CAST(o1w - e1w AS DOUBLE)
         |      * 1000000000000.0::DOUBLE
         |      / CAST(vw AS DOUBLE)) AS BIGINT) END AS chi2_micro
         |FROM f""".stripMargin),

    // CUMULATIVE LTV CURVE by daily acquisition cohort -- per-user
    // centi-revenue against the ORIGINAL cohort size (quitters keep
    // diluting); the revenue view of the q267 retention triangle.
    // q362: cohort LTV -- first-period cohorts, per-(cohort, age)
    // integers, one cohort-partitioned cumulative window, one
    // HUGEINT per-user division.
    QuerySpec("q362_ltv", (s, dir) => {
      import graft.operators.Experiment
      Experiment.cohortLtv(events(s, dir)
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("v")),
        "user_id", "ts", "v", periodNs = 86400000000000L)
    },
      raw"""WITH e AS (SELECT user_id AS u,
         |    epoch_ns(ts) // 86400000000000 AS p,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |fp AS (SELECT u, CAST(min(p) AS BIGINT) AS cohort FROM e
         |  GROUP BY 1),
         |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
         |  FROM fp GROUP BY 1),
         |ag AS (SELECT fp.cohort, e.p - fp.cohort AS age,
         |    CAST(count(DISTINCT e.u) AS BIGINT) AS n_active,
         |    CAST(sum(e.v) AS BIGINT) AS revenue
         |  FROM e JOIN fp ON fp.u = e.u GROUP BY 1, 2),
         |cm AS (SELECT cohort, CAST(age AS BIGINT) AS age, n_active,
         |    revenue,
         |    CAST(sum(revenue) OVER (PARTITION BY cohort
         |      ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS cum_revenue
         |  FROM ag)
         |SELECT cm.cohort, cm.age, sz.n_cohort, cm.n_active,
         |  cm.revenue, cm.cum_revenue,
         |  CAST((1000000::HUGEINT * cm.cum_revenue) // sz.n_cohort
         |    AS BIGINT) AS ltv_micro
         |FROM cm JOIN sz ON sz.cohort = cm.cohort""".stripMargin),

    // KRUSKAL-WALLIS H across three user-residue arms per event
    // type -- doubled pooled midranks, per-group micro terms, the
    // exact tie correction; the k-arm companion between MWU and
    // abTestK.
    // q363: Kruskal-Wallis -- doubled midranks over the pooled
    // values, per-group HUGEINT terms, the exact tie correction.
    QuerySpec("q363_kruskal", (s, dir) => {
      import graft.operators.Experiment
      Experiment.kruskalWallis(events(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(3L)).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "g", "v")
    },
      raw"""WITH e AS (SELECT event_type AS exp,
         |    CAST(user_id % 3 AS BIGINT) AS g,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |bv AS (SELECT exp, v, CAST(count(*) AS BIGINT) AS c
         |  FROM e GROUP BY 1, 2),
         |md AS (SELECT exp, v, c,
         |    2 * CAST(COALESCE(sum(c) OVER (PARTITION BY exp
         |      ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + c + 1 AS mid2
         |  FROM bv),
         |gv AS (SELECT exp, g, v, CAST(count(*) AS BIGINT) AS cg
         |  FROM e GROUP BY 1, 2, 3),
         |r2 AS (SELECT gv.exp, gv.g,
         |    CAST(sum(gv.cg) AS BIGINT) AS ng,
         |    CAST(sum(gv.cg * md.mid2) AS BIGINT) AS rr
         |  FROM gv JOIN md ON md.exp = gv.exp AND md.v = gv.v
         |  GROUP BY 1, 2),
         |ti AS (SELECT exp, CAST(sum(c * c * c - c) AS BIGINT) AS tc,
         |    CAST(sum(c) AS BIGINT) AS n FROM bv GROUP BY 1),
         |tm AS (SELECT r2.exp, ti.n, ti.tc,
         |    CAST((3000000::HUGEINT * rr * rr)
         |      // (CAST(ng AS HUGEINT) * ti.n * (ti.n + 1))
         |      AS BIGINT) AS term
         |  FROM r2 JOIN ti ON ti.exp = r2.exp),
         |f AS (SELECT exp, CAST(max(n) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS k_groups,
         |    CAST(sum(term) AS BIGINT)
         |      - 3 * (CAST(max(n) AS BIGINT) + 1) * 1000000
         |      AS h_micro,
         |    CAST(max(tc) AS BIGINT) AS tc
         |  FROM tm GROUP BY 1)
         |SELECT exp, n, k_groups, CAST(h_micro AS BIGINT) AS h_micro,
         |  CASE WHEN n * n * n - n - tc <= 0 THEN NULL
         |    ELSE CAST((h_micro::HUGEINT
         |      * (CAST(n AS HUGEINT) * n * n - n))
         |      // (CAST(n AS HUGEINT) * n * n - n - tc) AS BIGINT)
         |    END AS h_corr_micro
         |FROM f""".stripMargin),

    // FRIEDMAN TEST over the q358 complete design (the same cells
    // graded for consistency by alpha and for treatment effect
    // here) -- within-block doubled midranks, per-treatment micro
    // terms, the exact tie correction.
    // q364: Friedman -- the q358 cells, within-block midranks,
    // per-treatment HUGEINT terms, the exact tie correction.
    QuerySpec("q364_friedman", (s, dir) => {
      import graft.operators.Experiment
      val cells = events(s, dir)
        .groupBy(pmod(col("user_id"), lit(2L)).as("key"),
          pmod(col("user_id"), lit(100L)).as("resp"),
          pmod(col("event_id"), lit(3L)).as("item"))
        .agg(pmod(sum(floor(col("value") * 100).cast("long")),
          lit(11L)).as("score"))
      Experiment.friedman(cells, "key", "resp", "item", "score")
    },
      raw"""WITH cell AS (SELECT ((user_id % 2) + 2) % 2 AS key,
         |    ((user_id % 100) + 100) % 100 AS r,
         |    ((event_id % 3) + 3) % 3 AS i,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |sc AS (SELECT key, r, i,
         |    ((CAST(sum(v) AS BIGINT) % 11) + 11) % 11 AS s
         |  FROM cell GROUP BY 1, 2, 3),
         |bv AS (SELECT key, r, s, CAST(count(*) AS BIGINT) AS c
         |  FROM sc GROUP BY 1, 2, 3),
         |md AS (SELECT key, r, s, c,
         |    2 * CAST(COALESCE(sum(c) OVER (PARTITION BY key, r
         |      ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + c + 1 AS mid2
         |  FROM bv),
         |r2 AS (SELECT sc.key, sc.i,
         |    CAST(sum(md.mid2) AS BIGINT) AS rr,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM sc JOIN md ON md.key = sc.key AND md.r = sc.r
         |    AND md.s = sc.s
         |  GROUP BY 1, 2),
         |ki AS (SELECT key, CAST(count(DISTINCT i) AS BIGINT) AS k
         |  FROM sc GROUP BY 1),
         |ti AS (SELECT key,
         |    CAST(sum(c * c * c - c) AS BIGINT) AS tc
         |  FROM bv GROUP BY 1),
         |tm AS (SELECT r2.key, r2.nb, ki.k, ti.tc,
         |    CAST((3000000::HUGEINT * rr * rr)
         |      // (CAST(nb AS HUGEINT) * ki.k * (ki.k + 1))
         |      AS BIGINT) AS term
         |  FROM r2 JOIN ki ON ki.key = r2.key
         |  JOIN ti ON ti.key = r2.key),
         |f AS (SELECT key, CAST(max(nb) AS BIGINT) AS n_blocks,
         |    CAST(max(k) AS BIGINT) AS k,
         |    CAST(sum(term) AS BIGINT)
         |      - 3 * CAST(max(nb) AS BIGINT)
         |      * (CAST(max(k) AS BIGINT) + 1) * 1000000
         |      AS chi2_micro,
         |    CAST(max(tc) AS BIGINT) AS tc
         |  FROM tm GROUP BY 1)
         |SELECT CAST(key AS BIGINT) AS key, n_blocks, k,
         |  CAST(chi2_micro AS BIGINT) AS chi2_micro,
         |  CASE WHEN n_blocks * k * (k * k - 1) - tc <= 0 THEN NULL
         |    ELSE CAST((chi2_micro::HUGEINT
         |      * (CAST(n_blocks AS HUGEINT) * k * (k * k - 1)))
         |      // (CAST(n_blocks AS HUGEINT) * k * (k * k - 1) - tc)
         |      AS BIGINT) END AS chi2_corr_micro
         |FROM f""".stripMargin),

    // WILCOXON SIGNED-RANK on the q281 paired pre/post (view sum vs
    // click sum per user) across three experiments -- the paired
    // two-arm test closing the nonparametric family; zero
    // differences dropped VISIBLY.
    // q365: Wilcoxon signed-rank -- the q281 paired derivation,
    // |d| midranks, exact integer W2+/var numerators, the one
    // float chain.
    QuerySpec("q365_wilcoxon", (s, dir) => {
      import graft.operators.Experiment
      val perUser = events(s, dir).groupBy(col("user_id")).agg(
        coalesce(sum(when(col("event_type") === "view",
          floor(col("value") * 100).cast("long"))), lit(0L))
          .as("pre"),
        coalesce(sum(when(col("event_type") === "click",
          floor(col("value") * 100).cast("long"))), lit(0L))
          .as("post"))
        .withColumn("exp", pmod(col("user_id"), lit(3L)))
      Experiment.wilcoxonSignedRank(perUser, "exp", "user_id",
        "pre", "post")
    },
      raw"""WITH pu AS (SELECT user_id AS u,
         |    ((user_id % 3) + 3) % 3 AS exp,
         |    COALESCE(sum(CASE WHEN event_type = 'view'
         |      THEN CAST(floor(value * 100) AS BIGINT) END), 0)
         |      AS pre,
         |    COALESCE(sum(CASE WHEN event_type = 'click'
         |      THEN CAST(floor(value * 100) AS BIGINT) END), 0)
         |      AS post
         |  FROM events GROUP BY 1, 2),
         |dd AS (SELECT CAST(exp AS BIGINT) AS exp, post - pre AS d
         |  FROM pu),
         |ct AS (SELECT exp, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero
         |  FROM dd GROUP BY 1),
         |nz AS (SELECT exp, d, abs(d) AS a FROM dd WHERE d <> 0),
         |ba AS (SELECT exp, a, CAST(count(*) AS BIGINT) AS c
         |  FROM nz GROUP BY 1, 2),
         |md AS (SELECT exp, a,
         |    2 * CAST(COALESCE(sum(c) OVER (PARTITION BY exp
         |      ORDER BY a
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + c + 1 AS mid2
         |  FROM ba),
         |fl AS (SELECT nz.exp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN nz.d > 0 THEN md.mid2 ELSE 0 END)
         |      AS BIGINT) AS w2_plus
         |  FROM nz JOIN md ON md.exp = nz.exp AND md.a = nz.a
         |  GROUP BY 1),
         |ti AS (SELECT exp, CAST(sum(c * c * c - c) AS BIGINT)
         |    AS tc
         |  FROM ba GROUP BY 1)
         |SELECT ct.exp, ct.n_pairs, ct.n_zero,
         |  COALESCE(fl.n, 0) AS n,
         |  COALESCE(fl.w2_plus, 0) AS w2_plus,
         |  2 * COALESCE(fl.n, 0) * (COALESCE(fl.n, 0) + 1)
         |    * (2 * COALESCE(fl.n, 0) + 1) - COALESCE(ti.tc, 0)
         |    AS var_num48,
         |  CASE WHEN 2 * COALESCE(fl.n, 0) * (COALESCE(fl.n, 0) + 1)
         |      * (2 * COALESCE(fl.n, 0) + 1)
         |      - COALESCE(ti.tc, 0) <= 0 THEN NULL
         |    ELSE CAST(floor(CAST((COALESCE(fl.w2_plus, 0)
         |      - (COALESCE(fl.n, 0) * (COALESCE(fl.n, 0) + 1)) // 2)
         |      * 500 AS DOUBLE)
         |      / sqrt(CAST(2 * COALESCE(fl.n, 0)
         |        * (COALESCE(fl.n, 0) + 1)
         |        * (2 * COALESCE(fl.n, 0) + 1)
         |        - COALESCE(ti.tc, 0) AS DOUBLE) / 48.0::DOUBLE))
         |      AS BIGINT) END AS z_milli
         |FROM ct LEFT JOIN fl ON fl.exp = ct.exp
         |LEFT JOIN ti ON ti.exp = ct.exp""".stripMargin),

    // K-ARM STRATIFIED LOG-RANK: the q310 subjects split into THREE
    // arms and two strata -- stratum-local pooled risk-set walks,
    // integer-exact micro E_g per arm summed across strata (the CMH
    // discipline), per-arm (O-E)^2/E floors summed to the
    // conservative k-1 df statistic.
    // q368: k-arm stratified log-rank — the q310 derivation with a
    // (times × arms) densification per stratum, stratum-local risk
    // windows, integer E terms, per-arm (O−E)²/E floors.
    QuerySpec("q368_logrank_k", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("exp", pmod(expr("user_id div 2"), lit(3L)))
        .withColumn("grp",
          concat(lit("arm"), pmod(col("user_id"), lit(3L))))
        .withColumn("st", pmod(expr("user_id div 8"), lit(2L)))
      Experiment.logRankK(subj, "exp", "st", "grp", "dur", "ev")
    },
      raw"""WITH subj AS (SELECT
         |    (((user_id // 2) % 3) + 3) % 3 AS exp,
         |    'arm' || CAST(((user_id % 3) + 3) % 3 AS VARCHAR)
         |      AS grp,
         |    (((user_id // 8) % 2) + 2) % 2 AS st,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |ct AS (SELECT exp, st, t, grp, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(e) AS BIGINT) AS d
         |  FROM subj GROUP BY 1, 2, 3, 4),
         |tm AS (SELECT DISTINCT exp, st, t FROM ct),
         |ar AS (SELECT DISTINCT exp, st, grp FROM ct),
         |gr AS (SELECT tm.exp, tm.st, tm.t, ar.grp,
         |    COALESCE(ct.c, 0) AS c, COALESCE(ct.d, 0) AS d
         |  FROM tm JOIN ar ON ar.exp = tm.exp AND ar.st = tm.st
         |  LEFT JOIN ct ON ct.exp = tm.exp AND ct.st = tm.st
         |    AND ct.t = tm.t AND ct.grp = ar.grp),
         |rk AS (SELECT exp, st, t, grp, d,
         |    CAST(sum(c) OVER (PARTITION BY exp, st, grp
         |      ORDER BY t DESC) AS BIGINT) AS ng
         |  FROM gr),
         |et AS (SELECT exp, st, t, grp, ng,
         |    CAST(sum(ng) OVER (PARTITION BY exp, st, t) AS BIGINT)
         |      AS n,
         |    CAST(sum(d) OVER (PARTITION BY exp, st, t) AS BIGINT)
         |      AS dt
         |  FROM rk),
         |eg AS (SELECT exp, grp,
         |    CAST(sum((1000000 * (dt * ng)) // n) AS BIGINT)
         |      AS e_micro
         |  FROM et WHERE dt >= 1 GROUP BY 1, 2),
         |pa AS (SELECT exp, grp, CAST(count(*) AS BIGINT) AS n_subj,
         |    CAST(sum(e) AS BIGINT) AS o
         |  FROM subj GROUP BY 1, 2),
         |pe AS (SELECT pa.exp, pa.grp, pa.n_subj, pa.o,
         |    COALESCE(eg.e_micro, 0) AS e_micro
         |  FROM pa LEFT JOIN eg ON eg.exp = pa.exp
         |    AND eg.grp = pa.grp),
         |fd AS (SELECT exp,
         |    CAST(sum(CASE WHEN e_micro <= 0 THEN 0
         |      ELSE CAST(floor(CAST(1000000 * o - e_micro AS DOUBLE)
         |        * CAST(1000000 * o - e_micro AS DOUBLE)
         |        / CAST(e_micro AS DOUBLE)) AS BIGINT) END)
         |      AS BIGINT) AS chi,
         |    CAST(sum(o) AS BIGINT) AS ot,
         |    CAST(count(*) AS BIGINT) AS ka
         |  FROM pe GROUP BY 1)
         |SELECT pe.exp, pe.grp, pe.n_subj, pe.o, pe.e_micro,
         |  CASE WHEN fd.ka <= 1 OR fd.ot = 0 THEN NULL
         |    ELSE fd.chi END AS chi2_micro,
         |  fd.ka - 1 AS df
         |FROM pe JOIN fd ON fd.exp = pe.exp""".stripMargin),

    // ANYTIME-VALID E-PROCESS on the q342 conversion stream: the
    // Krichevsky-Trofimov mixture factor per row (exact integer
    // ratio from the pre-row counts), nano-nat floors summed as
    // integers, Ville threshold ln(1/alpha) -- the monitor that
    // needs no point alternative and never closes.
    // q369: e-process — pre-row counts from exclusive-frame windows,
    // one ln per row of the exact KT integer ratio, nano floors
    // summed as integers, first threshold crossing decides.
    QuerySpec("q369_eprocess", (s, dir) => {
      import graft.operators.Experiment
      Experiment.eProcessBinary(events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          when(col("value") >= 50, 1L).otherwise(0L).as("conv")),
        "event_type", "ts", "event_id", "conv",
        p0Milli = 480L, alphaMilli = 50L)
    },
      raw"""WITH e AS (SELECT event_type AS exp, epoch_ns(ts) AS t,
         |    event_id AS i,
         |    CASE WHEN value >= 50 THEN 1 ELSE 0 END AS c
         |  FROM events),
         |w AS (SELECT exp, t, i, c,
         |    CAST(COALESCE(sum(c) OVER (PARTITION BY exp
         |      ORDER BY t, i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS sp,
         |    CAST(COALESCE(count(*) OVER (PARTITION BY exp
         |      ORDER BY t, i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS np
         |  FROM e),
         |tr AS (SELECT exp, t, i, c, sp, np,
         |    CASE WHEN c = 1 THEN 1000 * (2 * sp + 1)
         |      ELSE 1000 * (2 * (np - sp) + 1) END AS a,
         |    CASE WHEN c = 1 THEN 2 * (np + 1) * 480
         |      ELSE 2 * (np + 1) * 520 END AS b
         |  FROM w),
         |l AS (SELECT exp, t, i, np + 1 AS n, sp + c AS s,
         |    CAST(sum(CAST(floor(1000000000.0::DOUBLE
         |      * ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)))
         |      AS BIGINT)) OVER (PARTITION BY exp ORDER BY t, i
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lnn
         |  FROM tr),
         |bnd AS (SELECT CAST(floor(1000000000.0::DOUBLE
         |    * ln(CAST(1000 AS DOUBLE) / CAST(50 AS DOUBLE)))
         |    AS BIGINT) AS th),
         |sm AS (SELECT exp, CAST(max(n) AS BIGINT) AS n,
         |    CAST(max(s) AS BIGINT) AS s FROM l GROUP BY 1),
         |fin AS (SELECT l.exp, l.lnn FROM l JOIN sm
         |  ON sm.exp = l.exp AND sm.n = l.n),
         |cr AS (SELECT l.exp, l.t, l.i, l.n, l.lnn,
         |    row_number() OVER (PARTITION BY l.exp
         |      ORDER BY l.t, l.i) AS rk
         |  FROM l CROSS JOIN bnd WHERE l.lnn >= bnd.th),
         |c1 AS (SELECT * FROM cr WHERE rk = 1)
         |SELECT sm.exp, sm.n, sm.s, fin.lnn AS e_final_nano,
         |  bnd.th AS threshold_nano,
         |  CASE WHEN c1.exp IS NULL THEN 'continue'
         |    ELSE 'reject_h0' END AS decision,
         |  CAST(c1.t AS BIGINT) AS decision_ts,
         |  CAST(c1.i AS BIGINT) AS decision_tie,
         |  CAST(c1.n AS BIGINT) AS n_at_decision,
         |  c1.lnn AS e_at_decision
         |FROM sm JOIN fin ON fin.exp = sm.exp
         |CROSS JOIN bnd
         |LEFT JOIN c1 ON c1.exp = sm.exp""".stripMargin),

    // ANYTIME-VALID BETTING E-PROCESS FOR A BOUNDED MEAN (q369's
    // continuous companion -- the metric eProcessBinary refuses):
    // per-mille-lattice values, the WSR aGRAPA bet made exact on
    // integer pre-row moments, one ln per row floored to nano-nats,
    // Ville threshold ln(1/alpha).
    // q375: betting e-process for a bounded mean — the WSR aGRAPA
    // bet chain re-derived as window SQL on integer pre-row moments
    // (DuckDB // floors where Spark div truncates, but every
    // negative-or-zero bet quotient clips to 0 in both), one ln per
    // row of the exact factor ratio, nano floors summed as integers,
    // first threshold crossing decides.
    QuerySpec("q375_eprocess_mean", (s, dir) => {
      import graft.operators.Experiment
      Experiment.eProcessMean(events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          least(lit(1000L), greatest(lit(0L),
            floor(col("value") * 10).cast("long"))).as("v")),
        "event_type", "ts", "event_id", "v",
        mMilli = 480L, alphaMilli = 50L)
    },
      raw"""WITH e AS (SELECT event_type AS exp, epoch_ns(ts) AS t,
         |    event_id AS i,
         |    LEAST(1000, GREATEST(0,
         |      CAST(floor(value * 10) AS BIGINT))) AS v
         |  FROM events),
         |w AS (SELECT exp, t, i, v,
         |    CAST(COALESCE(sum(v) OVER (PARTITION BY exp
         |      ORDER BY t, i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS sp,
         |    CAST(COALESCE(sum(v * v) OVER (PARTITION BY exp
         |      ORDER BY t, i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS qp,
         |    CAST(COALESCE(count(*) OVER (PARTITION BY exp
         |      ORDER BY t, i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS np
         |  FROM e),
         |b AS (SELECT exp, t, i, v, sp, np,
         |    (480 + sp) // (np + 1) AS muh,
         |    (250000 + qp) // (np + 1) AS m2
         |  FROM w),
         |b2 AS (SELECT exp, t, i, v, sp, np,
         |    LEAST(1041, GREATEST(0, (1000000 * (muh - 480))
         |      // GREATEST(2500, m2 - muh * muh))) AS lam
         |  FROM b),
         |l AS (SELECT exp, t, i, np + 1 AS n, sp + v AS s,
         |    CAST(sum(CAST(floor(1000000000.0::DOUBLE
         |      * ln(CAST(1000000 + lam * (v - 480) AS DOUBLE)
         |        / 1000000.0::DOUBLE)) AS BIGINT))
         |      OVER (PARTITION BY exp ORDER BY t, i
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lnn
         |  FROM b2),
         |bnd AS (SELECT CAST(floor(1000000000.0::DOUBLE
         |    * ln(CAST(1000 AS DOUBLE) / CAST(50 AS DOUBLE)))
         |    AS BIGINT) AS th),
         |sm AS (SELECT exp, CAST(max(n) AS BIGINT) AS n,
         |    CAST(max(s) AS BIGINT) AS sum_milli FROM l GROUP BY 1),
         |fin AS (SELECT l.exp, l.lnn FROM l JOIN sm
         |  ON sm.exp = l.exp AND sm.n = l.n),
         |cr AS (SELECT l.exp, l.t, l.i, l.n, l.lnn,
         |    row_number() OVER (PARTITION BY l.exp
         |      ORDER BY l.t, l.i) AS rk
         |  FROM l CROSS JOIN bnd WHERE l.lnn >= bnd.th),
         |c1 AS (SELECT * FROM cr WHERE rk = 1)
         |SELECT sm.exp, sm.n, sm.sum_milli, fin.lnn AS e_final_nano,
         |  bnd.th AS threshold_nano,
         |  CASE WHEN c1.exp IS NULL THEN 'continue'
         |    ELSE 'reject_h0' END AS decision,
         |  CAST(c1.t AS BIGINT) AS decision_ts,
         |  CAST(c1.i AS BIGINT) AS decision_tie,
         |  CAST(c1.n AS BIGINT) AS n_at_decision,
         |  c1.lnn AS e_at_decision
         |FROM sm JOIN fin ON fin.exp = sm.exp
         |CROSS JOIN bnd
         |LEFT JOIN c1 ON c1.exp = sm.exp""".stripMargin),

    // EXACT k-ARM STRATIFIED LOG-RANK (q368's full-covariance form):
    // a genuinely 3-arm fixture (user_id div 6 experiments x 3
    // residue arms, so the quadratic form is a real 2x2 inverse),
    // per-time hypergeometric covariance entries floored through the
    // q310 IEEE chain, Z' W^-1 Z exact via the bordered Bareiss
    // determinant -- the oracle replays the 2x2 adjugate on HUGEINT.
    // q376: exact k-arm stratified log-rank — the q368 walk plus
    // per-time covariance entries on the q310 double chain (diag
    // positive-floored, off-diag magnitude floored on the
    // name-ordered pair then negated) and the (k-1)=2 quadratic
    // form as the exact 2x2 adjugate on HUGEINT.
    QuerySpec("q376_logrank_k_exact", (s, dir) => {
      import graft.operators.Experiment
      val subj = events(s, dir).groupBy(col("user_id")).agg(
        expr("(max(ts) - min(ts)) div 3600000000000L").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("ev"))
        .withColumn("exp", pmod(expr("user_id div 6"), lit(2L)))
        .withColumn("grp",
          concat(lit("arm"), pmod(col("user_id"), lit(3L))))
        .withColumn("st", pmod(expr("user_id div 12"), lit(2L)))
      Experiment.logRankKExact(subj, "exp", "st", "grp", "dur", "ev")
    },
      raw"""WITH subj AS (SELECT
         |    (((user_id // 6) % 2) + 2) % 2 AS exp,
         |    'arm' || CAST(((user_id % 3) + 3) % 3 AS VARCHAR)
         |      AS grp,
         |    (((user_id // 12) % 2) + 2) % 2 AS st,
         |    (max(epoch_ns(ts)) - min(epoch_ns(ts)))
         |      // 3600000000000 AS t,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS e
         |  FROM events GROUP BY user_id),
         |ct AS (SELECT exp, st, t, grp, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(e) AS BIGINT) AS d
         |  FROM subj GROUP BY 1, 2, 3, 4),
         |tm AS (SELECT DISTINCT exp, st, t FROM ct),
         |ar AS (SELECT DISTINCT exp, st, grp FROM ct),
         |gr AS (SELECT tm.exp, tm.st, tm.t, ar.grp,
         |    COALESCE(ct.c, 0) AS c, COALESCE(ct.d, 0) AS d
         |  FROM tm JOIN ar ON ar.exp = tm.exp AND ar.st = tm.st
         |  LEFT JOIN ct ON ct.exp = tm.exp AND ct.st = tm.st
         |    AND ct.t = tm.t AND ct.grp = ar.grp),
         |rk AS (SELECT exp, st, t, grp, d,
         |    CAST(sum(c) OVER (PARTITION BY exp, st, grp
         |      ORDER BY t DESC) AS BIGINT) AS ng
         |  FROM gr),
         |et AS (SELECT exp, st, t, grp, ng,
         |    CAST(sum(ng) OVER (PARTITION BY exp, st, t) AS BIGINT)
         |      AS n,
         |    CAST(sum(d) OVER (PARTITION BY exp, st, t) AS BIGINT)
         |      AS dt
         |  FROM rk),
         |eg AS (SELECT exp, grp,
         |    CAST(sum((1000000 * (dt * ng)) // n) AS BIGINT)
         |      AS e_micro
         |  FROM et WHERE dt >= 1 GROUP BY 1, 2),
         |pa AS (SELECT exp, grp, CAST(count(*) AS BIGINT) AS n_subj,
         |    CAST(sum(e) AS BIGINT) AS o
         |  FROM subj GROUP BY 1, 2),
         |pe AS (SELECT pa.exp, pa.grp, pa.n_subj, pa.o,
         |    COALESCE(eg.e_micro, 0) AS e_micro
         |  FROM pa LEFT JOIN eg ON eg.exp = pa.exp
         |    AND eg.grp = pa.grp),
         |cov_d AS (SELECT exp, grp AS ga, grp AS gb,
         |    CAST(floor(CAST(dt * ng AS DOUBLE)
         |      * CAST(n - ng AS DOUBLE) * CAST(n - dt AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |        * CAST(n - 1 AS DOUBLE)) * 1000000) AS BIGINT) AS w
         |  FROM et WHERE dt >= 1 AND n > 1),
         |cov_o AS (SELECT a.exp, a.grp AS ga, b.grp AS gb,
         |    -CAST(floor(CAST(a.dt * a.ng AS DOUBLE)
         |      * CAST(b.ng AS DOUBLE) * CAST(a.n - a.dt AS DOUBLE)
         |      / (CAST(a.n AS DOUBLE) * CAST(a.n AS DOUBLE)
         |        * CAST(a.n - 1 AS DOUBLE)) * 1000000) AS BIGINT)
         |      AS w
         |  FROM et a JOIN et b ON b.exp = a.exp AND b.st = a.st
         |    AND b.t = a.t AND a.grp < b.grp
         |  WHERE a.dt >= 1 AND a.n > 1),
         |wf AS (SELECT exp, ga, gb, CAST(sum(w) AS BIGINT) AS w
         |  FROM (SELECT * FROM cov_d UNION ALL SELECT * FROM cov_o)
         |  GROUP BY 1, 2, 3),
         |zr AS (SELECT exp, grp, 1000000 * o - e_micro AS z,
         |    row_number() OVER (PARTITION BY exp ORDER BY grp) AS rn
         |  FROM pe),
         |ka AS (SELECT exp, CAST(count(*) AS BIGINT) AS k
         |  FROM zr GROUP BY 1),
         |k2 AS (SELECT exp,
         |    max(CASE WHEN rn = 2 THEN grp END) AS g1,
         |    max(CASE WHEN rn = 3 THEN grp END) AS g2,
         |    CAST(max(CASE WHEN rn = 2 THEN z END) AS HUGEINT) AS z1,
         |    CAST(max(CASE WHEN rn = 3 THEN z END) AS HUGEINT) AS z2
         |  FROM zr GROUP BY 1),
         |qf AS (SELECT k2.exp,
         |    CAST(wa.w AS HUGEINT) AS w11,
         |    CAST(wb.w AS HUGEINT) AS w22,
         |    CAST(COALESCE(wc.w, 0) AS HUGEINT) AS w12,
         |    k2.z1, k2.z2
         |  FROM k2
         |  LEFT JOIN wf wa ON wa.exp = k2.exp AND wa.ga = k2.g1
         |    AND wa.gb = k2.g1
         |  LEFT JOIN wf wb ON wb.exp = k2.exp AND wb.ga = k2.g2
         |    AND wb.gb = k2.g2
         |  LEFT JOIN wf wc ON wc.exp = k2.exp AND wc.ga = k2.g1
         |    AND wc.gb = k2.g2),
         |ch AS (SELECT exp,
         |    CASE WHEN w11 IS NULL OR w22 IS NULL
         |        OR (w11 * w22 - w12 * w12) <= 0 THEN NULL
         |      ELSE CAST((z1 * z1 * w22 - 2 * z1 * z2 * w12
         |          + z2 * z2 * w11)
         |        // (w11 * w22 - w12 * w12) AS BIGINT) END
         |      AS chi2_micro
         |  FROM qf)
         |SELECT pe.exp, pe.grp, pe.n_subj, pe.o, pe.e_micro,
         |  ch.chi2_micro, ka.k - 1 AS df
         |FROM pe JOIN ch ON ch.exp = pe.exp
         |JOIN ka ON ka.exp = pe.exp""".stripMargin),

    // PAGE'S TREND TEST on the q364 complete design: does the score
    // rise monotonically with the item index, per respondent --
    // within-block doubled midranks x dense treatment-order ranks,
    // exact integer L2/E/variance sums, one IEEE z chain.
    // q377: Page's trend test — the q364 midrank machinery with
    // dense treatment-order ranks, exact integer L2 and
    // tie-conditional variance sums, one IEEE z chain.
    QuerySpec("q377_page_trend", (s, dir) => {
      import graft.operators.Experiment
      val cells = events(s, dir)
        .groupBy(pmod(col("user_id"), lit(2L)).as("key"),
          pmod(col("user_id"), lit(100L)).as("resp"),
          pmod(col("event_id"), lit(3L)).as("item"))
        .agg(pmod(sum(floor(col("value") * 100).cast("long")),
          lit(11L)).as("score"))
      Experiment.pageTrend(cells, "key", "resp", "item", "score")
    },
      raw"""WITH cell AS (SELECT ((user_id % 2) + 2) % 2 AS key,
         |    ((user_id % 100) + 100) % 100 AS r,
         |    ((event_id % 3) + 3) % 3 AS i,
         |    CAST(floor(value * 100) AS BIGINT) AS v
         |  FROM events),
         |sc AS (SELECT key, r, i,
         |    ((CAST(sum(v) AS BIGINT) % 11) + 11) % 11 AS s
         |  FROM cell GROUP BY 1, 2, 3),
         |bv AS (SELECT key, r, s, CAST(count(*) AS BIGINT) AS c
         |  FROM sc GROUP BY 1, 2, 3),
         |md AS (SELECT key, r, s,
         |    2 * CAST(COALESCE(sum(c) OVER (PARTITION BY key, r
         |      ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) + c + 1 AS mid2
         |  FROM bv),
         |cj AS (SELECT sc.key, sc.r, md.mid2,
         |    CAST(dense_rank() OVER (PARTITION BY sc.key
         |      ORDER BY sc.i) AS BIGINT) AS cjr
         |  FROM sc JOIN md ON md.key = sc.key AND md.r = sc.r
         |    AND md.s = sc.s),
         |ki AS (SELECT key, CAST(count(DISTINCT i) AS BIGINT) AS k
         |  FROM sc GROUP BY 1),
         |pb AS (SELECT key, r,
         |    CAST(sum(cjr * mid2) AS BIGINT) AS l2b,
         |    CAST(sum(mid2 * mid2) AS BIGINT) AS ss2
         |  FROM cj GROUP BY 1, 2),
         |f AS (SELECT pb.key, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(max(ki.k) AS BIGINT) AS k,
         |    CAST(sum(l2b) AS BIGINT) AS l2,
         |    CAST(sum((ki.k * ss2
         |      - (ki.k * (ki.k + 1)) * (ki.k * (ki.k + 1)))
         |      * (ki.k + 1)) AS BIGINT) AS var_num12
         |  FROM pb JOIN ki ON ki.key = pb.key GROUP BY 1)
         |SELECT CAST(key AS BIGINT) AS key, n_blocks, k, l2,
         |  CAST((n_blocks * k * (k + 1) * (k + 1)) // 2 AS BIGINT)
         |    AS e_l2,
         |  var_num12,
         |  CASE WHEN var_num12 <= 0 THEN NULL
         |    ELSE CAST(floor(CAST(l2
         |        - (n_blocks * k * (k + 1) * (k + 1)) // 2
         |        AS DOUBLE) * 1000.0::DOUBLE
         |      / sqrt(CAST(var_num12 AS DOUBLE) / 12.0::DOUBLE))
         |      AS BIGINT) END AS z_milli
         |FROM f""".stripMargin)
  )
}
