package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ScalarFns.{LehmerM, lehmer}

/** Experiment / longitudinal analytics over the event stream — the
  * measurement half of a data-driven pipeline ([[Funnel]] asks "where
  * do users drop", this file asks "did the change matter" and "do
  * they come back"):
  *
  *  - two-variant A/B conversion analysis with the χ² statistic on an
  *    exact integer lattice (the classic 2×2 test, computable without
  *    a single float until the final division);
  *  - cohort retention matrices (first-seen period × periods-since,
  *    the standard triangle chart).
  */
object Experiment {

  /** Two-variant A/B conversion report: users and converters per
    * variant, conversion rates and the risk difference on the ppm
    * lattice, and the 2×2 χ² statistic in milli units —
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * with a/b = converted/not in variant 0, c/d in variant 1: every
    * term is an exact integer product, one IEEE division + floor at
    * the end (χ² ≥ 3.84 ⇔ p < 0.05 at 1 dof — the gate a curator
    * reads). Overflow bound under ANSI (loud, not wrapping):
    * N·(ad−bc)² < 2^63 holds up to ~10⁶ users per variant; salt the
    * experiment into disjoint shards past that and sum the χ²
    * inputs.
    *
    * A user CONVERTS when they have ≥ 1 event of `convType`; variant
    * membership must be EXACTLY ONE value per user AND that value
    * must be 0 or 1, refused loudly otherwise with a per-case
    * message: all-null assignment ("no variant"), >1 distinct values
    * ("multiple variants"), or a value outside {0,1} (a third arm fed
    * into a 2×2 fold would otherwise silently vanish from a/b/c/d and
    * yield a confident, wrong χ² — use [[abTestK]] for k arms). A
    * user with SOME null variant events and one non-null value passes
    * (null = the event predates assignment). One distinct-user
    * aggregation + one 2-row fold; nothing user-sized leaves the
    * first shuffle.
    */
  def abTest(events: DataFrame, userCol: String, variantCol: String,
      typeCol: String, convType: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(countDistinct(col(variantCol)).as("__nv"),
        max(col(variantCol)).cast("long").as("variant"),
        max(when(col(typeCol) === convType, 1L).otherwise(0L))
          .as("converted"))
      .select(col("user"), col("variant"), col("converted"),
        when(col("__nv") === 0,
          raise_error(concat(lit("user "), col("user").cast("string"),
            lit(" has no variant assignment (all null) — fix the " +
              "bucketing"))).cast("boolean"))
          .when(col("__nv") > 1,
            raise_error(concat(lit("user "), col("user").cast("string"),
              lit(" appears in multiple variants — fix the bucketing")))
              .cast("boolean"))
          .when(!col("variant").isin(0L, 1L),
            raise_error(concat(lit("user "), col("user").cast("string"),
              lit(" has variant "), col("variant").cast("string"),
              lit(" outside {0,1} — abTest folds a 2x2 table; use " +
                "abTestK for k arms"))).cast("boolean"))
          .otherwise(lit(true)).as("__ok"))
      // the filter FORCES the assignment checks row-by-row —
      // an unused projected column would be pruned away by Catalyst
      .filter(col("__ok"))
    val counts = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_conv"))
    val wide = counts.agg(
      sum(when(col("variant") === 0, col("n_conv"))).as("a"),
      sum(when(col("variant") === 0, col("n_users") - col("n_conv")))
        .as("b"),
      sum(when(col("variant") === 1, col("n_conv"))).as("c"),
      sum(when(col("variant") === 1, col("n_users") - col("n_conv")))
        .as("d"))
    wide.select(
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("d"), lit(0L)).as("d"))
      .withColumn("rate0_ppm",
        when(col("a") + col("b") === 0, lit(0L)).otherwise(
          floor(col("a").cast("double") * 1000000
            / (col("a") + col("b"))).cast("long")))
      .withColumn("rate1_ppm",
        when(col("c") + col("d") === 0, lit(0L)).otherwise(
          floor(col("c").cast("double") * 1000000
            / (col("c") + col("d"))).cast("long")))
      .withColumn("risk_diff_ppm", col("rate1_ppm") - col("rate0_ppm"))
      .withColumn("chi2_milli", {
        val n = col("a") + col("b") + col("c") + col("d")
        val num = (col("a") * col("d") - col("b") * col("c"))
        val den = (col("a") + col("b")) * (col("c") + col("d")) *
          (col("a") + col("c")) * (col("b") + col("d"))
        when(den === 0, lit(0L))
          .otherwise(floor((n * num * num).cast("double") * 1000
            / den).cast("long"))
      })
  }

  /** A/B/n conversion analysis — [[abTest]] generalized to k arms:
    * per variant the user and converter counts plus the conversion
    * rate (ppm), and the k×2 χ² statistic (k−1 dof) attached to every
    * row. Cell terms use the textbook `(O − E)²/E` with
    * `E = rowTotal·colTotal/N`; on integers, for variant i with
    * `nu_i` users, `nc_i` converters, totals `N`/`C`:
    *
    *   d_i = N·nc_i − nu_i·C   (the converted-cell residual ×N; the
    *                            non-converted cell's residual is −d_i)
    *   χ²  = Σ_i d_i²/(N·nu_i·C) + d_i²/(N·nu_i·(N−C))
    *
    * Each term is ONE integer-exact residual, squared and divided in
    * IEEE double (deterministic op order, mirrored by the oracle),
    * floored to MICRO units per cell and summed as integers — so
    * `chi2_micro` is engine-exact; the ≤ 2k-micro floor bias is
    * documented noise, far below any decision threshold. χ² is null
    * when a marginal is empty (nobody or everybody converted — the
    * statistic is undefined).
    *
    * Per-user variant assignment must be exactly one NON-NULL value
    * (loud refusal as in [[abTest]]); arm ids are any longs. One
    * distinct-user aggregation + a k-row fold + two 1-row broadcast
    * cross joins.
    */
  def abTestK(events: DataFrame, userCol: String, variantCol: String,
      typeCol: String, convType: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(countDistinct(col(variantCol)).as("__nv"),
        max(col(variantCol)).cast("long").as("variant"),
        max(when(col(typeCol) === convType, 1L).otherwise(0L))
          .as("converted"))
      .select(col("user"), col("variant"), col("converted"),
        when(col("__nv") === 0,
          raise_error(concat(lit("user "), col("user").cast("string"),
            lit(" has no variant assignment (all null) — fix the " +
              "bucketing"))).cast("boolean"))
          .when(col("__nv") > 1,
            raise_error(concat(lit("user "), col("user").cast("string"),
              lit(" appears in multiple variants — fix the bucketing")))
              .cast("boolean"))
          .otherwise(lit(true)).as("__ok"))
      .filter(col("__ok"))
    val counts = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_conv"))
    val tot = counts.agg(sum(col("n_users")).as("__N"),
      sum(col("n_conv")).as("__C"))
    val cells = counts.crossJoin(broadcast(tot))
      .withColumn("rate_ppm",
        floor(col("n_conv").cast("double") * 1000000 / col("n_users"))
          .cast("long"))
      .withColumn("__d",
        col("__N") * col("n_conv") - col("n_users") * col("__C"))
      .withColumn("__term",
        when(col("__C") > 0 && col("__C") < col("__N"), {
          val dd = col("__d").cast("double") * col("__d").cast("double")
          val t1 = floor(dd
            / (col("__N") * col("n_users") * col("__C")).cast("double")
            * 1000000).cast("long")
          val t2 = floor(dd
            / (col("__N") * col("n_users") * (col("__N") - col("__C")))
              .cast("double") * 1000000).cast("long")
          t1 + t2
        }).otherwise(lit(0L)))
    val chi = cells.agg(sum(col("__term")).as("__chi"),
      max(col("__N")).as("__N2"), max(col("__C")).as("__C2"))
    cells.crossJoin(broadcast(chi))
      .select(col("variant"), col("n_users"), col("n_conv"),
        col("rate_ppm"),
        when(col("__C2") > 0 && col("__C2") < col("__N2"), col("__chi"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"))
  }

  /** Cohort retention triangle: users grouped by their FIRST-seen
    * period (ts floor-divided into `periodNs` buckets), and for each
    * later period offset the count still active plus retention vs the
    * cohort size on the ppm lattice. The standard product-analytics
    * retention chart, exact: integer period buckets, one distinct
    * (cohort, offset, user) reduction, map-side combined. Bucketing
    * uses the same pmod-FLOOR division as [[rollingActives]] — `div`
    * truncates toward zero, which would misplace pre-epoch (negative)
    * timestamps into the wrong cohort.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
      tsCol: String, periodNs: Long): DataFrame = {
    require(periodNs > 0, s"periodNs=$periodNs must be > 0")
    val e = events.select(col(userCol).as("user"),
      expr(s"(($tsCol) - pmod($tsCol, ${periodNs}L)) div ${periodNs}L")
        .as("period"))
    val firstSeen = e.groupBy(col("user"))
      .agg(min(col("period")).as("cohort"))
    val sizes = firstSeen.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    val active = e.join(firstSeen, Seq("user"))
      .select(col("cohort"), (col("period") - col("cohort")).as("offset"),
        col("user"))
      .distinct()
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
    active.join(sizes, Seq("cohort"))
      .withColumn("retention_ppm",
        floor(col("n_active").cast("double") * 1000000
          / col("cohort_users")).cast("long"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) per EXPERIMENT — the
    * nonparametric two-sample test for CONTINUOUS outcomes ([[abTest]]
    * covers binary conversion; this covers revenue/latency/length
    * metrics, where a t-test's normality assumption is the classic
    * trap). Ties take MIDRANKS, kept exact by working on a DOUBLED
    * rank lattice (2·midrank = 2·count_below + count_equal + 1, an
    * integer always): outputs `r1_x2` (doubled rank sum of group 1),
    * `u1_x2`/`u0_x2` (doubled U statistics, `u0 + u1 = 2·n0·n1` by
    * construction) and the group sizes — the caller applies the
    * normal approximation driver-side (σ needs a float sqrt, which is
    * not bit-reproducible across engines; every input to it is in the
    * output).
    *
    * Group membership must be 0/1 per ROW (refused loudly otherwise);
    * metric values must be non-null and long-castable (a silently
    * dropped null row would shift every rank). Quantize float metrics
    * upstream (the centi/milli-lattice convention).
    *
    * Scale shape: one (experiment, value) count aggregation, one
    * window PARTITIONED BY experiment over the distinct-value rows
    * (state bounded by an experiment's distinct metric values — the
    * abTest-family per-experiment contract; there is deliberately no
    * global-rank variant, which would need a single-partition window),
    * one final per-experiment fold. Nothing row-sized crosses the
    * second shuffle.
    */
  def mannWhitneyU(df: DataFrame, expCol: String, groupCol: String,
      valCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("mannWhitneyU group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — two-sample ranks need exactly two groups")))
        .cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("mannWhitneyU value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row would " +
          "shift every rank; quantize/filter upstream")))
        .cast("long"))
    val counts = df
      .select(col(expCol).as("exp"), g.as("__g"), v.as("__v"))
      .groupBy(col("exp"), col("__v"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("__c1"))
    val byExp = Window.partitionBy(col("exp")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts.withColumn("__below",
        coalesce(sum(col("__c0") + col("__c1")).over(byExp), lit(0L)))
      .withColumn("__mid_x2",
        lit(2L) * col("__below") + col("__c0") + col("__c1") + 1L)
    ranked.groupBy(col("exp"))
      .agg(sum(col("__c0")).as("n0"), sum(col("__c1")).as("n1"),
        sum(col("__c1") * col("__mid_x2")).as("r1_x2"))
      .withColumn("u1_x2", col("r1_x2") - col("n1") * (col("n1") + 1L))
      .withColumn("u0_x2",
        lit(2L) * col("n0") * col("n1") - col("u1_x2"))
  }

  /** Sample-ratio-mismatch (SRM) check — the χ² goodness-of-fit of
    * observed per-variant user counts against the DESIGNED split, the
    * sanity gate every experiment readout runs first (a 50/50 design
    * that lands 52/48 usually means broken bucketing or filtering, and
    * every downstream metric is suspect). `expected` maps variant id →
    * design weight (e.g. 0→1, 1→1 for 50/50); observed variants
    * missing from the map refuse loudly, designed variants with zero
    * users report O = 0 rows. Cell terms are the [[abTestK]]
    * discipline: integer residual `W·O_i − N·w_i` (W = Σ weights),
    * squared/divided in IEEE double in a fixed op order, floored to
    * micro units per cell, integer-summed — `chi2_micro` is
    * engine-exact, with k−1 dof. Per-user assignment must be exactly
    * one non-null variant (the [[abTest]] refusals).
    *
    * One distinct-user aggregation + a ≤ |variants| fold with the
    * weight relation broadcast.
    */
  def srmCheck(events: DataFrame, userCol: String, variantCol: String,
      expected: Map[Long, Long]): DataFrame = {
    require(expected.nonEmpty && expected.size <= 1024,
      s"need 1..1024 designed variants, got ${expected.size}")
    require(expected.values.forall(_ > 0),
      "design weights must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val wSum = expected.values.sum
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(countDistinct(col(variantCol)).as("__nv"),
        max(col(variantCol)).cast("long").as("variant"))
      .select(col("user"), col("variant"),
        when(col("__nv") === 0,
          raise_error(concat(lit("user "), col("user").cast("string"),
            lit(" has no variant assignment (all null) — fix the " +
              "bucketing"))).cast("boolean"))
          .when(col("__nv") > 1,
            raise_error(concat(lit("user "), col("user").cast("string"),
              lit(" appears in multiple variants — fix the bucketing")))
              .cast("boolean"))
          .otherwise(lit(true)).as("__ok"))
      .filter(col("__ok"))
    val obs = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"))
    val design = broadcast(expected.toSeq.toDF("variant", "__w"))
    // right join keeps zero-user designed variants; an observed variant
    // with no design weight refuses loudly (it is NOT in the design)
    val cells = obs.join(design, Seq("variant"), "full_outer")
      .select(col("variant"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("__w"),
          raise_error(concat(lit("variant "),
            col("variant").cast("string"),
            lit(" observed but not in the experiment design — fix the " +
              "bucketing or the design map"))).cast("long")).as("__w"))
    val tot = cells.agg(sum(col("n_users")).as("__N"))
    val terms = cells.crossJoin(broadcast(tot))
      .withColumn("expected_ppm",
        floor(col("__w").cast("double") * 1000000 / wSum).cast("long"))
      .withColumn("__d",
        lit(wSum) * col("n_users") - col("__N") * col("__w"))
      .withColumn("__term",
        when(col("__N") > 0,
          floor(col("__d").cast("double") * col("__d").cast("double")
            / (lit(wSum) * col("__N") * col("__w")).cast("double")
            * 1000000).cast("long"))
          .otherwise(lit(0L)))
    val chi = terms.agg(sum(col("__term")).as("__chi"),
      max(col("__N")).as("__N2"))
    terms.crossJoin(broadcast(chi))
      .select(col("variant"), col("n_users"), col("expected_ppm"),
        when(col("__N2") > 0, col("__chi"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"))
  }

  /** Rolling active users — the DAU/WAU/MAU family: for every window
    * start (multiples of `slideNs`), the DISTINCT users active in the
    * trailing `windowNs`. Each event lands in ⌈window/slide⌉ window
    * replicas (exploded inside codegen), then one distinct
    * (window, user) reduction + one count — the [[retentionCohorts]]
    * discipline, exact integer window arithmetic throughout: window
    * starts are the k·slide with floor((ts − window)/slide) < k ≤
    * floor(ts/slide), matching the sliding `window()` alignment.
    * BOTH bounds use an explicit pmod-floor division — Spark's `div`
    * truncates toward zero, which would misplace pre-epoch (negative)
    * timestamps instead of flooring them.
    */
  def rollingActives(events: DataFrame, userCol: String, tsCol: String,
      windowNs: Long, slideNs: Long): DataFrame = {
    require(slideNs > 0 && windowNs >= slideNs,
      s"need windowNs >= slideNs > 0, got $windowNs/$slideNs")
    def floorDiv(a: String) =
      s"((($a) - pmod($a, ${slideNs}L)) div ${slideNs}L)"
    events.select(col(userCol).as("user"),
        explode(sequence(
          expr(s"${floorDiv(s"$tsCol - ${windowNs}L")} + 1"),
          expr(floorDiv(tsCol)))).as("k"))
      .select((col("k") * slideNs).as("w_start"), col("user"))
      .distinct()
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** CUPED variance reduction (Deng–Xu–Kohavi–Walker, WSDM 2013,
    * "Improving the sensitivity of online controlled experiments by
    * utilizing pre-experiment data"): per unit the adjusted metric
    *
    *   ŷᵢ = yᵢ − θ·(xᵢ − x̄),   θ = cov(x, y)/var(x)
    *
    * with x = the PRE-experiment metric and y = the in-experiment
    * metric. θ comes from exact integer sums (quantize both metrics to
    * a centi/milli lattice upstream, the house convention):
    * `num = n·Σxy − Σx·Σy`, `den = n·Σx² − (Σx)²` — both int64-exact
    * (ANSI overflow is the loud guard; shard past ~10⁹ lattice units),
    * then ONE IEEE division `θ = num/den` and the per-row fold
    * `floor((y − θ·(x − Σx/n))·10⁶)` in a fixed op order the oracle
    * mirrors — `adj_micro` is engine-exact. A zero-variance pre-metric
    * (den = 0, where θ is 0/0) emits null `theta_ppm` and the
    * UNADJUSTED `adj_micro = floor(y·10⁶)`: cov(x,y) is then zero too,
    * so "no adjustment" is the mathematical limit, not a fabrication.
    *
    * One row per experimental UNIT in, one out (`id, pre, post,
    * theta_ppm, adj_micro`) — aggregate multi-event users upstream.
    * Null or uncastable metrics refuse loudly (a skipped unit would
    * bias θ). One two-row-fold aggregation + one broadcast of the
    * 1-row stats — nothing unit-sized shuffles twice.
    */
  def cuped(df: DataFrame, idCol: String, preCol: String,
      postCol: String): DataFrame = {
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"cuped: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — quantize the metric " +
          "to an integer lattice upstream"))).cast("long"))
    val rows = df.select(col(idCol).as("id"), m(preCol).as("pre"),
      m(postCol).as("post"))
    val stats = rows.agg(count(lit(1)).as("__n"),
      sum(col("pre")).as("__sx"), sum(col("post")).as("__sy"),
      sum(col("pre") * col("post")).as("__sxy"),
      sum(col("pre") * col("pre")).as("__sxx"))
      .withColumn("__num",
        col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__den",
        col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__theta",
        when(col("__den") === 0, lit(null).cast("double"))
          .otherwise(col("__num").cast("double")
            / col("__den").cast("double")))
      .withColumn("__meanx",
        col("__sx").cast("double") / col("__n").cast("double"))
    rows.crossJoin(broadcast(stats))
      .select(col("id"), col("pre"), col("post"),
        when(col("__theta").isNull, lit(null).cast("long"))
          .otherwise(floor(col("__theta") * 1000000).cast("long"))
          .as("theta_ppm"),
        when(col("__theta").isNull,
          floor(col("post").cast("double") * 1000000).cast("long"))
          .otherwise(floor((col("post").cast("double")
            - col("__theta") * (col("pre").cast("double")
              - col("__meanx"))) * 1000000).cast("long"))
          .as("adj_micro"))
  }

  /** Kaplan–Meier survival curve (Kaplan–Meier 1958) per group, on the
    * exact ppm lattice: with event times t₁ < t₂ < …, `n_k` subjects
    * at risk at tₖ (duration ≥ tₖ, censored or not) and `d_k` events
    * at tₖ,
    *
    *   S_ppm(tₖ) = (S_ppm(tₖ₋₁) · (n_k − d_k)) div n_k,  S_ppm(t₀)=10⁶
    *
    * — the survival product replayed as an INTEGER recurrence (each
    * step floors at the ppm lattice; drift vs the float product is
    * < k ppm over k event times, documented noise), so the curve is
    * bit-identical on any cluster and oracle-checkable. Input: one row
    * per SUBJECT with a duration (long-castable, ≥ 0 — a negative
    * duration refuses loudly) and an event flag (1 = event at
    * `duration`, 0 = censored at `duration`; anything else refuses).
    * Output one row per (group, event time): `grp, t, n_risk, d,
    * s_ppm`. Censored-only durations contribute to `n_risk` but emit
    * no row — the standard KM step points.
    *
    * Scale shape: one (group, duration) aggregation, one group-
    * partitioned cumulative window (descending durations) for the
    * risk sets, then the recurrence over a per-group SORTED ARRAY of
    * event times folded inside codegen (`aggregate` HOF) — sequential
    * in k by definition, distributed over groups. Event-time
    * cardinality per group is required ≤ `maxTimes` (loud post-agg
    * refusal; quantize durations upstream — a survival curve with
    * millions of distinct steps is a plotting bug, not an analysis).
    */
  def survivalKm(df: DataFrame, groupCol: String, durCol: String,
      eventCol: String, maxTimes: Int = 4096): DataFrame = {
    require(maxTimes >= 1 && maxTimes <= 65536,
      s"maxTimes=$maxTimes out of [1, 65536]")
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("survivalKm: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long")))
        .cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("survivalKm: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"),
        when(dur < 0, raise_error(concat(
          lit("survivalKm: negative duration "), dur.cast("string")))
          .cast("long")).otherwise(dur).as("t"),
        when(ev.isin(0L, 1L), ev).otherwise(
          raise_error(concat(lit("survivalKm: event flag "),
            ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
          .as("e"))
    val byDur = rows.groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("__c"), sum(col("e")).as("d"))
    val risk = Window.partitionBy(col("grp")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val et = byDur
      .withColumn("n_risk", sum(col("__c")).over(risk))
      .filter(col("d") >= 1)
      .select(col("grp"), col("t"), col("n_risk"), col("d"))
    val folded = et.groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("t"), col("n_risk"),
        col("d")))).as("__xs"))
      .select(col("grp"),
        when(size(col("__xs")) > maxTimes,
          raise_error(concat(lit("survivalKm: "),
            size(col("__xs")).cast("string"),
            lit(s" event times in one group exceed maxTimes=$maxTimes" +
              " — quantize durations upstream"))).cast("int"))
          .otherwise(lit(0)).as("__guard"),
        expr("""aggregate(__xs,
          cast(array() as array<struct<t:bigint,n_risk:bigint,d:bigint,s_ppm:bigint>>),
          (acc, x) -> array_append(acc, named_struct(
            't', x.t, 'n_risk', x.n_risk, 'd', x.d,
            's_ppm', ((case when size(acc) = 0 then 1000000L
                            else acc[size(acc) - 1].s_ppm end)
              * (x.n_risk - x.d)) div x.n_risk)))""").as("__km"))
      .filter(col("__guard") === 0)
    folded.select(col("grp"), explode(col("__km")).as("__r"))
      .select(col("grp"), col("__r.t").as("t"),
        col("__r.n_risk").as("n_risk"), col("__r.d").as("d"),
        col("__r.s_ppm").as("s_ppm"))
  }

  /** Difference-in-differences (the Card–Krueger quasi-experimental
    * workhorse): with a treatment flag g ∈ {0,1} and a period flag
    * p ∈ {0,1} over integer observations (quantize upstream),
    *
    *   DiD = (ȳ₁₁ − ȳ₁₀) − (ȳ₀₁ − ȳ₀₀)
    *
    * — the treated group's before/after change net of the control
    * group's trend. One 4-cell fold: per cell the exact count and
    * sum, each mean ONE floored IEEE division (`mean*_milli`), and
    * `did_micro` from the four means in a fixed op order the oracle
    * mirrors; null when ANY cell is empty (a missing cell makes the
    * estimator undefined — silence would fabricate a zero trend).
    * Group/period values outside {0,1} and null metrics refuse
    * loudly row-by-row. Output is ONE row; nothing row-sized leaves
    * the first aggregation.
    */
  def diffInDiff(df: DataFrame, groupCol: String, periodCol: String,
      valCol: String): DataFrame = {
    def flag(c: String, what: String) = {
      val v = coalesce(col(c).try_cast("long"),
        raise_error(concat(lit(s"diffInDiff: $what '"),
          coalesce(col(c).cast("string"), lit("NULL")),
          lit("' is null or not castable to long"))).cast("long"))
      when(v.isin(0L, 1L), v).otherwise(
        raise_error(concat(lit(s"diffInDiff: $what "), v.cast("string"),
          lit(" outside {0,1}"))).cast("long"))
    }
    val y = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("diffInDiff: value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — quantize upstream")))
        .cast("long"))
    val cells = df.select(flag(groupCol, "group").as("__g"),
        flag(periodCol, "period").as("__p"), y.as("__y"))
      .agg(
        sum(when(col("__g") === 0 && col("__p") === 0, 1L)
          .otherwise(0L)).as("n00"),
        sum(when(col("__g") === 0 && col("__p") === 0, col("__y"))
          .otherwise(0L)).as("s00"),
        sum(when(col("__g") === 0 && col("__p") === 1, 1L)
          .otherwise(0L)).as("n01"),
        sum(when(col("__g") === 0 && col("__p") === 1, col("__y"))
          .otherwise(0L)).as("s01"),
        sum(when(col("__g") === 1 && col("__p") === 0, 1L)
          .otherwise(0L)).as("n10"),
        sum(when(col("__g") === 1 && col("__p") === 0, col("__y"))
          .otherwise(0L)).as("s10"),
        sum(when(col("__g") === 1 && col("__p") === 1, 1L)
          .otherwise(0L)).as("n11"),
        sum(when(col("__g") === 1 && col("__p") === 1, col("__y"))
          .otherwise(0L)).as("s11"))
    def mean(s: String, cnt: String) =
      when(col(cnt) === 0, lit(null).cast("long"))
        .otherwise(floor(col(s).cast("double") / col(cnt).cast("double")
          * 1000).cast("long"))
    cells
      .withColumn("mean00_milli", mean("s00", "n00"))
      .withColumn("mean01_milli", mean("s01", "n01"))
      .withColumn("mean10_milli", mean("s10", "n10"))
      .withColumn("mean11_milli", mean("s11", "n11"))
      .withColumn("did_micro",
        when(col("n00") === 0 || col("n01") === 0 || col("n10") === 0
            || col("n11") === 0, lit(null).cast("long"))
          .otherwise(floor(
            ((col("s11").cast("double") / col("n11").cast("double")
              - col("s10").cast("double") / col("n10").cast("double"))
              - (col("s01").cast("double") / col("n01").cast("double")
                - col("s00").cast("double") / col("n00").cast("double")))
              * 1000000).cast("long")))
  }

  /** Stickiness — the DAU/MAU-family ratio: for every `slideNs`-
    * aligned window start, the short-window distinct actives over the
    * long-window distinct actives on the exact ppm lattice
    * (`10⁶·n_short div n_long`; n_long ≥ n_short > 0 by construction,
    * since both windows end at the same instant and long ⊇ short).
    * Two [[rollingActives]] passes joined on the window start — each
    * is the audited explode → distinct → count shape. A start whose
    * SHORT window saw nobody does not emit (every short-active start
    * does — its long window is a superset); outer-join against the
    * long relation downstream if explicit stickiness-0 rows read
    * better.
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
      shortNs: Long, longNs: Long, slideNs: Long): DataFrame = {
    require(slideNs > 0 && shortNs >= slideNs && longNs > shortNs,
      s"need longNs > shortNs >= slideNs > 0, got " +
        s"$longNs/$shortNs/$slideNs")
    val s = rollingActives(events, userCol, tsCol, shortNs, slideNs)
      .withColumnRenamed("n_active", "n_short")
    val l = rollingActives(events, userCol, tsCol, longNs, slideNs)
      .withColumnRenamed("n_active", "n_long")
    s.join(l, Seq("w_start"))
      .withColumn("stickiness_ppm",
        expr("(1000000L * n_short) div n_long"))
  }

  /** Benjamini–Hochberg FDR control (1995) per test FAMILY — the
    * multiple-testing gate an experiment platform runs over a batch
    * of p-values before anyone reads "significant": within each
    * family, hypotheses sorted ascending by (p, id) get ranks k = 1..m
    * and the rejection set is every rank ≤ k* where
    *
    *   k* = max{ k : p₍ₖ₎ · m ≤ k · α }
    *
    * evaluated as an INTEGER cross-multiplication on the ppm lattice
    * (`p_ppm · m ≤ k · alpha_ppm` — no division, no float, exact).
    * Output per hypothesis: `grp, id, p_ppm, k, m, k_star, reject`.
    * The family column is REQUIRED — a global BH would need a
    * single-partition rank, the shape this engine refuses everywhere;
    * p-values outside [0, 10⁶] refuse loudly. One family-partitioned
    * rank window + one family fold joined back.
    */
  def benjaminiHochberg(df: DataFrame, groupCol: String, idCol: String,
      pPpmCol: String, alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm < 1000000L,
      s"alphaPpm=$alphaPpm out of [1, 1000000)")
    val p = coalesce(col(pPpmCol).try_cast("long"),
      raise_error(concat(lit("benjaminiHochberg p-value '"),
        coalesce(col(pPpmCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val w = Window.partitionBy(col("grp")).orderBy(col("p_ppm"),
      col("id"))
    val ranked = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        when(p >= 0 && p <= 1000000L, p).otherwise(
          raise_error(concat(lit("benjaminiHochberg p-value "),
            p.cast("string"), lit(" outside [0, 1000000] ppm")))
            .cast("long")).as("p_ppm"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
    val kstar = ranked.groupBy(col("grp").as("__g"))
      .agg(coalesce(max(when(
        col("p_ppm") * col("m") <= col("k") * lit(alphaPpm),
        col("k"))), lit(0L)).as("k_star"))
    // <=> : a null family is a real window partition (the rank window
    // keeps it) — a plain equi fold join would drop its hypotheses
    ranked.join(kstar, col("grp") <=> col("__g"))
      .select(col("grp"), col("id"), col("p_ppm"), col("k"), col("m"),
        col("k_star"), (col("k") <= col("k_star")).as("reject"))
  }

  /** Two-sample log-rank test (Mantel 1966 / Peto–Peto) per
    * EXPERIMENT — the arm comparison that is the POINT of survival
    * analysis ([[survivalKm]] answers "what is each curve"; this
    * answers "do the arms differ"). Input is the KM contract: one row
    * per subject with an experiment key, a group flag g ∈ {0,1}, a
    * non-negative long duration and a 0/1 event flag (all refused
    * loudly otherwise, the [[survivalKm]] refusals). At each POOLED
    * event time tₖ with nₖ = n₀ₖ + n₁ₖ at risk and dₖ = d₀ₖ + d₁ₖ
    * events:
    *
    *   E₁ₖ = dₖ·n₁ₖ/nₖ          — INTEGER-EXACT on the micro lattice:
    *                               (10⁶·dₖ·n₁ₖ) div nₖ, no float;
    *   Vₖ  = dₖ·n₁ₖ·n₀ₖ·(nₖ−dₖ)/(nₖ²·(nₖ−1)) — one IEEE double chain
    *         in a fixed op order the oracle mirrors, floored to micro
    *         (0 when nₖ = 1, where the hypergeometric variance is 0);
    *
    * summed as integers per experiment (floor bias ≤ 1 micro per
    * event time, documented noise), with O₁ = Σ d₁ₖ exact. The
    * statistic
    *
    *   chi2_micro = floor((10⁶·O₁ − e1_micro)² / v_micro)
    *
    * (algebraically (O₁−E₁)²/V ·10⁶ — the two 10⁶ scalings cancel;
    * null when v_micro = 0, where the test is undefined: one arm
    * empty or no event time with both arms at risk). χ² ≥ 3.84 ⇔
    * p < 0.05 at 1 dof. Output ONE row per (exp, grp): the arm's
    * subject count `n_subj` and observed events `o`, with `e1_micro`,
    * `v_micro`, `chi2_micro` attached to both rows (E₀ = d−E₁ by
    * construction — one expected column is the whole story).
    *
    * Overflow bound (loud under ANSI, not wrapping): 10⁶·dₖ·n₁ₖ <
    * 2⁶³ holds to ~3·10⁶ subjects per experiment; shard or quantize
    * past that. Scale shape: one (exp, grp, t) aggregation, one
    * exp-PARTITIONED descending-time cumulative window for the risk
    * sets (the [[survivalKm]] machinery — never a global window), one
    * exp fold joined back null-safely. Nothing subject-sized crosses
    * the second shuffle.
    */
  def logRank(df: DataFrame, expCol: String, groupCol: String,
      durCol: String, eventCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(lit("logRank group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — the two-sample test needs exactly two " +
          "arms"))).cast("long"))
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("logRank: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("logRank: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"), g.as("__g"),
      when(dur < 0, raise_error(concat(
        lit("logRank: negative duration "), dur.cast("string")))
        .cast("long")).otherwise(dur).as("t"),
      when(ev.isin(0L, 1L), ev).otherwise(
        raise_error(concat(lit("logRank: event flag "),
          ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__e"))
    val byDur = rows.groupBy(col("exp"), col("t"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__g") === 0L, col("__e")).otherwise(0L)).as("__d0"),
        sum(when(col("__g") === 1L, col("__e")).otherwise(0L)).as("__d1"))
    val risk = Window.partitionBy(col("exp")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val et = byDur
      .withColumn("__n0", sum(col("__c0")).over(risk))
      .withColumn("__n1", sum(col("__c1")).over(risk))
      .withColumn("__n", col("__n0") + col("__n1"))
      .withColumn("__d", col("__d0") + col("__d1"))
      .filter(col("__d") >= 1)
    // E1 term: pure integers. V term: ONE double chain in THIS op
    // order — ((d·n1)·n0·(n−d)) / ((n·n)·(n−1)) · 10⁶ — the oracle
    // replays it verbatim.
    val terms = et
      .withColumn("__e1k",
        expr("(1000000L * (__d * __n1)) div __n"))
      .withColumn("__vk",
        when(col("__n") <= 1, lit(0L)).otherwise(
          floor((col("__d") * col("__n1")).cast("double")
            * col("__n0").cast("double")
            * (col("__n") - col("__d")).cast("double")
            / (col("__n").cast("double") * col("__n").cast("double")
              * (col("__n") - 1L).cast("double"))
            * 1000000).cast("long")))
    val fold = terms.groupBy(col("exp").as("__x"))
      .agg(sum(col("__d1")).as("__o1"),
        sum(col("__e1k")).as("e1_micro"), sum(col("__vk")).as("v_micro"))
      .withColumn("chi2_micro",
        when(col("v_micro") === 0, lit(null).cast("long"))
          .otherwise(floor(
            (lit(1000000L) * col("__o1") - col("e1_micro")).cast("double")
              * (lit(1000000L) * col("__o1") - col("e1_micro"))
                .cast("double")
              / col("v_micro").cast("double")).cast("long")))
    // two arm rows per experiment, fold stats on both; <=> for the
    // null-experiment group, and LEFT so an experiment with ZERO
    // events still reports its arms (O = 0, E = V = 0, chi2 null) —
    // an inner join would silently erase exactly the experiments a
    // monitor most needs to see (nothing converted anywhere)
    val arms = rows.groupBy(col("exp"), col("__g").as("grp"))
      .agg(count(lit(1)).as("n_subj"), sum(col("__e")).as("o"))
    arms.join(fold, col("exp") <=> col("__x"), "left")
      .select(col("exp"), col("grp"), col("n_subj"), col("o"),
        coalesce(col("e1_micro"), lit(0L)).as("e1_micro"),
        coalesce(col("v_micro"), lit(0L)).as("v_micro"),
        col("chi2_micro"))
  }

  /** k-ARM, STRATIFIED log-rank test per experiment — the two
    * generalizations [[logRank]] refuses by contract (its 0/1 arm
    * check), in one operator: arms are ARBITRARY non-null values
    * (k of them), and the pooled risk-set walk runs WITHIN each
    * (experiment, stratum) so a confounder distributed unevenly
    * across arms (region, device class — the [[mantelHaenszel]]
    * motivation) cannot masquerade as a survival difference; pass a
    * constant stratum for the unstratified k-arm test. At each
    * stratum-local pooled event time tₖ with n_gk at risk in arm g:
    *
    *   E_gk = (10⁶·dₖ·n_gk) div nₖ     — integer-exact micro, the
    *                                      [[logRank]] lattice;
    *   O_g  = Σ d_gk,  E_g = Σ_strata Σ_k E_gk   (O−E summed across
    *          strata BEFORE the statistic — the CMH discipline)
    *
    * and the statistic is the standard conservative approximation
    * (Peto & Peto 1972 §7; R survdiff's per-arm column):
    *
    *   chi2_micro = Σ_g floor((10⁶·O_g − E_g_micro)² / E_g_micro)
    *
    * on k−1 df — CONSERVATIVE because it omits the off-diagonal
    * covariance (the exact quadratic form needs a (k−1)² matrix
    * inverse — not an integer-lattice object; for k = 2 use
    * [[logRank]]'s exact hypergeometric variance, which this
    * operator's per-arm O and E match bit-for-bit). Arms with
    * E_g = 0 contribute 0 (they were never at risk at an event
    * time); chi2 is null when k = 1 (0 df) or no events anywhere.
    * Output one row per (exp, grp): `n_subj, o, e_micro` with
    * `chi2_micro, df` attached to every arm row (the [[logRank]]
    * convention).
    *
    * Scale shape: one (exp, stratum, t, grp) aggregation; a
    * (times × arms) DENSIFICATION per stratum (the risk window
    * needs every arm evaluated at every pooled event time — fan-out
    * ×k, k = arm count, loudly ≤ 64); one descending-time cumulative
    * window per (exp, stratum, grp); one fold. Nothing subject-sized
    * crosses the second shuffle. The [[logRank]] overflow bound
    * applies per stratum.
    */
  def logRankK(df: DataFrame, expCol: String, stratumCol: String,
      groupCol: String, durCol: String, eventCol: String,
      maxArms: Int = 64): DataFrame = {
    require(maxArms >= 2 && maxArms <= 1024,
      s"maxArms=$maxArms out of [2, 1024]")
    val g = coalesce(col(groupCol).cast("string"),
      raise_error(lit("logRankK: null arm — a null is not an arm; " +
        "filter or impute visibly upstream")).cast("string"))
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("logRankK: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("logRankK: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      col(stratumCol).as("st"), g.as("grp"),
      when(dur < 0, raise_error(concat(
        lit("logRankK: negative duration "), dur.cast("string")))
        .cast("long")).otherwise(dur).as("t"),
      when(ev.isin(0L, 1L), ev).otherwise(
        raise_error(concat(lit("logRankK: event flag "),
          ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__e"))
    val counts = rows.groupBy(col("exp"), col("st"), col("t"),
        col("grp"))
      .agg(count(lit(1)).as("__c"), sum(col("__e")).as("__d"))
    // contract check forced through a FILTER, not a projected
    // column — a projected-but-unused raise_error gets pruned
    val armK = rows.groupBy(col("exp").as("__xa"))
      .agg(countDistinct(col("grp")).as("__k"))
      .filter(when(col("__k") > maxArms,
        raise_error(concat(lit("logRankK: experiment '"),
          coalesce(col("__xa").cast("string"), lit("NULL")),
          lit("' has "), col("__k").cast("string"),
          lit(s" arms > maxArms=$maxArms — the time grid densifies " +
            "×k; coarsen the arm taxonomy upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(col("__xa"))
    val times = counts.select(col("exp").as("__xt"),
      col("st").as("__st"), col("t").as("__t")).distinct()
    val arms = counts.select(col("exp").as("__xg"),
      col("st").as("__sg"), col("grp").as("__g")).distinct()
    val grid = times.join(arms, col("__xt") <=> col("__xg")
        && col("__st") <=> col("__sg"))
      .select(col("__xt").as("exp"), col("__st").as("st"),
        col("__t").as("t"), col("__g").as("grp"))
      .join(counts.select(col("exp").as("__x2"), col("st").as("__s2"),
          col("t").as("__t2"), col("grp").as("__g2"),
          col("__c"), col("__d")),
        col("exp") <=> col("__x2") && col("st") <=> col("__s2")
          && col("t") === col("__t2") && col("grp") === col("__g2"),
        "left")
      .select(col("exp"), col("st"), col("t"), col("grp"),
        coalesce(col("__c"), lit(0L)).as("__c"),
        coalesce(col("__d"), lit(0L)).as("__d"))
    val risk = Window.partitionBy(col("exp"), col("st"), col("grp"))
      .orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atT = Window.partitionBy(col("exp"), col("st"), col("t"))
    val et = grid
      .withColumn("__ng", sum(col("__c")).over(risk))
      .withColumn("__n", sum(col("__ng")).over(atT))
      .withColumn("__dt", sum(col("__d")).over(atT))
      .filter(col("__dt") >= 1)
      .withColumn("__eg",
        expr("(1000000L * (__dt * __ng)) div __n"))
    val perArm = rows.groupBy(col("exp"), col("grp"))
      .agg(count(lit(1)).as("n_subj"), sum(col("__e")).as("o"))
      .join(et.groupBy(col("exp").as("__x3"), col("grp").as("__g3"))
          .agg(sum(col("__eg")).as("e_micro")),
        col("exp") <=> col("__x3") && col("grp") === col("__g3"),
        "left")
      .select(col("exp"), col("grp"), col("n_subj"), col("o"),
        coalesce(col("e_micro"), lit(0L)).as("e_micro"))
    // per-arm (O−E)²/E floored once per arm (≤ 1 micro each, stated),
    // summed per experiment; arms never at risk at an event time
    // (E = 0 ⇒ O = 0 under the logRank subject bound) contribute 0
    val fold = perArm
      .withColumn("__term", when(col("e_micro") <= 0, lit(0L))
        .otherwise(floor(
          (lit(1000000L) * col("o") - col("e_micro")).cast("double")
            * (lit(1000000L) * col("o") - col("e_micro")).cast("double")
            / col("e_micro").cast("double")).cast("long")))
      .groupBy(col("exp").as("__x4"))
      .agg(sum(col("__term")).as("__chi"), sum(col("o")).as("__ot"),
        count(lit(1)).as("__ka"))
    perArm.join(armK, col("exp") <=> col("__xa"))
      .join(fold, col("exp") <=> col("__x4"))
      .select(col("exp"), col("grp"), col("n_subj"), col("o"),
        col("e_micro"),
        when(col("__ka") <= 1 || col("__ot") === 0,
          lit(null).cast("long")).otherwise(col("__chi"))
          .as("chi2_micro"),
        (col("__ka") - 1L).as("df"))
  }

  /** Fraction-free Bareiss determinant of a square BigInt matrix —
    * O(k³) with every intermediate an EXACT integer (each step's
    * division is exact by the Bareiss identity), partial pivoting by
    * first nonzero (deterministic; a sign flip per swap). The small
    * exact-linear-algebra kernel behind [[logRankKExact]]'s
    * quadratic form — k ≤ 16, so the matrix is a bounded driver-free
    * per-group object, never data-sized.
    */
  private[operators] def bareissDet(m0: Array[Array[BigInt]]): BigInt = {
    val n = m0.length
    if (n == 0) return BigInt(1)
    val a = m0.map(_.clone())
    var prev = BigInt(1)
    var sign = 1
    var i = 0
    while (i < n - 1) {
      if (a(i)(i).signum == 0) {
        var j = i + 1
        while (j < n && a(j)(i).signum == 0) j += 1
        if (j == n) return BigInt(0)
        val t = a(i); a(i) = a(j); a(j) = t; sign = -sign
      }
      var j = i + 1
      while (j < n) {
        var k = i + 1
        while (k < n) {
          a(j)(k) = (a(i)(i) * a(j)(k) - a(j)(i) * a(i)(k)) / prev
          k += 1
        }
        a(j)(i) = BigInt(0)
        j += 1
      }
      prev = a(i)(i)
      i += 1
    }
    a(n - 1)(n - 1) * sign
  }

  /** k-ARM, STRATIFIED log-rank test with the EXACT quadratic-form
    * statistic — the full-covariance form [[logRankK]] approximates
    * (its conservative Σ(O−E)²/E omits the off-diagonal
    * hypergeometric covariance and says so): at each stratum-local
    * pooled event time the covariance of the O−E vector is
    *
    *   V_gg(t) = d·n_g·(n−n_g)·(n−d) / (n²(n−1))
    *   V_gh(t) = −d·n_g·n_h·(n−d) / (n²(n−1)),  g ≠ h
    *
    * each entry floored ONCE per time to micro through EXACTLY
    * [[logRank]]'s IEEE chain (`(d·n_g)` long, then the double
    * products left-to-right, one division, ×10⁶, floor;
    * off-diagonals floor the POSITIVE magnitude computed on the
    * name-ordered pair — symmetric by construction — then negate,
    * biasing each |off-diag| DOWN by < 1 micro, stated), summed over
    * times and strata into the integer matrix W per experiment. With
    * the arm domain sorted by name and the FIRST arm dropped (the
    * full matrix is singular — rows sum to ~0; dropping the MINIMUM
    * arm makes the k = 2 case keep arm "1", whose Z and W₁₁ replay
    * [[logRank]]'s e1/v chain bit-for-bit), Z_g = 10⁶·O_g −
    * E_g_micro and
    *
    *   chi2_micro = floor( Zᵀ W⁻¹ Z )        on k−1 df
    *
    * (exact in the micro lattice: chi2 = zᵀV⁻¹z with z = Z/10⁶,
    * V = W/10⁶ gives ZᵀW⁻¹Z = 10⁶·chi2). Computed per experiment on
    * the ≤ 15×15 integer matrix: k = 2 replays [[logRank]]'s double
    * chain verbatim (floor(Z²ᵈ/Wᵈ) — the bit-for-bit contract);
    * k ≥ 3 goes through the bordered-determinant identity
    * Zᵀ·adj(W)·Z = −det([[W Z],[Zᵀ 0]]) with BOTH determinants by
    * fraction-free Bareiss elimination on BigInt ([[bareissDet]] —
    * exact integers throughout, the cofactor-inverse discipline of
    * the Helmert bridge at k² scale) and one exact floored division.
    * chi2 is null when k = 1, when no events occurred, or when
    * det(W) ≤ 0 (degenerate/singular design — e.g. an arm never at
    * risk with any other). Output is [[logRankK]]'s shape: one row
    * per (exp, grp) with `n_subj, o, e_micro` and `chi2_micro, df`
    * on every arm row.
    *
    * Scale shape: [[logRankK]]'s walk (one counts agg, ×k grid
    * densification, one descending-time window, one fold) plus ONE
    * arm-pair self-join of the event-time grid (×(k−1)/2 more, k
    * loudly ≤ `maxArms` ≤ 16 — the quadratic form is a (k−1)²
    * object) and one per-experiment kernel over collected k²-sized
    * matrix rows — bounded, never subject-sized.
    */
  def logRankKExact(df: DataFrame, expCol: String, stratumCol: String,
      groupCol: String, durCol: String, eventCol: String,
      maxArms: Int = 16): DataFrame = {
    require(maxArms >= 2 && maxArms <= 16,
      s"maxArms=$maxArms out of [2, 16] (the exact quadratic form " +
        "is a (k-1)^2 covariance object; use logRankK's " +
        "conservative statistic for wider arm taxonomies)")
    val g = coalesce(col(groupCol).cast("string"),
      raise_error(lit("logRankKExact: null arm — a null is not an " +
        "arm; filter or impute visibly upstream")).cast("string"))
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("logRankKExact: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("logRankKExact: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      col(stratumCol).as("st"), g.as("grp"),
      when(dur < 0, raise_error(concat(
        lit("logRankKExact: negative duration "), dur.cast("string")))
        .cast("long")).otherwise(dur).as("t"),
      when(ev.isin(0L, 1L), ev).otherwise(
        raise_error(concat(lit("logRankKExact: event flag "),
          ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__e"))
    val counts = rows.groupBy(col("exp"), col("st"), col("t"),
        col("grp"))
      .agg(count(lit(1)).as("__c"), sum(col("__e")).as("__d"))
    val armK = rows.groupBy(col("exp").as("__xa"))
      .agg(countDistinct(col("grp")).as("__k"))
      .filter(when(col("__k") > maxArms,
        raise_error(concat(lit("logRankKExact: experiment '"),
          coalesce(col("__xa").cast("string"), lit("NULL")),
          lit("' has "), col("__k").cast("string"),
          lit(s" arms > maxArms=$maxArms — the exact covariance " +
            "is (k-1)^2-sized; coarsen the arm taxonomy upstream " +
            "or use logRankK"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(col("__xa"))
    val times = counts.select(col("exp").as("__xt"),
      col("st").as("__st"), col("t").as("__t")).distinct()
    val arms = counts.select(col("exp").as("__xg"),
      col("st").as("__sg"), col("grp").as("__g")).distinct()
    val grid = times.join(arms, col("__xt") <=> col("__xg")
        && col("__st") <=> col("__sg"))
      .select(col("__xt").as("exp"), col("__st").as("st"),
        col("__t").as("t"), col("__g").as("grp"))
      .join(counts.select(col("exp").as("__x2"), col("st").as("__s2"),
          col("t").as("__t2"), col("grp").as("__g2"),
          col("__c"), col("__d")),
        col("exp") <=> col("__x2") && col("st") <=> col("__s2")
          && col("t") === col("__t2") && col("grp") === col("__g2"),
        "left")
      .select(col("exp"), col("st"), col("t"), col("grp"),
        coalesce(col("__c"), lit(0L)).as("__c"),
        coalesce(col("__d"), lit(0L)).as("__d"))
    val risk = Window.partitionBy(col("exp"), col("st"), col("grp"))
      .orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atT = Window.partitionBy(col("exp"), col("st"), col("t"))
    val et = grid
      .withColumn("__ng", sum(col("__c")).over(risk))
      .withColumn("__n", sum(col("__ng")).over(atT))
      .withColumn("__dt", sum(col("__d")).over(atT))
      .filter(col("__dt") >= 1)
    val eArm = et
      .withColumn("__eg", expr("(1000000L * (__dt * __ng)) div __n"))
      .groupBy(col("exp").as("__x3"), col("grp").as("__g3"))
      .agg(sum(col("__eg")).as("e_micro"))
    // per-time covariance entries on the q310 double chain; the
    // denominator is shared, numerators differ diag vs off-diag
    val den = col("__n").cast("double") * col("__n").cast("double") *
      (col("__n") - lit(1L)).cast("double")
    val diag = et.filter(col("__n") > 1)
      .select(col("exp"), col("grp").as("__ga"),
        col("grp").as("__gb"),
        floor((col("__dt") * col("__ng")).cast("double")
          * (col("__n") - col("__ng")).cast("double")
          * (col("__n") - col("__dt")).cast("double")
          / den * 1000000).cast("long").as("__w"))
    val offd = et.filter(col("__n") > 1)
      .select(col("exp").as("__xp"), col("st").as("__sp"),
        col("t").as("__tp"), col("grp").as("__gp"),
        col("__ng").as("__ngp"), col("__n"), col("__dt"))
      .join(et.select(col("exp").as("__xq"), col("st").as("__sq"),
          col("t").as("__tq"), col("grp").as("__gq"),
          col("__ng").as("__ngq")),
        col("__xp") <=> col("__xq") && col("__sp") <=> col("__sq")
          && col("__tp") === col("__tq")
          && col("__gp") < col("__gq"))
      .select(col("__xp").as("exp"), col("__gp").as("__ga"),
        col("__gq").as("__gb"),
        (-floor((col("__dt") * col("__ngp")).cast("double")
          * col("__ngq").cast("double")
          * (col("__n") - col("__dt")).cast("double")
          / (col("__n").cast("double") * col("__n").cast("double")
            * (col("__n") - lit(1L)).cast("double"))
          * 1000000).cast("long")).as("__w"))
    val wFold = diag.unionByName(offd)
      .groupBy(col("exp").as("__x4"), col("__ga"), col("__gb"))
      .agg(sum(col("__w")).as("__w"))
    val perArm = rows.groupBy(col("exp"), col("grp"))
      .agg(count(lit(1)).as("n_subj"), sum(col("__e")).as("o"))
      .join(eArm, col("exp") <=> col("__x3")
          && col("grp") === col("__g3"), "left")
      .select(col("exp"), col("grp"), col("n_subj"), col("o"),
        coalesce(col("e_micro"), lit(0L)).as("e_micro"))
    // per-experiment exact quadratic form over the collected
    // (k-1)^2 matrix — a bounded k<=16 object per group, never
    // subject-sized
    val quad = udf { (zs: Seq[Row], ws: Seq[Row]) =>
      val armSorted = zs.map(_.getString(0)).sorted
      if (armSorted.size <= 1) None
      else {
        val kept = armSorted.drop(1)
        val idx = kept.zipWithIndex.toMap
        val m = kept.size
        val zv = new Array[Long](m)
        zs.foreach { r =>
          idx.get(r.getString(0)).foreach(i => zv(i) = r.getLong(1))
        }
        val wm = Array.fill(m, m)(BigInt(0))
        ws.foreach { r =>
          (idx.get(r.getString(0)), idx.get(r.getString(1))) match {
            case (Some(i), Some(j)) =>
              wm(i)(j) += BigInt(r.getLong(2))
              if (i != j) wm(j)(i) += BigInt(r.getLong(2))
            case _ => () // a pair involving the dropped arm
          }
        }
        if (m == 1) {
          // the k = 2 contract: logRank's exact IEEE chain, verbatim
          if (wm(0)(0).signum <= 0) None
          else Some(math.floor(zv(0).toDouble * zv(0).toDouble
            / wm(0)(0).toDouble).toLong)
        } else {
          val detW = bareissDet(wm)
          if (detW.signum <= 0) None
          else {
            // bordered determinant: Z' adj(W) Z = -det([[W Z];[Z' 0]])
            val b = Array.tabulate(m + 1, m + 1) { (i, j) =>
              if (i < m && j < m) wm(i)(j)
              else if (i < m && j == m) BigInt(zv(i))
              else if (i == m && j < m) BigInt(zv(j))
              else BigInt(0)
            }
            val num = -bareissDet(b)
            // exact floored division (num >= 0 when W is PD; a
            // floor-negative pathological lattice case still floors
            // toward -inf consistently)
            val (q, r) = num /% detW
            Some(if (r.signum != 0 && (r.signum != detW.signum))
              (q - 1).toLong else q.toLong)
          }
        }
      }
    }
    val zRows = perArm.select(col("exp").as("__xz"), col("grp"),
      (lit(1000000L) * col("o") - col("e_micro")).as("__z"))
    val folded = zRows
      .groupBy(col("__xz"))
      .agg(collect_list(struct(col("grp"), col("__z"))).as("__zl"),
        count(lit(1)).as("__ka"))
    val wl = wFold.groupBy(col("__x4"))
      .agg(collect_list(struct(col("__ga"), col("__gb"),
        col("__w"))).as("__wl"))
    val chi = folded.join(wl, col("__xz") <=> col("__x4"), "left")
      .select(col("__xz"),
        when(col("__ka") <= 1, lit(null).cast("long"))
          .otherwise(quad(col("__zl"),
            coalesce(col("__wl"),
              array().cast("array<struct<__ga:string,__gb:string," +
                "__w:bigint>>"))))
          .as("chi2_micro"),
        (col("__ka") - 1L).as("df"))
    perArm.join(armK, col("exp") <=> col("__xa"))
      .join(chi, col("exp") <=> col("__xz"))
      .select(col("exp"), col("grp"), col("n_subj"), col("o"),
        col("e_micro"), col("chi2_micro"), col("df"))
  }

  /** Poisson(1) bootstrap cumulative thresholds on the Lehmer [0, M)
    * lattice: tₖ = floor(P(X ≤ k)·M) for k = 0..7, the tail mass
    * (P > 8) ≈ 10⁻⁶ folded into w = 8. Driver-computed doubles baked
    * into plan AND oracle as the same integer literals — the q300
    * salt discipline.
    */
  private[graft] def poissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val pmf = (0 to 7).scanLeft(e1)((p, k) => p / (k + 1)).take(8)
    pmf.scanLeft(0.0)(_ + _).drop(1)
      .map(c => math.floor(c * LehmerM).toLong)
  }

  /** Percentile bootstrap confidence interval for a keyed mean — the
    * assumption-free uncertainty readout next to the point estimates
    * ([[cuped]]/[[diffInDiff]] emit adjusted means; this bounds them):
    * the POISSON bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams" — the resampling that
    * distributes, because each unit draws its replicate weights
    * independently: w ~ Poisson(1) approximates the multinomial
    * resample as n → ∞), with every draw DETERMINISTIC from the
    * seeded Lehmer stream over (unit id, replicate) — the
    * [[graft.operators.Anonymize.noisyCounts]] discipline, so runs
    * reproduce and the oracle replays every weight:
    *
    *   u(id, r)  = lehmer(lehmer(lehmer(id + seed) + r))   ∈ [0, M)
    *   w(id, r)  = #{ k ≤ 7 : u ≥ tₖ }                     ∈ [0, 8]
    *   mean_r    = floor(10⁶·Σ w·v / Σ w)    (null when Σw = 0)
    *   CI        = the loPm/hiPm per-mille LOWER-rank quantiles of
    *               the B replicate means (integer-ceil ranks, the
    *               quantileDrift convention)
    *
    * Output one row per key: `key, n, b_eff` (replicates with Σw > 0
    * — all B except vanishingly rare tiny-group wipeouts),
    * `mean_micro` (the plain point estimate), `lo_micro, hi_micro`.
    * Unit ids and values must be non-null long-castable (refused
    * loudly — a dropped unit would shift every replicate); the
    * Poisson tail is capped at w = 8 (P ≈ 10⁻⁶, documented bias far
    * below any CI width).
    *
    * Scale shape: one B-way explode (inside codegen) → one
    * (key, replicate) map-side-combined aggregation → one
    * key-partitioned rank window over ≤ B replicate rows per key →
    * one key fold. Cost is B× the base scan by construction —
    * B ≤ 1024 is the loud contract; nothing unit-sized shuffles.
    */
  def bootstrapCi(df: DataFrame, keyCol: String, idCol: String,
      valCol: String, b: Int = 200, seed: Long = 1L,
      loPm: Int = 25, hiPm: Int = 975): DataFrame = {
    require(b >= 8 && b <= 1024, s"b=$b out of [8, 1024]")
    require(loPm >= 1 && hiPm <= 999 && loPm < hiPm,
      s"need 1 <= loPm < hiPm <= 999, got $loPm/$hiPm")
    val id = coalesce(col(idCol).try_cast("long"),
      raise_error(concat(lit("bootstrapCi: unit id '"),
        coalesce(col(idCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("bootstrapCi: value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — quantize upstream")))
        .cast("long"))
    val ts = poissonThresholds
    val rows = df.select(col(keyCol).as("key"), id.as("__id"),
      v.as("__v"))
    val point = rows.groupBy(col("key").as("__k"))
      .agg(count(lit(1)).as("n"),
        floor(sum(col("__v")).cast("double") * 1000000
          / count(lit(1)).cast("double")).cast("long").as("mean_micro"))
    val reps = rows
      .select(col("key"), col("__id"), col("__v"),
        explode(sequence(lit(0), lit(b - 1))).as("__r"))
      .withColumn("__u",
        lehmer(lehmer(lehmer(col("__id") + lit(seed))
          + col("__r").cast("long"))))
      .withColumn("__w",
        ts.map(t => when(col("__u") >= t, 1L).otherwise(0L))
          .reduce(_ + _))
      .groupBy(col("key"), col("__r"))
      .agg(sum(col("__w") * col("__v")).as("__swv"),
        sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .withColumn("__mean",
        floor(col("__swv").cast("double") * 1000000
          / col("__sw").cast("double")).cast("long"))
    val w = Window.partitionBy(col("key")).orderBy(col("__mean"),
      col("__r"))
    val ranked = reps
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__beff", count(lit(1)).over(
        Window.partitionBy(col("key"))))
    val ci = ranked
      .withColumn("__lo_t",
        greatest(lit(1L), expr(s"($loPm * __beff + 999L) div 1000L")))
      .withColumn("__hi_t",
        greatest(lit(1L), expr(s"($hiPm * __beff + 999L) div 1000L")))
      .groupBy(col("key"))
      .agg(max(col("__beff")).as("b_eff"),
        max(when(col("__rk") === col("__lo_t"), col("__mean")))
          .as("lo_micro"),
        max(when(col("__rk") === col("__hi_t"), col("__mean")))
          .as("hi_micro"))
    ci.join(point, col("key") <=> col("__k"))
      .select(col("key"), col("n"), col("b_eff"), col("mean_micro"),
        col("lo_micro"), col("hi_micro"))
  }

  /** Cliff's delta per experiment — the nonparametric effect size
    * that answers what [[mannWhitneyU]]'s significance cannot: HOW
    * MUCH does group 1 dominate group 0. δ = P(x₁ > x₀) − P(x₁ < x₀)
    * over all cross-group pairs, ties counting to neither — which is
    * exactly a rescaling of the U statistic the rank machinery
    * already produces (U₁ counts wins + half-ties on the doubled
    * lattice):
    *
    *   delta_ppm = (10⁶ · (u1_x2 − n0·n1)) div (n0·n1)   ∈ [−10⁶, 10⁶]
    *
    * — integer-exact end to end, one integral division (both engines
    * truncate toward zero). |δ| ≲ 0.147/0.33/0.474 are the published
    * negligible/small/medium fences (Romano et al. 2006). Null when
    * a group is empty. Inherits the U machinery's loud refusals
    * (groups exactly {0,1}, values integer-lattice non-null) and its
    * scale shape: one (exp, value) count + one exp-partitioned
    * window over DISTINCT values — never the pairs themselves.
    */
  def cliffsDelta(df: DataFrame, expCol: String, groupCol: String,
      valCol: String): DataFrame =
    mannWhitneyU(df, expCol, groupCol, valCol)
      .select(col("exp"), col("n0"), col("n1"),
        when(col("n0") * col("n1") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(1000000L * (u1_x2 - n0 * n1)) div (n0 * n1)"))
          .as("delta_ppm"))

  /** Cohen's d per experiment — the standardized mean difference on
    * the POOLED standard deviation, the parametric effect size next
    * to [[cliffsDelta]]'s rank one (report both: d assumes the
    * scale matters, δ only the order). With exact integer sums per
    * arm (n, S = Σv, Q = Σv²), cleared of fractions:
    *
    *   pooled SS = (n₀·Q₀ − S₀²)/n₀ + (n₁·Q₁ − S₁²)/n₁
    *   d = (S₁/n₁ − S₀/n₀) / sqrt(pooled SS / (n₀+n₁−2))
    *
    * evaluated in ONE fixed IEEE chain over the integer aggregates
    * (every op — casts, divides, sqrt, multiply, floor — exactly
    * rounded, so both engines land the same bit):
    * `d_milli = floor(1000 · (m1 − m0) / sqrt(((n0·Q0 − S0²)/n0 +
    * (n1·Q1 − S1²)/n1) / (n0+n1−2)))`. Milli, not ppm — d lives on
    * a ±3 scale where 10⁻³ resolution is already past any practical
    * use. Null when either arm has < 2 rows or the pooled variance
    * is 0. Sums ride int64: n·Q ≈ n·v² is ANSI-loud past 9·10¹⁸ —
    * quantize coarser upstream for huge arms (stated, the
    * [[graft.operators.Ops.groupOls]] cliff convention).
    *
    * Scale shape: ONE map-side-combined aggregation per (exp, group)
    * + a 2-row pivot fold per experiment. Nothing else moves.
    */
  def cohensD(df: DataFrame, expCol: String, groupCol: String,
      valCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("cohensD group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — two arms only"))).cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("cohensD value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row " +
          "would bias both moments"))).cast("long"))
    val arms = df
      .select(col(expCol).as("exp"), g.as("__g"), v.as("__v"))
      .groupBy(col("exp"))
      .agg(
        sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__g") === 0L, col("__v")).otherwise(0L))
          .as("__s0"),
        sum(when(col("__g") === 1L, col("__v")).otherwise(0L))
          .as("__s1"),
        sum(when(col("__g") === 0L, col("__v") * col("__v"))
          .otherwise(0L)).as("__q0"),
        sum(when(col("__g") === 1L, col("__v") * col("__v"))
          .otherwise(0L)).as("__q1"))
    arms.select(col("exp"), col("n0"), col("n1"),
      when(col("n0") < 2 || col("n1") < 2, lit(null).cast("long"))
        .otherwise(
          when(expr("(n0 * __q0 - __s0 * __s0)") === 0L
              && expr("(n1 * __q1 - __s1 * __s1)") === 0L,
            lit(null).cast("long"))
          .otherwise(floor(lit(1000.0)
            * (col("__s1").cast("double") / col("n1").cast("double")
              - col("__s0").cast("double") / col("n0").cast("double"))
            / sqrt(((col("n0") * col("__q0")
                - col("__s0") * col("__s0")).cast("double")
                  / col("n0").cast("double")
              + (col("n1") * col("__q1")
                - col("__s1") * col("__s1")).cast("double")
                  / col("n1").cast("double"))
              / (col("n0") + col("n1") - 2L).cast("double")))
            .cast("long")))
        .as("d_milli"))
  }

  /** Post-stratified treatment effect per experiment — the
    * variance-reduction estimator next to [[cuped]] when the
    * covariate is CATEGORICAL (country, platform, cohort): the
    * within-stratum mean differences, weighted by stratum size,
    *
    *   ATE = Σ_s (n_s/N) · (ȳ₁ₛ − ȳ₀ₛ)
    *
    * on the documented micro lattice: per stratum the EXACT cleared
    * fraction `diff_micro_s = (10⁶·(s₁·n₀ − s₀·n₁)) div (n₁·n₀)` on
    * DECIMAL(38) (the cross product overflows int64 at stratum sums
    * ≈ 10⁹), then `ate_micro = (Σ n_s·diff_micro_s) div N` — two
    * integral divisions, each floor stated (≤ 1 micro per stratum).
    * Strata where an arm is EMPTY have no within-stratum contrast —
    * they are EXCLUDED VISIBLY (`n_excluded_strata` and
    * `n_excluded_rows` ride on the output; silently keeping them
    * would divide by zero, silently zeroing them would bias toward
    * null). The unadjusted contrast over the SAME included rows
    * (`simple_diff_micro`) rides along — the whole point of the
    * estimator is the gap between the two. Null ATE when no stratum
    * survives. Groups exactly {0,1} and integer-lattice values,
    * refused loudly.
    *
    * Scale shape: ONE (exp, stratum) map-side-combined aggregation +
    * one exp fold — nothing row-sized shuffles twice, no window at
    * all.
    */
  def stratifiedAte(df: DataFrame, expCol: String, stratumCol: String,
      groupCol: String, valCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(lit("stratifiedAte group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — two arms only"))).cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("stratifiedAte value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val cells = df.select(col(expCol).as("exp"),
        col(stratumCol).as("stratum"), g.as("__g"), v.as("__v"))
      .groupBy(col("exp"), col("stratum"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__g") === 0L, col("__v")).otherwise(0L))
          .as("s0"),
        sum(when(col("__g") === 1L, col("__v")).otherwise(0L))
          .as("s1"))
      .withColumn("__ok", col("n0") > 0 && col("n1") > 0)
      .withColumn("__diff", when(col("__ok"), expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) " +
          "* (CAST(s1 AS DECIMAL(38,0)) * n0 " +
          "- CAST(s0 AS DECIMAL(38,0)) * n1)) " +
          "div (CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)")))
    cells.groupBy(col("exp"))
      .agg(sum(when(col("__ok"), 1L).otherwise(0L)).as("n_strata"),
        sum(when(col("__ok"), col("n0") + col("n1")).otherwise(0L))
          .as("n"),
        sum(when(!col("__ok"), 1L).otherwise(0L))
          .as("n_excluded_strata"),
        sum(when(!col("__ok"), col("n0") + col("n1")).otherwise(0L))
          .as("n_excluded_rows"),
        sum(when(col("__ok"),
          (col("n0") + col("n1")).cast("decimal(38,0)")
            * col("__diff")).otherwise(lit(0L)
            .cast("decimal(38,0)"))).as("__wsum"),
        sum(when(col("__ok"), col("n0")).otherwise(0L)).as("__tn0"),
        sum(when(col("__ok"), col("n1")).otherwise(0L)).as("__tn1"),
        sum(when(col("__ok"), col("s0")).otherwise(0L)).as("__ts0"),
        sum(when(col("__ok"), col("s1")).otherwise(0L)).as("__ts1"))
      .select(col("exp"), col("n_strata"), col("n"),
        col("n_excluded_strata"), col("n_excluded_rows"),
        when(col("n_strata") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(__wsum div CAST(n AS DECIMAL(38,0)) " +
            "AS BIGINT)")).as("ate_micro"),
        when(col("n_strata") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) " +
              "* (CAST(__ts1 AS DECIMAL(38,0)) * __tn0 " +
              "- CAST(__ts0 AS DECIMAL(38,0)) * __tn1)) " +
              "div (CAST(__tn1 AS DECIMAL(38,0)) * __tn0) " +
              "AS BIGINT)")).as("simple_diff_micro"))
  }

  /** Holm–Bonferroni step-down control per test family — the
    * family-wise-error companion to [[benjaminiHochberg]]'s FDR
    * (Holm 1979: when ANY false rejection is unacceptable —
    * launch/no-launch gates — FWER is the contract, and Holm
    * uniformly dominates plain Bonferroni). Hypotheses ranked by
    * ascending `(p_ppm, id)`; the adjusted p is the running maximum
    * of `(m−k+1)·p_(k)` clipped to 10⁶ (monotone by construction),
    * and `reject = adj_ppm ≤ alphaPpm` — the step-down stop falls
    * out of the running max, no driver logic. All integer: the
    * (m−k+1)·p product is int64-safe to m ≈ 10¹²·… (p ≤ 10⁶, so m <
    * 9·10¹²). Same null-safe family fold and input refusals as BH
    * (p in [0, 10⁶] ppm).
    *
    * Scale shape: ONE family-partitioned rank window (never global)
    * carrying rank, count and running max in a single pass.
    */
  def holmBonferroni(df: DataFrame, groupCol: String, idCol: String,
      pPpmCol: String, alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm < 1000000L,
      s"alphaPpm=$alphaPpm out of [1, 1000000)")
    val p = coalesce(col(pPpmCol).try_cast("long"),
      raise_error(concat(lit("holmBonferroni p-value '"),
        coalesce(col(pPpmCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val w = Window.partitionBy(col("grp")).orderBy(col("p_ppm"),
      col("id"))
    df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        when(p >= 0 && p <= 1000000L, p).otherwise(
          raise_error(concat(lit("holmBonferroni p-value "),
            p.cast("string"), lit(" outside [0, 1000000] ppm")))
            .cast("long")).as("p_ppm"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
      .withColumn("adj_ppm", least(lit(1000000L),
        max((col("m") - col("k") + 1L) * col("p_ppm"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow))))
      .withColumn("reject", col("adj_ppm") <= alphaPpm)
  }

  /** Wald's SPRT over a binary metric per experiment — the
    * SEQUENTIAL decision [[abTest]] cannot give (a fixed-horizon z
    * peeked at daily inflates α; the SPRT's boundaries are valid at
    * EVERY look by construction, Wald 1945): in `(ts, tie)` arrival
    * order the running log-likelihood ratio of H1: p = p1 against
    * H0: p = p0,
    *
    *   llr_t = s_t·ln(p1/p0) + (n_t−s_t)·ln((1−p1)/(1−p0))
    *
    * floored ONCE per row to micro-nats in a fixed IEEE chain (the
    * two ln constants are exact ratios of the milli parameters, so
    * both engines compute bit-identical terms), against
    * `upper = floor(10⁶·ln((1−β)/α))` and `lower =
    * floor(10⁶·ln(β/(1−α)))`. The FIRST row crossing a boundary
    * decides — `reject_h0` above (evidence for p1), `accept_h0`
    * below — and the decision row (`decision_ts/tie/n/llr`) rides on
    * the per-experiment summary with `continue` when no boundary was
    * ever hit. Conversions must be 0/1 and positions `(ts, tie)`
    * unique per experiment, refused loudly. One experiment-
    * partitioned window (running sums) + one fold — no iteration,
    * no driver logic.
    */
  def sprtBinary(df: DataFrame, expCol: String, tsCol: String,
      tieCol: String, convCol: String, p0Milli: Long, p1Milli: Long,
      alphaMilli: Long, betaMilli: Long): DataFrame = {
    require(p0Milli >= 1 && p0Milli <= 999,
      s"p0Milli=$p0Milli out of [1, 999]")
    require(p1Milli >= 1 && p1Milli <= 999 && p1Milli != p0Milli,
      s"p1Milli=$p1Milli must be in [1, 999] and differ from p0")
    require(alphaMilli >= 1 && alphaMilli <= 499,
      s"alphaMilli=$alphaMilli out of [1, 499]")
    require(betaMilli >= 1 && betaMilli <= 499,
      s"betaMilli=$betaMilli out of [1, 499]")
    val l1 = math.log(p1Milli.toDouble / p0Milli.toDouble)
    val l0 = math.log((1000L - p1Milli).toDouble
      / (1000L - p0Milli).toDouble)
    val upper = math.floor(1000000.0
      * math.log((1000L - betaMilli).toDouble / alphaMilli.toDouble))
      .toLong
    val lower = math.floor(1000000.0
      * math.log(betaMilli.toDouble / (1000L - alphaMilli).toDouble))
      .toLong
    val cv = coalesce(col(convCol).try_cast("long"),
      raise_error(concat(lit("sprtBinary conversion '"),
        coalesce(col(convCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      col(tsCol).cast("long").as("__t"),
      col(tieCol).cast("long").as("__e"),
      when(cv.isin(0L, 1L), cv).otherwise(
        raise_error(concat(lit("sprtBinary conversion "),
          cv.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__c"))
    val dupW = Window.partitionBy(col("exp"), col("__t"), col("__e"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("sprtBinary: duplicate position " +
          "(ts, tie) in experiment '"),
          coalesce(col("exp").cast("string"), lit("NULL")),
          lit("' — the arrival order decides the stopping time; " +
            "it must be total"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val w = Window.partitionBy(col("exp"))
      .orderBy(col("__t"), col("__e"))
    val walked = checked
      .withColumn("__s", sum(col("__c")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__llr", floor(lit(1000000.0)
        * (col("__s").cast("double") * lit(l1)
          + (col("__n") - col("__s")).cast("double") * lit(l0)))
        .cast("long"))
    val summary = walked.groupBy(col("exp"))
      .agg(max(col("__n")).as("n"), max(col("__s")).as("s"),
        max(struct(col("__n"), col("__llr"))).as("__last"))
      .select(col("exp"), col("n"), col("s"),
        col("__last.__llr").as("llr_final_micro"))
    val crossed = walked
      .filter(col("__llr") >= upper || col("__llr") <= lower)
      .groupBy(col("exp").as("__x"))
      .agg(min(struct(col("__t"), col("__e"), col("__n"),
        col("__llr"))).as("__first"))
      .select(col("__x"),
        col("__first.__t").as("decision_ts"),
        col("__first.__e").as("decision_tie"),
        col("__first.__n").as("n_at_decision"),
        col("__first.__llr").as("llr_at_decision"),
        when(col("__first.__llr") >= upper, lit("reject_h0"))
          .otherwise(lit("accept_h0")).as("__d"))
    summary.join(crossed, col("exp") <=> col("__x"), "left")
      .select(col("exp"), col("n"), col("s"),
        col("llr_final_micro"),
        lit(upper).as("upper_micro"), lit(lower).as("lower_micro"),
        coalesce(col("__d"), lit("continue")).as("decision"),
        col("decision_ts"), col("decision_tie"),
        col("n_at_decision"), col("llr_at_decision"))
  }

  /** Anytime-valid e-process monitor over a binary metric per
    * experiment — the mixture-SPRT companion to [[sprtBinary]] that
    * needs NO point alternative (Wald's test asks "p0 or p1?"; a
    * platform monitor usually can't name p1): the running e-process
    *
    *   E_t = Π_{i≤t} q(x_i | s_{i−1}, n_{i−1}) / p0(x_i)
    *
    * with q the Krichevsky–Trofimov predictive (s+½)/(n+1) — the
    * Beta(½,½) mixture likelihood ratio evaluated one factor at a
    * time, so EVERY factor is an exact integer ratio on the count
    * lattice: for x=1 the factor is (1000·(2s+1)) / (2·(n+1)·p0m),
    * for x=0 it is (1000·(2(n−s)+1)) / (2·(n+1)·(1000−p0m)), with
    * (s, n) the counts BEFORE the row. E_t is a nonnegative
    * supermartingale with E[E_t] = 1 under H0, so by Ville's
    * inequality P(sup E_t ≥ 1/α) ≤ α — the threshold is valid at
    * EVERY look and under ANY stopping rule (Ramdas et al. 2023,
    * "Game-theoretic statistics"; the mSPRT of Johari et al. 2017
    * is the same construction with a Gaussian mixture). In ln space:
    * each factor contributes `floor(10⁹·ln(a/b))` NANO-nats (one ln
    * of one exactly-represented integer ratio per row, the q339 ln
    * discipline; the per-row floor biases the sum DOWN by < 1 nano
    * each — conservative, it can only delay a rejection, stated),
    * summed as INTEGERS in arrival order against
    * `threshold_nano = floor(10⁹·ln(1000/alphaMilli))`. The FIRST
    * row at or above the threshold decides `reject_h0`; an
    * e-process never accepts H0 (evidence can only fail to
    * accumulate) — the alternative decision is `continue`, and the
    * test stays open forever by design. Conversions must be 0/1 and
    * positions (ts, tie) unique per experiment, refused loudly (the
    * [[sprtBinary]] contracts). Batch-vs-stream equality scope:
    * this batch walk keeps accumulating `n`, `s`, `e_final_nano`
    * over rows AFTER a threshold crossing (the summary describes
    * the whole input), while the streaming twin absorbs
    * post-decision rows — "stream ≡ batch" covers exactly the
    * decision fields (`decision`, `decision_ts`, `decision_tie`,
    * `n_at_decision`, `e_at_decision`) bit-for-bit; the final
    * summary fields diverge past a mid-stream rejection by design.
    *
    * Scale shape: ONE experiment-partitioned window (two exclusive
    * running counts + one integer cumulative sum ride the same
    * sort) + one fold — no iteration, no float state anywhere.
    */
  def eProcessBinary(df: DataFrame, expCol: String, tsCol: String,
      tieCol: String, convCol: String, p0Milli: Long,
      alphaMilli: Long): DataFrame = {
    require(p0Milli >= 1 && p0Milli <= 999,
      s"p0Milli=$p0Milli out of [1, 999]")
    require(alphaMilli >= 1 && alphaMilli <= 499,
      s"alphaMilli=$alphaMilli out of [1, 499]")
    val threshold = math.floor(1.0e9
      * math.log(1000.0 / alphaMilli.toDouble)).toLong
    val cv = coalesce(col(convCol).try_cast("long"),
      raise_error(concat(lit("eProcessBinary conversion '"),
        coalesce(col(convCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      col(tsCol).cast("long").as("__t"),
      col(tieCol).cast("long").as("__e"),
      when(cv.isin(0L, 1L), cv).otherwise(
        raise_error(concat(lit("eProcessBinary conversion "),
          cv.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__c"))
    val dupW = Window.partitionBy(col("exp"), col("__t"), col("__e"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("eProcessBinary: duplicate position " +
          "(ts, tie) in experiment '"),
          coalesce(col("exp").cast("string"), lit("NULL")),
          lit("' — the arrival order is the e-process; it must be " +
            "total"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val w = Window.partitionBy(col("exp"))
      .orderBy(col("__t"), col("__e"))
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    val walked = checked
      .withColumn("__sp", coalesce(sum(col("__c")).over(prev),
        lit(0L)))
      .withColumn("__np", count(lit(1)).over(prev))
      .withColumn("__a", when(col("__c") === 1L,
          lit(1000L) * (lit(2L) * col("__sp") + 1L))
        .otherwise(lit(1000L)
          * (lit(2L) * (col("__np") - col("__sp")) + 1L)))
      .withColumn("__b", when(col("__c") === 1L,
          lit(2L) * (col("__np") + 1L) * lit(p0Milli))
        .otherwise(lit(2L) * (col("__np") + 1L)
          * lit(1000L - p0Milli)))
      .withColumn("__term", floor(lit(1.0e9)
        * log(col("__a").cast("double") / col("__b").cast("double")))
        .cast("long"))
      .withColumn("__ln", sum(col("__term")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", col("__np") + 1L)
      .withColumn("__s", col("__sp") + col("__c"))
    val summary = walked.groupBy(col("exp"))
      .agg(max(col("__n")).as("n"), max(col("__s")).as("s"),
        max(struct(col("__n"), col("__ln"))).as("__last"))
      .select(col("exp"), col("n"), col("s"),
        col("__last.__ln").as("e_final_nano"))
    val crossed = walked
      .filter(col("__ln") >= threshold)
      .groupBy(col("exp").as("__x"))
      .agg(min(struct(col("__t"), col("__e"), col("__n"),
        col("__ln"))).as("__first"))
      .select(col("__x"),
        col("__first.__t").as("decision_ts"),
        col("__first.__e").as("decision_tie"),
        col("__first.__n").as("n_at_decision"),
        col("__first.__ln").as("e_at_decision"))
    summary.join(crossed, col("exp") <=> col("__x"), "left")
      .select(col("exp"), col("n"), col("s"),
        col("e_final_nano"), lit(threshold).as("threshold_nano"),
        when(col("decision_ts").isNull, lit("continue"))
          .otherwise(lit("reject_h0")).as("decision"),
        col("decision_ts"), col("decision_tie"),
        col("n_at_decision"), col("e_at_decision"))
  }

  /** Anytime-valid e-process monitor over a BOUNDED-MEAN metric per
    * experiment — the continuous-outcome companion [[eProcessBinary]]
    * refuses by its {0,1} contract (revenue, session length,
    * latency: the common experimentation metrics are means, not
    * conversions): the betting martingale of Waudby-Smith & Ramdas
    * (2024, "Estimating means of bounded random variables by
    * betting", JRSS-B; the e-process view in Ramdas et al. 2023)
    * for the one-sided composite null H0: μ ≤ m on values in
    * [0, 1], here carried on the PER-MILLE lattice — values must be
    * long-castable integers in [0, 1000] (scale a wider metric to
    * the lattice upstream, VISIBLY — the bounded-range contract
    * replaces the binary operator's {0,1} refusal):
    *
    *   E_t = Π_{i≤t} (1 + λ_i·(x_i − m)),   λ_i predictable, ≥ 0
    *
    * Under ANY H0 law with mean μ ≤ m, E[1 + λ(x − m) | past] =
    * 1 + λ(μ − m) ≤ 1, so E_t is a nonnegative supermartingale and
    * Ville's inequality licenses the always-valid threshold
    * P(sup E_t ≥ 1/α) ≤ α — validity holds for EVERY predictable
    * bet; the bet rule only buys power. The bet is the aGRAPA-style
    * plug-in λ_t ≈ (μ̂ − m)/σ̂² (WSR §B.2), made EXACT on the
    * integer lattice from the pre-row counts (n', s' = Σx, q' = Σx²
    * BEFORE the row, one prior pseudo-observation anchoring both
    * moments — x = m for the mean, x² = ¼ for the second moment,
    * WSR's σ̂₀² = ¼ prior):
    *
    *   μ̂  = (m + s') div (n' + 1)                     (milli)
    *   m2  = (250000 + q') div (n' + 1)                (milli²)
    *   σ̂² = max(2500, m2 − μ̂²)                        (milli²)
    *   λ   = clip( (10⁶·(μ̂ − m)) div σ̂², 0, 500000 div m )
    *
    * (the 2500 floor keeps the bet bounded on near-constant data;
    * the cap λ ≤ 5·10⁵/m is WSR's c = ½ truncation — at x = 0 the
    * factor is ≥ ½, never ≤ 0; Spark `div` truncates toward zero
    * and DuckDB `//` floors, but every negative-or-zero quotient is
    * clipped to 0 by the max and every positive quotient agrees, so
    * both engines produce the SAME λ). Each factor is then the
    * exact integer ratio
    *
    *   (10⁶ + λ·(x − m)) / 10⁶   ∈ [½, ~501]
    *
    * contributing `floor(10⁹·ln(num/10⁶))` NANO-nats (one ln of one
    * exactly-represented integer ratio per row, the
    * [[eProcessBinary]] discipline; the per-row floor biases the
    * sum DOWN — conservative, it can only delay a rejection),
    * summed as INTEGERS in arrival order against `threshold_nano =
    * floor(10⁹·ln(1000/alphaMilli))`. The FIRST row at or above the
    * threshold decides `reject_h0`; otherwise `continue` — an
    * e-process never accepts, the test stays open forever. For the
    * other side (H1: μ < m) run on 1000 − x with m → 1000 − m.
    * Positions (ts, tie) must be unique per experiment, refused
    * loudly. Int64-safe to ~1.4·10⁹ rows per experiment (max
    * per-row term ≈ 6.2 nano-nats·10⁹). Batch-vs-stream equality
    * scope (the [[eProcessBinary]] statement): "stream ≡ batch"
    * covers the decision fields bit-for-bit; this batch summary's
    * `n`, `sum_milli`, `e_final_nano` keep accumulating past a
    * mid-stream rejection by design.
    *
    * Scale shape: ONE experiment-partitioned window (three
    * exclusive-frame running moments + one integer cumulative sum
    * ride the same sort) + one fold — no iteration, no float state.
    */
  def eProcessMean(df: DataFrame, expCol: String, tsCol: String,
      tieCol: String, valCol: String, mMilli: Long,
      alphaMilli: Long): DataFrame = {
    require(mMilli >= 1 && mMilli <= 999,
      s"mMilli=$mMilli out of [1, 999]")
    require(alphaMilli >= 1 && alphaMilli <= 499,
      s"alphaMilli=$alphaMilli out of [1, 499]")
    val threshold = math.floor(1.0e9
      * math.log(1000.0 / alphaMilli.toDouble)).toLong
    val lamMax = 500000L / mMilli
    val xv = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("eProcessMean value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      col(tsCol).cast("long").as("__t"),
      col(tieCol).cast("long").as("__e"),
      when(xv >= 0L && xv <= 1000L, xv).otherwise(
        raise_error(concat(lit("eProcessMean value "),
          xv.cast("string"),
          lit(" outside [0, 1000] — scale to the per-mille " +
            "lattice upstream, visibly"))).cast("long"))
        .as("__v"))
    val dupW = Window.partitionBy(col("exp"), col("__t"), col("__e"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("eProcessMean: duplicate position " +
          "(ts, tie) in experiment '"),
          coalesce(col("exp").cast("string"), lit("NULL")),
          lit("' — the arrival order is the e-process; it must be " +
            "total"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val w = Window.partitionBy(col("exp"))
      .orderBy(col("__t"), col("__e"))
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    val walked = checked
      .withColumn("__sp", coalesce(sum(col("__v")).over(prev),
        lit(0L)))
      .withColumn("__qp", coalesce(sum(col("__v") * col("__v"))
        .over(prev), lit(0L)))
      .withColumn("__np", count(lit(1)).over(prev))
      .withColumn("__muh",
        expr(s"(${mMilli}L + __sp) div (__np + 1L)"))
      .withColumn("__m2",
        expr("(250000L + __qp) div (__np + 1L)"))
      .withColumn("__vh", greatest(lit(2500L),
        col("__m2") - col("__muh") * col("__muh")))
      .withColumn("__lam", least(greatest(
        expr(s"(1000000L * (__muh - ${mMilli}L)) div __vh"),
        lit(0L)), lit(lamMax)))
      .withColumn("__fn", lit(1000000L)
        + col("__lam") * (col("__v") - lit(mMilli)))
      .withColumn("__term", floor(lit(1.0e9)
        * log(col("__fn").cast("double") / lit(1000000.0)))
        .cast("long"))
      .withColumn("__ln", sum(col("__term")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", col("__np") + 1L)
      .withColumn("__s", col("__sp") + col("__v"))
    val summary = walked.groupBy(col("exp"))
      .agg(max(col("__n")).as("n"), max(col("__s")).as("sum_milli"),
        max(struct(col("__n"), col("__ln"))).as("__last"))
      .select(col("exp"), col("n"), col("sum_milli"),
        col("__last.__ln").as("e_final_nano"))
    val crossed = walked
      .filter(col("__ln") >= threshold)
      .groupBy(col("exp").as("__x"))
      .agg(min(struct(col("__t"), col("__e"), col("__n"),
        col("__ln"))).as("__first"))
      .select(col("__x"),
        col("__first.__t").as("decision_ts"),
        col("__first.__e").as("decision_tie"),
        col("__first.__n").as("n_at_decision"),
        col("__first.__ln").as("e_at_decision"))
    summary.join(crossed, col("exp") <=> col("__x"), "left")
      .select(col("exp"), col("n"), col("sum_milli"),
        col("e_final_nano"), lit(threshold).as("threshold_nano"),
        when(col("decision_ts").isNull, lit("continue"))
          .otherwise(lit("reject_h0")).as("decision"),
        col("decision_ts"), col("decision_tie"),
        col("n_at_decision"), col("e_at_decision"))
  }

  /** Cochran–Mantel–Haenszel inputs + MH pooled odds ratio per
    * experiment — the BINARY-outcome companion to [[stratifiedAte]]
    * (stratify a conversion contrast by the confounder instead of a
    * mean): per stratum the 2×2 cell counts (a = treated
    * conversions, b/c/d the rest), and the exact-integer fold of
    *
    *   OR_MH = Σ(a·d/n) / Σ(b·c/n),   E = Σ((a+b)(a+c)/n),
    *   V = Σ((a+b)(c+d)(a+c)(b+d) / (n²(n−1)))
    *
    * with each per-stratum fraction floored ONCE to micro (≤ 1
    * micro per stratum, stated — the CMH χ² and its continuity
    * correction are ONE float op each from `sum_a`, `e_micro`,
    * `v_micro`, caller-side per the [[logRank]] convention; the V
    * product is DECIMAL(38), int64 dies at n ≈ 10⁵ per stratum).
    * Single-subject strata (n = 1) have no variance term — excluded
    * VISIBLY (`n_excluded_strata`/`n_excluded_rows`), from every
    * sum, so the inputs stay one consistent subset. `or_mh_ppm` is
    * null when Σ(b·c/n) floors to zero (no discordant mass — the
    * ratio is unbounded, not 10⁶). Groups and conversions must be
    * 0/1, refused loudly. ONE (exp, stratum) map-side agg + one exp
    * fold.
    */
  def mantelHaenszel(df: DataFrame, expCol: String, stratumCol: String,
      groupCol: String, convCol: String): DataFrame = {
    def flag(c: String, what: String) = {
      val v = coalesce(col(c).try_cast("long"),
        raise_error(concat(lit(s"mantelHaenszel: $what '"),
          coalesce(col(c).cast("string"), lit("NULL")),
          lit("' is null or not castable to long"))).cast("long"))
      when(v.isin(0L, 1L), v).otherwise(
        raise_error(concat(lit(s"mantelHaenszel: $what "),
          v.cast("string"), lit(" outside {0,1}"))).cast("long"))
    }
    val cells = df.select(col(expCol).as("exp"),
        col(stratumCol).as("stratum"), flag(groupCol, "group")
          .as("__g"), flag(convCol, "conversion").as("__c"))
      .groupBy(col("exp"), col("stratum"))
      .agg(
        sum(when(col("__g") === 1L && col("__c") === 1L, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("__g") === 1L && col("__c") === 0L, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("__g") === 0L && col("__c") === 1L, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("__g") === 0L && col("__c") === 0L, 1L)
          .otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("__ok", col("n") >= 2)
      .withColumn("__r", when(col("__ok"),
        expr("(1000000L * a * d) div n")))
      .withColumn("__s", when(col("__ok"),
        expr("(1000000L * b * c) div n")))
      .withColumn("__e", when(col("__ok"),
        expr("(1000000L * (a + b) * (a + c)) div n")))
      .withColumn("__v", when(col("__ok"), expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (a + b) * (c + d)" +
          " * (a + c) * (b + d))" +
          " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))" +
          " AS BIGINT)")))
    cells.groupBy(col("exp"))
      .agg(sum(when(col("__ok"), 1L).otherwise(0L)).as("n_strata"),
        sum(when(col("__ok"), col("n")).otherwise(0L)).as("n"),
        sum(when(!col("__ok"), 1L).otherwise(0L))
          .as("n_excluded_strata"),
        sum(when(!col("__ok"), col("n")).otherwise(0L))
          .as("n_excluded_rows"),
        sum(when(col("__ok"), col("a")).otherwise(0L)).as("sum_a"),
        sum(when(col("__ok"), col("__e")).otherwise(0L))
          .as("e_micro"),
        sum(when(col("__ok"), col("__v")).otherwise(0L))
          .as("v_micro"),
        sum(when(col("__ok"), col("__r")).otherwise(0L)).as("__sr"),
        sum(when(col("__ok"), col("__s")).otherwise(0L)).as("__ss"))
      .select(col("exp"), col("n_strata"), col("n"),
        col("n_excluded_strata"), col("n_excluded_rows"),
        col("sum_a"), col("e_micro"), col("v_micro"),
        when(col("__ss") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * __sr)" +
              " div __ss AS BIGINT)")).as("or_mh_ppm"))
  }

  /** Nelson–Aalen cumulative hazard per group — the estimator
    * [[survivalKm]]'s product form hides (KM gives S(t); the hazard
    * INTEGRAL H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ is the additive view — its
    * slope changes are where the risk regime moves, and −ln(KM)
    * only approximates it): the same risk-set derivation as KM
    * (reverse-cumulative window, event times only), each term
    * `(10⁶·d) div n_risk` floored ONCE (≤ 1 micro per event time,
    * stated), cumulated by ONE ascending window sum — no sequential
    * recursion at all, so no maxTimes bound is needed. Same
    * duration/event refusals as KM. Output: `grp, t, n_risk, d,
    * h_micro`.
    */
  def nelsonAalen(df: DataFrame, groupCol: String, durCol: String,
      eventCol: String): DataFrame = {
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("nelsonAalen: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long")))
        .cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("nelsonAalen: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"),
        when(dur < 0, raise_error(concat(
          lit("nelsonAalen: negative duration "), dur.cast("string")))
          .cast("long")).otherwise(dur).as("t"),
        when(ev.isin(0L, 1L), ev).otherwise(
          raise_error(concat(lit("nelsonAalen: event flag "),
            ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
          .as("e"))
    val byDur = rows.groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("__c"), sum(col("e")).as("d"))
    val risk = Window.partitionBy(col("grp")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = Window.partitionBy(col("grp")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk", sum(col("__c")).over(risk))
      .filter(col("d") >= 1)
      .withColumn("__term", expr("(1000000L * d) div n_risk"))
      .withColumn("h_micro", sum(col("__term")).over(cum))
      .select(col("grp"), col("t"), col("n_risk"), col("d"),
        col("h_micro"))
  }

  /** Gehan–Breslow weighted log-rank per experiment — the
    * EARLY-difference companion to [[logRank]]'s equal weighting
    * (Breslow weights each event time by its risk-set size n_k, so
    * a curve that separates early and re-converges — exactly the
    * novelty-effect shape — still rejects; plain log-rank dilutes
    * it across the tail): the weighted O and E terms are EXACT
    * integers because the weight CANCELS the denominator —
    * `o1w = Σ n_k·d1_k`, `e1w = Σ n_k·(d_k·n1_k/n_k) = Σ d_k·n1_k`
    * — no division at all; the weighted variance floors ONCE per
    * event time (`vw_micro = Σ (10⁶·d·n1·n0·(n−d)) div (n−1)` on
    * DECIMAL(38)), and `chi2_micro` is ONE float chain
    * `floor(diff·diff·10¹²/vw)` the oracle replays verbatim (null
    * when vw = 0). Same derivation, refusals and risk-set windows
    * as logRank. Output: `exp, n_event_times, o1w, e1w, vw_micro,
    * chi2_micro`.
    */
  def gehanBreslow(df: DataFrame, expCol: String, groupCol: String,
      durCol: String, eventCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(lit("gehanBreslow group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — the two-sample test needs exactly two " +
          "arms"))).cast("long"))
    val dur = coalesce(col(durCol).try_cast("long"),
      raise_error(concat(lit("gehanBreslow: duration '"),
        coalesce(col(durCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val ev = coalesce(col(eventCol).try_cast("long"),
      raise_error(concat(lit("gehanBreslow: event flag '"),
        coalesce(col(eventCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"), g.as("__g"),
      when(dur < 0, raise_error(concat(
        lit("gehanBreslow: negative duration "), dur.cast("string")))
        .cast("long")).otherwise(dur).as("t"),
      when(ev.isin(0L, 1L), ev).otherwise(
        raise_error(concat(lit("gehanBreslow: event flag "),
          ev.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__e"))
    val byDur = rows.groupBy(col("exp"), col("t"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__g") === 1L, col("__e")).otherwise(0L))
          .as("__d1"),
        sum(col("__e")).as("__d"))
    val risk = Window.partitionBy(col("exp")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val et = byDur
      .withColumn("__n0", sum(col("__c0")).over(risk))
      .withColumn("__n1", sum(col("__c1")).over(risk))
      .withColumn("__n", col("__n0") + col("__n1"))
      .filter(col("__d") >= 1)
    val terms = et
      .withColumn("__o1w",
        (col("__n").cast("decimal(38,0)") * col("__d1")))
      .withColumn("__e1w",
        (col("__d").cast("decimal(38,0)") * col("__n1")))
      .withColumn("__vw", when(col("__n") <= 1,
        lit(0L).cast("decimal(38,0)")).otherwise(expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * __d * __n1 * __n0" +
          " * (__n - __d)) div (__n - 1)")))
    terms.groupBy(col("exp"))
      .agg(count(lit(1)).as("n_event_times"),
        sum(col("__o1w")).as("__so"), sum(col("__e1w")).as("__se"),
        sum(col("__vw")).as("__sv"))
      .select(col("exp"), col("n_event_times"),
        expr("CAST(__so AS BIGINT)").as("o1w"),
        expr("CAST(__se AS BIGINT)").as("e1w"),
        expr("CAST(__sv AS BIGINT)").as("vw_micro"),
        when(expr("__sv <= 0"), lit(null).cast("long"))
          .otherwise(floor(
            expr("CAST(__so - __se AS DOUBLE)")
              * expr("CAST(__so - __se AS DOUBLE)")
              * lit(1.0e12)
              / expr("CAST(__sv AS DOUBLE)")).cast("long"))
          .as("chi2_micro"))
  }

  /** Cumulative LTV curve per acquisition cohort — the revenue view
    * of [[retentionCohorts]]' presence counts ("the March cohort
    * has earned back X per user by age 3"): cohort = the user's
    * FIRST period, age = period − cohort, per (cohort, age) the
    * exact revenue and active-user integers, the running revenue by
    * ONE cohort-partitioned window, and `ltv_micro = (10⁶·cum_rev)
    * div n_cohort` (per-user, on the ORIGINAL cohort size — quitters
    * keep diluting, which is the point). Ages with no activity have
    * no row: the curve is read at present ages, the cumulative is
    * correct at each (stated). Values long-castable non-null,
    * refused loudly. One per-user min fold + one join + one
    * (cohort, age) agg + one cohort window.
    */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
      valCol: String, periodNs: Long): DataFrame = {
    require(periodNs >= 1, s"periodNs=$periodNs must be >= 1")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("cohortLtv value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = events.select(col(userCol).as("user"),
      expr(s"CAST(`$tsCol` AS BIGINT) div ${periodNs}L").as("p"),
      v.as("__v"))
    val firstP = rows.groupBy(col("user").as("__u"))
      .agg(min(col("p")).as("cohort"))
    val sizes = firstP.groupBy(col("cohort").as("__c"))
      .agg(count(lit(1)).as("n_cohort"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(firstP, col("user") === col("__u"))
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("age"))
      .agg(countDistinct(col("user")).as("n_active"),
        sum(col("__v")).as("revenue"))
      .join(broadcast(sizes), col("cohort") === col("__c"))
      .withColumn("cum_revenue", sum(col("revenue")).over(cum))
      .select(col("cohort"), col("age"), col("n_cohort"),
        col("n_active"), col("revenue"), col("cum_revenue"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_revenue)" +
          " div n_cohort AS BIGINT)").as("ltv_micro"))
  }

  /** Kruskal–Wallis H per experiment — the k-arm nonparametric test
    * between [[mannWhitneyU]]'s two arms and [[abTestK]]'s
    * mean-based k arms (ordinal or heavy-tailed metrics under k
    * variants): DOUBLED pooled midranks (`2·rank + ties − 1`, the
    * shared MWU integer-tie trick) give exact int doubled rank sums
    * R2_g, then
    *
    *   h_micro = Σ_g (10⁶·3·R2_g²) div (n_g·N·(N+1)) − 3·(N+1)·10⁶
    *
    * (one DECIMAL(38) floor per GROUP, ≤ 1 micro each, stated), and
    * the tie-corrected `h_corr_micro = (h_micro·(N³−N)) div
    * (N³−N−Σ(t³−t))` (null when every value ties — the statistic is
    * undefined). At k = 2 this is the MWU's χ²₁ form — consistency
    * spec-pinned. Values long-castable non-null, refused loudly.
    * One experiment-partitioned value window (running counts) + two
    * folds — the cliffsDelta scale shape at any k.
    */
  def kruskalWallis(df: DataFrame, expCol: String, groupCol: String,
      valCol: String): DataFrame = {
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("kruskalWallis value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val g = coalesce(col(groupCol).cast("string"),
      raise_error(lit("kruskalWallis: null group — a null is not " +
        "an arm")).cast("string"))
    val rows = df.select(col(expCol).as("exp"), g.as("__g"),
      v.as("__v"))
    val byVal = rows.groupBy(col("exp"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("exp")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val mid = byVal
      .withColumn("__below", coalesce(sum(col("__c")).over(w),
        lit(0L)))
      .select(col("exp").as("__e2"), col("__v").as("__v2"),
        (lit(2L) * col("__below") + col("__c") + 1L).as("__mid2"),
        col("__c"))
    val perGroupVal = rows.groupBy(col("exp"), col("__g"), col("__v"))
      .agg(count(lit(1)).as("__cg"))
    val r2 = perGroupVal
      .join(mid, col("exp") <=> col("__e2")
        && col("__v") === col("__v2"))
      .groupBy(col("exp"), col("__g"))
      .agg(count(lit(1)).as("__nvals"),
        sum(col("__cg")).as("__ng"),
        sum(col("__cg") * col("__mid2")).as("__r2"))
    val tie = byVal.groupBy(col("exp").as("__e3"))
      .agg(sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .as("__tcorr"), sum(col("__c")).as("__n"))
    r2.join(tie, col("exp") <=> col("__e3"))
      // 12·R_g²/(n_g·N(N+1)) with R = R2/2 ⇒ 3·R2²/(n_g·N(N+1))
      .withColumn("__term", expr(
        "CAST((CAST(3000000 AS DECIMAL(38,0)) * __r2 * __r2)" +
          " div (CAST(__ng AS DECIMAL(38,0)) * __n * (__n + 1))" +
          " AS BIGINT)"))
      .groupBy(col("exp"))
      .agg(max(col("__n")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("__term")).as("__sterm"),
        max(col("__tcorr")).as("__tc"))
      .select(col("exp"), col("n"), col("k_groups"),
        (col("__sterm") - lit(3L) * (col("n") + 1L) * 1000000L)
          .as("h_micro"),
        col("__tc"))
      .select(col("exp"), col("n"), col("k_groups"), col("h_micro"),
        when(expr("n * n * n - n - __tc") <= 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(h_micro AS DECIMAL(38,0))" +
              " * (CAST(n AS DECIMAL(38,0)) * n * n - n))" +
              " div (CAST(n AS DECIMAL(38,0)) * n * n - n - __tc)" +
              " AS BIGINT)")).as("h_corr_micro"))
  }

  /** Friedman test per key — the WITHIN-SUBJECTS companion to
    * [[kruskalWallis]] (k treatments scored by the SAME n blocks —
    * judges × prompts, models × benchmarks — where between-block
    * level differences would drown a between-groups rank test):
    * doubled midranks WITHIN each block (the shared integer-tie
    * trick), exact int treatment rank sums R2_j,
    *
    *   chi2_micro = Σ_j (3·10⁶·R2_j²) div (n·k·(k+1)) − 3n(k+1)·10⁶
    *
    * (one DECIMAL floor per treatment, stated) with the exact tie
    * correction `·(n·k·(k²−1)) div (n·k·(k²−1) − Σ_blocks Σ(t³−t))`
    * (null when every block is internally constant). The design
    * must be COMPLETE and UNIQUE — every block scores every
    * treatment exactly once, refused loudly (the [[graft.operators
    * .EvalMetrics.cronbachAlpha]] contract, same failure mode). One
    * (key, block)-partitioned value window + two folds.
    */
  def friedman(df: DataFrame, keyCol: String, blockCol: String,
      treatCol: String, valCol: String): DataFrame = {
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("friedman value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(keyCol).as("key"),
      coalesce(col(blockCol).cast("string"),
        raise_error(lit("friedman: null block")).cast("string"))
        .as("__b"),
      coalesce(col(treatCol).cast("string"),
        raise_error(lit("friedman: null treatment")).cast("string"))
        .as("__t"), v.as("__v"))
    val dupW = Window.partitionBy(col("key"), col("__b"), col("__t"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("friedman: block '"), col("__b"),
          lit("' scored treatment '"), col("__t"),
          lit("' more than once"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val kTreat = checked.groupBy(col("key").as("__kk"))
      .agg(countDistinct(col("__t")).as("__k"))
    val complete = checked
      .withColumn("__bc", count(lit(1)).over(
        Window.partitionBy(col("key"), col("__b"))))
      .join(kTreat, col("key") <=> col("__kk"))
      .filter(when(col("__bc") =!= col("__k"),
        raise_error(concat(lit("friedman: block '"), col("__b"),
          lit("' scored "), col("__bc").cast("string"),
          lit(" of "), col("__k").cast("string"),
          lit(" treatments — the design must be complete; impute " +
            "or drop visibly upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bc").drop("__kk")
    val byVal = complete.groupBy(col("key"), col("__b"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("key"), col("__b"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val mid = byVal
      .withColumn("__below", coalesce(sum(col("__c")).over(w),
        lit(0L)))
      .select(col("key").as("__k2"), col("__b").as("__b2"),
        col("__v").as("__v2"),
        (lit(2L) * col("__below") + col("__c") + 1L).as("__mid2"))
    val r2 = complete
      .join(mid, col("key") <=> col("__k2")
        && col("__b") === col("__b2") && col("__v") === col("__v2"))
      .groupBy(col("key"), col("__t"))
      .agg(sum(col("__mid2")).as("__r2"), count(lit(1)).as("__nb"))
    val ties = byVal
      .groupBy(col("key").as("__k3"))
      .agg(sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .as("__tcorr"))
    r2.join(kTreat, col("key") <=> col("__kk"))
      .join(ties, col("key") <=> col("__k3"))
      .withColumn("__term", expr(
        "CAST((CAST(3000000 AS DECIMAL(38,0)) * __r2 * __r2)" +
          " div (CAST(__nb AS DECIMAL(38,0)) * __k * (__k + 1))" +
          " AS BIGINT)"))
      .groupBy(col("key"))
      .agg(max(col("__nb")).as("n_blocks"), max(col("__k")).as("k"),
        sum(col("__term")).as("__sterm"),
        max(col("__tcorr")).as("__tc"))
      .select(col("key"), col("n_blocks"), col("k"),
        (col("__sterm") - lit(3L) * col("n_blocks")
          * (col("k") + 1L) * 1000000L).as("chi2_micro"),
        col("__tc"))
      .select(col("key"), col("n_blocks"), col("k"),
        col("chi2_micro"),
        when(expr("n_blocks * k * (k * k - 1) - __tc") <= 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(chi2_micro AS DECIMAL(38,0))" +
              " * (CAST(n_blocks AS DECIMAL(38,0)) * k" +
              " * (k * k - 1)))" +
              " div (CAST(n_blocks AS DECIMAL(38,0)) * k" +
              " * (k * k - 1) - __tc) AS BIGINT)"))
          .as("chi2_corr_micro"))
  }

  /** Page's trend test per key (Page 1963, "Ordered hypotheses for
    * multiple treatments") — the ORDERED-alternative companion to
    * [[friedman]] within the same complete block design
    * ([[graft.operators.Ops.jonckheereTerpstra]] orders independent
    * arms; this orders k treatments scored by the SAME n blocks:
    * "does quality rise monotonically with model size, per judge"):
    * the treatment ORDER is the treatment column's own long value
    * (ascending — the hypothesis is carried by the column, refused
    * loudly when not long-castable), c_j = the dense rank 1..k of
    * that value, ranks within each block are the shared doubled
    * midranks (exact integer ties), and
    *
    *   L2        = Σ_blocks Σ_j c_j·r2_{b,j}      (2× Page's L)
    *   E[L2]     = n·k·(k+1)² div 2               (exact — k(k+1)
    *                                               is always even)
    *   12·Var(L2)= Σ_blocks dev_b·(k+1),
    *   dev_b     = k·Σ_j r2² − (k(k+1))²
    *
    * — dev_b is k²·(the block's midrank population variance ×4), so
    * the variance is EXACT under ties (a block's conditional
    * permutation variance given its midrank multiset; for a tie-free
    * block dev_b = k²(k²−1)/3 and the total reduces to Page's
    * n·k²(k+1)²(k−1)/144 on the doubled lattice). All integer sums
    * (int64-exact to k ≈ 10³ at 10⁵ blocks; ANSI-loud past that,
    * never silent), then ONE fixed IEEE chain
    *
    *   z_milli = floor( (L2 − E[L2])·1000 / sqrt(var_num12/12) )
    *
    * (no continuity correction — stated; the doubled lattice makes
    * the unit half a rank). Null when var_num12 ≤ 0 (every block
    * internally constant, or k = 1). k = 2 degenerates to a paired
    * sign-style test — allowed, stated; Page's table starts at
    * k = 3. The design must be COMPLETE and UNIQUE (every block
    * scores every treatment exactly once — the [[friedman]]
    * contract, refused loudly).
    *
    * Scale shape: one (key, block)-partitioned value window for the
    * midranks + one key-partitioned dense rank over treatment
    * values + two folds — no self-join, nothing block-sized on the
    * driver.
    */
  def pageTrend(df: DataFrame, keyCol: String, blockCol: String,
      treatCol: String, valCol: String): DataFrame = {
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("pageTrend value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val tv = coalesce(col(treatCol).try_cast("long"),
      raise_error(concat(lit("pageTrend treatment '"),
        coalesce(col(treatCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — the treatment " +
          "column's own value IS the hypothesized order")))
        .cast("long"))
    val rows = df.select(col(keyCol).as("key"),
      coalesce(col(blockCol).cast("string"),
        raise_error(lit("pageTrend: null block")).cast("string"))
        .as("__b"),
      tv.as("__t"), v.as("__v"))
    val dupW = Window.partitionBy(col("key"), col("__b"), col("__t"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("pageTrend: block '"), col("__b"),
          lit("' scored treatment '"), col("__t").cast("string"),
          lit("' more than once"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val kTreat = checked.groupBy(col("key").as("__kk"))
      .agg(countDistinct(col("__t")).as("__k"))
    val complete = checked
      .withColumn("__bc", count(lit(1)).over(
        Window.partitionBy(col("key"), col("__b"))))
      .join(kTreat, col("key") <=> col("__kk"))
      .filter(when(col("__bc") =!= col("__k"),
        raise_error(concat(lit("pageTrend: block '"), col("__b"),
          lit("' scored "), col("__bc").cast("string"),
          lit(" of "), col("__k").cast("string"),
          lit(" treatments — the design must be complete; impute " +
            "or drop visibly upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bc").drop("__kk")
    // doubled midranks within each block (the friedman lattice)
    val byVal = complete.groupBy(col("key"), col("__b"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("key"), col("__b"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val mid = byVal
      .withColumn("__below", coalesce(sum(col("__c")).over(w),
        lit(0L)))
      .select(col("key").as("__k2"), col("__b").as("__b2"),
        col("__v").as("__v2"),
        (lit(2L) * col("__below") + col("__c") + 1L).as("__mid2"))
    val ranked = complete
      .withColumn("__cj", dense_rank().over(
        Window.partitionBy(col("key")).orderBy(col("__t")))
        .cast("long"))
      .join(mid, col("key") <=> col("__k2")
        && col("__b") === col("__b2") && col("__v") === col("__v2"))
    val perBlock = ranked.groupBy(col("key"), col("__b"))
      .agg(sum(col("__cj") * col("__mid2")).as("__l2b"),
        sum(col("__mid2") * col("__mid2")).as("__ss2"),
        max(col("__k")).as("__kb"))
      .select(col("key"), col("__l2b"),
        (col("__kb") * col("__ss2")
          - (col("__kb") * (col("__kb") + 1L))
            * (col("__kb") * (col("__kb") + 1L))).as("__dev"),
        col("__kb"))
    perBlock.groupBy(col("key"))
      .agg(count(lit(1)).as("n_blocks"), max(col("__kb")).as("k"),
        sum(col("__l2b")).as("l2"),
        sum(col("__dev") * (col("__kb") + 1L)).as("var_num12"))
      .select(col("key"), col("n_blocks"), col("k"), col("l2"),
        expr("(n_blocks * k * (k + 1L) * (k + 1L)) div 2L")
          .as("e_l2"), col("var_num12"))
      .select(col("key"), col("n_blocks"), col("k"), col("l2"),
        col("e_l2"), col("var_num12"),
        when(col("var_num12") <= 0, lit(null).cast("long"))
          .otherwise(floor((col("l2") - col("e_l2")).cast("double")
            * lit(1000.0)
            / sqrt(col("var_num12").cast("double") / lit(12.0)))
            .cast("long"))
          .as("z_milli"))
  }

  /** Wilcoxon signed-rank test per experiment — the PAIRED two-arm
    * test closing the nonparametric family ([[mannWhitneyU]] for
    * independent arms, [[kruskalWallis]] for k of them, [[friedman]]
    * for k within subjects, this for TWO within subjects — each
    * unit its own control): per pair `d = y − x`, zero differences
    * dropped VISIBLY (`n_zero` rides along — they carry no sign
    * information, and silently keeping them deflates the variance),
    * DOUBLED midranks of |d| (the shared integer-tie trick), exact
    * int `w2_plus = Σ mid2 over d > 0` and `diff2 = w2_plus −
    * n(n+1)/2` (twice the centered W⁺), tie-corrected variance
    * NUMERATOR exact in int64 (`var_num48 = 2n(n+1)(2n+1) −
    * Σ(t³−t)` = 48·Var(W⁺)), and z in ONE fixed IEEE chain floored
    * to milli: `z = diff2·500 / sqrt(var_num48/48)` (no continuity
    * correction — stated; add ∓½ caller-side if wanted). No nonzero
    * differences ⇒ null z. Duplicate pair ids refuse.
    * Output: `exp, n_pairs, n_zero, n, w2_plus, var_num48,
    * z_milli`. One experiment-partitioned |d| window + two folds.
    */
  def wilcoxonSignedRank(df: DataFrame, expCol: String, idCol: String,
      xCol: String, yCol: String): DataFrame = {
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"wilcoxonSignedRank: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(expCol).as("exp"),
      coalesce(col(idCol).cast("string"),
        raise_error(lit("wilcoxonSignedRank: null pair id"))
          .cast("string")).as("__i"),
      (m(yCol) - m(xCol)).as("__d"))
    val dupW = Window.partitionBy(col("exp"), col("__i"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("wilcoxonSignedRank: duplicate pair " +
          "id '"), col("__i"), lit("' in experiment '"),
          coalesce(col("exp").cast("string"), lit("NULL")),
          lit("'"))).cast("boolean")).otherwise(lit(true)))
      .drop("__dup")
    val counts = checked.groupBy(col("exp").as("__kc"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val nz = checked.filter(col("__d") =!= 0L)
      .withColumn("__a", abs(col("__d")))
    val byAbs = nz.groupBy(col("exp"), col("__a"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("exp")).orderBy(col("__a"))
      .rowsBetween(Window.unboundedPreceding, -1L)
    val mid = byAbs
      .withColumn("__below", coalesce(sum(col("__c")).over(w),
        lit(0L)))
      .select(col("exp").as("__k2"), col("__a").as("__a2"),
        (lit(2L) * col("__below") + col("__c") + 1L).as("__mid2"))
    val fold = nz
      .join(mid, col("exp") <=> col("__k2")
        && col("__a") === col("__a2"))
      .groupBy(col("exp").as("__kf"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__d") > 0L, col("__mid2")).otherwise(0L))
          .as("w2_plus"))
    val ties = byAbs.groupBy(col("exp").as("__kt"))
      .agg(sum(col("__c") * col("__c") * col("__c") - col("__c"))
        .as("__tcorr"))
    counts
      .join(fold, col("__kc") <=> col("__kf"), "left")
      .join(ties, col("__kc") <=> col("__kt"), "left")
      .select(col("__kc").as("exp"), col("n_pairs"), col("n_zero"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("w2_plus"), lit(0L)).as("w2_plus"),
        (lit(2L) * coalesce(col("n"), lit(0L))
          * (coalesce(col("n"), lit(0L)) + 1L)
          * (lit(2L) * coalesce(col("n"), lit(0L)) + 1L)
          - coalesce(col("__tcorr"), lit(0L))).as("var_num48"))
      .withColumn("z_milli",
        when(col("var_num48") <= 0, lit(null).cast("long"))
          .otherwise(floor(
            ((col("w2_plus") - expr("(n * (n + 1)) div 2")) * 500L)
              .cast("double")
            / sqrt(col("var_num48").cast("double") / lit(48.0)))
            .cast("long")))
  }
}
