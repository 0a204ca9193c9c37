package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Drift / level-shift detection over keyed time series — the
  * data-quality monitor a pipeline runs over its own telemetry (per-
  * source document lengths, per-host fetch latencies, per-type event
  * values): a producer change shows up as a step in the level long
  * before it shows up as a schema break. Kept deliberately simple and
  * integer-exact — a two-window contrast, the CUSUM-adjacent scan
  * that is expressible as plain windows (no sequential recurrence, so
  * it distributes and oracles).
  */
object Drift {

  /** Two-window level-shift scan: per key, events ordered
    * `(ts, tiebreak)`; at each position the TRAILING `w`-row sum
    * (this row and the w−1 before it) is contrasted with the LEADING
    * `w`-row sum (the w after it). Only positions where BOTH windows
    * are FULL emit — partial windows at the edges would fabricate
    * shifts. Output per emitted position: `key, ts, tie, trail_sum,
    * lead_sum, shift` (= lead − trail, in value units ×w — divide by
    * w caller-side if a per-row mean shift reads better; kept as the
    * integer sum so the lattice stays exact). Callers threshold
    * `abs(shift)` against their tolerance.
    *
    * Values must be non-null and long-castable (refused loudly — a
    * silently skipped null row would shift every window; quantize
    * float metrics upstream, the centi/milli convention).
    *
    * Scale shape: ONE key-partitioned window pass (two ROWS frames
    * over the same (key; ts, tie) sort — one shuffle, one sort);
    * state per position is two running sums. Window length is
    * required ≤ 4096: a level detector needs dozens of rows, not
    * millions, and gigantic frames belong in an aggregation.
    */
  def levelShift(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, w: Int): DataFrame = {
    require(w >= 2 && w <= 4096, s"w=$w must be in [2, 4096]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("levelShift value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row would " +
          "shift every window"))).cast("long"))
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tie"))
    val trail = byKey.rowsBetween(-(w - 1), 0)
    val lead = byKey.rowsBetween(1, w)
    df.select(col(keyCol).as("key"), col(tsCol).cast("long").as("ts"),
        col(tieCol).cast("long").as("tie"), v.as("__v"))
      .withColumn("trail_sum", sum(col("__v")).over(trail))
      .withColumn("__trail_n", count(lit(1)).over(trail))
      .withColumn("lead_sum", sum(col("__v")).over(lead))
      .withColumn("__lead_n", count(lit(1)).over(lead))
      .filter(col("__trail_n") === w && col("__lead_n") === w)
      .select(col("key"), col("ts"), col("tie"), col("trail_sum"),
        col("lead_sum"),
        (col("lead_sum") - col("trail_sum")).as("shift"))
  }

  /** Benford's-law first-digit ppm, rounded from log10(1 + 1/d): the
    * nine constants sum to exactly 10⁶, so the expected lattice is
    * closed. Public constants (Newcomb 1881 / Benford 1938).
    */
  val BenfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L,
    9L -> 45757L)

  /** Benford first-digit audit per key — the classic fabricated-data
    * detector (fraudulent or synthetic numeric feeds rarely match the
    * logarithmic leading-digit law that organic heavy-tailed data
    * follows). Per key: observed counts for digits 1–9 (ALL nine rows,
    * zero-filled), the Benford-expected ppm, and the χ² goodness-of-fit
    * statistic attached to every row on the [[graft.operators.Experiment.srmCheck]]
    * micro lattice: integer residual `r_d = 10⁶·O_d − N·B_d`, each cell
    * `(r_d/10⁶)²/(N·B_d/10⁶)` squared/divided in IEEE double in a fixed
    * op order, floored to micro units, integer-summed — engine-exact,
    * 8 dof. χ² ≳ 15.5 ⇔ p < 0.05.
    *
    * The first significant digit comes from `|v|` rendered as a string
    * (no float log). Null or uncastable values refuse loudly; ZEROS
    * have no leading significant digit and are excluded BY DEFINITION
    * — visibly, not silently: every row carries the key's `n_zero`.
    * Keys with only zeros emit the nine digit rows with N = 0 and a
    * null χ². One aggregation over (key, digit) + one key-sized
    * zero-fill join against the digit domain — nothing row-sized
    * shuffles twice.
    */
  def benfordCheck(df: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("benfordCheck value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row would " +
          "bias every digit cell"))).cast("long"))
    val digits = df
      .select(col(keyCol).as("key"), v.as("__v"))
      .select(col("key"),
        when(col("__v") === 0, lit(null).cast("long"))
          .otherwise(substring(abs(col("__v")).cast("string"), 1, 1)
            .cast("long")).as("digit"))
    val perKey = digits.groupBy(col("key"))
      .agg(count(col("digit")).as("__N"),
        sum(when(col("digit").isNull, 1L).otherwise(0L)).as("n_zero"))
    val obs = digits.filter(col("digit").isNotNull)
      .groupBy(col("key"), col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val domain = broadcast(BenfordPpm.toDF("digit", "expected_ppm"))
    // null-SAFE key equality: groupBy treats a null key as a real group
    // (the kAnonymize lesson), so the zero-fill join must match it back —
    // a plain equi join would hand every null-key group n_obs = 0 and a
    // fabricated chi-square even when digits were observed
    val obs2 = obs.withColumnRenamed("key", "__ok")
      .withColumnRenamed("digit", "__od")
    val cells = perKey.crossJoin(domain)
      .join(obs2, col("key") <=> col("__ok")
        && col("digit") === col("__od"), "left")
      .select(col("key"), col("digit"), col("expected_ppm"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("__N"), col("n_zero"))
      .withColumn("__d",
        lit(1000000L) * col("n_obs") - col("__N") * col("expected_ppm"))
      .withColumn("__term",
        when(col("__N") > 0,
          floor((col("__d").cast("double") / 1000000.0)
            * (col("__d").cast("double") / 1000000.0)
            / (col("__N").cast("double") * col("expected_ppm")
              .cast("double") / 1000000.0) * 1000000).cast("long"))
          .otherwise(lit(null).cast("long")))
    val chi = cells.groupBy(col("key").as("__k"))
      .agg(sum(col("__term")).as("chi2_micro"))
    cells.join(chi, col("key") <=> col("__k"), "left")
      .select(col("key"), col("digit"), col("n_obs"),
        col("expected_ppm"), col("n_zero"), col("chi2_micro"))
  }

  /** Two-sample χ² homogeneity drift over bucketed histograms — "does
    * this feature's distribution differ between period 0 and period
    * 1": per key, the bucket×period contingency table's χ² with
    * (B−1)·1 dof on the exact micro lattice — integer residual
    * `r_bp = T·O_bp − row_b·col_p` per cell (T = the key's total),
    * each cell `(r/T)²/E = r²/(T·row_b·col_p)` squared/divided in IEEE
    * double in a fixed op order, floored to micro units and
    * integer-summed. Emits one row per (key, bucket): both periods'
    * counts and the key's `chi2_micro` and `n_buckets`; χ² is null
    * when a period marginal is zero (one-period keys — the statistic
    * is undefined, not zero). Periods must be exactly 0/1, refused
    * loudly row-by-row; buckets are any longs (bucket continuous
    * features upstream, the histogram convention).
    *
    * One (key, bucket, period) aggregation + one key-sized fold —
    * the level-shift scan catches steps in the MEAN, this catches
    * reshapes the mean hides (variance inflation, bimodality, a new
    * producer mixing in).
    */
  def chiSquareDrift(df: DataFrame, keyCol: String, bucketCol: String,
      periodCol: String): DataFrame = {
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("chiSquareDrift period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(keyCol).as("key"),
      col(bucketCol).cast("long").as("bucket"),
      when(p.isin(0L, 1L), p).otherwise(
        raise_error(concat(lit("chiSquareDrift period "),
          p.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__p"))
    val cells = rows.groupBy(col("key"), col("bucket"))
      .agg(sum(when(col("__p") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as("n1"))
    val keyStats = cells.groupBy(col("key").as("__k"))
      .agg(sum(col("n0")).as("__c0"), sum(col("n1")).as("__c1"),
        count(lit(1)).as("n_buckets"))
    // <=> : a null key is a real group (groupBy keeps it) — a plain
    // equi fold join would silently drop its rows from the output
    val terms = cells.join(keyStats, col("key") <=> col("__k"))
      .withColumn("__T", col("__c0") + col("__c1"))
      .withColumn("__row", col("n0") + col("n1"))
      .withColumn("__t0", term(col("__T"), col("n0"), col("__row"),
        col("__c0")))
      .withColumn("__t1", term(col("__T"), col("n1"), col("__row"),
        col("__c1")))
    val chi = terms.groupBy(col("key").as("__k2"))
      .agg(sum(col("__t0") + col("__t1")).as("__chi"),
        max(when(col("__c0") === 0 || col("__c1") === 0, 1L)
          .otherwise(0L)).as("__degen"))
    terms.join(chi, col("key") <=> col("__k2"))
      .select(col("key"), col("bucket"), col("n0"), col("n1"),
        col("n_buckets"),
        when(col("__degen") === 1, lit(null).cast("long"))
          .otherwise(col("__chi")).as("chi2_micro"))
  }

  /** Null-rate drift between two snapshots — the cheapest and most
    * common schema-health monitor ("field X went 2% null → 40% null
    * after the producer deploy"): per column, both periods' row and
    * null counts, the exact-ppm null rates (`10⁶·nulls div n`, null
    * when the period is empty — an absent period has no rate), and
    * `delta_ppm = rate1 − rate0` (null if either side is). ONE
    * aggregation pass computes every column's four counts (no
    * per-column scans: plain conditional sums need no distinct
    * rewrite, unlike the distinct counts that make
    * [[graft.operators.Ops.profile]] aggregate per column), melted via
    * explode-of-structs. Periods must be 0/1, refused loudly
    * row-by-row.
    */
  def nullRateDrift(df: DataFrame, cols: Seq[String],
      periodCol: String): DataFrame = {
    require(cols.nonEmpty, "nullRateDrift: no columns given")
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("nullRateDrift period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val flagged = df.select(
      when(p.isin(0L, 1L), p).otherwise(
        raise_error(concat(lit("nullRateDrift period "),
          p.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__p") +: cols.map(col): _*)
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col("__p") === 0, 1L).otherwise(0L)).as(s"__n0_$c"),
        sum(when(col("__p") === 0 && col(c).isNull, 1L).otherwise(0L))
          .as(s"__z0_$c"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as(s"__n1_$c"),
        sum(when(col("__p") === 1 && col(c).isNull, 1L).otherwise(0L))
          .as(s"__z1_$c"))
    }
    val one = flagged.agg(aggs.head, aggs.tail: _*)
    val melted = one.select(explode(array(cols.map { c =>
      struct(lit(c).as("column"),
        coalesce(col(s"__n0_$c"), lit(0L)).as("n0"),
        coalesce(col(s"__z0_$c"), lit(0L)).as("nulls0"),
        coalesce(col(s"__n1_$c"), lit(0L)).as("n1"),
        coalesce(col(s"__z1_$c"), lit(0L)).as("nulls1"))
    }: _*)).as("__r")).select(col("__r.*"))
    def rate(z: String, n: String) =
      when(col(n) === 0, lit(null).cast("long"))
        .otherwise(expr(s"(1000000L * $z) div $n"))
    melted
      .withColumn("rate0_ppm", rate("nulls0", "n0"))
      .withColumn("rate1_ppm", rate("nulls1", "n1"))
      .withColumn("delta_ppm", col("rate1_ppm") - col("rate0_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov drift per key — the CONTINUOUS-
    * metric companion to [[chiSquareDrift]] (no bucketing choice to
    * defend): per key, D = max |F₀(v) − F₁(v)| over the pooled sample,
    * computed ENTIRELY on the integer lattice. With a₀/a₁ the
    * cumulative group counts at each distinct value (ascending) and
    * n₀/n₁ the group totals,
    *
    *   d_num  = max |a₀·n₁ − a₁·n₀|      (exact — the CDF difference
    *                                       cross-multiplied, no float)
    *   ks_ppm = (10⁶ · d_num) div (n₀·n₁)
    *
    * so the statistic is bit-identical on any cluster and in the
    * oracle. Null when either group is empty (D is undefined, not 0);
    * `n0, n1, d_num` ride along so the caller can run the asymptotic
    * p-value (needs a float sqrt — caller-side, the [[graft.operators.Experiment.mannWhitneyU]]
    * convention). Group must be 0/1 and values non-null long-castable,
    * refused loudly (a silently dropped row would shift every
    * cumulative count; quantize float metrics upstream).
    *
    * Overflow (loud under ANSI): 10⁶·d_num ≤ 10⁶·n₀·n₁ < 2⁶³ holds
    * while n₀·n₁ < 9.2·10¹² (~3·10⁶ rows per side per key) — shard
    * or pre-bucket past that. Scale shape: one (key, value) count
    * aggregation, one key-partitioned ordered window (the
    * [[graft.operators.Experiment.mannWhitneyU]] shape — state bounded by a key's
    * distinct values, never a global rank), one key fold. The three
    * stages share the key partitioning — one shuffle does all of it.
    */
  def ksDrift(df: DataFrame, keyCol: String, groupCol: String,
      valCol: String): DataFrame = {
    val g = when(col(groupCol).isin(0L, 1L), col(groupCol).cast("long"))
      .otherwise(raise_error(concat(lit("ksDrift group '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is not 0/1 — two-sample CDFs need exactly two groups")))
        .cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("ksDrift value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row would " +
          "shift every cumulative count; quantize/filter upstream")))
        .cast("long"))
    val counts = df
      .select(col(keyCol).as("key"), g.as("__g"), v.as("__v"))
      .groupBy(col("key"), col("__v"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("__c1"))
    val cum = Window.partitionBy(col("key")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("key"))
    counts
      .withColumn("__a0", sum(col("__c0")).over(cum))
      .withColumn("__a1", sum(col("__c1")).over(cum))
      .withColumn("__t0", sum(col("__c0")).over(whole))
      .withColumn("__t1", sum(col("__c1")).over(whole))
      .groupBy(col("key"))
      .agg(max(col("__t0")).as("n0"), max(col("__t1")).as("n1"),
        max(abs(col("__a0") * col("__t1") - col("__a1") * col("__t0")))
          .as("d_num"))
      .withColumn("ks_ppm",
        when(col("n0") === 0 || col("n1") === 0,
          lit(null).cast("long"))
          .otherwise(expr("(1000000L * d_num) div (n0 * n1)")))
  }

  /** Two-sided CUSUM monitor per key (Page 1954) — the SEQUENTIAL
    * change detector that fires on small persistent shifts the
    * [[levelShift]] window contrast needs a full window to see:
    *
    *   S⁺_n = max(0, S⁺_{n−1} + (x_n − μ − κ))
    *   S⁻_n = max(0, S⁻_{n−1} + (μ − x_n − κ))
    *
    * with μ the in-control level and κ the slack (both caller-supplied
    * on the value lattice — half the shift you want to detect, the
    * textbook choice). The recurrence LOOKS sequential but folds into
    * two window passes via the prefix identity
    *
    *   S⁺_n = P_n − min(0, min_{k≤n} P_k),   P_n = Σ_{i≤n}(x_i − μ − κ)
    *
    * (and symmetrically for S⁻) — so it distributes per key, stays on
    * the exact integer lattice (no float anywhere) and oracles as two
    * cumulative windows. Output per row: `key, ts, tie, s_pos, s_neg`
    * — threshold caller-side (the classic h = 4–5 σ in value units).
    * Values must be non-null and long-castable, refused loudly (a
    * skipped row would silently reset the accumulation).
    *
    * ONE key-partitioned (ts, tie)-ordered window pass computing four
    * running aggregates; nothing key-sized shuffles twice. Overflow is
    * ANSI-loud: |Σ(x−μ−κ)| must stay under 2⁶³ — quantize or shard a
    * key past ~10¹² accumulated lattice units.
    */
  def cusum(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, mu: Long, kappa: Long): DataFrame = {
    require(kappa >= 0, s"kappa=$kappa must be >= 0")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("cusum value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row would " +
          "silently reset the accumulation"))).cast("long"))
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol).as("key"), col(tsCol).cast("long").as("ts"),
        col(tieCol).cast("long").as("tie"), v.as("__v"))
      .withColumn("__pp", sum(col("__v") - lit(mu) - lit(kappa))
        .over(byKey))
      .withColumn("__pn", sum(lit(mu) - col("__v") - lit(kappa))
        .over(byKey))
      .withColumn("s_pos",
        col("__pp") - least(lit(0L), min(col("__pp")).over(byKey)))
      .withColumn("s_neg",
        col("__pn") - least(lit(0L), min(col("__pn")).over(byKey)))
      .select(col("key"), col("ts"), col("tie"), col("s_pos"),
        col("s_neg"))
  }

  /** Population stability index per key over caller-bucketed
    * histograms — the industry-standard drift score for a scored or
    * binned feature (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 shifted
    * — the classic credit-scoring rule of thumb): per key,
    *
    *   PSI = Σ_b (p₁_b − p₀_b) · ln(p₁_b / p₀_b)
    *
    * with ADD-ONE (Laplace) smoothed shares p_b = (n_b + 1)/(c + B)
    * over the key's B observed buckets — the [[graft.operators.Curation.trendingTerms]]
    * smoothing discipline, which keeps ln finite for buckets empty on
    * one side VISIBLY (both raw counts ride along) instead of the
    * silent ε-clamps PSI implementations usually bury. Each bucket
    * term is computed in IEEE double in a FIXED op order the oracle
    * mirrors — p₀ = (n₀+1)/(c₀+B), p₁ = (n₁+1)/(c₁+B),
    * (p₁−p₀)·ln(p₁/p₀) — floored to MICRO units (terms are ≥ 0 by
    * construction, so the sum is monotone; floor bias ≤ B micro,
    * documented noise) and integer-summed, so `psi_micro` is
    * engine-exact. Null when a period marginal is empty (drift vs an
    * absent period is undefined, the [[chiSquareDrift]] convention).
    * Periods must be 0/1, refused loudly; buckets are any longs
    * (bucket continuous features upstream).
    *
    * One (key, bucket) aggregation + one key fold joined back
    * null-safely — the [[chiSquareDrift]] shape exactly; KS asks "did
    * the distribution move" on raw values, PSI scores "by how much"
    * on the operating histogram.
    */
  def psi(df: DataFrame, keyCol: String, bucketCol: String,
      periodCol: String): DataFrame = {
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("psi period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(keyCol).as("key"),
      col(bucketCol).cast("long").as("bucket"),
      when(p.isin(0L, 1L), p).otherwise(
        raise_error(concat(lit("psi period "),
          p.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__p"))
    val cells = rows.groupBy(col("key"), col("bucket"))
      .agg(sum(when(col("__p") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as("n1"))
    val keyStats = cells.groupBy(col("key").as("__k"))
      .agg(sum(col("n0")).as("__c0"), sum(col("n1")).as("__c1"),
        count(lit(1)).as("n_buckets"))
    val terms = cells.join(keyStats, col("key") <=> col("__k"))
      .withColumn("__p0", (col("n0") + 1L).cast("double")
        / (col("__c0") + col("n_buckets")).cast("double"))
      .withColumn("__p1", (col("n1") + 1L).cast("double")
        / (col("__c1") + col("n_buckets")).cast("double"))
      .withColumn("__term",
        floor((col("__p1") - col("__p0"))
          * log(col("__p1") / col("__p0")) * 1000000).cast("long"))
    val fold = terms.groupBy(col("key").as("__k2"))
      .agg(sum(col("__term")).as("__psi"),
        max(when(col("__c0") === 0 || col("__c1") === 0, 1L)
          .otherwise(0L)).as("__degen"))
    terms.join(fold, col("key") <=> col("__k2"))
      .select(col("key"), col("bucket"), col("n0"), col("n1"),
        col("n_buckets"),
        when(col("__degen") === 1, lit(null).cast("long"))
          .otherwise(col("__psi")).as("psi_micro"))
  }

  /** Embedding-distribution drift per key — "did the vector space
    * move after the encoder swap": the cosine between the two
    * periods' MEAN embedding vectors, computed with ONE float op.
    * Components are quantized to the milli lattice (`floor(x·1000)` —
    * float→double is exact, both engines floor the same double), the
    * per-(key, period, dimension) sums are EXACT integers, and since
    * cosine is scale-invariant, cos(mean₀, mean₁) = cos(sum₀, sum₁) —
    * no division by n at all. Dot and norm products run on
    * DECIMAL(38) (int64 would overflow at Σ|s|² ≈ 10¹⁸; DECIMAL is
    * exact to ~10³⁸, the trendingTerms discipline — ANSI overflow is
    * the loud guard past ~3·10¹⁶ accumulated milli-units per
    * dimension), and the single float op is
    *
    *   cos_ppm = floor(dot / sqrt(norm0sq · norm1sq) · 10⁶)
    *
    * — IEEE sqrt is EXACTLY rounded (unlike ln), so this is
    * bit-identical on any engine. Null when a period is empty or has
    * a zero mean vector (cosine undefined). Vectors must be non-null
    * with EXACTLY `dim` elements (a ragged vector would silently
    * corrupt every dimension sum — refused loudly with the size).
    *
    * Scale shape: one posexplode (dim× fan-out inside codegen) + one
    * (key, dim) aggregation + one key fold — embeddings never shuffle
    * raw, only dim-sized integer sums do.
    */
  def embeddingDrift(df: DataFrame, keyCol: String, periodCol: String,
      vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 65536, s"dim=$dim out of [1, 65536]")
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("embeddingDrift period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val vecOk = when(col(vecCol).isNotNull && size(col(vecCol)) === dim,
      col(vecCol)).otherwise(raise_error(concat(
        lit("embeddingDrift: vector is null or has "),
        coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
        lit(s" elements, expected $dim — a ragged vector corrupts " +
          "every dimension sum"))).cast(df.schema(vecCol).dataType
          .simpleString))
    val rows = df.select(col(keyCol).as("key"),
        when(p.isin(0L, 1L), p).otherwise(
          raise_error(concat(lit("embeddingDrift period "),
            p.cast("string"), lit(" outside {0,1}"))).cast("long"))
          .as("__p"),
        vecOk.as("__v"))
      .select(col("key"), col("__p"),
        posexplode(col("__v")).as(Seq("__d", "__x")))
      .select(col("key"), col("__p"), col("__d"),
        floor(col("__x").cast("double") * 1000).cast("long").as("__q"))
    val sums = rows.groupBy(col("key"), col("__d"))
      .agg(sum(when(col("__p") === 0, col("__q")).otherwise(0L))
          .as("__s0"),
        sum(when(col("__p") === 1, col("__q")).otherwise(0L)).as("__s1"),
        sum(when(col("__p") === 0, 1L).otherwise(0L)).as("__c0"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as("__c1"))
    val fold = sums.groupBy(col("key"))
      .agg(
        expr("sum(cast(__s0 as decimal(20,0)) * cast(__s1 as " +
          "decimal(20,0)))").as("__dot"),
        expr("sum(cast(__s0 as decimal(20,0)) * cast(__s0 as " +
          "decimal(20,0)))").as("__n0sq"),
        expr("sum(cast(__s1 as decimal(20,0)) * cast(__s1 as " +
          "decimal(20,0)))").as("__n1sq"),
        // per-dimension row counts are equal across dims by the size
        // contract — max = the period's vector count
        max(col("__c0")).as("n0"), max(col("__c1")).as("n1"))
    fold.select(col("key"), col("n0"), col("n1"),
      when(col("n0") === 0 || col("n1") === 0
          || col("__n0sq") === 0 || col("__n1sq") === 0,
        lit(null).cast("long"))
        .otherwise(floor(col("__dot").cast("double")
          / sqrt(col("__n0sq").cast("double")
            * col("__n1sq").cast("double")) * 1000000).cast("long"))
        .as("cos_ppm"))
  }

  /** Quantile drift per key — the MAGNITUDE companion to [[ksDrift]]
    * ("the p95 latency moved how much?"): for each requested
    * percentile, both periods' EXACT lower quantiles by integer rank
    *
    *   target = (pct·n + 99) div 100, clamped ≥ 1
    *
    * (the integer-ceil-rank convention — float `ceil(q·n)` differs in
    * the last ulp between engines) and `delta = v1 − v0`. One row per
    * (key, pct): `key, pct, n0, n1, v0, v1, delta`; a side with no
    * rows reports null quantile and delta. Values must be non-null
    * long-castable, periods 0/1, both refused loudly; percentiles in
    * [1, 100], ≤ 16 of them (a dense quantile sweep belongs in a
    * histogram).
    *
    * One (key, period)-partitioned rank window + a pct-explode filter
    * + one (key, pct) fold — rank state bounded per (key, period),
    * never global.
    */
  def quantileDrift(df: DataFrame, keyCol: String, periodCol: String,
      valCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.length <= 16,
      s"need 1..16 percentiles, got ${pcts.length}")
    require(pcts.forall(q => q >= 1 && q <= 100),
      s"percentiles must be in [1, 100], got $pcts")
    require(pcts.distinct.length == pcts.length,
      s"duplicate percentiles in $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("quantileDrift period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("quantileDrift value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row would " +
          "shift every rank"))).cast("long"))
    val w = Window.partitionBy(col("key"), col("__p")).orderBy(col("__v"))
    val ranked = df.select(col(keyCol).as("key"),
        when(p.isin(0L, 1L), p).otherwise(
          raise_error(concat(lit("quantileDrift period "),
            p.cast("string"), lit(" outside {0,1}"))).cast("long"))
          .as("__p"),
        v.as("__v"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("key"), col("__p"))))
    val qs = broadcast(pcts.map(_.toLong).toDF("pct"))
    val hits = ranked.crossJoin(qs)
      .filter(col("__r") ===
        greatest(lit(1L), expr("(pct * __n + 99L) div 100L")))
    val counts = ranked.groupBy(col("key").as("__k"))
      .agg(sum(when(col("__p") === 0 && col("__r") === 1, col("__n"))
          .otherwise(0L)).as("n0"),
        sum(when(col("__p") === 1 && col("__r") === 1, col("__n"))
          .otherwise(0L)).as("n1"))
    val byPct = hits.groupBy(col("key"), col("pct"))
      .agg(max(when(col("__p") === 0, col("__v"))).as("v0"),
        max(when(col("__p") === 1, col("__v"))).as("v1"))
    byPct.join(counts, col("key") <=> col("__k"))
      .select(col("key"), col("pct"), col("n0"), col("n1"),
        col("v0"), col("v1"), (col("v1") - col("v0")).as("delta"))
  }

  /** Jensen–Shannon divergence between two periods' bucket
    * histograms per key — the bounded, symmetric companion to [[psi]]
    * (PSI needs add-one smoothing because KL explodes on empty
    * buckets; JSD is FINITE by construction — a bucket one side never
    * saw contributes its full ln 2 share and nothing blows up, so the
    * raw counts speak unsmoothed). With p = n0/c0, q = n1/c1 and
    * m = (p+q)/2, per bucket (Lin 1991):
    *
    *   jsd = Σ_b [ p·ln(p/m) + q·ln(q/m) ] / 2   ∈ [0, ln 2]
    *
    * Lattice: counts and totals are exact integers; each bucket term
    * runs in IEEE double in THIS op order —
    * `floor((p·ln(2p/(p+q)) + q·ln(2q/(p+q))) · 500000)` with p, q
    * the double divisions n/c — and the floored micro terms are
    * integer-summed (the [[psi]] / benford convention: ln is the one
    * op IEEE does not promise exactly rounded, so the op order IS the
    * contract). A side with zero count contributes 0 to its own term
    * by definition (lim x·ln x = 0), taken as an explicit branch, not
    * a NaN. Null `jsd_micro` when a period is EMPTY for the key
    * (divergence from nothing is undefined — degenerate, the psi
    * flag). 693147 micro = ln 2 = maximal disjointness.
    *
    * Scale shape: identical to psi — one (key, bucket) aggregation,
    * one key-sized fold joined back null-safely; period must be 0/1,
    * refused loudly.
    */
  def jsDivergence(df: DataFrame, keyCol: String, bucketCol: String,
      periodCol: String): DataFrame = {
    val p = coalesce(col(periodCol).try_cast("long"),
      raise_error(concat(lit("jsDivergence period '"),
        coalesce(col(periodCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(keyCol).as("key"),
      col(bucketCol).cast("long").as("bucket"),
      when(p.isin(0L, 1L), p).otherwise(
        raise_error(concat(lit("jsDivergence period "),
          p.cast("string"), lit(" outside {0,1}"))).cast("long"))
        .as("__p"))
    val cells = rows.groupBy(col("key"), col("bucket"))
      .agg(sum(when(col("__p") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__p") === 1, 1L).otherwise(0L)).as("n1"))
    val keyStats = cells.groupBy(col("key").as("__k"))
      .agg(sum(col("n0")).as("__c0"), sum(col("n1")).as("__c1"),
        count(lit(1)).as("n_buckets"))
    def side(nC: Column, cC: Column, noC: Column, coC: Column) = {
      val pd = nC.cast("double") / cC.cast("double")
      // a degenerate key (other period empty) masks to null anyway,
      // but ANSI raises on the 0/0 before the mask — guard the ratio
      val qd = when(coC === 0, lit(0.0))
        .otherwise(noC.cast("double") / coC.cast("double"))
      when(nC === 0, lit(0.0))
        .otherwise(pd * log(lit(2.0) * pd / (pd + qd)))
    }
    val terms = cells.join(keyStats, col("key") <=> col("__k"))
      .withColumn("__term", floor(
        (side(col("n0"), col("__c0"), col("n1"), col("__c1"))
          + side(col("n1"), col("__c1"), col("n0"), col("__c0")))
          * lit(500000.0)).cast("long"))
    val fold = terms.groupBy(col("key").as("__k2"))
      .agg(sum(col("__term")).as("__jsd"),
        max(when(col("__c0") === 0 || col("__c1") === 0, 1L)
          .otherwise(0L)).as("__degen"))
    terms.join(fold, col("key") <=> col("__k2"))
      .select(col("key"), col("bucket"), col("n0"), col("n1"),
        col("n_buckets"),
        when(col("__degen") === 1, lit(null).cast("long"))
          .otherwise(col("__jsd")).as("jsd_micro"))
  }

  /** One χ² homogeneity cell on the micro lattice: residual
    * `r = T·o − row·colTot` (int64-exact, ANSI-guarded), then
    * `(r/T)²/(T⁻¹·row·colTot)` = `r²/(T·row·colTot)` in IEEE double in
    * THIS op order, floored to micro units. Zero marginals yield 0
    * (masked to null χ² by the caller's degenerate flag).
    */
  private def term(tot: org.apache.spark.sql.Column,
      o: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column,
      colTot: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val r = tot * o - row * colTot
    when(row === 0 || colTot === 0 || tot === 0, lit(0L))
      .otherwise(floor(r.cast("double") * r.cast("double")
        / (tot.cast("double") * row.cast("double")
          * colTot.cast("double")) * 1000000).cast("long"))
  }

  /** Shannon entropy of a category distribution per key — the
    * diversity monitor beside [[Ops.hhiPpm]]'s concentration (HHI
    * weights the head, entropy weights the tail: a corpus can keep
    * its HHI while its long tail of sources quietly dies):
    *
    *   entropy_micro = Σ_c floor(10⁶ · (n_c/N) · ln(N/n_c))
    *
    * per-category term in ONE fixed IEEE op order floored to micro-
    * nats (the [[benfordCheck]]/[[jsDivergence]] ln discipline —
    * terms ≥ 0, so the integer sum is monotone and order-free;
    * undercount ≤ C micro, stated), with `max_entropy_micro =
    * floor(10⁶·ln(C))` riding along so the caller can read evenness
    * without another operator (single-category keys read 0 over 0).
    * Null categories refuse loudly (the hhiPpm contract). One
    * (key, cat) map-side agg + one key-sized window + one fold.
    */
  def categoryEntropy(df: DataFrame, keyCol: String,
      catCol: String): DataFrame = {
    val c = coalesce(col(catCol).cast("string"),
      raise_error(lit("categoryEntropy: null category — a null is " +
        "not a category; filter or impute visibly upstream"))
        .cast("string"))
    df.select(col(keyCol).as("key"), c.as("__c"))
      .groupBy(col("key"), col("__c"))
      .agg(count(lit(1)).as("__nc"))
      .withColumn("__n",
        sum(col("__nc")).over(Window.partitionBy(col("key"))))
      .withColumn("__term",
        floor(lit(1000000.0)
          * (col("__nc").cast("double") / col("__n").cast("double"))
          * log(col("__n").cast("double") / col("__nc").cast("double")))
          .cast("long"))
      .groupBy(col("key"))
      .agg(max(col("__n")).as("n"),
        count(lit(1)).as("n_categories"),
        sum(col("__term")).as("entropy_micro"))
      .withColumn("max_entropy_micro",
        floor(lit(1000000.0)
          * log(col("n_categories").cast("double"))).cast("long"))
  }

  /** At-most-one-changepoint locator per key — the OFFLINE companion
    * to [[cusum]]'s streaming alarm and [[levelShift]]'s fixed-width
    * contrast (AMOC = the first split of binary segmentation; run it
    * on a window the monitors flagged): over the `(ts, tie)` order
    * with prefix sums, the L2 gain of splitting after position i is
    *
    *   gain(i) = S_L²/n_L + S_R²/n_R − S²/n  (≥ 0 by Cauchy–Schwarz)
    *
    * cleared of fractions on DECIMAL(38) and floored ONCE to micro
    * per candidate (`gain_micro = (10⁶·(S_L²·n_R·n + S_R²·n_L·n −
    * S²·n_L·n_R)) div (n_L·n_R·n)` — exact while 10⁶·S²·n² fits
    * DECIMAL(38), i.e. |S|·n ≲ 10¹⁶); the best split is the argmax
    * on that micro lattice with sub-micro ties broken to the
    * EARLIEST position (deterministic, stated). Duplicate `(ts,
    * tie)` positions refuse (tied positions would make the prefix
    * sums nondeterministic — the
    * [[graft.operators.Ops.mannKendallTrend]] contract). Candidates
    * keep ≥
    * `minSeg` rows on each side — a 1-row segment "explains" any
    * point, the AMOC overfit. Keys too short for any candidate emit
    * one row with null split columns (visible, not dropped). The
    * segment means in micro ride along. Output: `key, n, n_left,
    * split_ts, split_tie, gain_micro, mean_left_micro,
    * mean_right_micro`.
    *
    * Scale shape: one key-partitioned window sort (running sum +
    * rank) + one key fold — row-sized data crosses one shuffle once,
    * no pairwise anything, no iteration.
    */
  def changepointAmoc(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, minSeg: Int = 2): DataFrame = {
    require(minSeg >= 1 && minSeg <= 1000000,
      s"minSeg=$minSeg out of [1, 1000000]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("changepointAmoc value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row " +
          "would shift every prefix"))).cast("long"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tie"))
    val kw = Window.partitionBy(col("key"))
    val pre = Ops.refuseDupPositions("changepointAmoc",
        df.select(col(keyCol).as("key"),
          col(tsCol).cast("long").as("ts"),
          col(tieCol).cast("long").as("tie"), v.as("__v")),
        "key", "ts", "tie")
      .withColumn("__pos", row_number().over(w).cast("long"))
      .withColumn("__sl", sum(col("__v")).over(w))
      .withColumn("__n", count(lit(1)).over(kw))
      .withColumn("__s", sum(col("__v")).over(kw))
    val cand = pre
      .filter(col("__pos") >= minSeg
        && col("__pos") <= col("__n") - minSeg)
      .withColumn("__gain", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (" +
          "CAST(__sl AS DECIMAL(38,0)) * __sl * (__n - __pos) * __n" +
          " + CAST(__s - __sl AS DECIMAL(38,0)) * (__s - __sl)" +
          " * __pos * __n" +
          " - CAST(__s AS DECIMAL(38,0)) * __s * __pos" +
          " * (__n - __pos)))" +
          " div (CAST(__pos AS DECIMAL(38,0)) * (__n - __pos) * __n)" +
          " AS BIGINT)"))
    val best = cand.groupBy(col("key").as("__k"))
      .agg(max(struct(col("__gain"), (-col("__pos")).as("__np"),
        col("ts"), col("tie"), col("__pos"), col("__sl"),
        col("__s"), col("__n"))).as("__b"))
      .select(col("__k"),
        col("__b.__pos").as("n_left"),
        col("__b.ts").as("split_ts"), col("__b.tie").as("split_tie"),
        col("__b.__gain").as("gain_micro"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * __b.__sl) " +
          "div __b.__pos AS BIGINT)").as("mean_left_micro"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) " +
          "* (__b.__s - __b.__sl)) div (__b.__n - __b.__pos) " +
          "AS BIGINT)").as("mean_right_micro"))
    pre.groupBy(col("key")).agg(count(lit(1)).as("n"))
      .join(best, col("key") <=> col("__k"), "left")
      .select(col("key"), col("n"), col("n_left"), col("split_ts"),
        col("split_tie"), col("gain_micro"), col("mean_left_micro"),
        col("mean_right_micro"))
  }

  /** Mutual information between two categorical columns per key —
    * the DEPENDENCE monitor beside [[chiSquareDrift]]'s test
    * statistic (χ² says "are they independent", MI says "how many
    * nats does knowing one buy about the other" — the
    * feature-selection and leakage-audit number):
    *
    *   mi_micro = Σ_{ab} floor(10⁶·(n_ab/n)·ln(n_ab·n/(n_a·n_b)))
    *
    * per-cell term in ONE fixed IEEE op order (the
    * [[categoryEntropy]] ln discipline); cell terms can be NEGATIVE
    * (p_ab < p_a·p_b), so the floors can push the integer sum a few
    * micro below the true MI ≥ 0 — at most one micro per OCCUPIED
    * cell, stated, never hidden by clamping. Null categories refuse
    * on both sides (the hhiPpm contract). One (key, a, b) map-side
    * agg + two marginal folds + one cell join.
    */
  def mutualInformation(df: DataFrame, keyCol: String, aCol: String,
      bCol: String): DataFrame = {
    def cat(c: String) = coalesce(col(c).cast("string"),
      raise_error(lit(s"mutualInformation: null $c — a null is not " +
        "a category; filter or impute visibly upstream"))
        .cast("string"))
    val cells = df.select(col(keyCol).as("key"), cat(aCol).as("__a"),
        cat(bCol).as("__b"))
      .groupBy(col("key"), col("__a"), col("__b"))
      .agg(count(lit(1)).as("__nab"))
    val aTot = cells.groupBy(col("key").as("__ka"), col("__a"))
      .agg(sum(col("__nab")).as("__na"))
      .select(col("__ka"), col("__a").as("__a2"), col("__na"))
    val bTot = cells.groupBy(col("key").as("__kb"), col("__b"))
      .agg(sum(col("__nab")).as("__nb"))
      .select(col("__kb"), col("__b").as("__b2"), col("__nb"))
    val nTot = cells.groupBy(col("key").as("__kn"))
      .agg(sum(col("__nab")).as("__n"))
    cells
      .join(aTot, col("key") <=> col("__ka")
        && col("__a") <=> col("__a2"))
      .join(bTot, col("key") <=> col("__kb")
        && col("__b") <=> col("__b2"))
      .join(nTot, col("key") <=> col("__kn"))
      .withColumn("__term",
        floor(lit(1000000.0)
          * (col("__nab").cast("double") / col("__n").cast("double"))
          * log((col("__nab").cast("double") * col("__n")
              .cast("double"))
            / (col("__na").cast("double") * col("__nb")
              .cast("double")))).cast("long"))
      .groupBy(col("key"))
      .agg(max(col("__n")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("__term")).as("mi_micro"))
  }
}
