package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ScalarFns.lehmer

/** Privacy-preserving release primitives — the redaction-adjacent
  * half of corpus governance ([[Curation]] removes PII from text;
  * this file guards what AGGREGATES and RECORDS may leave the
  * enclave):
  *
  *  - k-anonymity suppression (Sweeney 2002): a record may be
  *    released only if at least k records share its quasi-identifier
  *    combination;
  *  - deterministic noisy counts: the geometric mechanism's shape
  *    (two-sided geometric(1/2) noise) driven by a seeded Lehmer
  *    stream so runs are reproducible and oracle-checkable.
  */
object Anonymize {

  /** Row-level k-anonymity APPLY: keep exactly the rows whose
    * quasi-identifier group (`qiCols`) has ≥ k members, with the
    * group size attached as `qi_n`; rows in smaller groups are
    * SUPPRESSED (dropped — the release-safe default; see
    * [[kAnonymityReport]] for the audit view of what was cut).
    * Generalize coarse columns upstream (bucket ages, truncate zip
    * codes) — this operator only enforces the threshold.
    *
    * Scale shape: one map-side-combined count per QI group + one
    * equi join of the group sizes back onto the rows, both on the
    * same key (one shuffle, reused by AQE). No window over the whole
    * relation.
    */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k=$k must be >= 2 (k=1 releases everything)")
    val sizes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_n"))
      .filter(col("qi_n") >= k)
    // NULL-SAFE join keys: groupBy treats null as a group (and the
    // report counts it), so the apply must release it when it passes k
    // — a null-unsafe equi join would silently drop every null-QI row
    val s2 = qiCols.foldLeft(sizes) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val cond = qiCols.map(c => df(c) <=> s2(s"__q_$c")).reduce(_ && _)
    df.join(s2, cond).drop(qiCols.map(c => s"__q_$c"): _*)
  }

  /** The audit view: one row per quasi-identifier group with its size
    * and the suppression verdict — what a release reviewer reads
    * before signing off (groups failing k, i.e. `suppressed = true`,
    * are exactly the rows [[kAnonymize]] drops).
    */
  def kAnonymityReport(df: DataFrame, qiCols: Seq[String],
      k: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k=$k must be >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_n"))
      .withColumn("suppressed", col("qi_n") < k)
  }

  /** l-diversity companion to [[kAnonymize]] (Machanavajjhala et al.
    * 2007, the distinct-l variant): a k-anonymous group is still
    * re-identifying when everyone in it SHARES the sensitive value
    * (the homogeneity attack), so release requires BOTH `qi_n >= k`
    * and `>= l` distinct sensitive values per quasi-identifier group.
    * This is the APPLY: surviving rows with `qi_n` and `qi_l`
    * (distinct sensitive values, nulls not counted — an all-null
    * group has diversity 0 and never releases) attached. See
    * [[lDiversityReport]] for the reviewer's per-group audit view.
    *
    * Scale shape: ONE aggregation over the QI key computes both the
    * size and the distinct-sensitive count (two-phase distinct agg,
    * map-side partial), then the same null-safe equi join back as
    * [[kAnonymize]] — one shuffle key throughout.
    */
  def kAnonymizeLDiverse(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(k >= 2, s"k=$k must be >= 2 (k=1 releases everything)")
    require(l >= 2, s"l=$l must be >= 2 (l=1 is plain k-anonymity)")
    val sizes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_n"),
        countDistinct(col(sensitiveCol)).as("qi_l"))
      .filter(col("qi_n") >= k && col("qi_l") >= l)
    val s2 = qiCols.foldLeft(sizes) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val cond = qiCols.map(c => df(c) <=> s2(s"__q_$c")).reduce(_ && _)
    df.join(s2, cond).drop(qiCols.map(c => s"__q_$c"): _*)
  }

  /** The audit view for [[kAnonymizeLDiverse]]: one row per
    * quasi-identifier group with its size, its sensitive-value
    * diversity, and the per-predicate verdicts — `suppressed_k`
    * (fails the size gate) and `suppressed_l` (fails the diversity
    * gate); a group releases iff both are false.
    */
  def lDiversityReport(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(k >= 2, s"k=$k must be >= 2")
    require(l >= 2, s"l=$l must be >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_n"),
        countDistinct(col(sensitiveCol)).as("qi_l"))
      .withColumn("suppressed_k", col("qi_n") < k)
      .withColumn("suppressed_l", col("qi_l") < l)
  }

  /** ENTROPY-l-diversity companion to [[kAnonymizeLDiverse]]
    * (Machanavajjhala et al. 2007 §4.2): distinct-l is defeated by a
    * SKEWED sensitive distribution — a group of 50 records with 49
    * "flu" and 1 "HIV" has distinct diversity 2 but an attacker is
    * 98% sure of flu. The entropy gate requires
    *
    *   −Σ_s p_s·ln(p_s) ≥ ln(l)
    *
    * per quasi-identifier group, evaluated on the exact micro lattice
    * (`qi_h_micro` vs `floor(ln(l)·10⁶)` — see the lattice note on
    * [[entropyLDiversityReport]]: a true entropy within ~(S+2) micro
    * of the gate can flip either way, identically on every engine).
    * This is the APPLY: rows of groups passing BOTH `qi_n ≥ k` and
    * the entropy gate survive, with `qi_n`, `qi_l` (distinct
    * non-null sensitive values, for the reviewer's cross-check) and
    * `qi_h_micro` attached. Nulls carry no sensitive value: they
    * count toward qi_n (they are records) but not toward the entropy
    * — an all-null group never releases. Same null-safe QI join
    * discipline as [[kAnonymize]].
    *
    * Scale shape: ONE aggregation over (QI, sensitive) then one over
    * QI — both map-side combined on the same leading key — plus the
    * null-safe equi join back; one shuffle family throughout.
    */
  def kAnonymizeLDiverseEntropy(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    val rep = entropyLDiversityReport(df, qiCols, sensitiveCol, k, l)
      .filter(!col("suppressed_k") && !col("suppressed_l"))
      .drop("suppressed_k", "suppressed_l")
    val s2 = qiCols.foldLeft(rep) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val cond = qiCols.map(c => df(c) <=> s2(s"__q_$c")).reduce(_ && _)
    df.join(s2, cond).drop(qiCols.map(c => s"__q_$c"): _*)
  }

  /** The audit view for [[kAnonymizeLDiverseEntropy]]: one row per
    * quasi-identifier group with `qi_n`, `qi_l` (distinct non-null
    * sensitive values), `qi_h_micro` (the entropy on the micro
    * lattice, null for all-null groups) and the per-gate verdicts
    * `suppressed_k` / `suppressed_l` (entropy below `ln(l)·10⁶`
    * micro, or undefined). A group releases iff both are false.
    *
    * The entropy lattice: with c_s the count of each NON-NULL
    * sensitive value and n_s = Σ c_s,
    *
    *   H_micro = floor(ln(n_s)·10⁶) − (Σ_s floor(c_s·ln(c_s)·10⁶)) div n_s
    *
    * — algebraically H = ln n − Σ (c/n)·ln c = −Σ p·ln p, each ln
    * term floored to micro BEFORE the exact integer sum (so partition
    * order cannot flip a bit), the final division an integer `div`.
    * The lattice sits within ±(S+2) micro of the true entropy for S
    * distinct sensitive values — ~10⁻⁵ nats, noise against any
    * ln(l) gate (ln 2 ≈ 693147 micro) but NOT one-sided; a group
    * within that sliver of the gate can flip either way, identically
    * on every engine. Null when the group has no non-null sensitive
    * value (entropy of nothing is undefined, and such a group must
    * never release).
    */
  def entropyLDiversityReport(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(k >= 2, s"k=$k must be >= 2 (k=1 releases everything)")
    require(l >= 2, s"l=$l must be >= 2 (entropy-l with l=1 gates nothing)")
    val lnLMicro = math.floor(math.log(l.toDouble) * 1000000).toLong
    val bySens = df.groupBy((qiCols.map(col) :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).as("__c"))
    bySens.groupBy(qiCols.map(col): _*)
      .agg(sum(col("__c")).as("qi_n"),
        sum(when(col(sensitiveCol).isNotNull, 1L).otherwise(0L))
          .as("qi_l"),
        sum(when(col(sensitiveCol).isNotNull, col("__c")).otherwise(0L))
          .as("__ns"),
        sum(when(col(sensitiveCol).isNotNull,
          floor(col("__c").cast("double")
            * log(col("__c").cast("double")) * 1000000).cast("long"))
          .otherwise(0L)).as("__st"))
      .withColumn("qi_h_micro",
        when(col("__ns") === 0, lit(null).cast("long"))
          .otherwise(floor(log(col("__ns").cast("double")) * 1000000)
            .cast("long") - expr("__st div __ns")))
      .drop("__ns", "__st")
      .withColumn("suppressed_k", col("qi_n") < k)
      .withColumn("suppressed_l",
        col("qi_h_micro").isNull || col("qi_h_micro") < lnLMicro)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) for an
    * ORDERED (numeric) sensitive attribute — the gate that catches
    * what even [[entropyLDiversityReport]] cannot: a group can be
    * perfectly diverse yet still leak ("every salary in this zip is
    * in the top decile"). Per quasi-identifier group, the Earth
    * Mover's Distance between the group's sensitive distribution and
    * the WHOLE table's, under the ordered-distance ground metric —
    * which collapses to prefix sums over the sorted value domain
    * (the paper's Eq. 2):
    *
    *   EMD = (1/(m−1)) · Σ_{i<m} | Σ_{j≤i} (p_j − q_j) |
    *
    * with m distinct sensitive values. Fractions are cleared exactly:
    * `prefix_i = Σ_{j≤i} (c_j·N − g_j·n)` (c = group counts, g =
    * global counts, n = group size, N = table size) is an EXACT
    * integer on DECIMAL(38), and
    *
    *   emd_ppm = (10⁶ · Σ_i |prefix_i|) div ((m−1)·n·N)
    *
    * — one integral division (both engines truncate), ANSI-loud past
    * 10³⁸ (N ≈ 10¹² with m ≈ 10³ stays inside). EMD ∈ [0, 1]; a
    * group matching the table exactly reads 0, a group concentrated
    * at one extreme of the order reads toward 10⁶. `suppressed_t` =
    * `emd_ppm > tPpm`. m = 1 (one sensitive value table-wide) makes
    * every group trivially identical → emd_ppm = 0 by definition.
    * Null sensitive values REFUSE loudly: a null has no position on
    * the value order, so it cannot be transported — impute or drop
    * upstream, visibly.
    *
    * Scale shape: one (QI, value) aggregation; the per-group
    * distribution grid is groups × m rows built by cross-joining the
    * BROADCAST value domain (m refused loudly past `maxValues` —
    * the grid is the algorithm, so its width is a contract, the
    * [[graft.operators.Ops.theilSen]] discipline) with one
    * QI-partitioned prefix window over it. Nothing row-sized
    * shuffles twice.
    */
  def tClosenessReport(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, tPpm: Long,
      maxValues: Int = 1024): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(tPpm >= 0 && tPpm <= 1000000,
      s"tPpm=$tPpm out of [0, 1000000]")
    require(maxValues >= 2 && maxValues <= 65536,
      s"maxValues=$maxValues out of [2, 65536]")
    val s = coalesce(col(sensitiveCol).try_cast("long"),
      raise_error(concat(lit("tClosenessReport: sensitive value '"),
        coalesce(col(sensitiveCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — ordered EMD needs " +
          "a position on the value order; impute or drop upstream")))
        .cast("long"))
    val rows = df.select((qiCols.map(col) :+ s.as("__s")): _*)
    val cellCounts = rows
      .groupBy((qiCols.map(col) :+ col("__s")): _*)
      .agg(count(lit(1)).as("__c"))
    val domain = cellCounts.groupBy(col("__s").as("__v"))
      .agg(sum(col("__c")).as("__g"))
    val domSize = domain.groupBy()
      .agg(count(lit(1)).as("__m"), sum(col("__g")).as("__N"))
      .select(when(col("__m") > maxValues,
        raise_error(concat(lit("tClosenessReport: "),
          col("__m").cast("string"),
          lit(s" distinct sensitive values > maxValues=$maxValues — " +
            "the per-group grid is groups x m; bucket the sensitive " +
            "attribute upstream"))).cast("long"))
        .otherwise(col("__m")).as("__m"), col("__N"))
    val groups = rows.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_n"))
    val grid = groups
      .crossJoin(broadcast(domain.crossJoin(domSize)))
    val cc = qiCols.foldLeft(cellCounts) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val joinCond = qiCols.map(c => col(c) <=> col(s"__q_$c"))
      .reduce(_ && _) && col("__v") === col("__s")
    val w = Window.partitionBy(qiCols.map(col): _*)
      .orderBy(col("__v"))
    val prefixed = grid.join(cc, joinCond, "left")
      .withColumn("__d",
        (coalesce(col("__c"), lit(0L)).cast("decimal(38,0)")
          * col("__N").cast("decimal(38,0)"))
        - (col("__g").cast("decimal(38,0)")
          * col("qi_n").cast("decimal(38,0)")))
      .withColumn("__prefix", sum(col("__d")).over(w))
    prefixed.groupBy((qiCols.map(col) :+ col("qi_n")
        :+ col("__m") :+ col("__N")): _*)
      .agg(sum(abs(col("__prefix"))).as("__emd_num"))
      .select((qiCols.map(col) :+ col("qi_n")
        :+ col("__m").as("n_values")
        :+ when(col("__m") === 1, lit(0L))
          .otherwise(expr("CAST((CAST(1000000 AS DECIMAL(38,0)) " +
            "* __emd_num) div (CAST(__m - 1L AS DECIMAL(38,0)) " +
            "* qi_n * __N) AS BIGINT)"))
          .as("emd_ppm")): _*)
      .withColumn("suppressed_t", col("emd_ppm") > tPpm)
  }

  /** The APPLY for [[tClosenessReport]], stacked on the k gate: rows
    * of groups with `qi_n ≥ k` AND `emd_ppm ≤ tPpm` survive, with
    * the group's `qi_n` and `emd_ppm` attached (same null-safe QI
    * join discipline as [[kAnonymize]]). k rides along because
    * t-closeness without k-anonymity still releases singleton
    * groups — the paper's gates compose, they do not substitute.
    */
  def kAnonymizeTClose(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, tPpm: Long,
      maxValues: Int = 1024): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    val rep = tClosenessReport(df, qiCols, sensitiveCol, tPpm,
        maxValues)
      .filter(col("qi_n") >= k && !col("suppressed_t"))
      .drop("suppressed_t", "n_values")
    val s2 = qiCols.foldLeft(rep) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val cond = qiCols.map(c => df(c) <=> s2(s"__q_$c")).reduce(_ && _)
    df.join(s2, cond).drop(qiCols.map(c => s"__q_$c"): _*)
  }

  /** Generalization ladder for a NUMERIC quasi-identifier
    * (Samarati-style global recoding): try each bucket width in
    * `widths` order (caller lists them fine → coarse) and release the
    * FIRST level at which EVERY (bucket, otherQi) group reaches k —
    * the automated form of [[kAnonymize]]'s "generalize coarse
    * columns upstream" instruction. Buckets floor to multiples of the
    * width (`v − pmod(v, width)`, so negative values floor rather
    * than truncate); output rows carry the bucketed column as
    * `<numCol>_gen`, the chosen `gen_width`, and the group's `qi_n`.
    * If even the coarsest width leaves an under-k group, the operator
    * REFUSES loudly (suppressing rows is [[kAnonymize]]'s job —
    * silently mixing generalization and suppression would hide which
    * privacy lever actually fired).
    *
    * Scale shape: one map-side-combined (bucket, otherQi) count + one
    * 1-row min fold PER LADDER LEVEL until a level passes (driver
    * loop, ≤ 16 levels by contract — the iterative index-lifecycle
    * discipline), then one count + equi join at the chosen width.
    */
  def generalizeToK(df: DataFrame, numCol: String, otherQi: Seq[String],
      k: Long, widths: Seq[Long]): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    require(widths.nonEmpty && widths.length <= 16,
      s"need 1..16 ladder widths, got ${widths.length}")
    require(widths.forall(_ >= 1), "ladder widths must be >= 1")
    require(!otherQi.contains(numCol),
      s"'$numCol' cannot also appear in otherQi")
    def bucket(width: Long) =
      (col(numCol) - pmod(col(numCol), lit(width))).as("__b")
    val chosen = widths.find { width =>
      val minN = df.groupBy((bucket(width) +: otherQi.map(col)): _*)
        .agg(count(lit(1)).as("__n"))
        .agg(min(col("__n")).as("__m"))
        .head().getLong(0)
      minN >= k
    }.getOrElse(throw new IllegalArgumentException(
      s"generalizeToK: no ladder width in ${widths.mkString("[", ",", "]")} " +
        s"reaches k=$k for every group — coarsen the ladder or suppress " +
        "with kAnonymize instead"))
    val withB = df.withColumn(s"${numCol}_gen",
      col(numCol) - pmod(col(numCol), lit(chosen)))
    val sizes = withB.groupBy((col(s"${numCol}_gen") +:
        otherQi.map(col)): _*)
      .agg(count(lit(1)).as("qi_n"))
    val s2 = (s"${numCol}_gen" +: otherQi).foldLeft(sizes) { (d, c) =>
      d.withColumnRenamed(c, s"__q_$c") }
    val cond = (s"${numCol}_gen" +: otherQi)
      .map(c => withB(c) <=> s2(s"__q_$c")).reduce(_ && _)
    withB.join(s2, cond)
      .drop((s"${numCol}_gen" +: otherQi).map(c => s"__q_$c"): _*)
      .withColumn("gen_width", lit(chosen))
  }

  /** Normalize an id column to long for the forget cascade, REFUSING
    * loudly on any non-null value the cast loses (a non-numeric
    * string id silently null-casting would make the anti join RETAIN
    * the row — a deletion operator must never skip work silently, and
    * the audit could not surface it either: the request would just
    * read n_removed = 0, indistinguishable from nothing-to-delete).
    * SQL-null ids pass through as null (no user to forget — an
    * anti-join key of null matches no tombstone, which is correct,
    * not silent loss). try_cast keeps the probe ANSI-safe; the
    * raise_error is row-forced because the result IS the join key.
    */
  private def longIdOrRefuse(c: Column, what: String): Column =
    when(c.isNull, lit(null).cast("long"))
      .otherwise(coalesce(c.try_cast("long"),
        raise_error(concat(lit(s"$what id '"), c.cast("string"),
          lit("' is not castable to long — refusing to silently " +
            "skip a right-to-be-forgotten row"))).cast("long")))

  /** Right-to-be-forgotten cascade, the APPLY: every row whose
    * `userCol` appears in the tombstone relation is removed (one
    * anti-join — at scale the tombstone side is a broadcast or a
    * bloom-pushed semi-join, Catalyst's choice). Ids on BOTH sides
    * must cast to long; an uncastable non-null id on either side
    * refuses loudly (see [[longIdOrRefuse]]) instead of silently
    * retaining the row. Pair with [[forgetAudit]] for the processing
    * proof a DSR workflow files.
    */
  def forgetUsers(df: DataFrame, userCol: String, tombstones: DataFrame,
      tombCol: String): DataFrame = {
    // cast BOTH sides to long, exactly like forgetAudit — asymmetric
    // normalization would let the apply and its audit disagree
    val tomb = tombstones
      .select(longIdOrRefuse(col(tombCol), "tombstone").as("__tu"))
      .distinct()
    df.join(tomb, longIdOrRefuse(df(userCol), "user") === tomb("__tu"),
      "left_anti")
  }

  /** The audit relation for [[forgetUsers]]: ONE ROW PER TOMBSTONE —
    * including requests matching nothing (n_removed = 0), because a
    * deletion request must be provably PROCESSED, not silently
    * skipped — with the number of rows the cascade removes. Applies
    * the same uncastable-id refusal as the apply on both sides. One
    * map-side-combined count + a tombstone-sized outer join.
    */
  def forgetAudit(df: DataFrame, userCol: String, tombstones: DataFrame,
      tombCol: String): DataFrame = {
    val tomb = tombstones
      .select(longIdOrRefuse(col(tombCol), "tombstone").as("user"))
      .distinct()
    val counts = df.select(longIdOrRefuse(col(userCol), "user").as("user"))
      .join(tomb, Seq("user"), "left_semi")
      .groupBy(col("user")).agg(count(lit(1)).as("__n"))
    tomb.join(counts, Seq("user"), "left")
      .select(col("user"),
        coalesce(col("__n"), lit(0L)).as("n_removed"))
  }

  /** Noisy group counts in the geometric mechanism's SHAPE: per key,
    * the true count plus two-sided noise with geometric(1/2)
    * magnitude (`P(|noise| = j) ≈ 2^{-(j+1)}`) and a fair sign,
    * clamped at zero. Under ideal uniformity that is an ε = 2·ln 2
    * differentially-private release; here the noise is DERIVED from a
    * seeded Lehmer stream over the key — deterministic by design, so
    * runs reproduce and the oracle can replay every draw. That
    * determinism is the right default for pipeline testing and for
    * CONSISTENT noise (the same key must not average out over
    * repeated queries — the standard sticky-noise practice); swap the
    * stream for true randomness only with a privacy review.
    *
    * Noise draw, exact integer arithmetic end to end: two Lehmer
    * steps mix `key + seed`; bit 0 is the sign, and the magnitude is
    * the count of trailing one-bits of the remaining 30 bits (a
    * geometric(1/2) variable, computed via the binary string — no
    * float anywhere, identical in both engines).
    *
    * One map-side-combined count + row-local arithmetic; no second
    * shuffle.
    */
  def noisyCounts(df: DataFrame, keyCol: String,
      seed: Long = 1L): DataFrame = {
    val u = lehmer(lehmer(col("key") + lit(seed)) + lit(seed))
    val bits = u.cast("long")
    val magBits = expr("conv(cast(__u div 2 as string), 10, 2)")
    val mag = (length(magBits) - length(rtrim(magBits, "1")))
      .cast("long")
    df.select(releaseKey(col(keyCol), "noisyCounts").as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__u", bits)
      .withColumn("noise",
        (lit(1L) - lit(2L) * pmod(col("__u"), lit(2L))) * mag)
      .withColumn("noisy_n", greatest(col("n") + col("noise"), lit(0L)))
      .drop("__u")
  }

  /** The release-key contract shared by the noisy aggregates: keys
    * must be non-null and long-castable, REFUSED loudly otherwise. A
    * null key group would make the Lehmer draw null, the noise null,
    * and the released value silently un-noised (Spark's `greatest`
    * skips nulls, so `greatest(n + null, 0)` read 0 before this
    * check) — a privacy-release operator must refuse a broken
    * bucketing, not publish a wrong number for it. Row-forced: the
    * result IS the grouping key.
    */
  private def releaseKey(c: Column, op: String): Column =
    coalesce(c.try_cast("long"),
      raise_error(concat(lit(s"$op key '"),
        coalesce(c.cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a noisy release " +
          "needs sound buckets; fix the keying upstream")))
        .cast("long"))

  /** Noisy group SUMS — [[noisyCounts]] generalized past counting
    * queries. Differential privacy for a sum needs a SENSITIVITY
    * bound first: each row's contribution is clipped to
    * `[-clip, +clip]` (the standard contribution-bounding step — one
    * record can then move the true sum by at most `clip`), the
    * clipped values are summed per key, and the same seeded-Lehmer
    * two-sided geometric(1/2) draw as [[noisyCounts]] is added with
    * its magnitude SCALED BY `clip`, so the noise-to-sensitivity
    * ratio (and hence the ε = 2·ln 2 shape under ideal uniformity)
    * matches the count mechanism's. Determinism rationale and the
    * sticky-noise caveat as in [[noisyCounts]].
    *
    * Null or uncastable keys and VALUES refuse loudly (a null value
    * silently contributing 0 to a privacy release hides a schema
    * break); sums are NOT zero-clamped — unlike counts, a true sum
    * may be negative. Output: `key, clipped_sum, noise, noisy_sum`.
    * One map-side-combined sum + row-local arithmetic; no second
    * shuffle.
    */
  def noisySums(df: DataFrame, keyCol: String, valCol: String,
      clip: Long, seed: Long = 1L): DataFrame = {
    require(clip >= 1, s"clip=$clip must be >= 1 (the sensitivity bound)")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("noisySums value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a null contribution " +
          "would silently sum as 0 in a privacy release")))
        .cast("long"))
    val clipped = least(greatest(v, lit(-clip)), lit(clip))
    val u = lehmer(lehmer(col("key") + lit(seed)) + lit(seed))
    val magBits = expr("conv(cast(__u div 2 as string), 10, 2)")
    val mag = (length(magBits) - length(rtrim(magBits, "1")))
      .cast("long")
    df.select(releaseKey(col(keyCol), "noisySums").as("key"),
        clipped.as("__v"))
      .groupBy(col("key"))
      .agg(sum(col("__v")).as("clipped_sum"))
      .withColumn("__u", u.cast("long"))
      .withColumn("noise",
        (lit(1L) - lit(2L) * pmod(col("__u"), lit(2L))) * mag * clip)
      .withColumn("noisy_sum", col("clipped_sum") + col("noise"))
      .drop("__u")
  }

  /** Keyed pseudonymization — replace identifier columns with stable,
    * join-consistent pseudonyms: two multiplicative-hash rounds over
    * `id + salt` on the 2³¹ lattice (the [[graft.operators.Curation]]
    * sampling-hash discipline: pre-reduced mod 2³¹ so products stay
    * under 2⁶², bit-identical in any engine including the oracle's
    * BIGINT arithmetic),
    *
    *   r₁ = ((id + salt) mod M)·2654435761 mod M
    *   r₂ = ((r₁ + 7919·salt) mod M)·2246822519 mod M,   M = 2³¹
    *
    * (both multipliers public mixing constants — Knuth's golden-ratio
    * prime and xxHash's prime2). Both rounds are bijections on
    * [0, M): adding a constant mod M permutes, and multiplying by an
    * ODD constant mod a power of two permutes — so over the ACCEPTED
    * id domain [0, 2³¹) the map is INJECTIVE and "join-consistent"
    * holds with no collisions at all. Ids OUTSIDE [0, 2³¹) — 64-bit
    * snowflake ids, negative surrogate keys — refuse LOUDLY: the mod-M
    * pre-reduction would silently collapse any two ids 2³¹ apart into
    * one pseudonym, merging distinct identities in every downstream
    * join and distinct count (pre-split wide ids into two sub-2³¹
    * halves, or re-key upstream). NOT cryptographic: the rounds are
    * invertible mod M by anyone who learns the salt, and a keyed HMAC
    * belongs here when the adversary model demands one — this is the
    * analyst-facing consistency layer (same id ⇒ same pseudonym
    * across tables sharing the salt), documented as such. Null ids
    * stay null (a null carries no identity to hide); a non-null id
    * that does not cast to long refuses for the same merge reason.
    * Map-side only — no shuffle, no state, nothing leaves codegen.
    */
  def pseudonymize(df: DataFrame, idCols: Seq[String],
      salt: Long): DataFrame = {
    require(idCols.nonEmpty, "pseudonymize: no id columns given")
    val m = 1L << 31
    // salts pre-reduced DRIVER-SIDE (BigInt, no overflow) so the
    // per-row arithmetic never exceeds 2^62 under ANSI
    val s1 = ((salt % m) + m) % m
    val s2 = ((BigInt(7919) * salt).mod(BigInt(m))).toLong
    idCols.foldLeft(df) { (d, c) =>
      val idv = coalesce(col(c).try_cast("long"),
        raise_error(concat(lit(s"pseudonymize: id $c='"),
          col(c).cast("string"),
          lit("' is not castable to long — an uncast id would merge " +
            "identities"))).cast("long"))
      val inDomain = when(idv >= 0 && idv < m, idv).otherwise(
        raise_error(concat(lit(s"pseudonymize: id $c="),
          idv.cast("string"),
          lit(s" outside [0, 2^31) — the 2^31 lattice would collapse " +
            "ids 2^31 apart into one pseudonym; split wide ids or " +
            "re-key upstream"))).cast("long"))
      val r1 = pmod(pmod(pmod(inDomain, lit(m)) + lit(s1),
        lit(m)) * lit(2654435761L), lit(m))
      val r2 = pmod(pmod(r1 + lit(s2), lit(m))
        * lit(2246822519L), lit(m))
      d.withColumn(c, when(col(c).isNull, lit(null).cast("long"))
        .otherwise(r2))
    }
  }
}
