package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SURVEY §2 operator inventory as reusable DataFrame combinators.
  * Each combinator documents the reference semantics it reproduces
  * (file:line into /root/reference/code/) and its scale posture: what
  * shuffles, what broadcasts, what stays map-side.
  */
object Ops {

  // ── R1: explode-zip ─────────────────────────────────────────────────────
  /** Explode several ";"-delimited multi-value string columns in positional
    * lockstep, null-padding shorter lists to the longest
    * (`expand_dataframe`, code/lib/util.py:158-203 — pandas pads with NaN at
    * :179-180). `arrays_zip` has exactly that null-padding semantics.
    * Map-side only: no shuffle.
    */
  def explodeZip(df: DataFrame, cols: Seq[String], sep: String = ";"): DataFrame = {
    // A null cell must behave like an empty list (arrays_zip null-pads it to
    // the longest sibling), and an all-null row must SURVIVE as one row of
    // nulls — pandas pads with NaN and keeps the row (util.py:179-180), so
    // coalesce-to-empty + explode_outer, never plain explode.
    val zipped = arrays_zip(cols.map(c =>
      coalesce(split(col(c), sep), array().cast("array<string>")).as(c)): _*)
    val others = df.columns.filterNot(cols.contains).map(col)
    df.withColumn("__z", explode_outer(zipped))
      .select(others ++ cols.map(c => col("__z")(c).as(c)): _*)
  }

  // ── J7: range lookup (as-of style threshold classification) ─────────────
  /** `assign_values_based_on_series` (code/lib/util.py:228-252): for each
    * fact value x, the attribute of the SMALLEST threshold >= x. Implemented
    * as a broadcast non-equi join + per-row min — the limits table is tiny
    * (voltage classes, length buckets), so this is a broadcast nested-loop
    * join followed by a partial-aggregated groupBy on the fact's own key:
    * no fact-side shuffle beyond the final agg, which Catalyst partial-aggs
    * map-side. At 100 TB the same shape holds: the only big movement is the
    * fact table's one agg shuffle.
    */
  def rangeLookup(fact: DataFrame, valueCol: String,
      limits: DataFrame, thresholdCol: String): DataFrame = {
    // Intervalize the (tiny) threshold table: each threshold owns the range
    // (previous_threshold, threshold]. A fact value then matches EXACTLY one
    // broadcast row, so the join needs no dedup window afterwards — the
    // earlier join-then-rank shape shuffled |fact| × |limits| rows by a
    // surrogate key; this one is map-side only (measured 2.3 s → ~0.4 s on
    // 600k rows × 4 classes at sf0.1).
    // __lo from ONE driver-side collect of the (contractually tiny)
    // threshold column instead of a global lag() window: no partitionless
    // WindowExec — a REAL fact-scale global-window regression stays
    // visible in the logs — and the fact-side plan is a single broadcast
    // join. Duplicate thresholds refuse loudly here (under lag() they
    // degraded safely; any join formulation would silently match a fact
    // row twice). Null-threshold rows never match a fact value and are
    // dropped.
    val spark = limits.sparkSession
    val thr = limits.select(col(thresholdCol).cast("double"))
      .na.drop().collect().map(_.getDouble(0)).sorted
    require(thr.distinct.length == thr.length,
      s"rangeLookup: duplicate values in threshold column '$thresholdCol' — " +
        "each threshold must own exactly one range")
    val loRows = thr.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(t, if (i == 0) null else Double.box(thr(i - 1)))
    }
    val loDf = spark.createDataFrame(
      spark.sparkContext.parallelize(loRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__key",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("__lo",
          org.apache.spark.sql.types.DoubleType))))
    val ranged = limits
      .join(broadcast(loDf), col(thresholdCol).cast("double") === col("__key"))
      .drop("__key")
    fact.join(broadcast(ranged),
        col(valueCol) <= col(thresholdCol) &&
          (col("__lo").isNull || col(valueCol) > col("__lo")), "left")
      .drop("__lo")
  }

  /** Same semantics compiled to a CASE WHEN chain when the thresholds are
    * known at plan time — zero join, pure codegen. Preferred at scale.
    */
  def rangeLookupCase(value: Column, thresholds: Seq[(Double, Any)]): Column = {
    val sorted = thresholds.sortBy(_._1)
    sorted.foldRight(lit(null).cast("string")) { case ((t, v), acc) =>
      when(value <= t, lit(v)).otherwise(acc)
    }
  }

  // ── A5: mode imputation ─────────────────────────────────────────────────
  /** Most-frequent value per group with deterministic tie-break (higher
    * count first, then lexicographically smallest value) — the reference's
    * `value_counts().index[0]` imputation for voltage/wires/cables
    * (code/lib/correction_functions.py:617-623). One shuffle on
    * (group, value) with map-side partial counts, then a tiny per-group
    * window.
    */
  def modePerGroup(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*).agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(groupCols.map(col) :+ col(valueCol).as(s"${valueCol}_mode"): _*)
  }

  // ── W3: top-k per group ─────────────────────────────────────────────────
  /** Rank-based per-group top-k (code/lib/spatial_functions.py:434-436 picks
    * the N best pixels per country). `row_number` over a partitioned window
    * — single shuffle on the group key; with AQE, skewed groups split.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  // ── W2: forward fill ────────────────────────────────────────────────────
  /** last-non-null forward fill down a deterministic order within a group
    * (IRENA merged-cell headers, code/lib/correction_functions.py:704-708).
    *
    * Partition columns are REQUIRED: an unpartitioned ordered window
    * serializes the whole frame through one task. For genuinely global
    * fills on provably small frames (config headers), call
    * [[forwardFillGlobal]], which states that contract in its name.
    */
  def forwardFill(df: DataFrame, orderCol: String, fillCols: Seq[String],
      partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty,
      "forwardFill requires partition columns — an unpartitioned ordered window " +
        "runs in ONE task; use forwardFillGlobal for small header tables")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    fillCols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** [[forwardFill]] over the WHOLE frame in one task — only for small
    * driver-bounded tables (multi-row config headers). The name is the
    * opt-in: no silent single-partition default.
    */
  def forwardFillGlobal(df: DataFrame, orderCol: String, fillCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(lit(1))
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    fillCols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  // ── W1: gap fill from previous day scaled by trend ──────────────────────
  /** Single-pass variant of the reference's load gap fill
    * (code/lib/correction_functions.py:315-318):
    * x[i] = sum(x[i-5..i-1]) / sum(x[i-29..i-25]) * x[i-24] where x[i]==0.
    * The reference mutates top-down so later gaps can read earlier fills; a
    * declared difference (SURVEY §2.5): we fill from ORIGINAL neighbors in
    * one vectorized pass (bounded fixpoint iteration available by calling
    * this repeatedly).
    */
  def gapFillDayTrend(df: DataFrame, partitionCols: Seq[String], orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val recent = sum(col(valueCol)).over(w.rowsBetween(-5, -1))
    val dayAgo = sum(col(valueCol)).over(w.rowsBetween(-29, -25))
    val prev24 = lag(col(valueCol), 24).over(w)
    df.withColumn(valueCol,
      when(col(valueCol) === 0 && dayAgo > 0 && prev24.isNotNull,
        recent / dayAgo * prev24).otherwise(col(valueCol)))
  }

  /** Adaptive-fixpoint variant of [[gapFillDayTrend]]: repeats the
    * vectorized pass WHILE FILLS STILL OCCUR (zero count strictly
    * decreasing), stopping at convergence — every zero filled, or the
    * survivors unfillable — or at the `maxIters` hard cap. This
    * reproduces the reference's top-down sequential semantics (later gaps
    * see already-filled earlier values, code/lib/correction_functions.py:
    * 315-318) on dependency chains of any depth ≤ the cap: a gap whose
    * day-ago donor is itself a gap resolves one pass after its donor.
    * Each pass is one window computation over a localCheckpoint-bounded
    * plan — iterations shuffle rounds, never per-row mutation.
    */
  def gapFillDayTrendFixpoint(df: DataFrame, partitionCols: Seq[String],
      orderCol: String, valueCol: String, maxIters: Int = 32): DataFrame = {
    var cur = df
    var zeros = cur.filter(col(valueCol) === 0).count()
    var i = 0
    var progressing = zeros > 0
    while (i < maxIters && progressing) {
      val next = gapFillDayTrend(cur, partitionCols, orderCol, valueCol)
        .localCheckpoint(true) // bounded plan depth across passes
      val nz = next.filter(col(valueCol) === 0).count()
      progressing = nz > 0 && nz < zeros // stall = unfillable survivors
      cur = next
      zeros = nz
      i += 1
    }
    cur
  }

  // ── scale-pattern aggregations ──────────────────────────────────────────

  /** Histogram-sketch quantiles: per-group quantile ESTIMATES from a
    * fixed-bin histogram — the shape that replaces exact `percentile`
    * (full per-group sort) at corpus scale. One shuffle of at most
    * |groups|·bins counting rows (map-side partial-aggregated), then the
    * tiny per-group interpolation. Deterministic integer/double
    * arithmetic throughout, so an independent SQL engine reproduces the
    * estimate bit-for-bit (unlike t-digest/GK sketches, whose merge order
    * changes results). Error is bounded by the bin width (hi−lo)/bins.
    *
    * Estimate rule: target = q·n; first bin with cumulative ≥ target;
    * value = lo + width·(bin + (target − cumBelow)/binCount). Values
    * outside [lo, hi) clamp into the edge bins.
    */
  def histogramQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Double, hi: Double, bins: Int, qs: Seq[Double]): DataFrame = {
    require(bins >= 1 && hi > lo, s"need bins >= 1 and hi > lo")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"quantiles in (0,1]: $qs")
    val width = (hi - lo) / bins
    val bin = least(greatest(
      floor((col(valueCol) - lo) / width).cast("int"), lit(0)), lit(bins - 1))
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col) :+ bin.as("__bin"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__bin"))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCols.map(col): _*)))
    val qCols = qs.zipWithIndex.map { case (q, i) =>
      // THE bin containing the target (cum reaches it AND the bin below
      // did not), interpolated inside it. Qualifying on cum alone would
      // let every later bin's interpolant into the min() — a sparse tail
      // bin then produces a large NEGATIVE fraction and wins, throwing
      // the estimate far outside [lo, hi].
      min(when(col("__cum") >= lit(q) * col("__n") &&
          col("__cum") - col("__c") < lit(q) * col("__n"),
        lit(lo) + lit(width) * (col("__bin") +
          (lit(q) * col("__n") - (col("__cum") - col("__c"))) / col("__c"))))
        .as(s"q${(q * 100).round}")
    }
    cum.groupBy(groupCols.map(col): _*)
      .agg(qCols.head, qCols.tail :+ max(col("__n")).as("n_rows"): _*)
  }

  /** Salted two-stage aggregation: sums/counts over a HOT key domain
    * without a single reducer per key — stage 1 aggregates on
    * (key, salt), stage 2 merges the ≤`salts` partials per key. For a
    * skewed key the heavy partition splits `salts` ways; the extra cost
    * is a second shuffle of |keys|·salts tiny rows. Use for
    * integer-exact aggregates (counts, long sums): salting changes
    * double-addition fold order.
    */
  def saltedSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
      saltExpr: org.apache.spark.sql.Column, salts: Int): DataFrame = {
    require(salts >= 1, s"salts $salts must be >= 1")
    val partial = df
      .withColumn("__salt", pmod(saltExpr, lit(salts)))
      .groupBy(groupCols.map(col) :+ col("__salt"): _*)
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__pc"))
    partial.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"),
        sum(col("__pc")).as("n_rows"))
  }

  /** Skew-safe equi-join, the join-side sibling of [[saltedSum]]: the
    * BIG side gets a per-row salt (derived from `saltExpr`, any
    * expression — a row id, a hash of payload columns; correctness never
    * depends on the salt's distribution, only straggler-spreading does)
    * and the SMALL-but-unbroadcastable side replicates `salts` ways, so
    * one hot key's rows land on `salts` tasks instead of one straggler.
    * The join keys become (key, salt) — same sort-merge shape, answer
    * identical to the plain inner join (spec + oracle q103). Prefer
    * `broadcast()` when the small side fits; prefer AQE skew handling
    * when key stats exist — this operator is for the case where neither
    * applies (both sides large, one key dominating, static planning).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltExpr: org.apache.spark.sql.Column, salts: Int): DataFrame = {
    require(salts >= 1, s"salts $salts must be >= 1")
    // coalesce: a NULL saltExpr value must still land in salt bucket 0,
    // not a null __salt — null never equals the small side's exploded
    // salts, which would silently DROP a matching big-side row and break
    // the identical-to-plain-inner-join contract
    val b = big.withColumn("__salt",
      pmod(coalesce(saltExpr.cast("long"), lit(0L)), lit(salts.toLong)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  // ── canonical edge direction ────────────────────────────────────────────
  /** `reverse_lines` (code/lib/util.py:139-155): orient every edge so
    * start <= end, so that (A,B) and (B,A) merge in the downstream groupBy.
    * The reference loops row-by-row; here it is two codegen'd expressions.
    */
  def canonicalEdge(df: DataFrame, startCol: String, endCol: String): DataFrame =
    df.withColumn("__s", least(col(startCol), col(endCol)))
      .withColumn("__e", greatest(col(startCol), col(endCol)))
      .drop(startCol, endCol)
      .withColumnRenamed("__s", startCol)
      .withColumnRenamed("__e", endCol)

  // ── J10: dict recode via broadcast mapping table ────────────────────────
  /** Dictionary recode (dict_countries/dict_technologies joins,
    * code/lib/correction_functions.py:298-307,426-430). Mapping rows whose
    * key is a comma-separated list ("A, B" → two keys) are exploded first —
    * the reference splits such keys at load. Unmatched keys keep their
    * original value (pandas `replace` semantics). Broadcast-hash join:
    * fact side never moves.
    */
  def recode(df: DataFrame, keyCol: String, mapping: DataFrame,
      fromCol: String, toCol: String): DataFrame = {
    // Split only on ", " (comma + whitespace): the reference's list keys are
    // "A, B" while composite type keys "(F,T,S)" use bare commas and must
    // stay intact (code/lib/correction_functions.py:360-364 vs :447-449).
    // Conflicting keys after expansion collapse deterministically (min
    // target) — a dict cannot hold duplicate keys, and a duplicate-keyed
    // join would MULTIPLY fact rows.
    val expanded = mapping
      .withColumn(fromCol, explode(split(col(fromCol), ",\\s+")))
      .groupBy(col(fromCol).as("__from"))
      .agg(min(col(toCol)).as("__to"))
    df.join(broadcast(expanded), col(keyCol) === col("__from"), "left")
      .withColumn(keyCol, coalesce(col("__to"), col(keyCol)))
      .drop("__from", "__to")
  }

  /** `df` hash-partitioned by `keys` into exactly the session's shuffle
    * partition count. The explicit count keeps the width: AQE coalesces
    * an advisory `repartition(keys)` of a small relation back to one
    * task even when a large fan-out follows it (a broadcast expansion,
    * a pair join), and leaves an exchange with a stated count alone.
    */
  def pinPartitions(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys: _*)

  // ── A3: normalize to group total ────────────────────────────────────────
  /** value / sum(value) over the group — profile normalization
    * (code/lib/correction_functions.py:46-47,370-378). Window-sum keeps it
    * to one shuffle; the alternative agg+rejoin would take two.
    */
  def normalizePerGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      outCol: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn(outCol, col(valueCol) / sum(col(valueCol)).over(w))
  }

  // ── as-of join ──────────────────────────────────────────────────────────
  /** As-of join: for every left row, attach the LATEST right row with the
    * same key and `right.ts <= left.ts` (the time-series point-in-time
    * lookup Spark has no operator for; DuckDB/kdb call it ASOF JOIN).
    *
    * Implementation is the union-tag trick, not a range join: tag both
    * sides, sort within key by (ts, side) — right rows before left at
    * equal ts so ties match — and carry the last right payload forward
    * with `last(ignoreNulls)`. ONE shuffle on the key, no row expansion,
    * no broadcast requirement: both sides can be 100 TB. (A join on
    * `r.ts <= l.ts` + rank would expand |L|×|R| per key before pruning.)
    *
    * Right payload columns arrive prefixed `asof_`; left rows with no
    * preceding right row keep nulls.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val lTagged = left
      .withColumn("__side", lit(1))
      .withColumn("__pay", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payloadCols.map(col): _*).schema.fields)))
    // null-ts/null-key right rows can never be "at or before" anything —
    // they would sort NULLS FIRST and leak their payload into every left
    // row of the key (an ASOF join matches them to nothing)
    val rTagged = right
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select((Seq(col(keyCol), col(tsCol)) :+
        struct(payloadCols.map(col): _*).as("__pay")): _*)
      .withColumn("__side", lit(0))
    val unioned = lTagged.select((Seq(col(keyCol), col(tsCol), col("__side"),
        col("__pay")) ++ leftCols.filterNot(c => c == keyCol || c == tsCol)
        .map(col)): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    // hash(__pay) last: if the right side has several rows at one
    // (key, ts) — callers should dedup, but plans must stay deterministic
    // — the winner is fixed, not partition-order-dependent
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("__side").asc, hash(col("__pay")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__last",
      last(col("__pay"), ignoreNulls = true).over(w))
    val leftRows = filled.filter(col("__side") === 1)
    payloadCols.foldLeft(leftRows) { (df, c) =>
      df.withColumn(s"asof_$c", col(s"__last.$c"))
    }.drop("__side", "__pay", "__last")
  }

  // ── A7: cumulative-count dedup suffix ───────────────────────────────────
  /** Name dedup via per-name cumcount suffix
    * (code/lib/correction_functions.py:473-476): second and later
    * occurrences become "name_1", "name_2", ...
    */
  def dedupSuffix(df: DataFrame, nameCol: String, orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(nameCol)).orderBy(orderBy: _*)
    df.withColumn("__cc", row_number().over(w) - 1)
      .withColumn(nameCol,
        when(col("__cc") > 0, concat(col(nameCol), lit("_"), col("__cc"))).otherwise(col(nameCol)))
      .drop("__cc")
  }

  /** Within-group quantile normalization: each row's value mapped to
    * its percentile rank INSIDE its group on the ppm lattice —
    * `⌊10⁶·(rank−1)/(n−1)⌋` (percent_rank's definition), ranked by
    * `(value, tiebreak)` so ties are deterministic; single-row groups
    * normalize to 0. The cross-source score equalizer: a "0.8" from a
    * lenient scorer and a "0.5" from a strict one become comparable
    * percentiles before any global cut or mixing decision. One
    * group-partitioned rank window.
    */
  def quantileNormalizePpm(df: DataFrame, groupCol: String,
      valCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol), col(tieCol))
    df.withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("pct_ppm",
        when(col("__n") === 1, lit(0L))
          .otherwise(floor((col("__r") - 1).cast("double") * 1000000
            / (col("__n") - 1)).cast("long")))
      .drop("__r", "__n")
  }

  /** Per-column data-quality profile of a relation — the first report
    * run against any new table: rows, nulls, EXACT distincts, and
    * min/max rendered as strings (type-erased so one relation profiles
    * every column type). One row per column, in `cols` order.
    *
    * Each column is one grouped aggregation keyed by the column (count,
    * min, max per value), folded to its report row: rows = Σ counts,
    * nulls = the null group's count (null on an empty relation, as a
    * `sum` over zero rows is), distincts = the non-null groups, min/max
    * over the groups' own min/max. The k aggregations are independent
    * shuffle stages that AQE runs concurrently; one aggregation computing
    * k `countDistinct`s would instead be rewritten into an `Expand` that
    * copies every row k+1 times into one hash aggregate. Each column is
    * one scan of `df`, so a caller whose `df` has an expensive lineage
    * should persist it first. Exact distincts make the report
    * oracle-checkable; at 100 TB swap in `approx_count_distinct`
    * consciously — the report is the place where ±2% matters least.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.map { c =>
      df.groupBy(col(c).as("__k"))
        .agg(count(lit(1)).as("__n"), min(col(c)).as("__mn"),
          max(col(c)).as("__mx"))
        .agg(coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
          sum(when(col("__k").isNull, col("__n")).otherwise(0L)).as("n_null"),
          count(col("__k")).as("n_distinct"),
          min(col("__mn")).cast("string").as("min_s"),
          max(col("__mx")).cast("string").as("max_s"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ union _)
  }

  /** Trimmed (winsor-style robust) mean per group on the ppm lattice:
    * rank the group's LONG values by `(value, tiebreak)` — the id
    * tie-break makes the cut deterministic across engines (the
    * ranking-oracle rule) — drop the bottom and top
    * `floor(n·trimPct/100)` rows, and report the kept count, kept
    * sum, and `mean_ppm = ⌊10⁶·sum/kept⌋` (one IEEE division). The
    * quality-score summary a curator trusts when a handful of
    * outliers would wreck a plain mean. Groups too small to survive
    * the trim (kept = 0) are absent.
    *
    * One group-partitioned rank window + one map-side-combined agg;
    * values must already be integers (scores on a lattice, byte/token
    * counts) — a float column should be floored upstream, explicitly.
    */
  def trimmedMeanPpm(df: DataFrame, groupCol: String, valCol: String,
      tieCol: String, trimPct: Int): DataFrame = {
    require(trimPct >= 0 && trimPct < 50,
      s"trimPct=$trimPct must be in [0, 50)")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("__v"), col("__t"))
    val base = df.select(col(groupCol).as("grp"),
        col(valCol).cast("long").as("__v"),
        col(tieCol).cast("long").as("__t"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
      .withColumn("__cut", expr(s"__n * $trimPct div 100"))
      .filter(col("__r") > col("__cut") &&
        col("__r") <= col("__n") - col("__cut"))
    base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"), sum(col("__v")).as("sum_kept"))
      .withColumn("mean_ppm",
        floor(col("sum_kept").cast("double") * 1000000 / col("n_kept"))
          .cast("long"))
  }

  /** Winsorization — [[trimmedMeanPpm]]'s row-preserving sibling: per
    * group, values OUTSIDE the symmetric `trimPct` rank cut are
    * CLAMPED to the boundary values instead of dropped (the standard
    * heavy-user/outlier treatment when downstream needs one row per
    * record — capping revenue metrics before an experiment readout).
    * The cut is the same deterministic `(n·pct) div 100` rank rule
    * with the id tie-break: the low bound is the value at rank
    * `cut + 1`, the high bound the value at rank `n − cut`, so the
    * result is engine-exact with no percentile interpolation. Output:
    * every input row with `v` (original) and `v_wins` (clamped), plus
    * the group bounds.
    *
    * One group-partitioned rank window + one conditional-agg bound
    * fold + one equi join back, all on the same group key.
    */
  def winsorizePpm(df: DataFrame, groupCol: String, valCol: String,
      tieCol: String, trimPct: Int): DataFrame = {
    require(trimPct >= 0 && trimPct < 50,
      s"trimPct=$trimPct must be in [0, 50)")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("__v"), col("__t"))
    val base = df.select(col(groupCol).as("grp"),
        col(valCol).cast("long").as("__v"),
        col(tieCol).cast("long").as("__t"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
      .withColumn("__cut", expr(s"__n * $trimPct div 100"))
    val bounds = base.groupBy(col("grp"))
      .agg(min(when(col("__r") > col("__cut"), col("__v"))).as("lo"),
        max(when(col("__r") <= col("__n") - col("__cut"), col("__v")))
          .as("hi"))
    base.join(bounds, Seq("grp"))
      .select(col("grp"), col("__t").as("id"), col("__v").as("v"),
        least(greatest(col("__v"), col("lo")), col("hi")).as("v_wins"),
        col("lo"), col("hi"))
  }

  /** Per-group simple linear regression (OLS) — the trend estimator a
    * telemetry monitor runs per metric key ("is p95 latency creeping
    * up"): for each group over integer (x, y) pairs (quantize to a
    * centi/milli lattice upstream),
    *
    *   slope = num/den,  num = n·Σxy − Σx·Σy,  den = n·Σx² − (Σx)²
    *   intercept = (Σy − slope·Σx)/n
    *
    * `n, num, den` are emitted as EXACT int64 (ANSI overflow is the
    * loud guard — shard or re-center x past ~10⁹ lattice units);
    * `slope_ppm`/`intercept_milli` floor the two IEEE divisions in a
    * fixed op order the oracle mirrors. A zero-variance x (den = 0,
    * vertical or single-point group) emits nulls, not a fabricated
    * fit. Null/uncastable x or y refuse loudly. ONE map-side-combined
    * aggregation per group — five sums, no window, no second pass.
    */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"groupOls: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — quantize upstream")))
        .cast("long"))
    df.select(col(groupCol).as("grp"), m(xCol).as("__x"),
        m(yCol).as("__y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .withColumn("num",
        col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("den",
        col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope_ppm",
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(floor(col("num").cast("double")
            / col("den").cast("double") * 1000000).cast("long")))
      .withColumn("intercept_milli",
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(floor((col("__sy").cast("double")
            - col("num").cast("double") / col("den").cast("double")
              * col("__sx").cast("double"))
            / col("n").cast("double") * 1000).cast("long")))
      .select(col("grp"), col("n"), col("num"), col("den"),
        col("slope_ppm"), col("intercept_milli"))
  }

  /** Seasonal profile — per (key, phase-of-period) activity shape (the
    * hour-of-day / day-of-week fingerprint a load forecaster or a
    * bot-detector reads): phase = pmod(ts div slotNs, periodSlots)
    * with an explicit pmod-floor division so PRE-EPOCH timestamps land
    * in their true slot (`div` truncates toward zero — the
    * [[graft.operators.Experiment.rollingActives]] lesson). Per (key,
    * phase): row count, exact value sum, `mean_milli` (one floored
    * IEEE division) and the seasonal index
    *
    *   index_ppm = floor(mean_phase · 10⁶ / mean_key)
    *
    * — both divisions in a fixed op order the oracle mirrors; null
    * when the key's overall sum is 0 (a ratio to zero is undefined,
    * not 0). Null/uncastable values refuse loudly. Phases with no
    * rows emit nothing (join against a slot domain downstream if a
    * dense profile is needed). One (key, phase) aggregation + one
    * key-sized fold joined back on the key.
    */
  def seasonalProfile(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, slotNs: Long, periodSlots: Int): DataFrame = {
    require(slotNs > 0, s"slotNs=$slotNs must be positive")
    require(periodSlots >= 2 && periodSlots <= 65536,
      s"periodSlots=$periodSlots out of [2, 65536]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("seasonalProfile value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val phase = expr(s"pmod((ts - pmod(ts, ${slotNs}L)) div ${slotNs}L, " +
      s"${periodSlots}L)")
    val cells = df.select(col(keyCol).as("key"),
        col(tsCol).cast("long").as("ts"), v.as("__v"))
      .select(col("key"), phase.as("phase"), col("__v"))
      .groupBy(col("key"), col("phase"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("val_sum"))
    val totals = cells.groupBy(col("key").as("__k"))
      .agg(sum(col("n")).as("__na"), sum(col("val_sum")).as("__sa"))
    // <=> : a null key is a real group — a plain equi fold join would
    // silently drop its phases from the profile
    cells.join(totals, col("key") <=> col("__k"))
      .select(col("key"), col("phase"), col("n"), col("val_sum"),
        floor(col("val_sum").cast("double") / col("n").cast("double")
          * 1000).cast("long").as("mean_milli"),
        when(col("__sa") === 0, lit(null).cast("long"))
          .otherwise(floor((col("val_sum").cast("double")
            / col("n").cast("double"))
            / (col("__sa").cast("double") / col("__na").cast("double"))
            * 1000000).cast("long")).as("index_ppm"))
  }

  /** Gini concentration per group — the inequality index a capacity
    * planner or abuse analyst reads ("is traffic spread across hosts
    * or is one eating everything"): over non-negative integer values,
    *
    *   gini_ppm = floor(10⁶ · Σᵣ (2r − n − 1)·vᵣ / (n · Σv))
    *
    * with r the 1-based ascending value rank — the exact mean-
    * difference form, ONE IEEE division at the end (numerator and
    * denominator are int64-exact; ANSI overflow is the loud guard —
    * shard past ~10⁹·lattice·n²). Equal values may take their rank
    * positions in any order: their contributions are symmetric, so
    * the result is deterministic without a tie-break column. Negative
    * values refuse loudly (Gini is undefined below zero); an all-zero
    * group emits null (0/0), not a fabricated 0. One rank window on
    * the group key + one fold.
    */
  def giniPpm(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val v0 = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("giniPpm value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val v = when(v0 < 0, raise_error(concat(
      lit("giniPpm: negative value "), v0.cast("string"),
      lit(" — Gini is undefined below zero"))).cast("long"))
      .otherwise(v0)
    val w = Window.partitionBy(col("grp")).orderBy(col("__v"))
    df.select(col(groupCol).as("grp"), v.as("__v"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("total"),
        sum((lit(2L) * col("__r") - lit(1L)) * col("__v")).as("__num0"))
      .select(col("grp"), col("n"), col("total"),
        // Σ(2r−n−1)v = Σ(2r−1)v − n·Σv
        when(col("total") === 0, lit(null).cast("long"))
          .otherwise(floor((col("__num0") - col("n") * col("total"))
            .cast("double") * 1000000
            / (col("n") * col("total")).cast("double")).cast("long"))
          .as("gini_ppm"))
  }

  /** Wald–Wolfowitz runs count per key — the randomness monitor for a
    * binary sequence in time order (alternation-heavy or streak-heavy
    * A/B assignments both mean the bucketing isn't independent): per
    * key the 0-count, 1-count, and the exact number of RUNS (maximal
    * same-value stretches) over the `(ts, tie)` order, plus the
    * null-hypothesis expected runs `mu_milli =
    * floor((1 + 2·n0·n1/n)·1000)` — one IEEE division, everything
    * else integer (the variance/z fold stays caller-side: it needs a
    * square root of a ratio, and the counts here reproduce it
    * exactly). Values must be 0/1 and non-null, refused loudly; keys
    * with one row report runs = 1. One key-partitioned lag window +
    * one fold.
    */
  def runsTest(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val v0 = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("runsTest value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val v = when(v0.isin(0L, 1L), v0).otherwise(
      raise_error(concat(lit("runsTest value "), v0.cast("string"),
        lit(" outside {0,1}"))).cast("long"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tie"))
    df.select(col(keyCol).as("key"), col(tsCol).cast("long").as("ts"),
        col(tieCol).cast("long").as("tie"), v.as("__v"))
      .withColumn("__chg",
        when(lag(col("__v"), 1).over(w).isNull
          || lag(col("__v"), 1).over(w) =!= col("__v"), 1L)
          .otherwise(0L))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(lit(1L) - col("__v")).as("n0"), sum(col("__v")).as("n1"),
        sum(col("__chg")).as("runs"))
      .withColumn("mu_milli",
        floor((lit(1.0) + lit(2.0) * (col("n0") * col("n1"))
          .cast("double") / col("n").cast("double")) * 1000)
          .cast("long"))
  }

  /** Theil–Sen robust slope per group (Theil 1950 / Sen 1968) — the
    * outlier-proof companion to [[groupOls]] (one bad telemetry point
    * drags an OLS line; the MEDIAN of pairwise slopes shrugs it off,
    * 29% breakdown): over all pairs i < j with xᵢ ≠ xⱼ,
    *
    *   slope_ppm = lower median of (10⁶·(yⱼ−yᵢ)) div (xⱼ−xᵢ)
    *
    * — each pairwise slope an exact integer on the truncated-ppm
    * lattice (both engines' integer division truncates toward zero),
    * the LOWER median picked by rank so no float ever appears and
    * even-count groups stay on the lattice (the average of two middle
    * slopes would leave it). Ties order by (slope, xᵢ, xⱼ) —
    * deterministic. Output per group: `grp, n, n_pairs, slope_ppm`
    * (null when every pair is vertical or n < 2 — no slope exists,
    * not zero).
    *
    * Scale shape: pairs come from ONE self-join on the group key —
    * O(n²) per group BY DEFINITION (the estimator is pairwise), so
    * group size is a LOUD contract: > `maxN` rows in any group
    * refuses with the count (sample or pre-aggregate upstream — a
    * million-point Theil–Sen is [[theilSenLarge]]'s parametric
    * search, bit-equal on every input both accept). The rank window
    * partitions by group, never globally.
    * Overflow ANSI-loud: 10⁶·|Δy| < 2⁶³ bounds |Δy| < 9.2·10¹².
    */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxN: Int = 256): DataFrame = {
    require(maxN >= 2 && maxN <= 4096, s"maxN=$maxN out of [2, 4096]")
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"theilSen: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped point " +
          "would shift the pair median"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"), m(xCol).as("__x"),
      m(yCol).as("__y"))
    val sizes = rows.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .select(col("grp"), when(col("n") > maxN,
        raise_error(concat(lit("theilSen: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("n").cast("string"),
          lit(s" rows > maxN=$maxN — O(n^2) pairs; use " +
            "theilSenLarge or pre-aggregate upstream")))
          .cast("long"))
        .otherwise(col("n")).as("n"))
    val a = rows.select(col("grp"), col("__x").as("__xi"),
      col("__y").as("__yi"))
    val b = rows.select(col("grp").as("__g2"), col("__x").as("__xj"),
      col("__y").as("__yj"))
    val pairs = a.join(b, col("grp") <=> col("__g2")
        && col("__xi") < col("__xj"))
      .select(col("grp"), col("__xi"), col("__xj"),
        expr("(1000000L * (__yj - __yi)) div (__xj - __xi)")
          .as("__s"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("__s"), col("__xi"), col("__xj"))
    val med = pairs
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
      .filter(col("__r") === expr("(__m + 1L) div 2L"))
      .groupBy(col("grp").as("__g3"))
      .agg(max(col("__s")).as("slope_ppm"),
        max(col("__m")).as("n_pairs"))
    sizes.join(med, col("grp") <=> col("__g3"), "left")
      .select(col("grp"), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("slope_ppm"))
  }

  /** Spearman rank correlation per group (Spearman 1904) — "is the
    * relationship monotone", robust to any monotone transform of
    * either metric (where [[groupOls]] asks if it is LINEAR). Both
    * variables are replaced by their midranks ON THE DOUBLED integer
    * lattice (`2·rank`; a tie of t rows shares `2·min_rank + t − 1`,
    * an integer — the [[graft.operators.Experiment.mannWhitneyU]]
    * trick, so ties never produce a .5), then Pearson on the doubled
    * ranks:
    *
    *   num  = n·Σrxry − Σrx·Σry
    *   den² = (n·Σrx² − (Σrx)²)·(n·Σry² − (Σry)²)
    *   rho_ppm = floor(10⁶ · num / (sqrt(denx) · sqrt(deny)))
    *
    * — sums are EXACT on DECIMAL(38) (n·Σr² ≈ 4n⁴ overflows int64
    * past n ≈ 40k; DECIMAL is ANSI-loud past 10³⁸ ≈ n of 10⁹), and
    * the finish is one fixed float chain whose every op (cast,
    * sqrt, multiply, divide, floor) is exactly rounded IEEE — both
    * engines land the same bit. One stated lattice edge: a
    * mathematically perfect ρ = +1 reads 999999, not 10⁶ —
    * sqrt(d)·sqrt(d) rounds a hair ABOVE d, the ratio a hair below
    * 1, and the floor keeps it (the denominator sqrts stay separate
    * because dx·dy would overflow DECIMAL(38) at n ≈ 5·10³; perfect
    * −1 still reads −10⁶, floor being one-sided). Null `rho_ppm`
    * when either variable
    * is constant (den = 0, ρ undefined) or n < 2. Values must be
    * long-castable non-null (refused loudly — a dropped row would
    * shift every rank).
    *
    * Scale shape: two group-partitioned rank windows (one sort each)
    * + one aggregation — no pairwise anything; scales to any group
    * size, unlike [[kendallTauB]].
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"spearmanRho: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row " +
          "would shift every rank"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"), m(xCol).as("__x"),
      m(yCol).as("__y"))
    def midrank2(c: String) = {
      val w = Window.partitionBy(col("grp")).orderBy(col(c))
      val tieW = Window.partitionBy(col("grp"), col(c))
      lit(2L) * rank().over(w).cast("long") +
        count(lit(1)).over(tieW) - 1L
    }
    val ranked = rows
      .withColumn("__rx", midrank2("__x"))
      .withColumn("__ry", midrank2("__y"))
      .select(col("grp"),
        col("__rx").cast("decimal(38,0)").as("__rx"),
        col("__ry").cast("decimal(38,0)").as("__ry"))
    ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__ry") * col("__ry")).as("__syy"),
        sum(col("__rx") * col("__ry")).as("__sxy"))
      .withColumn("__num",
        col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx",
        col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy",
        col("n") * col("__syy") - col("__sy") * col("__sy"))
      .select(col("grp"), col("n"),
        when(col("n") < 2 || col("__dx") <= 0 || col("__dy") <= 0,
          lit(null).cast("long"))
          .otherwise(floor(lit(1000000.0)
            * col("__num").cast("double")
            / (sqrt(col("__dx").cast("double"))
              * sqrt(col("__dy").cast("double")))).cast("long"))
          .as("rho_ppm"))
  }

  /** Kendall's tau-b per group (Kendall 1938; tau-b tie correction) —
    * the pairwise-concordance companion to [[spearmanRho]]: of all
    * unordered row pairs, how many order the two variables the same
    * way. With C concordant, D discordant, and tie-corrected
    * denominators (n0 = n(n−1)/2, n1 = x-tied pairs, n2 = y-tied
    * pairs):
    *
    *   tau_b_ppm = floor(10⁶·(C−D) / sqrt((n0−n1)·(n0−n2)))
    *
    * — C, D, n1, n2 exact integer pair counts; the denominator is
    * ONE sqrt of the exact int64 product (the maxN contract bounds
    * it at ~7·10¹³, so unlike [[spearmanRho]] no sqrt-product
    * rounding edge exists — a perfect τ reads exactly ±10⁶), then
    * one exactly-rounded IEEE divide + floor.
    * Null when all pairs are tied in x or all in y. Pairs need a
    * deterministic identity: `idCol` must be unique per row within
    * its group (duplicates refuse — they would double-count pairs).
    *
    * Scale shape: ONE self-join on the group key — O(n²) pairs BY
    * DEFINITION, so group size carries the [[theilSen]] loud
    * contract: > `maxN` rows refuses with the count. A million-row
    * tau wants the O(n log n) inversion-count algorithm —
    * [[kendallTauLarge]], bit-equal on every input both accept.
    */
  def kendallTauB(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String, maxN: Int = 256): DataFrame = {
    require(maxN >= 2 && maxN <= 4096, s"maxN=$maxN out of [2, 4096]")
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"kendallTauB: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"), m(idCol).as("__i"),
      m(xCol).as("__x"), m(yCol).as("__y"))
    val dupW = Window.partitionBy(col("grp"), col("__i"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("kendallTauB: duplicate id "),
          col("__i").cast("string"), lit(" in group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' — pair identity must be unique"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val sizes = checked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"))
      .select(col("grp"), when(col("n") > maxN,
        raise_error(concat(lit("kendallTauB: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("n").cast("string"),
          lit(s" rows > maxN=$maxN — O(n^2) pairs; use " +
            "kendallTauLarge or pre-aggregate upstream")))
          .cast("long"))
        .otherwise(col("n")).as("n"))
    val b = checked.select(col("grp").as("__g2"),
      col("__i").as("__j"), col("__x").as("__xj"),
      col("__y").as("__yj"))
    val pairs = checked.join(b, col("grp") <=> col("__g2")
        && col("__i") < col("__j"))
      .select(col("grp"),
        (signum((col("__xj") - col("__x")).cast("double"))
          .cast("long") *
         signum((col("__yj") - col("__y")).cast("double"))
          .cast("long")).as("__sgn"),
        when(col("__x") === col("__xj"), 1L).otherwise(0L)
          .as("__tx"),
        when(col("__y") === col("__yj"), 1L).otherwise(0L)
          .as("__ty"))
    val folded = pairs.groupBy(col("grp").as("__g3"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__sgn") === 1L, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("__sgn") === -1L, 1L).otherwise(0L))
          .as("discordant"),
        sum(col("__tx")).as("__n1"), sum(col("__ty")).as("__n2"))
    sizes.join(folded, col("grp") <=> col("__g3"), "left")
      .select(col("grp"), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        when(col("n_pairs").isNull
            || col("n_pairs") - col("__n1") <= 0
            || col("n_pairs") - col("__n2") <= 0,
          lit(null).cast("long"))
          .otherwise(floor(lit(1000000.0)
            * (col("concordant") - col("discordant")).cast("double")
            / sqrt(((col("n_pairs") - col("__n1"))
              * (col("n_pairs") - col("__n2"))).cast("double")))
            .cast("long"))
          .as("tau_b_ppm"))
  }

  /** Autocorrelation at positional lag k per key — "does this
    * telemetry repeat itself k steps apart" (seasonality detection,
    * the numeric companion to [[seasonalProfile]]'s calendar fold).
    * Rows are ordered `(ts, tiebreak)` within the key; the lag is
    * POSITIONAL on that order (row t pairs with row t+k — gaps in ts
    * are the caller's contract, exactly [[graft.operators.Drift.cusum]]'s
    * convention). Duplicate `(ts, tie)` positions refuse loudly —
    * tied positions make the lag pairing nondeterministic (the
    * [[mannKendallTrend]] contract; the check rides the SAME sorted
    * window as an adjacent-row lag, no extra shuffle). The standard
    * ACF estimator, cleared of fractions
    * by n² (x̄ = S/n):
    *
    *   num = Σ_{t≤n−k} (n·x_t − S)·(n·x_{t+k} − S)
    *   den = Σ_{t≤n}   (n·x_t − S)²
    *   acf_ppm = (10⁶ · num) div den
    *
    * — all EXACT integers on DECIMAL(38) (n·x ≈ 10¹⁵ squared and
    * summed overflows int64 immediately; DECIMAL is ANSI-loud past
    * 10³⁸), one integral division at the end (both engines truncate
    * toward zero). Null when den = 0 (constant series) or n ≤ k.
    * Values long-castable non-null, refused loudly.
    *
    * Scale shape: one key-partitioned window sort shared by the
    * running position and the k-step lead + one aggregation — a
    * single shuffle; no self-join, no global sort.
    */
  /** Shared duplicate-`(ts, tie)` refusal for the order-sensitive
    * operators ([[autocorr]], [[rollingMedian]],
    * [[graft.operators.EvalMetrics.seasonalNaiveBacktest]],
    * [[graft.operators.Drift.changepointAmoc]] — the
    * [[mannKendallTrend]] contract): tied positions make a lag
    * pairing / window buffer / prefix sum silently nondeterministic
    * and can diverge between engines on inputs whose tie column is
    * not unique. The check is an adjacent-row lag over a
    * `(key) ordered by (ts, tie)` window; when the caller's main
    * window shares that exact spec ([[autocorr]], [[rollingMedian]],
    * seasonalNaiveBacktest, changepointAmoc) Catalyst folds it into
    * the caller's window sort — no extra shuffle (unlike a
    * partition-by-all-three count window). [[rollingMedianLarge]]'s
    * data-path windows partition by `(key, c)` and `(key)` with a
    * different order, so THERE the check is its own key-partitioned
    * exchange — accepted explicitly (one narrow 4-column pass; see
    * its scale-shape note).
    */
  private[operators] def refuseDupPositions(op: String, df: DataFrame,
      keyC: String, tsC: String, tieC: String): DataFrame = {
    val w = Window.partitionBy(col(keyC))
      .orderBy(col(tsC), col(tieC))
    df.withColumn("__dupchk",
        lag(struct(col(tsC), col(tieC)), 1).over(w)
          === struct(col(tsC), col(tieC)))
      .filter(when(col("__dupchk"),
        raise_error(concat(
          lit(op + ": duplicate position (ts, tie) in key '"),
          coalesce(col(keyC).cast("string"), lit("NULL")),
          lit("' — the (ts, tie) order is the contract; it must " +
            "be total"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dupchk")
  }

  def autocorr(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("autocorr value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row " +
          "would shift every lag pair"))).cast("long"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("__ts"), col("__tie"))
    val rows = refuseDupPositions("autocorr",
        df.select(col(keyCol).as("key"),
          col(tsCol).cast("long").as("__ts"),
          col(tieCol).cast("long").as("__tie"), v.as("__v")),
        "key", "__ts", "__tie")
      .withColumn("__lead", lead(col("__v"), k).over(w))
    rows.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"),
        sum(col("__v").cast("decimal(38,0)")
          * col("__v").cast("decimal(38,0)")).as("__ss"),
        count(col("__lead")).as("__npair"),
        sum(col("__v").cast("decimal(38,0)")
          * col("__lead").cast("decimal(38,0)")).as("__sxy"),
        sum(when(col("__lead").isNotNull,
          col("__v").cast("decimal(38,0)")).otherwise(lit(null)))
          .as("__sx"),
        sum(when(col("__lead").isNotNull,
          col("__lead").cast("decimal(38,0)")).otherwise(lit(null)))
          .as("__sy"))
      .withColumn("__num", col("n") * col("n") * col("__sxy")
        - col("n") * col("__s") * (col("__sx") + col("__sy"))
        + col("__npair") * col("__s") * col("__s"))
      .withColumn("__den", col("n") * col("n") * col("__ss")
        - col("n") * col("__s") * col("__s") * 2L
        + col("n") * col("__s") * col("__s"))
      .select(col("key"), col("n"), lit(k.toLong).as("lag"),
        when(col("__den") <= 0 || col("n") <= k,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * __num) " +
              "div __den AS BIGINT)"))
          .as("acf_ppm"))
  }

  /** Rolling LOWER median per key — the robust rolling level next to
    * [[graft.operators.Drift.levelShift]]'s rolling sums (one wild
    * telemetry point drags a rolling mean for w rows; the median
    * shrugs it off). At each position, the median of the TRAILING
    * `w` rows (this row and the w−1 before it) on the `(ts, tie)`
    * order; only FULL windows emit (a partial head window would
    * fabricate a level, the levelShift convention). The LOWER median
    * — element (w+1)/2 of the sorted window — keeps every output ON
    * the input lattice (the theilSen discipline; an even-w average
    * would leave it). Output: `key, ts, tie, v, med`.
    *
    * Scale shape: one key-partitioned window sort; per-position
    * state is the w-element window buffer, so `w` is a LOUD ≤ 512
    * contract (a million-row rolling median on a bounded value
    * lattice is [[rollingMedianLarge]], bit-equal on every input
    * both accept). Values long-castable non-null, refused loudly;
    * duplicate `(ts, tie)` positions refuse (tied positions would
    * make the window contents nondeterministic — the
    * [[mannKendallTrend]] contract).
    */
  def rollingMedian(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, w: Int): DataFrame = {
    require(w >= 2 && w <= 512, s"w=$w out of [2, 512]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("rollingMedian value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row " +
          "would shift every window"))).cast("long"))
    val win = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tie")).rowsBetween(-(w - 1), 0)
    refuseDupPositions("rollingMedian",
        df.select(col(keyCol).as("key"),
          col(tsCol).cast("long").as("ts"),
          col(tieCol).cast("long").as("tie"), v.as("v")),
        "key", "ts", "tie")
      .withColumn("__buf", collect_list(col("v")).over(win))
      .filter(size(col("__buf")) === w)
      .withColumn("med",
        element_at(array_sort(col("__buf")), (w + 1) / 2))
      .drop("__buf")
  }

  /** Rolling LOWER median at LARGE window widths — the different
    * algorithm [[rollingMedian]]'s ≤ 512 contract points at: on a
    * BOUNDED value lattice the window median needs no window buffer
    * at all, because the rank-r element is the smallest value whose
    * cumulative window count reaches r — a HISTOGRAM question, not a
    * sort. Each row fans out to its key's lattice values c ∈
    * [min v, max v]; per (key, c) the trailing-w count
    * F_c = #{window rows with v ≤ c} computed as CUM − LAG(CUM, w)
    * over ONE unbounded cumulative sum — O(1) per row (a bounded
    * sliding frame would NOT be: Spark's SlidingWindowFunctionFrame
    * re-aggregates the whole frame per row, O(w) — measured, not
    * guessed), and the median is min{c : F_c ≥ (w+1)/2} — present
    * in the window by construction (F jumps only at present
    * values). Same
    * output schema and BIT-EQUAL to [[rollingMedian]] on every input
    * both accept (full trailing windows only, lower median, the
    * shared duplicate-(ts,tie) refusal).
    *
    * The trade, stated: cost is O(lattice) per row instead of O(w)
    * — the per-KEY value range is the loud ≤ `maxLattice` contract
    * (scores, buckets, quantized telemetry — the signals one rolls
    * a 10⁴-row median over — live on small lattices; a continuous
    * signal wants quantization upstream, visibly, not a silent one
    * here). `w` is bounded only by int range; there is NO per-row
    * state anywhere.
    *
    * Scale shape: one lattice explode (×L, bounded), one
    * (key, c)-partitioned cumulative window, one (key, ts, tie)
    * fold — plus the shared duplicate-position check, which here
    * does NOT fold into a data-path window (those partition by
    * (key, c)) and is its own key-partitioned exchange over the
    * narrow 4-column input, accepted. Row-sized data crosses each
    * shuffle once. Parallelism is
    * keys×L; a SINGLE multi-million-row key additionally pays
    * WindowExec's per-group disk spill past its in-memory buffer
    * (measured: 1 key × 1M rows ≈ 39 s vs 10 keys × 1M rows ≈ 6 s
    * at local[32] — shard hot keys upstream if one series truly has
    * millions of points).
    */
  def rollingMedianLarge(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, w: Int,
      maxLattice: Int = 1024): DataFrame = {
    require(w >= 2 && w <= 100000000,
      s"w=$w out of [2, 1e8]")
    require(maxLattice >= 2 && maxLattice <= 65536,
      s"maxLattice=$maxLattice out of [2, 65536]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("rollingMedianLarge value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a skipped row " +
          "would shift every window"))).cast("long"))
    val kb = Window.partitionBy(col("key"))
    val rows = refuseDupPositions("rollingMedianLarge",
        df.select(col(keyCol).as("key"),
          col(tsCol).cast("long").as("ts"),
          col(tieCol).cast("long").as("tie"), v.as("v")),
        "key", "ts", "tie")
      .withColumn("__lo", min(col("v")).over(kb))
      .withColumn("__hi", max(col("v")).over(kb))
      .filter(when(col("__hi") - col("__lo") >= maxLattice.toLong,
        raise_error(concat(lit("rollingMedianLarge: key '"),
          coalesce(col("key").cast("string"), lit("NULL")),
          lit("' spans "),
          (col("__hi") - col("__lo") + 1L).cast("string"),
          lit(s" lattice values > maxLattice=$maxLattice — " +
            "quantize the signal upstream, visibly"))).cast("boolean"))
        .otherwise(lit(true)))
    val wspec = Window.partitionBy(col("key"), col("c"))
      .orderBy(col("ts"), col("tie"))
    val r = ((w + 1) / 2).toLong
    rows.withColumn("c", explode(expr("sequence(__lo, __hi)")))
      .withColumn("__rn", row_number().over(wspec))
      .withColumn("__cum", sum(when(col("v") <= col("c"), 1L)
        .otherwise(0L)).over(wspec))
      .withColumn("__F", col("__cum")
        - coalesce(lag(col("__cum"), w).over(wspec), lit(0L)))
      .filter(col("__rn") >= w && col("__F") >= r)
      .groupBy(col("key"), col("ts"), col("tie"))
      .agg(max(col("v")).as("v"), min(col("c")).as("med"))
      .select(col("key"), col("ts"), col("tie"), col("v"), col("med"))
  }

  /** Median absolute deviation per group — the robust scale
    * companion to [[winsorizePpm]]'s robust clipping and
    * [[trimmedMeanPpm]]'s robust location: `mad = median(|x −
    * median(x)|)`, both medians LOWER by rank (every output on the
    * input lattice, no float anywhere). 50% breakdown — half the
    * group can be garbage and the scale estimate stands, which is
    * why [[robustOutliers]] gates on it rather than on a standard
    * deviation the outliers themselves inflate. Output: `grp, n,
    * median, mad`.
    *
    * Scale shape: two group-partitioned rank windows (the second
    * over the deviations) + one fold join back, null-safe on the
    * group; nothing global, no pairwise anything.
    */
  def madPerGroup(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("madPerGroup value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped row " +
          "would shift both medians"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"), v.as("__v"))
    def lowerMedian(in: DataFrame, c: String, out: String) = {
      val w = Window.partitionBy(col("grp")).orderBy(col(c))
      in.withColumn("__r", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(col("grp"))))
        .filter(col("__r") === expr("(__n + 1L) div 2L"))
        .groupBy(col("grp").as("__g"))
        .agg(max(col(c)).as(out), max(col("__n")).as("__cnt"))
    }
    val med = lowerMedian(rows, "__v", "median")
    val devs = rows.join(med, col("grp") <=> col("__g"))
      .select(col("grp"), col("median"),
        abs(col("__v") - col("median")).as("__d"))
    val mad = lowerMedian(devs.select(col("grp"), col("__d")),
      "__d", "mad")
    devs.groupBy(col("grp"), col("median"))
      .agg(count(lit(1)).as("n"))
      .join(mad, col("grp") <=> col("__g"))
      .select(col("grp"), col("n"), col("median"), col("mad"))
  }

  /** Robust outlier gate — rows whose deviation from the group's
    * median exceeds `kMilli/1000 ×` the group's [[madPerGroup]] MAD,
    * decided by INTEGER cross-multiplication (`1000·|x−med| >
    * kMilli·mad` — no modified-z float, no division; fold the 0.6745
    * consistency constant into kMilli if σ-equivalent fences are
    * wanted). A group with mad = 0 (over half the rows identical)
    * flags EVERY row off the median — the modified z is infinite
    * there, and silently passing them would hide exactly the frozen-
    * feed-plus-glitch shape the gate exists for (documented, not
    * hidden). Output: the FLAGGED rows only — `grp, id, v, median,
    * mad, dev`.
    *
    * Scale shape: the [[madPerGroup]] windows + one group-keyed join
    * of the group-sized (median, mad) relation back onto the rows —
    * row-sized data crosses one shuffle once.
    */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
      valCol: String, kMilli: Long): DataFrame = {
    require(kMilli >= 1, s"kMilli=$kMilli must be >= 1")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("robustOutliers value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val stats = madPerGroup(df.select(col(groupCol), col(valCol)),
      groupCol, valCol)
      .select(col("grp").as("__g"), col("median"), col("mad"))
    df.select(col(groupCol).as("grp"), col(idCol).as("id"), v.as("v"))
      .join(stats, col("grp") <=> col("__g"))
      .withColumn("dev", abs(col("v") - col("median")))
      .filter(col("dev") * 1000L > lit(kMilli) * col("mad"))
      .select(col("grp"), col("id"), col("v"), col("median"),
        col("mad"), col("dev"))
  }

  /** Mann–Kendall trend test per group — the significance companion
    * to [[theilSen]]'s slope (Mann 1945, Kendall 1975: Theil–Sen says
    * HOW steep, Mann–Kendall says WHETHER the monotone trend is
    * real): over the `(ts, tie)` order,
    *
    *   S = Σ_{i<j} sign(v_j − v_i)
    *
    * exact from one group-keyed pair join (O(n²) BY DEFINITION ⇒ the
    * kendallTauB loud ≤ maxN contract — trend tests run on
    * aggregated series, and the million-point form is
    * [[mannKendallLarge]]'s inversion count, bit-equal on every
    * input both accept), the tie-corrected variance
    * NUMERATOR exact in int64 (`var_num18 = n(n−1)(2n+5) −
    * Σt(t−1)(2t+5)` = 18·Var(S); n ≤ 4096 keeps it ≤ ~1.4·10¹¹),
    * and the continuity-corrected z in ONE fixed IEEE chain floored
    * to milli: `z = (S ∓ 1)·1000 / sqrt(var_num18 / 18)` (S = 0 ⇒
    * exactly 0; all-tied series ⇒ var 0 ⇒ null). Duplicate
    * `(ts, tie)` positions refuse (the order IS the hypothesis).
    * Output: `grp, n, s, var_num18, z_milli`.
    */
  def mannKendallTrend(df: DataFrame, groupCol: String, tsCol: String,
      tieCol: String, valCol: String, maxN: Int = 256): DataFrame = {
    require(maxN >= 2 && maxN <= 4096, s"maxN=$maxN out of [2, 4096]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("mannKendallTrend value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"),
      col(tsCol).cast("long").as("__t"),
      col(tieCol).cast("long").as("__e"), v.as("__v"))
    val dupW = Window.partitionBy(col("grp"), col("__t"), col("__e"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("mannKendallTrend: duplicate " +
          "position (ts, tie) in group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' — the time order is the hypothesis; it must be " +
            "total"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val sizes = checked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"))
      .select(col("grp"), when(col("n") > maxN,
        raise_error(concat(lit("mannKendallTrend: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("n").cast("string"),
          lit(s" rows > maxN=$maxN — O(n^2) pairs; use " +
            "mannKendallLarge or aggregate the series upstream")))
          .cast("long"))
        .otherwise(col("n")).as("n"))
    val b = checked.select(col("grp").as("__g2"),
      col("__t").as("__t2"), col("__e").as("__e2"),
      col("__v").as("__v2"))
    val sFold = checked.join(b, col("grp") <=> col("__g2")
        && (col("__t") < col("__t2")
          || (col("__t") === col("__t2") && col("__e") < col("__e2"))))
      .groupBy(col("grp").as("__g3"))
      .agg(sum(signum((col("__v2") - col("__v")).cast("double"))
        .cast("long")).as("s"))
    val ties = checked.groupBy(col("grp"), col("__v"))
      .agg(count(lit(1)).as("__tc"))
      .groupBy(col("grp").as("__g4"))
      .agg(sum(col("__tc") * (col("__tc") - 1L)
        * (lit(2L) * col("__tc") + 5L)).as("__tcorr"))
    sizes.join(sFold, col("grp") <=> col("__g3"), "left")
      .join(ties, col("grp") <=> col("__g4"))
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .withColumn("var_num18", col("n") * (col("n") - 1L)
        * (lit(2L) * col("n") + 5L) - col("__tcorr"))
      .select(col("grp"), col("n"), col("s"), col("var_num18"),
        when(col("var_num18") <= 0, lit(null).cast("long"))
          .when(col("s") === 0, lit(0L))
          .otherwise(floor(
            ((col("s") - signum(col("s").cast("double")).cast("long"))
              * 1000L).cast("double")
            / sqrt(col("var_num18").cast("double") / lit(18.0)))
            .cast("long"))
          .as("z_milli"))
  }

  /** Strict-inversion merge count: pairs `i < j` with `qs(i) >
    * qs(j)` (equal values NOT counted), bottom-up merge sort,
    * O(m log m) time, two m-sized long arrays. The local kernel of
    * [[kendallTauLarge]] / [[mannKendallLarge]]'s bucketed count —
    * a Scala function over one collected bucket array (the minhash
    * discipline: a nested Catalyst HOF here would pay O(m²)
    * interpreted array copies).
    */
  private[graft] def mergeCountInversions(qs: Seq[Long]): Long = {
    val a = qs.toArray
    val m = a.length
    if (m < 2) return 0L
    val buf = new Array[Long](m)
    var inv = 0L
    var width = 1
    while (width < m) {
      var lo = 0
      while (lo < m - width) {
        val mid = lo + width
        val hi = math.min(lo + 2 * width, m)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          // equal values take the LEFT element first, uncounted —
          // strict inversions only
          if (a(i) <= a(j)) { buf(k) = a(i); i += 1 }
          else { buf(k) = a(j); j += 1; inv += (mid - i).toLong }
          k += 1
        }
        while (i < mid) { buf(k) = a(i); i += 1; k += 1 }
        while (j < hi) { buf(k) = a(j); j += 1; k += 1 }
        System.arraycopy(buf, lo, a, lo, hi - lo)
        lo += 2 * width
      }
      width *= 2
    }
    inv
  }

  /** Distributed strict-inversion count per group — the O(n log n)
    * engine under [[kendallTauLarge]] and [[mannKendallLarge]].
    * Input: one row per element with two PERMUTATION positions
    * `__p`, `__q` (each a 1..n row_number within `grp` — the caller
    * reduces its tie semantics to permutations BEFORE calling) and
    * the group size `__n`. Output per group: `__d` = #{pairs with
    * p_i < p_j and q_i > q_j}, exact int64 (n ≤ ~4.2·10⁹ keeps
    * n(n−1)/2 in range; callers bound far lower).
    *
    * Shape (the inversion-count factoring of a merge sort):
    * Bg = min(buckets, ⌊√n⌋) range-buckets on each of p and q
    * (uniform — positions are permutations, so `((pos−1)·Bg) div n`
    * is balanced by construction, no skew possible). Every pair
    * falls in exactly one of:
    *   A  — different p-bucket AND different q-bucket: counted from
    *        the Bg×Bg GRID of cell counts alone (bucket order
    *        implies strict position order); the dominance sum
    *        Σ_{b<a, c'>c} cnt(b,c') comes from two prefix windows
    *        over the DENSIFIED grid (Bg² ≤ n rows per group — the
    *        densification is what keeps the windows aligned);
    *   B1 — same p-bucket: local merge count over the collected
    *        bucket (≤ max(n/Bg, √n) rows, one O(m log m) kernel);
    *   B2 — same q-bucket, different p-bucket: local merge count
    *        over the q-bucket sorted by (p-bucket, q) — pairs
    *        sharing a p-bucket sort by q ascending and contribute
    *        nothing, so only the strict cross-bucket inversions
    *        survive (the same lemma that reduces ties away).
    * Total work O(n log n + n): two permutation window sorts are
    * the caller's; here two bucket aggregations + one dense-grid
    * pass — row-sized data crosses each shuffle ONCE, no pair join
    * anywhere.
    */
  private def inversionCountPerGroup(rows: DataFrame,
      buckets: Int): DataFrame = {
    // checkpoint ONCE: four consumers (cells, gsz, b1, b2) would
    // otherwise each re-execute the caller's permutation sorts
    val b = rows
      .withColumn("__bg", least(lit(buckets.toLong),
        greatest(lit(1L),
          floor(sqrt(col("__n").cast("double"))).cast("long"))))
      .withColumn("__pb", expr("((__p - 1L) * __bg) div __n"))
      .withColumn("__qb", expr("((__q - 1L) * __bg) div __n"))
      .localCheckpoint()
    val cells = b.groupBy(col("grp"), col("__pb"), col("__qb"))
      .agg(count(lit(1)).as("__cnt"))
    val gsz = b.groupBy(col("grp").as("__g"))
      .agg(max(col("__bg")).as("__bgm"))
    val dense = gsz
      .withColumn("__dpb", explode(expr("sequence(0L, __bgm - 1L)")))
      .withColumn("__dqb", explode(expr("sequence(0L, __bgm - 1L)")))
      .join(cells, col("__g") <=> col("grp")
        && col("__dpb") === col("__pb")
        && col("__dqb") === col("__qb"), "left")
      .select(col("__g"), col("__dpb"), col("__dqb"),
        coalesce(col("__cnt"), lit(0L)).as("__c0"))
    val wCum = Window.partitionBy(col("__g"), col("__dqb"))
      .orderBy(col("__dpb"))
    val wTail = Window.partitionBy(col("__g"), col("__dpb"))
      .orderBy(col("__dqb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = dense
      .withColumn("__cumP", sum(col("__c0")).over(wCum))
      .withColumn("__V",
        coalesce(sum(col("__cumP")).over(wTail), lit(0L)))
      .withColumn("__W",
        coalesce(lag(col("__V"), 1).over(wCum), lit(0L)))
      .groupBy(col("__g"))
      .agg(sum(col("__c0") * col("__W")).as("__da"))
    val inv = udf { (qs: Seq[Long]) => mergeCountInversions(qs) }
    val b1 = b.groupBy(col("grp").as("__g1"), col("__pb"))
      .agg(inv(expr(
        "transform(sort_array(collect_list(struct(__p, __q)))," +
          " s -> s.__q)")).as("__i"))
      .groupBy(col("__g1")).agg(sum(col("__i")).as("__db1"))
    val b2 = b.groupBy(col("grp").as("__g2"), col("__qb"))
      .agg(inv(expr(
        "transform(sort_array(collect_list(struct(__pb, __q)))," +
          " s -> s.__q)")).as("__i"))
      .groupBy(col("__g2")).agg(sum(col("__i")).as("__db2"))
    grid
      .join(b1, col("__g") <=> col("__g1"))
      .join(b2, col("__g") <=> col("__g2"))
      .select(col("__g").as("grp"),
        (col("__da") + col("__db1") + col("__db2")).as("__d"))
  }

  /** Kendall's tau-b per group at scale — [[kendallTauB]]'s exact
    * semantics (same output schema, bit-identical values on every
    * input both accept) WITHOUT the O(n²) pair join, via the
    * inversion-count factoring (Knight 1966's O(n log n) algorithm,
    * distributed):
    *
    * With p = row_number over (x, y, id) and q = row_number over
    * (y, x, id), the discordant count is EXACTLY the strict
    * inversion count between the two permutations — x-tied pairs
    * sort by y on both sides and y-tied pairs by x, so no tied pair
    * can invert (the tie classes need no special casing anywhere).
    * Tie pair counts n1/n2/n3 come from plain value-count folds
    * (Σ t(t−1)/2), and
    *
    *   C = n0 − n1 − n2 + n3 − D,   n0 = n(n−1)/2
    *   tau_b_ppm = floor(10⁶·(C−D) / sqrt((n0−n1)·(n0−n2)))
    *
    * — identical to [[kendallTauB]]'s final IEEE chain, except the
    * denominator product is DECIMAL(38) before its exactly-rounded
    * cast to double (int64 overflows past n ≈ 55k; for inputs both
    * operators accept the cast is exact, so the results are
    * bit-equal). Pair counts C, D, n0 stay exact int64 to
    * n ≈ 4.2·10⁹; `maxN` bounds far lower and refuses loudly.
    *
    * Scale shape: two permutation window sorts on the group key
    * (one exchange, two sorts), two value-count folds, then
    * [[inversionCountPerGroup]] — bucket aggregations + a Bg² ≤ n
    * dense-grid pass, NO pair join, no collect beyond one
    * max(n/buckets, √n)-sized bucket array per task. ~Linear at a
    * million rows per group where [[kendallTauB]]'s join would be
    * 5·10¹¹ pairs.
    */
  def kendallTauLarge(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String, maxN: Long = 1L << 24,
      buckets: Int = 1024): DataFrame = {
    require(maxN >= 2 && maxN <= 2000000000L,
      s"maxN=$maxN out of [2, 2e9]")
    require(buckets >= 2 && buckets <= 65536,
      s"buckets=$buckets out of [2, 65536]")
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"kendallTauLarge: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = df.select(col(groupCol).as("grp"), m(idCol).as("__i"),
      m(xCol).as("__x"), m(yCol).as("__y"))
    val dupW = Window.partitionBy(col("grp"), col("__i"))
    val checked = rows
      .withColumn("__dup", count(lit(1)).over(dupW))
      .filter(when(col("__dup") > 1,
        raise_error(concat(lit("kendallTauLarge: duplicate id "),
          col("__i").cast("string"), lit(" in group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' — pair identity must be unique"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__dup")
    val gw = Window.partitionBy(col("grp"))
    val wp = gw.orderBy(col("__x"), col("__y"), col("__i"))
    val wq = gw.orderBy(col("__y"), col("__x"), col("__i"))
    val perm = checked
      .withColumn("__n", count(lit(1)).over(gw))
      .filter(when(col("__n") > maxN,
        raise_error(concat(lit("kendallTauLarge: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("__n").cast("string"),
          lit(s" rows > maxN=$maxN — raise maxN (exact to ~2e9) " +
            "or aggregate upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .withColumn("__p", row_number().over(wp).cast("long"))
      .withColumn("__q", row_number().over(wq).cast("long"))
      .localCheckpoint()
    def tiePairs(cols2: Seq[String], out: String) =
      perm.groupBy((col("grp").as("__gt") +: cols2.map(col)): _*)
        .agg(count(lit(1)).as("__tc"))
        .groupBy(col("__gt"))
        .agg(sum(expr("(__tc * (__tc - 1L)) div 2L")).as(out))
    val t1 = tiePairs(Seq("__x"), "__n1")
    val t2 = tiePairs(Seq("__y"), "__n2")
    val t3 = tiePairs(Seq("__x", "__y"), "__n3")
    val d = inversionCountPerGroup(
      perm.select(col("grp"), col("__p"), col("__q"), col("__n")),
      buckets)
    perm.groupBy(col("grp")).agg(max(col("__n")).as("n"))
      .join(d.select(col("grp").as("__gd"), col("__d")),
        col("grp") <=> col("__gd"), "left")
      .join(t1, col("grp") <=> t1("__gt"), "left")
      .join(t2, col("grp") <=> t2("__gt"), "left")
      .join(t3, col("grp") <=> t3("__gt"), "left")
      .withColumn("n_pairs", expr("(n * (n - 1L)) div 2L"))
      .withColumn("discordant", coalesce(col("__d"), lit(0L)))
      .withColumn("concordant", col("n_pairs") - col("__n1")
        - col("__n2") + col("__n3") - col("discordant"))
      .select(col("grp"), col("n"), col("n_pairs"),
        col("concordant"), col("discordant"),
        when(col("n") < 2
            || col("n_pairs") - col("__n1") <= 0
            || col("n_pairs") - col("__n2") <= 0,
          lit(null).cast("long"))
          .otherwise(floor(lit(1000000.0)
            * (col("concordant") - col("discordant")).cast("double")
            / sqrt(((col("n_pairs") - col("__n1"))
              .cast("decimal(38,0)")
              * (col("n_pairs") - col("__n2"))).cast("double")))
            .cast("long"))
          .as("tau_b_ppm"))
  }

  /** Theil–Sen robust slope at scale — [[theilSen]]'s exact
    * semantics (same output schema, bit-identical on every input
    * both accept) WITHOUT materializing the O(n²) pairwise slopes:
    * the k-th smallest integer slope is found by BINARY SEARCH on
    * the ppm lattice, each step one distributed inversion count
    * (Dillencourt, Mount & Netanyahu 1992's selection idea, on this
    * engine's bucketed counter). For a candidate slope s the count
    * of pairs at or below it reduces to an ORDER comparison: with
    * z(t) = 10⁶·(y−minY) − t·(x−minX),
    *
    *   slope_ij ≤ s, s ≥ 0  ⟺  z_j(s+1) < z_i(s+1)   (strict)
    *   slope_ij ≤ s, s < 0  ⟺  z_j(s)   ≤ z_i(s)     (ties count)
    *
    * (the two branches are the trunc-toward-zero lattice, proven in
    * the spec against the brute-force pair count), so
    * count_le(s) = strict inversions of the z-order against the
    * x-order ([[inversionCountPerGroup]]; x-tied pairs excluded by
    * the permutation lemma) plus, for s < 0, the z-tie pairs (one
    * value-count fold, minus the constant (x, y)-duplicate pairs).
    * The search runs PER GROUP with a driver-side bounds map
    * (group-count-sized — a bounded driver action, the
    * markovRemovalEffect discipline), and is 16-ARY, not binary:
    * each round evaluates 15 evenly-spaced candidate slopes at once
    * by fanning rows out under a composite (group, candidate) key —
    * one engine pass answers 15 questions, so the round count is
    * log₁₆(2·10⁶·spanY) ≈ 5–9 (each round is a full Spark job; the
    * job count, not the row count, is the latency driver at bench
    * scale). Hard-capped at 48 rounds; converged groups drop out.
    *
    * Overflow contract, loud: spanX·spanY ≤ 9.2·10¹² per group
    * (z must stay in int64 at the extreme candidate slopes);
    * rescale a wider domain upstream, visibly. `maxN` bounds rows
    * per group (default 2²⁴ — the engine's exactness range).
    * Candidate spacing runs in BigInt: the initial interval is
    * ±10⁶·spanY wide, so `hi − lo` alone can wrap int64 inside the
    * span contract (2·10⁶·9.2·10¹² ≈ 1.8·10¹⁹) — int64 spacing
    * would hang on a wrapped NumericRange or silently converge on a
    * garbage slope.
    *
    * Memory contract, loud: max observed n per group × `fanout` ≤
    * `maxRoundRows` (default 2²³ ≈ 8.4M) — each search round fans
    * every unfinished group's rows out ×fanout through two window
    * sorts (buckets ≥ 2) or one collected array per candidate
    * (buckets = 1), and the measured failure mode past the bound is
    * an executor OOM, not a slow round (an 8 GiB default heap died
    * at 10⁶ rows × fanout 15; 24 GiB or fanout 7 cleared it — the
    * refusal message names both escapes). Refused BEFORE the first
    * round, driver-side on the collected group stats.
    *
    * Scale shape: the per-round cost is [[kendallTauLarge]]'s (two
    * permutation sorts + the bucketed count over UNFINISHED groups
    * only) × ~40 rounds — minutes at a million rows per group,
    * where the pair join would be 5·10¹¹ slopes. Rounds are pure
    * recomputation from one checkpointed base — no lineage growth.
    */
  def theilSenLarge(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, maxN: Long = 1L << 24,
      buckets: Int = 1024, fanout: Int = 15,
      maxRoundRows: Long = 1L << 23): DataFrame = {
    require(maxN >= 2 && maxN <= 2000000000L,
      s"maxN=$maxN out of [2, 2e9]")
    require(maxRoundRows >= 64 && maxRoundRows <= (1L << 34),
      s"maxRoundRows=$maxRoundRows out of [64, 2^34]")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets=$buckets out of [1, 65536] (1 = the local " +
        "collected-array count per (group, candidate) — use when " +
        "groups fit one task)")
    // fanout trades rounds (log_{fanout+1}) for per-round memory
    // (each round buffers rows x fanout through two window sorts)
    require(fanout >= 1 && fanout <= 63,
      s"fanout=$fanout out of [1, 63]")
    def m(c: String) = coalesce(col(c).try_cast("long"),
      raise_error(concat(lit(s"theilSenLarge: $c value '"),
        coalesce(col(c).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — a dropped point " +
          "would shift the pair median"))).cast("long"))
    val gw = Window.partitionBy(col("grp"))
    val base = df.select(col(groupCol).as("grp"), m(xCol).as("__x"),
        m(yCol).as("__y"))
      .withColumn("__id", row_number().over(
        gw.orderBy(col("__x"), col("__y"))).cast("long"))
      .withColumn("__n", count(lit(1)).over(gw))
      .withColumn("__minX", min(col("__x")).over(gw))
      .withColumn("__minY", min(col("__y")).over(gw))
      .withColumn("__spanX",
        max(col("__x")).over(gw) - col("__minX"))
      .withColumn("__spanY",
        max(col("__y")).over(gw) - col("__minY"))
      .filter(when(col("__n") > maxN,
        raise_error(concat(lit("theilSenLarge: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("__n").cast("string"),
          lit(s" rows > maxN=$maxN"))).cast("boolean"))
        .otherwise(lit(true)))
      .filter(when(col("__spanX").cast("decimal(38,0)")
            * col("__spanY") > lit(9200000000000L),
        raise_error(concat(lit("theilSenLarge: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has spanX*spanY > 9.2e12 — the candidate-slope " +
            "order key would overflow int64; rescale upstream, " +
            "visibly"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(col("grp"),
        // the group's STRING form is computed HERE, in Spark — the
        // driver map keys and every fan-out join use this one cast,
        // never a JVM toString (whose rendering differs from
        // Catalyst's for timestamps, arrays, structs — a mismatch
        // would read every count as 0 and silently drop the group)
        col("grp").cast("string").as("__gs"),
        (col("__x") - col("__minX")).as("__x"),
        (col("__y") - col("__minY")).as("__y"), col("__id"),
        col("__n"), col("__spanY"))
      .localCheckpoint()
    // exact pair counts: total x-ordered pairs and (x, y)-dup pairs
    val stats = {
      val xt = base.groupBy(col("grp").as("__g"), col("__x"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__g"))
        .agg(sum(expr("(__c * (__c - 1L)) div 2L")).as("__xt"))
      val xyt = base.groupBy(col("grp").as("__g2"), col("__x"),
          col("__y"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__g2"))
        .agg(sum(expr("(__c * (__c - 1L)) div 2L")).as("__xyt"))
      base.groupBy(col("grp"))
        .agg(max(col("__n")).as("n"), max(col("__spanY")).as("__sy"),
          max(col("__gs")).as("__gs"))
        .join(xt, col("grp") <=> col("__g"))
        .join(xyt, col("grp") <=> col("__g2"))
        .select(col("grp"), col("__gs"), col("n"),
          (expr("(n * (n - 1L)) div 2L") - col("__xt"))
            .as("n_pairs"),
          col("__xyt"), col("__sy"))
        .collect()
    }
    // loud memory contract BEFORE the first round: each round fans
    // n × fanout rows per unfinished group through the search
    stats.foreach { r =>
      val n = r.getAs[Long]("n")
      require(n * fanout <= maxRoundRows,
        s"theilSenLarge: group '${r.getAs[String]("__gs")}' has " +
          s"n=$n rows x fanout=$fanout = ${n * fanout} fanned rows " +
          s"per search round > maxRoundRows=$maxRoundRows — each " +
          "round buffers n x fanout rows through two window sorts " +
          "(the measured failure at the 8 GiB default heap is an " +
          "executor OOM at 1e6 rows x fanout 15). Reduce fanout " +
          "(rounds grow only as log_{fanout+1}: fanout=7 halves " +
          "the buffer for ~1.3x the rounds), or raise maxRoundRows " +
          "to what the measured heap supports (24 GiB cleared " +
          "1e6 x 15 — size spark.driver.memory / " +
          "spark.executor.memory first)")
    }
    // driver-side bounds: grp -> (lo, hi, k, xyTiePairs); the map is
    // group-count-sized
    final case class B(var lo: Long, var hi: Long, k: Long,
      xyt: Long)
    val bounds = scala.collection.mutable.LinkedHashMap(stats.map { r =>
      val sy = r.getAs[Long]("__sy")
      val np = r.getAs[Long]("n_pairs")
      Option(r.getAs[String]("__gs")) -> B(-1000000L * sy,
        1000000L * sy, (np + 1L) / 2L, r.getAs[Long]("__xyt"))
    }.toSeq: _*)
    val spark = df.sparkSession
    import spark.implicits._
    // 15 evenly-spaced candidates strictly inside [lo, hi); when
    // the interval is that small, enumerate it and finish in one
    // round. Spacing in BigInt: hi − lo starts at 2·10⁶·spanY,
    // which wraps int64 inside the span contract (spanY admits
    // 9.2·10¹² when spanX = 1) — a wrapped difference would either
    // hang on a ~10¹⁹-element enumeration branch or floorDiv to
    // garbage candidates that read count 0 and converge wrong.
    def candidates(lo: Long, hi: Long): Seq[Long] = {
      val span = BigInt(hi) - BigInt(lo)
      if (span <= fanout) (lo until hi).toSeq
      else (1 to fanout).map(i =>
        (BigInt(lo) + span * i / (fanout + 1)).toLong).distinct
    }
    var round = 0
    while (bounds.values.exists(b => b.k >= 1 && b.lo < b.hi)
        && round < 48) {
      round += 1
      val active = bounds.toSeq.collect {
        case (g, b) if b.k >= 1 && b.lo < b.hi =>
          candidates(b.lo, b.hi).map { mid =>
            (g.orNull, mid,
              if (mid >= 0L) mid + 1L else mid,
              if (mid >= 0L) 0L else 1L)
          }
      }.flatten
      val act = broadcast(active
        .toDF("__ag", "__mid", "__t", "__tie0"))
      // keep the fanned-out rows NARROW — each composite partition
      // is buffered whole by the window sorts, so every extra column
      // multiplies the round's memory by the fan-out
      val beforeRdds = df.sparkSession.sparkContext
        .getPersistentRDDs.keySet
      val rows = base.join(act, col("__gs") <=> col("__ag"))
        .select(struct(col("__ag"), col("__mid")).as("__cg"),
          col("__x"),
          (lit(1000000L) * col("__y") - col("__t") * col("__x"))
            .as("__z"),
          col("__id"), col("__n"), col("__tie0"))
      val counts: Map[(Option[String], Long), Long] =
        if (buckets == 1) {
          // LOCAL path: one collected-array merge count per
          // (group, candidate) — strict z-inversions over the
          // (x, z, id) sort ARE the count (the permutation lemma on
          // raw values: x-tied pairs sort by z and cannot invert,
          // z-tied pairs are never strict), and the z-tie run
          // lengths give the <=-rule correction in the same pass.
          // 3 stages per round instead of ~15 — the right choice
          // when a group fits one task; the bucketed engine path
          // (buckets >= 2) is the scale path.
          val dz = udf { (zs: Seq[Long]) =>
            val d = mergeCountInversions(zs)
            val sorted = zs.sorted
            var zt = 0L; var i = 0
            while (i < sorted.length) {
              var j = i
              while (j + 1 < sorted.length && sorted(j + 1) == sorted(i))
                j += 1
              val c = (j - i + 1).toLong
              zt += c * (c - 1) / 2
              i = j + 1
            }
            (d, zt)
          }
          rows.groupBy(col("__cg"), col("__tie0"))
            .agg(dz(expr(
              "transform(sort_array(collect_list(" +
                "struct(__x, __z, __id))), s -> s.__z)")).as("__dz"))
            .select(col("__cg"), col("__tie0"),
              col("__dz._1").as("__d"), col("__dz._2").as("__zt"))
            .collect()
            .map { r =>
              val cg = r.getStruct(0)
              val cnt = r.getAs[Long]("__d") +
                (if (r.getAs[Long]("__tie0") == 1L)
                  r.getAs[Long]("__zt") else 0L)
              (Option(cg.getString(0)), cg.getLong(1)) -> cnt
            }.toMap
        } else {
          val cgw = Window.partitionBy(col("__cg"))
          val perm = rows
            .withColumn("__p", row_number().over(cgw.orderBy(
              col("__x"), col("__z"), col("__id"))).cast("long"))
            .withColumn("__q", row_number().over(cgw.orderBy(
              col("__z"), col("__x"), col("__id"))).cast("long"))
          val d = inversionCountPerGroup(
            perm.select(col("__cg").as("grp"), col("__p"),
              col("__q"), col("__n")), buckets)
          // z-tie pairs: only mids < 0 need the <=-rule tie count —
          // skipped when this round has none (the common case once
          // the search narrows onto a positive slope)
          val withTies = d.join(
            if (active.exists(_._4 == 1L))
              rows.filter(col("__tie0") === 1L)
                .groupBy(col("__cg").as("__gz"), col("__z"))
                .agg(count(lit(1)).as("__c"))
                .groupBy(col("__gz"))
                .agg(sum(expr("(__c * (__c - 1L)) div 2L"))
                  .as("__zt"))
            else rows.sparkSession.emptyDataFrame
              .select(lit(null).cast(d.schema("grp").dataType)
                .as("__gz"), lit(0L).as("__zt"))
              .limit(0),
            col("grp") <=> col("__gz"), "left")
          withTies
            .select(col("grp"),
              (col("__d") + coalesce(col("__zt"), lit(0L)))
                .as("__cnt"))
            .collect()
            .map { r =>
              val cg = r.getStruct(0)
              (Option(cg.getString(0)), cg.getLong(1)) ->
                r.getAs[Long]("__cnt")
            }.toMap
        }
      // free this round's checkpoint blocks (base's stay)
      df.sparkSession.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !beforeRdds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      bounds.foreach { case (g, b) =>
        if (b.k >= 1 && b.lo < b.hi) {
          val key = g
          val ms = candidates(b.lo, b.hi)
          def cnt(mid: Long): Long =
            counts.getOrElse((key, mid), 0L) -
              (if (mid < 0L) b.xyt else 0L)
          ms.find(cnt(_) >= b.k) match {
            case Some(m) =>
              b.hi = m
              val below = ms.takeWhile(_ < m)
              if (below.nonEmpty) b.lo = below.last + 1L
            case None => b.lo = ms.last + 1L
          }
        }
      }
    }
    require(!bounds.values.exists(b => b.k >= 1 && b.lo < b.hi),
      "theilSenLarge: the 16-ary search did not converge in 48 " +
        "rounds — impossible within the span contract; report " +
        "this input")
    val res = bounds.toSeq.map { case (g, b) =>
      (g.orNull, if (b.k >= 1) Some(b.lo) else None)
    }.toDF("__rg", "__slope")
    stats.toSeq.map(r => (r.getAs[String]("__gs"),
        r.getAs[Long]("n"), r.getAs[Long]("n_pairs")))
      .toDF("__sg", "n", "n_pairs")
      .join(broadcast(res), col("__sg") <=> col("__rg"), "left")
      .join(df.select(col(groupCol).as("grp")).distinct(),
        col("__sg") <=> col("grp").cast("string"))
      .select(col("grp"), col("n"), col("n_pairs"),
        when(col("n_pairs") <= 0, lit(null).cast("long"))
          .otherwise(col("__slope")).as("slope_ppm"))
  }

  /** Mann–Kendall trend test per group at scale —
    * [[mannKendallTrend]]'s exact semantics (same output schema,
    * bit-identical values on every input both accept) WITHOUT the
    * O(n²) pair join: with the `(ts, tie)` positions unique (the
    * shared duplicate refusal), every pair is strictly time-ordered,
    * so S = A − D with A + D = n0 − n2 (n2 = value-tied pairs) and
    * D the strict inversion count of the value order against the
    * time order:
    *
    *   S = n0 − n2 − 2·D
    *
    * D comes from [[inversionCountPerGroup]] on p = row_number over
    * (ts, tie) and q = row_number over (v, ts, tie) (value ties
    * ordered by time on BOTH sides — tied pairs cannot invert, the
    * [[kendallTauLarge]] lemma). The tie-corrected variance
    * numerator and the continuity-corrected z are the
    * [[mannKendallTrend]] chain verbatim. `maxN` ≤ 1.6·10⁶ HARD —
    * n(n−1)(2n+5) is int64-exact to exactly there (8.2·10¹⁸ at
    * 1.6M); a longer series overflows the var_num18 OUTPUT COLUMN,
    * not the algorithm, and wants an aggregated cadence upstream
    * (daily sums, not raw events — the q337 shape).
    *
    * Scale shape: identical to [[kendallTauLarge]] minus one tie
    * fold — two window sorts on one exchange, two folds, the
    * bucketed inversion count. ~Linear at a million rows per group.
    */
  def mannKendallLarge(df: DataFrame, groupCol: String,
      tsCol: String, tieCol: String, valCol: String,
      maxN: Long = 1048576L, buckets: Int = 1024): DataFrame = {
    require(maxN >= 2 && maxN <= 1600000L,
      s"maxN=$maxN out of [2, 1.6e6] (var_num18 is int64-exact " +
        "to n = 1.6e6)")
    require(buckets >= 2 && buckets <= 65536,
      s"buckets=$buckets out of [2, 65536]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("mannKendallLarge value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val rows = refuseDupPositions("mannKendallLarge",
      df.select(col(groupCol).as("grp"),
        col(tsCol).cast("long").as("__t"),
        col(tieCol).cast("long").as("__e"), v.as("__v")),
      "grp", "__t", "__e")
    val gw = Window.partitionBy(col("grp"))
    val wp = gw.orderBy(col("__t"), col("__e"))
    val wq = gw.orderBy(col("__v"), col("__t"), col("__e"))
    val perm = rows
      .withColumn("__n", count(lit(1)).over(gw))
      .filter(when(col("__n") > maxN,
        raise_error(concat(lit("mannKendallLarge: group '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("__n").cast("string"),
          lit(s" rows > maxN=$maxN — aggregate the series to a " +
            "coarser cadence upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .withColumn("__p", row_number().over(wp).cast("long"))
      .withColumn("__q", row_number().over(wq).cast("long"))
      .localCheckpoint()
    val ties = perm.groupBy(col("grp").as("__gt"), col("__v"))
      .agg(count(lit(1)).as("__tc"))
      .groupBy(col("__gt"))
      .agg(sum(expr("(__tc * (__tc - 1L)) div 2L")).as("__n2"),
        sum(col("__tc") * (col("__tc") - 1L)
          * (lit(2L) * col("__tc") + 5L)).as("__tcorr"))
    val d = inversionCountPerGroup(
      perm.select(col("grp"), col("__p"), col("__q"), col("__n")),
      buckets)
    perm.groupBy(col("grp")).agg(max(col("__n")).as("n"))
      .join(d.select(col("grp").as("__gd"), col("__d")),
        col("grp") <=> col("__gd"), "left")
      .join(ties, col("grp") <=> col("__gt"))
      .withColumn("s", expr("(n * (n - 1L)) div 2L") - col("__n2")
        - lit(2L) * coalesce(col("__d"), lit(0L)))
      .withColumn("var_num18", col("n") * (col("n") - 1L)
        * (lit(2L) * col("n") + 5L) - col("__tcorr"))
      .select(col("grp"), col("n"), col("s"), col("var_num18"),
        when(col("var_num18") <= 0, lit(null).cast("long"))
          .when(col("s") === 0, lit(0L))
          .otherwise(floor(
            ((col("s") - signum(col("s").cast("double")).cast("long"))
              * 1000L).cast("double")
            / sqrt(col("var_num18").cast("double") / lit(18.0)))
            .cast("long"))
          .as("z_milli"))
  }

  /** Jonckheere–Terpstra test for an ORDERED alternative per
    * experiment (Jonckheere 1954 / Terpstra 1952) — the k-sample
    * trend test [[graft.operators.Experiment.kruskalWallis]] cannot
    * give (KW asks "do the k arms differ AT ALL"; JT asks "do the
    * outcomes INCREASE with the ordered dose/tier/cohort" — strictly
    * more power when the order is the hypothesis). With arms g on an
    * ordered integer scale and J = Σ_{g_i<g_j} ([v_i<v_j] + ½[v_i=v_j]),
    * everything reduces to exact pair counts the inversion engine
    * already answers at n log n:
    *
    *   D  = #{g_i<g_j, v_i>v_j}      — ONE [[inversionCountPerGroup]]
    *   C  = cross-arm pairs,  T = cross-arm value ties (two folds)
    *   2J = 2(C − T − D) + T,   2E[J] = C
    *
    * so the doubled centered statistic num2 = 2J − C is an exact
    * integer. The tie-corrected null variance (Lehmann 1975, eq.
    * 6.23) is three exact-integer ratios combined in ONE fixed IEEE
    * chain the oracle replays verbatim (the logRank vk discipline):
    *
    *   var = (n(n−1)(2n+5) − Σ_g .. − Σ_v ..)/72
    *       + (Σ_g n_g(n_g−1)(n_g−2))(Σ_v t(t−1)(t−2))/(36 n(n−1)(n−2))
    *       + (Σ_g n_g(n_g−1))(Σ_v t(t−1))/(8 n(n−1))
    *
    *   z_milli = floor((num2 ∓ 1) · 500 / sqrt(var))
    *
    * (continuity correction of ½ on the J lattice = 1 on the doubled
    * one, the mannKendall convention; num2 = 0 ⇒ exactly 0; var ≤ 0
    * — one arm, or every value tied — ⇒ null). Arms must cast to
    * long (the ORDER is the hypothesis; refuse otherwise), values
    * long-castable non-null. maxN ≤ 1.6·10⁶ keeps every integer
    * term in int64 (the mannKendallLarge bound).
    *
    * Scale shape: two permutation window sorts + the bucketed
    * inversion count + three value-count folds — no pair join;
    * ~linear per experiment.
    */
  def jonckheereTerpstra(df: DataFrame, expCol: String,
      groupCol: String, valCol: String, maxN: Long = 1048576L,
      buckets: Int = 1024): DataFrame = {
    require(maxN >= 2 && maxN <= 1600000L,
      s"maxN=$maxN out of [2, 1.6e6]")
    require(buckets >= 2 && buckets <= 65536,
      s"buckets=$buckets out of [2, 65536]")
    val g = coalesce(col(groupCol).try_cast("long"),
      raise_error(concat(lit("jonckheereTerpstra: arm '"),
        coalesce(col(groupCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long — the arm ORDER is " +
          "the hypothesis"))).cast("long"))
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("jonckheereTerpstra value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val gw = Window.partitionBy(col("grp"))
    val rows = df.select(col(expCol).as("grp"), g.as("__g"),
        v.as("__v"))
      .withColumn("__n", count(lit(1)).over(gw))
      .filter(when(col("__n") > maxN,
        raise_error(concat(lit("jonckheereTerpstra: experiment '"),
          coalesce(col("grp").cast("string"), lit("NULL")),
          lit("' has "), col("__n").cast("string"),
          lit(s" rows > maxN=$maxN"))).cast("boolean"))
        .otherwise(lit(true)))
      .withColumn("__id", row_number().over(
        gw.orderBy(col("__g"), col("__v"))).cast("long"))
    val perm = rows
      .withColumn("__p", row_number().over(gw.orderBy(col("__g"),
        col("__v"), col("__id"))).cast("long"))
      .withColumn("__q", row_number().over(gw.orderBy(col("__v"),
        col("__g"), col("__id"))).cast("long"))
    val d = inversionCountPerGroup(
      perm.select(col("grp"), col("__p"), col("__q"), col("__n")),
      buckets)
    def fold3(cols2: Seq[String], pre: String) =
      rows.groupBy((col("grp").as(pre + "g") +: cols2.map(col)): _*)
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(pre + "g"))
        .agg(sum(expr("(__c * (__c - 1L)) div 2L")).as(pre + "2"),
          sum(col("__c") * (col("__c") - 1L)
            * (lit(2L) * col("__c") + 5L)).as(pre + "25"),
          sum(col("__c") * (col("__c") - 1L)
            * (col("__c") - 2L)).as(pre + "3"))
    val gf = fold3(Seq("__g"), "__a")      // arm folds
    val vf = fold3(Seq("__v"), "__b")      // value folds (pooled)
    val gvf = rows.groupBy(col("grp").as("__cg"), col("__g"),
        col("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__cg"))
      .agg(sum(expr("(__c * (__c - 1L)) div 2L")).as("__gv2"))
    rows.groupBy(col("grp")).agg(max(col("__n")).as("n"),
        countDistinct(col("__g")).as("n_groups"))
      .join(d.select(col("grp").as("__gd"), col("__d")),
        col("grp") <=> col("__gd"), "left")
      .join(gf, col("grp") <=> col("__ag"))
      .join(vf, col("grp") <=> col("__bg"))
      .join(gvf, col("grp") <=> col("__cg"))
      // C = cross-arm pairs; T = cross-arm value ties
      .withColumn("__c0", expr("(n * (n - 1L)) div 2L"))
      .withColumn("__cc", col("__c0") - col("__a2"))
      .withColumn("__t", col("__b2") - col("__gv2"))
      .withColumn("num2", lit(2L) * (col("__cc") - col("__t")
        - coalesce(col("__d"), lit(0L))) + col("__t") - col("__cc"))
      .withColumn("jt2", col("num2") + col("__cc"))
      // fixed IEEE chain: t1 + t2 + t3, each term's ops in THIS
      // order; guarded behind n >= 3 (ANSI throws on the n−2 zero
      // divisor even for doubles — the If only evaluates its taken
      // branch)
      .withColumn("__var", when(col("n") <= 2,
          lit(null).cast("double"))
        .otherwise(
          (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L)
            - col("__a25") - col("__b25")).cast("double") / lit(72.0)
          + col("__a3").cast("double") * col("__b3").cast("double")
            / (lit(36.0) * (col("n") * (col("n") - 1L)
              * (col("n") - 2L)).cast("double"))
          + (lit(2.0) * col("__a2").cast("double"))
            * (lit(2.0) * col("__b2").cast("double"))
            / (lit(8.0) * (col("n") * (col("n") - 1L))
              .cast("double"))))
      .select(col("grp"), col("n"), col("n_groups"), col("jt2"),
        col("__cc").as("e2"),
        when(col("n") <= 2 || col("__var").isNull
            || col("__var") <= 0.0,
          lit(null).cast("long"))
          .when(col("num2") === 0, lit(0L))
          .otherwise(floor(
            ((col("num2") - signum(col("num2").cast("double"))
              .cast("long")) * lit(500L)).cast("double")
            / sqrt(col("__var"))).cast("long"))
          .as("z_milli"))
  }

  /** Herfindahl–Hirschman concentration per group — the share-
    * concentration index next to [[giniPpm]]'s inequality (HHI reads
    * the CATEGORY distribution — "is this language's corpus one
    * domain wearing twenty hats"; Gini reads a VALUE distribution):
    *
    *   hhi_ppm = (10⁶ · Σ_c n_c²) div N²
    *
    * — one integral division on DECIMAL(38) (Σn_c² overflows int64
    * past N ≈ 3·10⁹ rows in one category; the decimal keeps it exact
    * to N ≈ 10¹⁶), ∈ (0, 10⁶]: 10⁶ = monopoly, 10⁶/C = perfectly
    * even over C categories. Null categories refuse loudly (a null
    * is not a category, and silently pooling nulls would READ as
    * concentration). One (grp, cat) map-side agg + one grp fold.
    */
  def hhiPpm(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val c = coalesce(col(catCol).cast("string"),
      raise_error(lit("hhiPpm: null category — a null is not a " +
        "category; filter or impute visibly upstream"))
        .cast("string"))
    df.select(col(groupCol).as("grp"), c.as("__c"))
      .groupBy(col("grp"), col("__c"))
      .agg(count(lit(1)).as("__nc"))
      .groupBy(col("grp"))
      .agg(sum(col("__nc")).as("n"),
        count(lit(1)).as("n_categories"),
        sum(col("__nc").cast("decimal(38,0)") * col("__nc"))
          .as("__sq"))
      .select(col("grp"), col("n"), col("n_categories"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * __sq) " +
          "div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("hhi_ppm"))
  }

  /** Pairwise association rules over (basket, item) rows — support /
    * confidence / lift for every ordered item pair (the market-
    * basket readout: "users who touch A touch B, and not because
    * both are everywhere"):
    *
    *   support_ppm    = (10⁶·n_ab) div N
    *   confidence_ppm = (10⁶·n_ab) div n_a        (a → b)
    *   lift_ppm       = (10⁶·n_ab·N) div (n_a·n_b)   [DECIMAL(38)]
    *
    * over DISTINCT basket membership (an item twice in one basket is
    * one membership — rules are about co-presence, the convention
    * stated). Pairs come from ONE basket-keyed self-join, so the
    * per-basket item count is a LOUD ≤ maxItemsPerBasket contract
    * (the fan-out is items² per basket); null items refuse. Rules
    * below `minSupportPpm` are cut AFTER exact counting (the
    * threshold prunes output, never the counts). lift > 10⁶ = the
    * pair co-occurs above independence. Output: `antecedent,
    * consequent, n_a, n_b, n_ab, support_ppm, confidence_ppm,
    * lift_ppm`.
    *
    * Scale shape: distinct membership is one map-side agg; the pair
    * join fans out ≤ items²/basket (bounded); everything after is a
    * pair-keyed count against broadcast-sized item totals.
    */
  def associationRules(df: DataFrame, basketCol: String,
      itemCol: String, minSupportPpm: Long,
      maxItemsPerBasket: Int = 256): DataFrame = {
    require(minSupportPpm >= 0 && minSupportPpm <= 1000000L,
      s"minSupportPpm=$minSupportPpm out of [0, 1000000]")
    require(maxItemsPerBasket >= 2 && maxItemsPerBasket <= 4096,
      s"maxItemsPerBasket=$maxItemsPerBasket out of [2, 4096]")
    val it = coalesce(col(itemCol).cast("string"),
      raise_error(lit("associationRules: null item — a null is not " +
        "an item; filter or impute visibly upstream")).cast("string"))
    val memb = df.select(col(basketCol).as("bk"), it.as("item"))
      .distinct()
    val sized = memb
      .withColumn("__bc", count(lit(1)).over(
        Window.partitionBy(col("bk"))))
      .filter(when(col("__bc") > maxItemsPerBasket,
        raise_error(concat(lit("associationRules: basket '"),
          coalesce(col("bk").cast("string"), lit("NULL")),
          lit("' holds "), col("__bc").cast("string"),
          lit(s" items > maxItemsPerBasket=$maxItemsPerBasket — " +
            "items^2 pairs per basket; coarsen the item taxonomy " +
            "upstream"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bc")
    val nBaskets = memb.select(col("bk")).distinct()
      .groupBy().agg(count(lit(1)).as("__nb"))
    val itemTot = memb.groupBy(col("item"))
      .agg(count(lit(1)).as("__ni"))
    val b = sized.select(col("bk").as("__bk2"),
      col("item").as("__item2"))
    val pairCnt = sized.join(b, col("bk") <=> col("__bk2")
        && col("item") =!= col("__item2"))
      .groupBy(col("item").as("antecedent"),
        col("__item2").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
    pairCnt
      .join(broadcast(itemTot.select(col("item").as("__ia"),
        col("__ni").as("n_a"))), col("antecedent") === col("__ia"))
      .join(broadcast(itemTot.select(col("item").as("__ib"),
        col("__ni").as("n_b"))), col("consequent") === col("__ib"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("support_ppm",
        expr("(1000000L * n_ab) div __nb"))
      .filter(col("support_ppm") >= minSupportPpm)
      .select(col("antecedent"), col("consequent"), col("n_a"),
        col("n_b"), col("n_ab"), col("support_ppm"),
        expr("(1000000L * n_ab) div n_a").as("confidence_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * __nb)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_ppm"))
  }

  /** Weighted LOWER median per group — [[madPerGroup]]'s location
    * estimator when observations carry weights (a host that reports
    * 10× as often should count 10×, not once): the smallest value
    * whose cumulative weight in ascending value order reaches half
    * the total, decided by integer cross-multiplication
    * (`2·cw ≥ W` — no division), which REDUCES EXACTLY to the
    * unweighted lower median at w ≡ 1. Weights must be POSITIVE
    * integers, refused loudly (a zero weight is a dropped row —
    * drop it visibly; a negative one has no order meaning). Equal
    * values may split across the threshold in any order: the
    * crossing row's VALUE is the same whichever of its ties crosses,
    * so the output is deterministic without a tie column. Output:
    * `grp, n, w_total, wmedian`.
    *
    * Scale shape: one group-partitioned cumulative-weight window +
    * one fold — the madPerGroup shape with weights.
    */
  def weightedMedianPerGroup(df: DataFrame, groupCol: String,
      valCol: String, weightCol: String): DataFrame = {
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("weightedMedianPerGroup value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val w0 = coalesce(col(weightCol).try_cast("long"),
      raise_error(concat(lit("weightedMedianPerGroup weight '"),
        coalesce(col(weightCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val w = when(w0 >= 1, w0).otherwise(
      raise_error(concat(lit("weightedMedianPerGroup weight "),
        w0.cast("string"),
        lit(" is not positive — drop or reweight visibly upstream")))
        .cast("long"))
    val win = Window.partitionBy(col("grp")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(groupCol).as("grp"), v.as("__v"), w.as("__w"))
      .withColumn("__cw", sum(col("__w")).over(win))
      .withColumn("__wt", sum(col("__w")).over(
        Window.partitionBy(col("grp"))))
      .filter(col("__cw") * 2L >= col("__wt"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("__k"), min(col("__v")).as("wmedian"),
        max(col("__wt")).as("w_total"))
      .join(df.select(col(groupCol).as("__g2")).groupBy(col("__g2"))
        .agg(count(lit(1)).as("n")), col("grp") <=> col("__g2"))
      .select(col("grp"), col("n"), col("w_total"), col("wmedian"))
  }

  /** Hill tail-index estimator per group — the heavy-tail monitor a
    * latency or document-length distribution calls for (a finite
    * mean is a MODELING ASSUMPTION; Hill 1975 estimates the Pareto
    * exponent that says whether it holds): over the top k+1 order
    * statistics,
    *
    *   hill_micro = (Σ_{i=1..k} floor(10⁶·ln(x_(i)/x_(k+1)))) div k
    *
    * — per-term micro floor in one fixed IEEE chain (the entropy ln
    * discipline; undercount ≤ 1 micro per term + 1 for the final
    * division, stated), α̂ = 10⁶/hill_micro caller-side. Terms
    * depend only on VALUES, so rank ties at the boundary cannot
    * change the result (an equal x_(k)/x_(k+1) contributes 0 either
    * way). Values must be ≥ 1 (ln of a non-positive value refuses
    * loudly); groups with fewer than k+1 rows emit a visible null
    * row. Output: `grp, n, k, x_k1, hill_micro`.
    *
    * Scale shape: one group-partitioned rank window + one fold over
    * the k+1 head rows.
    */
  def hillTailIndex(df: DataFrame, groupCol: String, valCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100000, s"k=$k out of [1, 100000]")
    val v0 = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("hillTailIndex value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val v = when(v0 >= 1, v0).otherwise(
      raise_error(concat(lit("hillTailIndex value "),
        v0.cast("string"),
        lit(" < 1 — the tail log-ratio needs positive values; " +
          "shift or filter visibly upstream"))).cast("long"))
    val w = Window.partitionBy(col("grp")).orderBy(col("__v").desc)
    val ranked = df.select(col(groupCol).as("grp"), v.as("__v"))
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
    val thresh = ranked.filter(col("__r") === k + 1L)
      .select(col("grp").as("__gt"), col("__v").as("x_k1"))
    val folded = ranked.filter(col("__r") <= k)
      .join(thresh, col("grp") <=> col("__gt"))
      .withColumn("__term",
        floor(lit(1000000.0) * log(col("__v").cast("double")
          / col("x_k1").cast("double"))).cast("long"))
      .groupBy(col("grp").as("__g3"), col("x_k1"))
      .agg(sum(col("__term")).as("__sum"))
      .select(col("__g3"), col("x_k1"),
        expr(s"__sum div ${k}L").as("hill_micro"))
    ranked.groupBy(col("grp")).agg(max(col("__n")).as("n"))
      .join(folded, col("grp") <=> col("__g3"), "left")
      .select(col("grp"), col("n"), lit(k.toLong).as("k"),
        col("x_k1"), col("hill_micro"))
  }

  /** Net promoter score per group — the survey headline (Reichheld
    * 2003): scores on the 0–10 scale, promoters ≥ 9, detractors ≤ 6,
    * `nps_ppm = (10⁶·(promoters − detractors)) div n` ∈ [−10⁶, 10⁶]
    * (ONE truncation toward zero, stated — NPS is usually quoted in
    * whole points = centi-ppm, so the ppm lattice is already finer
    * than anyone reads). Scores outside 0–10 refuse loudly (a
    * 5-point survey remapped silently would shift every band).
    * Output: `grp, n, promoters, passives, detractors, nps_ppm`.
    * One map-side-combined agg — nothing else moves.
    */
  def npsPerGroup(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val s0 = coalesce(col(scoreCol).try_cast("long"),
      raise_error(concat(lit("npsPerGroup score '"),
        coalesce(col(scoreCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val sc = when(s0 >= 0 && s0 <= 10, s0).otherwise(
      raise_error(concat(lit("npsPerGroup score "),
        s0.cast("string"), lit(" outside [0, 10]"))).cast("long"))
    df.select(col(groupCol).as("grp"), sc.as("__s"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__s") >= 9, 1L).otherwise(0L)).as("promoters"),
        sum(when(col("__s") >= 7 && col("__s") <= 8, 1L)
          .otherwise(0L)).as("passives"),
        sum(when(col("__s") <= 6, 1L).otherwise(0L)).as("detractors"))
      .withColumn("nps_ppm",
        expr("(1000000L * (promoters - detractors)) div n"))
  }
}
