package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Funnel analysis over an event stream — the product-analytics
  * primitive (view → click → purchase conversion) and, in corpus
  * curation, the crawl-lifecycle funnel (fetched → parsed → kept).
  *
  * Semantics: step i is completed at the MINIMUM event time of an
  * event of type `steps(i)` that is STRICTLY after step i−1's
  * completion time (step 0 at its global per-user minimum). Strict
  * ordering means one event can never witness two steps, and an
  * equal-timestamp pair does not count as progress — the conservative
  * read when timestamps are coarse. A user absent from step 0's type
  * is absent from the output.
  */
object Funnel {

  /** One row per user who completed step 0: `user`, `steps_completed`
    * (1..k), and `ts1..tsk` — step completion times (null once the
    * funnel is abandoned). Timestamps are compared with `>` as longs
    * (int64 nanos in this codebase's event relations).
    *
    * Scale shape: k−1 chained (filter → join → agg) rounds, each
    * touching only the NEXT step's events (filters push to the scan,
    * so each round reads one event type, not the whole relation); the
    * per-user state that flows between rounds is one row per
    * surviving user. All aggregations are map-side combined; no
    * windows, no collect_list of a user's history (a power user with
    * 10⁶ events costs the same as one with 10).
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame =
    funnelImpl(events, userCol, typeCol, tsCol, steps, None)

  /** [[funnel]] with a STEP TIMEOUT — the standard "completed the next
    * step within 7 days" product question: step i counts only when it
    * occurs strictly after step i−1 AND within `maxStepGap` ts units
    * of it (`ts_{i-1} < ts_i <= ts_{i-1} + maxStepGap`). A later
    * in-window event can never rescue an abandoned funnel: the
    * minimum qualifying time per round is still the semantics, just
    * with one extra upper-bound predicate in the same chained min
    * aggregation — identical scale shape to [[funnel]].
    */
  def funnelWithin(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], maxStepGap: Long): DataFrame = {
    require(maxStepGap > 0, s"maxStepGap=$maxStepGap must be > 0")
    funnelImpl(events, userCol, typeCol, tsCol, steps, Some(maxStepGap))
  }

  private def funnelImpl(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, steps: Seq[String],
      maxStepGap: Option[Long]): DataFrame = {
    require(steps.nonEmpty && steps.length <= 8,
      s"need 1..8 funnel steps, got ${steps.length}")
    require(steps.distinct.length == steps.length,
      "funnel steps must be distinct event types")
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("user"))
      .agg(min(col(tsCol)).cast("long").as("ts1"))
    for (i <- 2 to steps.length) {
      val prevCols = (1 until i).map(j => col(s"ts$j"))
      val nexts = events.filter(col(typeCol) === steps(i - 1))
        .select(col(userCol).as("user"), col(tsCol).cast("long").as("__ts"))
      val qualifies = maxStepGap match {
        case Some(gap) => col("__ts") > col(s"ts${i - 1}") &&
          col("__ts") <= col(s"ts${i - 1}") + gap
        case None => col("__ts") > col(s"ts${i - 1}")
      }
      cur = cur.join(nexts, Seq("user"), "left")
        .groupBy((col("user") +: prevCols): _*)
        .agg(min(when(qualifies, col("__ts"))).as(s"ts$i"))
    }
    val reached = (1 to steps.length)
      .map(j => when(col(s"ts$j").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    cur.withColumn("steps_completed", reached.cast("int"))
  }

  /** The funnel report a dashboard renders: per step index (1-based),
    * how many users reached it and the conversion ppm versus step 1.
    * One [[funnel]] pass + a bounded k-row broadcast theta join (the
    * documented fewShot-style cross: ≤ 8 step rows against one row
    * per step-1 user) + one map-side-combined count.
    */
  def funnelReport(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    // one row per step-0 user — materialized once (the count() action
    // below plus the report query would otherwise run the whole k−1
    // join chain twice)
    val perUser = funnel(events, userCol, typeCol, tsCol, steps)
      .select(col("user"), col("steps_completed"))
      .localCheckpoint()
    val total = perUser.count()
    val spark = events.sparkSession
    import spark.implicits._
    val stepIx = broadcast((1 to steps.length).toDF("step"))
    stepIx.join(perUser,
        perUser("steps_completed") >= stepIx("step"), "left")
      .groupBy(col("step"))
      .agg(count(col("user")).as("n_users"))
      .withColumn("conv_ppm",
        when(lit(total) === 0, lit(0L))
          .otherwise(floor(col("n_users").cast("double") * 1000000
            / lit(total)).cast("long")))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: per `(from, to)` event-type pair the transition count
    * and the row-normalized probability on the ppm lattice — the
    * "user journey" view (and, for crawl logs, the page-flow model).
    * Sequence order is `(ts, tiebreak)` with the id tie-break, so
    * equal-timestamp runs order deterministically across engines.
    * One user-partitioned lead window + two map-side-combined counts.
    */
  def transitionMatrix(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String): DataFrame = {
    val byUser = Window.partitionBy(col("user"))
      .orderBy(col("ts"), col("tie"))
    val pairs = events.select(col(userCol).as("user"),
        col(typeCol).as("from"), col(tsCol).cast("long").as("ts"),
        col(tieCol).cast("long").as("tie"))
      .withColumn("to", lead(col("from"), 1).over(byUser))
      .filter(col("to").isNotNull)
      .groupBy(col("from"), col("to"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from"))
      .agg(sum(col("n")).as("__tot"))
    pairs.join(totals, Seq("from"))
      .withColumn("p_ppm",
        floor(col("n").cast("double") * 1000000 / col("__tot"))
          .cast("long"))
      .select(col("from"), col("to"), col("n"), col("p_ppm"))
  }

  /** Last-touch attribution: every CONVERSION event (type
    * `convType`) is attributed to the user's latest TOUCH event
    * (type `touchType`) STRICTLY before it — the standard marketing /
    * crawl-referrer question. "Strictly before" is a RANGE window
    * bound (order by the numeric timestamp, unbounded preceding to
    * −1), so equal-timestamp touch/conversion pairs never attribute
    * and the result is deterministic under any row order — a ROWS
    * bound would be arrival-order-dependent on ties. Unmatched
    * conversions keep a null touch (organic).
    *
    * One user-partitioned window over the two filtered event types
    * (filters push to the scan); latency rides along in the same
    * pass.
    */
  def attributeLastTouch(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, convType: String,
      touchType: String): DataFrame = {
    require(convType != touchType,
      "conversion and touch types must differ")
    val byUser = Window.partitionBy(col("user")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, -1)
    events.filter(col(typeCol).isin(convType, touchType))
      .select(col(userCol).as("user"), col(typeCol).as("etype"),
        col(tsCol).cast("long").as("ts"),
        col(idCol).cast("long").as("event_id"))
      .withColumn("touch_ts",
        max(when(col("etype") === touchType, col("ts"))).over(byUser))
      .filter(col("etype") === convType)
      .select(col("user"), col("event_id"),
        col("ts").as("conv_ts"), col("touch_ts"),
        (col("ts") - col("touch_ts")).as("latency"))
  }

  /** Sessionization + per-session stats: each user's event stream is
    * cut into sessions at inactivity gaps `> gapNs` (the standard
    * 30-minute web-session rule), and each session reports one row —
    * `user, session_ix` (1-based, in time order), `n_events,
    * start_ts, end_ts, duration`. Event order within a user is
    * `(ts, tiebreak)` with the id tie-break, so equal-timestamp runs
    * sessionize deterministically across engines; a gap of EXACTLY
    * `gapNs` stays in the same session (strict `>` starts a new one).
    *
    * Scale shape: one user-partitioned lag window marks session
    * starts, a running sum over the SAME window partitioning numbers
    * them (one shuffle on user, both windows share it), then one
    * map-side-combined aggregation per (user, session). No
    * collect_list of a user's history.
    */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, gapNs: Long): DataFrame = {
    require(gapNs > 0, s"gapNs=$gapNs must be > 0")
    val byUser = Window.partitionBy(col("user"))
      .orderBy(col("ts"), col("tie"))
    events.select(col(userCol).as("user"),
        col(tsCol).cast("long").as("ts"),
        col(tieCol).cast("long").as("tie"))
      .withColumn("__new",
        when(col("ts") - lag(col("ts"), 1).over(byUser) > gapNs, 1L)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_ix", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user"), col("session_ix"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"))
      .withColumn("duration", col("end_ts") - col("start_ts"))
  }

  /** Conversion-latency histogram: per consecutive step pair of a
    * [[funnel]], the distribution of completion latencies in integer
    * `bucketWidth` buckets (of the ts unit) — the "how long does the
    * funnel take" view next to [[funnelReport]]'s "how many". One
    * funnel pass + one map-side-combined count.
    */
  def funnelLatencyHistogram(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, steps: Seq[String],
      bucketWidth: Long): DataFrame = {
    require(steps.length >= 2, "need at least two steps for a latency")
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be > 0")
    // materialized once: the k−1 unioned step branches below would
    // otherwise each replay the whole funnel chain
    val f = funnel(events, userCol, typeCol, tsCol, steps)
      .localCheckpoint()
    val lats = (2 to steps.length).map { i =>
      f.filter(col(s"ts$i").isNotNull)
        .select(lit(i).as("step"),
          expr(s"(ts$i - ts${i - 1}) div ${bucketWidth}L").as("bucket"))
    }.reduce(_ unionByName _)
    lats.groupBy(col("step"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Frequent-journey mining: the top `k` event-type PATHS over each
    * user's first `n` events — the "what do users actually do"
    * counterpart to [[funnel]]'s fixed hypothesis. Per user the first
    * `n` events by `(ts, tie)` (a deterministic total order; ties in
    * raw event time are broken by the id, the house convention),
    * joined into a `'>'`-separated path string; paths are counted
    * across users and the top k by `(n_users, path)` returned — count
    * ties break on the path text, so the cut is deterministic.
    *
    * Users with FEWER than n events still contribute their full
    * (shorter) path — a real journey, not a discard; empty-path users
    * cannot exist (no events ⇒ no row). `n` is bounded (≤ 64, loud):
    * per-user state is one n-bounded array, so a 10⁶-event power user
    * costs the same as anyone else. One ranked window (one shuffle on
    * the user key) + one path count + a TakeOrdered — the full path
    * relation never sorts globally.
    */
  def pathMining(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 1 && n <= 64, s"n=$n out of [1, 64]")
    require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")
    val w = Window.partitionBy(col("__u"))
      .orderBy(col("__ts"), col("__tie"))
    events.select(col(userCol).as("__u"),
        col(tsCol).cast("long").as("__ts"),
        col(tieCol).cast("long").as("__tie"),
        col(typeCol).as("__t"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= n)
      .groupBy(col("__u"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__r"), col("__t")))),
        x => x.getField("__t")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * standard 40/20/40 split that [[attributeLastTouch]]'s
    * single-touch view under-serves: for each converting user, the
    * touches STRICTLY before the FIRST conversion (strictly in
    * `(ts, tie)` lexicographic order, so equal-timestamp ties are
    * deterministic) share the conversion's credit —
    *
    *   1 touch  → 10⁶ ppm;  2 touches → 500000 each;
    *   k ≥ 3    → first 400000, last 400000,
    *              each middle `200000 div (k−2)`
    *
    * — integer ppm throughout; the middle floor UNDERCOUNTS by up to
    * k−3 ppm per conversion (stated, not hidden — a remainder
    * re-spread would make credit depend on position arbitrarily).
    * Conversions are events of `convType`; every OTHER event is a
    * touch crediting its `channelCol` value (null channels refuse
    * loudly — a null channel would silently absorb credit). Users
    * with no conversion, or no touch before it, contribute nothing
    * (the organic share is visible as the gap to
    * [[funnelReport]]'s conversion count).
    *
    * Output per channel: `channel, n_touches, n_first, n_last,
    * credit_ppm` (credit summed over all conversions; divide by 10⁶
    * for "conversions attributed").
    *
    * Scale shape: one per-user min fold for the first conversion
    * (map-side combined), one broadcast-free equi join back on user,
    * ONE user-partitioned window sort for position + count, one
    * channel aggregation. Nothing row-sized shuffles twice.
    */
  def attributePositionBased(events: DataFrame, userCol: String,
      typeCol: String, channelCol: String, tsCol: String,
      tieCol: String, convType: String): DataFrame = {
    val rows = events.select(col(userCol).as("user"),
      etypeFrom("attributePositionBased", col(typeCol)).as("etype"),
      col(channelCol).as("__rawchan"),
      col(tsCol).cast("long").as("ts"),
      col(tieCol).cast("long").as("tie"))
    val convs = rows.filter(col("etype") === convType)
      .groupBy(col("user").as("__u"))
      .agg(min(struct(col("ts"), col("tie"))).as("__conv"))
    val touches = rows.filter(col("etype") =!= convType)
      .select(col("user"),
        chanFrom(col("__rawchan")).as("channel"),
        col("ts"), col("tie"))
      .join(convs, col("user") === col("__u")
        && struct(col("ts"), col("tie")) < col("__conv"))
    val byUser = Window.partitionBy(col("user"))
      .orderBy(col("ts"), col("tie"))
    val userAll = Window.partitionBy(col("user"))
    val credited = touches
      .withColumn("__pos", row_number().over(byUser).cast("long"))
      .withColumn("__k", count(lit(1)).over(userAll))
      .withColumn("__credit",
        when(col("__k") === 1, lit(1000000L))
          .when(col("__k") === 2, lit(500000L))
          .when(col("__pos") === 1 || col("__pos") === col("__k"),
            lit(400000L))
          .otherwise(expr("200000L div (__k - 2L)")))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("__pos") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("__pos") === col("__k"), 1L).otherwise(0L))
          .as("n_last"),
        sum(col("__credit")).as("credit_ppm"))
  }

  private def chanFrom(raw: org.apache.spark.sql.Column) =
    coalesce(raw.cast("string"),
      raise_error(lit("attributePositionBased: null channel on a " +
        "touch event — a null channel would silently absorb credit"))
        .cast("string"))

  /** Null event types refuse LOUDLY before the conversion/touch
    * split: a null `etype` makes both `=== convType` and
    * `=!= convType` evaluate to null, so the row would vanish from
    * conversions AND touches alike — the exact silent-credit-loss
    * the null-channel refusal exists to prevent, one filter earlier.
    */
  private def etypeFrom(op: String,
      raw: org.apache.spark.sql.Column) =
    coalesce(raw.cast("string"),
      raise_error(lit(op + ": null event type — a null type row " +
        "would silently vanish from both the conversion and touch " +
        "sides; filter or impute visibly upstream")).cast("string"))

  /** First-order Markov removal-effect attribution (Anderl et al.
    * 2014) — the principled multi-touch model next to
    * [[attributePositionBased]]'s fixed heuristic: fit a first-order
    * chain over observed channel transitions (start → c₁ → … →
    * conversion | null), then for each channel ask "how much
    * conversion probability disappears if this channel vanishes"
    * (its inbound transitions rerouted to the null absorber, its
    * outbound ones unreachable):
    *
    *   RE_c = 1 − P_removed(c)/P_full
    *
    * P is the `iters`-hop absorption probability from the start
    * state, computed by synchronous value iteration ON THE PURE
    * INTEGER LATTICE: each round `v_i = (Σ_j n_ij·w_j) div n_i` with
    * w = 10⁶ at the conversion absorber, 0 at null — exact counts,
    * one floor per (scenario, state, round), NO float anywhere, so
    * the fixed-round fit is bit-identical and SQL-replayable (the
    * bradleyTerry discipline). `iters` is part of the SEMANTICS
    * (hop-bounded absorption — paths longer than `iters` hops
    * contribute nothing; absorption mass converges geometrically),
    * bounded ≤ 32 loudly. Paths: each user's touches strictly before
    * the first conversion in `(ts, tie)` lex order (non-converters
    * contribute their whole sequence, ending in null) — the q325
    * path contract. Output per channel: `channel, p_full_ppm,
    * p_removed_ppm, re_ppm` (clamped at 0 — the true RE is ≥ 0;
    * the per-round floors can dip a hair below) and `share_ppm`
    * normalized over positive REs (null when every RE is 0 or
    * P_full = 0). Null channels refuse; channels colliding with the
    * three reserved state names OR the `__none__` baseline-scenario
    * sentinel refuse (a `__none__` channel would merge with the
    * baseline scenario and corrupt every channel's p_full).
    *
    * Scale shape: the row-sized work is ONE user-windowed pass to
    * transitions + one (src, dst) count — after that everything is
    * (channels+2)²-sized, localCheckpointed once, and the `iters`
    * driver loop iterates a ≤ (maxChannels+1)·(maxChannels+1)
    * relation with per-round lineage cuts (the kCore discipline).
    * The channel-count refusal (≤ `maxChannels`) is one bounded
    * driver action.
    */
  def markovRemovalEffect(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String, convType: String,
      iters: Int = 8, maxChannels: Int = 64): DataFrame =
    markovRemovalEffectImpl(events, userCol, typeCol, tsCol, tieCol,
      convType, iters, maxChannels, driverIterGate = 64)

  /** [[markovRemovalEffect]] with the driver-iteration gate exposed for
    * the equivalence spec (driverIterGate = 0 forces the Spark loop).
    */
  private[graft] def markovRemovalEffectImpl(events: DataFrame,
      userCol: String, typeCol: String, tsCol: String, tieCol: String,
      convType: String, iters: Int, maxChannels: Int,
      driverIterGate: Int): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters=$iters out of [1, 32]")
    require(maxChannels >= 1 && maxChannels <= 256,
      s"maxChannels=$maxChannels out of [1, 256]")
    // "__none__" is the baseline-scenario sentinel (the scenarios
    // grid below): a channel literally named "__none__" would merge
    // with the baseline scenario — its removals applied to the
    // baseline transition counts, its own p_removed lost to the
    // scenario filter — so it refuses with the state names.
    val reserved = Seq("__start__", "__conv__", "__null__", "__none__")
    val chanCol = {
      val c = coalesce(col("__rawchan").cast("string"),
        raise_error(lit("markovRemovalEffect: null channel on a " +
          "touch event — a null channel would silently absorb " +
          "probability mass")).cast("string"))
      when(c.isin(reserved.map(lit): _*),
        raise_error(concat(lit("markovRemovalEffect: channel '"), c,
          lit("' collides with a reserved state name")))
          .cast("string")).otherwise(c)
    }
    val rows = events.select(col(userCol).as("user"),
      etypeFrom("markovRemovalEffect", col(typeCol)).as("etype"),
      col(typeCol).as("__rawchan"),
      col(tsCol).cast("long").as("ts"),
      col(tieCol).cast("long").as("tie"))
    val convs = rows.filter(col("etype") === convType)
      .groupBy(col("user").as("__u"))
      .agg(min(struct(col("ts"), col("tie"))).as("__conv"))
    val touches = rows.filter(col("etype") =!= convType)
      .select(col("user"), chanCol.as("channel"), col("ts"),
        col("tie"))
      .join(convs, col("user") === col("__u"), "left")
      .filter(col("__conv").isNull
        || struct(col("ts"), col("tie")) < col("__conv"))
      .withColumn("__absorb",
        when(col("__conv").isNotNull, lit("__conv__"))
          .otherwise(lit("__null__")))
    val byUser = Window.partitionBy(col("user"))
      .orderBy(col("ts"), col("tie"))
    val seq0 = touches
      .withColumn("__pos", row_number().over(byUser))
      .withColumn("__next", lead(col("channel"), 1).over(byUser))
    val mids = seq0.select(col("channel").as("src"),
      coalesce(col("__next"), col("__absorb")).as("dst"))
    val starts = seq0.filter(col("__pos") === 1)
      .select(lit("__start__").as("src"), col("channel").as("dst"))
    // converters whose every touch is AT/after the first conversion
    // (or who only ever converted): start -> conv directly
    val lone = convs.join(
        touches.select(col("user")).distinct(),
        col("__u") === col("user"), "left_anti")
      .select(lit("__start__").as("src"), lit("__conv__").as("dst"))
    val trans = mids.unionByName(starts).unionByName(lone)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val channels = trans.select(col("src").as("c"))
      .filter(!col("c").isin(reserved.map(lit): _*))
      .union(trans.select(col("dst").as("c"))
        .filter(!col("c").isin(reserved.map(lit): _*)))
      .distinct().localCheckpoint()
    val nChan = channels.count()
    require(nChan <= maxChannels,
      s"markovRemovalEffect: $nChan channels > maxChannels=" +
        s"$maxChannels — the scenario grid is channels^3-sized; " +
        "coarsen the channel taxonomy upstream")
    val scenarios = channels.select(col("c").as("removed"))
      .union(events.sparkSession.range(1)
        .select(lit("__none__").as("removed")))
    val scenTrans = broadcast(scenarios).crossJoin(trans)
      .filter(col("src") =!= col("removed"))
      .select(col("removed"), col("src"),
        when(col("dst") === col("removed"), lit("__null__"))
          .otherwise(col("dst")).as("dst"), col("n"))
      .groupBy(col("removed"), col("src"), col("dst"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint()
    // Value iteration runs DRIVER-SIDE when the scenario grid is small
    // (round-20, guide §1.2 — choose the algorithm before tuning the
    // jobs): scenTrans is (channels+1)·(channels+2)²-bounded, so at the
    // default maxChannels=64 it is ≤ ~283k tiny rows; the old loop paid
    // `iters` sequential checkpoint jobs on a relation this size. One
    // collect + a local loop with the SAME integer arithmetic
    // (sum(n·w) over longs, integral div — floor on these non-negative
    // operands either way) is bit-identical; above the gate the Spark
    // loop below remains the scale path.
    var vals: DataFrame = null
    if (nChan <= driverIterGate) {
      val spark = events.sparkSession
      import spark.implicits._
      val rows = scenTrans
        .select(col("removed"), col("src"), col("dst"), col("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3)))
      vals = markovDriverIterate(rows, iters)
        .toSeq.map { case ((rm, st), vv) => (rm, st, vv) }
        .toDF("removed", "state", "v")
    } else {
      vals = scenTrans.select(col("removed"), col("src").as("state"))
        .distinct().withColumn("v", lit(0L)).localCheckpoint()
      for (_ <- 1 to iters) {
        val w = vals.select(col("removed").as("__r2"),
          col("state").as("__st"), col("v").as("__w"))
        vals = scenTrans
          .join(w, col("removed") === col("__r2")
            && col("dst") === col("__st"), "left")
          .withColumn("__wj",
            when(col("dst") === "__conv__", lit(1000000L))
              .when(col("dst") === "__null__", lit(0L))
              .otherwise(coalesce(col("__w"), lit(0L))))
          .groupBy(col("removed"), col("src"))
          .agg(expr("sum(n * __wj) div sum(n)").as("v"))
          .select(col("removed"), col("src").as("state"), col("v"))
          .localCheckpoint()
      }
    }
    val pFull = vals
      .filter(col("removed") === "__none__"
        && col("state") === "__start__")
      .select(col("v").as("p_full_ppm"))
    val pRem = vals.filter(col("state") === "__start__"
        && col("removed") =!= "__none__")
      .select(col("removed").as("__c"), col("v").as("p_removed_ppm"))
    val re = channels.select(col("c").as("channel"))
      .join(pRem, col("channel") === col("__c"), "left")
      .crossJoin(broadcast(pFull))
      .select(col("channel"), col("p_full_ppm"),
        coalesce(col("p_removed_ppm"), lit(0L)).as("p_removed_ppm"))
      .withColumn("re_ppm",
        when(col("p_full_ppm") <= 0, lit(null).cast("long"))
          .otherwise(greatest(lit(0L), lit(1000000L) -
            expr("(1000000L * p_removed_ppm) div p_full_ppm"))))
    val tot = re.groupBy()
      .agg(sum(col("re_ppm")).as("__tot"))
    re.crossJoin(broadcast(tot))
      .select(col("channel"), col("p_full_ppm"),
        col("p_removed_ppm"), col("re_ppm"),
        when(col("__tot").isNull || col("__tot") <= 0,
          lit(null).cast("long"))
          .otherwise(expr("(1000000L * re_ppm) div __tot"))
          .as("share_ppm"))
  }

  /** The driver-side value iteration of [[markovRemovalEffect]] over
    * collected `(removed, src, dst, n)` transitions: `iters` synchronous
    * rounds of `v(src) = (Σ n·w_dst) div Σ n` per scenario. Both sums use
    * exact ops, so an overflow fails loudly like the ANSI sums of the
    * Spark loop it replaces.
    */
  private[graft] def markovDriverIterate(
      rows: Array[(String, String, String, Long)],
      iters: Int): Map[(String, String), Long] = {
    val grouped: Map[(String, String), Array[(String, Long)]] =
      rows.groupBy(r => (r._1, r._2))
        .view.mapValues(_.map(r => (r._3, r._4))).toMap
    var v: Map[(String, String), Long] =
      grouped.keysIterator.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      v = grouped.map { case ((rm, src), outs) =>
        var num = 0L
        var den = 0L
        outs.foreach { case (dst, n) =>
          val wj =
            if (dst == "__conv__") 1000000L
            else if (dst == "__null__") 0L
            else v.getOrElse((rm, dst), 0L)
          num = Math.addExact(num, Math.multiplyExact(n, wj))
          den = Math.addExact(den, n)
        }
        (rm, src) -> (num / den)
      }
    }
    v
  }

  /** RFM (recency / frequency / monetary) scores per user WITHIN a
    * segment — the lifecycle-value readout next to
    * [[graft.operators.Experiment.retentionCohorts]]' time view:
    * per (segment, user) the exact integers `recency = nowTs −
    * max(ts)` (refused negative — a future event means the clock is
    * wrong), `frequency = count`, `monetary = Σ value`; each
    * dimension then scored 1..buckets by ascending rank WITHIN the
    * segment (`bucketIdx = ((rank−1)·buckets) div n`, user-id
    * tie-break), recency INVERTED (fresher = higher), and `rfm =
    * r·buckets² + f·buckets + m` as the segment code. Per-SEGMENT
    * scoring is the contract, stated: cross-population quantiles at
    * 100 TB want histogram boundaries
    * ([[graft.functions.Sketches]]), not a global sort — pass a
    * constant segment when the population genuinely fits one sort.
    * Output: `seg, user, recency, frequency, monetary, r_score,
    * f_score, m_score, rfm`.
    *
    * Scale shape: one (seg, user) map-side agg + three segment-
    * partitioned rank windows (never global).
    */
  def rfmSegments(events: DataFrame, segCol: String, userCol: String,
      tsCol: String, valCol: String, nowTs: Long,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 2 && buckets <= 10,
      s"buckets=$buckets out of [2, 10]")
    val v = coalesce(col(valCol).try_cast("long"),
      raise_error(concat(lit("rfmSegments value '"),
        coalesce(col(valCol).cast("string"), lit("NULL")),
        lit("' is null or not castable to long"))).cast("long"))
    val perUser = events.select(col(segCol).as("seg"),
        col(userCol).as("user"), col(tsCol).cast("long").as("__t"),
        v.as("__v"))
      .groupBy(col("seg"), col("user"))
      .agg((lit(nowTs) - max(col("__t"))).as("recency"),
        count(lit(1)).as("frequency"), sum(col("__v")).as("monetary"))
      .filter(when(col("recency") < 0,
        raise_error(concat(lit("rfmSegments: user '"),
          col("user").cast("string"),
          lit("' has events after nowTs — the reference clock is " +
            "behind the data"))).cast("boolean"))
        .otherwise(lit(true)))
    def score(c: String) =
      expr(s"((__rk_$c - 1L) * ${buckets}L) div __nseg + 1L")
    val withN = perUser.withColumn("__nseg",
      count(lit(1)).over(Window.partitionBy(col("seg"))))
    val ranked = withN
      .withColumn("__rk_recency", row_number().over(
        Window.partitionBy(col("seg"))
          .orderBy(col("recency").desc, col("user"))).cast("long"))
      .withColumn("__rk_frequency", row_number().over(
        Window.partitionBy(col("seg"))
          .orderBy(col("frequency").asc, col("user"))).cast("long"))
      .withColumn("__rk_monetary", row_number().over(
        Window.partitionBy(col("seg"))
          .orderBy(col("monetary").asc, col("user"))).cast("long"))
    ranked
      .withColumn("r_score", score("recency"))
      .withColumn("f_score", score("frequency"))
      .withColumn("m_score", score("monetary"))
      .select(col("seg"), col("user"), col("recency"),
        col("frequency"), col("monetary"), col("r_score"),
        col("f_score"), col("m_score"),
        (col("r_score") * (buckets * buckets).toLong
          + col("f_score") * buckets.toLong + col("m_score"))
          .as("rfm"))
  }

  /** Time-decay attribution — the fourth of the standard four
    * models beside [[attributeLastTouch]], [[attributePositionBased]]
    * and [[markovRemovalEffect]]: each pre-conversion touch carries
    * weight 2^(−s) where `s = (convTs − touchTs) div halfLifeNs −
    * per-user min` (EXACT dyadic decay — half-life steps on the
    * integer lattice, no exp() anywhere; the floor means a touch
    * keeps its full step-weight until the next half-life boundary,
    * stated), normalized per user (`credit = (10⁶·w) div Σw` on
    * DECIMAL(38), ≤ n micro floor loss per user), folded per
    * channel. A touch ≥ 63 half-lives staler than the user's
    * freshest touch gets weight 0 — past int64 resolution, VISIBLE
    * in the doc rather than silently re-scaled. Same touch
    * derivation, strict-lex ties and null-channel refusal as the
    * position model. Output: `channel, n_touches, credit_ppm`.
    *
    * Scale shape: one conversion min-fold + one user equi join +
    * one (user) agg + one channel agg — row-sized data crosses one
    * shuffle once; no window at all (the decay needs no ordering,
    * only the conversion timestamp).
    */
  def attributeTimeDecay(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String,
      convType: String, halfLifeNs: Long): DataFrame = {
    require(halfLifeNs >= 1, s"halfLifeNs=$halfLifeNs must be >= 1")
    val chan = coalesce(col(typeCol).cast("string"),
      raise_error(lit("attributeTimeDecay: null channel on a touch " +
        "event — a null channel would silently absorb credit"))
        .cast("string"))
    val rows = events.select(col(userCol).as("user"),
      etypeFrom("attributeTimeDecay", col(typeCol)).as("etype"),
      chan.as("channel"),
      col(tsCol).cast("long").as("ts"),
      col(tieCol).cast("long").as("tie"))
    val convs = rows.filter(col("etype") === convType)
      .groupBy(col("user").as("__u"))
      .agg(min(struct(col("ts"), col("tie"))).as("__conv"))
    val touches = rows.filter(col("etype") =!= convType)
      .join(convs, col("user") === col("__u"))
      .filter(struct(col("ts"), col("tie")) < col("__conv"))
      .withColumn("__e",
        expr("(__conv.ts - ts) div " + s"${halfLifeNs}L"))
    val scaled = touches
      .withColumn("__minE", min(col("__e")).over(
        Window.partitionBy(col("user"))))
      .withColumn("__s", col("__e") - col("__minE"))
      .withColumn("__w", when(col("__s") >= 63L, lit(0L))
        .otherwise(expr("shiftleft(1L, CAST(62 - __s AS INT))")))
      .withColumn("__wsum", sum(col("__w").cast("decimal(38,0)"))
        .over(Window.partitionBy(col("user"))))
      .withColumn("__credit", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * __w) div __wsum " +
          "AS BIGINT)"))
    scaled.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__credit")).as("credit_ppm"))
  }

  /** Growth accounting per period — the active-user decomposition a
    * growth review runs on (Reforge's quick-ratio inputs): with
    * presence = DISTINCT (user, period = ts div periodNs), each
    * user-period is `new` (first period ever), `retained` (present
    * the period before) or `resurrected` (a gap behind it); a user
    * present in p but absent in p+1 is `churned`, COUNTED IN p+1
    * (the period the loss shows up), and the final period counts no
    * churn — the data can't see past its own edge (stated). All
    * exact integers; `quick_ratio_ppm = (10⁶·(new+resurrected)) div
    * churned` rides along (null when nothing churned — unbounded,
    * not 10⁶). Output per period: `period, n_active, n_new,
    * n_retained, n_resurrected, n_churned, quick_ratio_ppm`.
    *
    * Scale shape: one distinct-presence agg + ONE user-partitioned
    * lag/lead window + one period fold; the global max period is a
    * 1-row broadcast.
    */
  def growthAccounting(events: DataFrame, userCol: String,
      tsCol: String, periodNs: Long): DataFrame = {
    require(periodNs >= 1, s"periodNs=$periodNs must be >= 1")
    val w = Window.partitionBy(col("user")).orderBy(col("p"))
    val marked = events.select(col(userCol).as("user"),
        expr(s"CAST(`$tsCol` AS BIGINT) div ${periodNs}L").as("p"))
      .distinct()
      .withColumn("__prev", lag(col("p"), 1).over(w))
      .withColumn("__next", lead(col("p"), 1).over(w))
    val maxP = marked.groupBy()
      .agg(max(col("p")).as("__maxp"))
    val status = marked
      .withColumn("__st",
        when(col("__prev").isNull, lit("new"))
          .when(col("__prev") === col("p") - 1L, lit("retained"))
          .otherwise(lit("resurrected")))
    val active = status.groupBy(col("p").as("period"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__st") === "new", 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("__st") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__st") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = marked.crossJoin(broadcast(maxP))
      .filter((col("__next").isNull || col("__next") =!= col("p") + 1L)
        && col("p") < col("__maxp"))
      .groupBy((col("p") + 1L).as("__cp"))
      .agg(count(lit(1)).as("n_churned"))
    // FULL outer: a period can churn users while activating none —
    // dropping it would hide exactly the cliff the table exists for
    active.join(churn, col("period") <=> col("__cp"), "full_outer")
      .select(coalesce(col("period"), col("__cp")).as("period"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio_ppm",
        when(col("n_churned") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            "(1000000L * (n_new + n_resurrected)) div n_churned")))
  }
}
