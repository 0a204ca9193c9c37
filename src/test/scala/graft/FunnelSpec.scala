package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Funnel

class FunnelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (user, type, ts)
  val evs = Seq(
    // u1 completes the whole funnel, with decoys interleaved
    (1L, "view", 10L), (1L, "click", 20L), (1L, "view", 25L),
    (1L, "purchase", 30L),
    // u2 clicks BEFORE viewing — that click can't count; the later
    // click does
    (2L, "click", 5L), (2L, "view", 10L), (2L, "click", 15L),
    // u3: equal timestamps are NOT strictly after -> no progress
    (3L, "view", 10L), (3L, "click", 10L),
    // u4 never does step 0 -> absent
    (4L, "click", 1L), (4L, "purchase", 2L),
    // u5 views twice, min wins
    (5L, "view", 50L), (5L, "view", 40L))

  test("funnel: strict ordering, abandonment, min-ts per step, " +
      "step-0 gate") {
    val got = Funnel.funnel(evs.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))).toMap
    assert(got(1L) == ((Some(10L), Some(20L), Some(30L), 3)))
    assert(got(2L) == ((Some(10L), Some(15L), None, 2)))
    assert(got(3L) == ((Some(10L), None, None, 1)))
    assert(!got.contains(4L))
    assert(got(5L) == ((Some(40L), None, None, 1)))
  }

  test("funnelReport: reach counts are monotone and ppm is vs step 1") {
    val got = Funnel.funnelReport(evs.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // 4 users reach step 1 (u1,u2,u3,u5), 2 reach step 2, 1 reaches 3
    assert(got(1) == ((4L, 1000000L)))
    assert(got(2) == ((2L, 500000L)))
    assert(got(3) == ((1L, 250000L)))
  }

  test("attributeLastTouch: latest strictly-before touch wins, " +
      "equal-ts never attributes, organic conversions keep null") {
    val evs2 = Seq(
      (1L, "click", 10L, 100L), (1L, "click", 20L, 101L),
      (1L, "purchase", 30L, 102L),                  // -> click@20
      (1L, "purchase", 20L, 103L),                  // ts tie -> click@10
      (2L, "purchase", 5L, 200L),                   // organic
      (2L, "click", 9L, 201L))                      // after conv: no use
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = Funnel.attributeLastTouch(evs2, "user_id", "event_type",
        "ts", "event_id", "purchase", "click").collect()
      .map(r => r.getLong(1) -> ((Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(got(102L) == ((Some(20L), Some(10L))))
    assert(got(103L) == ((Some(10L), Some(10L))))
    assert(got(200L) == ((None, None)))
    intercept[IllegalArgumentException] {
      Funnel.attributeLastTouch(evs2, "user_id", "event_type", "ts",
        "event_id", "purchase", "purchase")
    }
  }

  test("funnelLatencyHistogram: per-step-pair bucketed latencies") {
    val got = Funnel.funnelLatencyHistogram(
        evs.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), bucketWidth = 7L)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // u1: click-view = 10 -> bucket 1; purchase-click = 10 -> bucket 1
    // u2: click-view = 5 -> bucket 0
    assert(got == Map((2, 1L) -> 1L, (2, 0L) -> 1L, (3, 1L) -> 1L),
      s"got $got")
  }

  test("transitionMatrix: lead pairs per user with deterministic " +
      "equal-ts order, row-normalized ppm") {
    val evs3 = Seq(
      (1L, "view", 1L, 10L), (1L, "click", 2L, 11L),
      (1L, "view", 3L, 12L), (1L, "click", 4L, 13L),
      // equal ts: id order decides view(20) -> click(21)
      (2L, "view", 5L, 20L), (2L, "click", 5L, 21L),
      (3L, "error", 9L, 30L))  // single event: no transition
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = Funnel.transitionMatrix(evs3, "user_id", "event_type",
        "ts", "event_id").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // from view: 3 transitions, all to click; from click: 1 to view
    assert(got(("view", "click")) == ((3L, 1000000L)))
    assert(got(("click", "view")) == ((1L, 1000000L)))
    assert(got.size == 2)
  }

  test("funnel refuses empty and duplicate step lists") {
    val df = evs.toDF("user_id", "event_type", "ts")
    intercept[IllegalArgumentException] {
      Funnel.funnel(df, "user_id", "event_type", "ts", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Funnel.funnel(df, "user_id", "event_type", "ts",
        Seq("view", "view"))
    }
  }

  test("funnelWithin: a step counts only within maxStepGap of the " +
      "previous one; the bound is inclusive, equal-ts still excluded") {
    val wevs = Seq(
      // u1: click in window, purchase 95 after click -> out (gap 10)
      (1L, "view", 0L), (1L, "click", 5L), (1L, "purchase", 100L),
      // u2: click exactly at the bound (0 + 10) -> counts
      (2L, "view", 0L), (2L, "click", 10L), (2L, "purchase", 20L),
      // u3: click just past the bound -> abandoned at step 1, and the
      // later purchase can't re-open the funnel
      (3L, "view", 0L), (3L, "click", 11L), (3L, "purchase", 12L),
      // u4: equal-ts click never counts, but the later in-window one
      // does (min QUALIFYING time, not min time)
      (4L, "view", 0L), (4L, "click", 0L), (4L, "click", 7L))
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.funnelWithin(wevs, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxStepGap = 10L).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))).toMap
    assert(got(1L) == ((Some(0L), Some(5L), None, 2)), s"got $got")
    assert(got(2L) == ((Some(0L), Some(10L), Some(20L), 3)))
    assert(got(3L) == ((Some(0L), None, None, 1)))
    assert(got(4L) == ((Some(0L), Some(7L), None, 2)))
    intercept[IllegalArgumentException] {
      Funnel.funnelWithin(wevs, "user_id", "event_type", "ts",
        Seq("view", "click"), maxStepGap = 0L)
    }
  }

  test("sessionStats: inactivity gaps strictly over gapNs cut " +
      "sessions; an exactly-gap pause stays; deterministic tie order") {
    val sevs = Seq(
      // u1: [0, 10], then 41 (gap 31 > 30) -> two sessions
      (1L, 0L, 100L), (1L, 10L, 101L), (1L, 41L, 102L),
      // u2: pause of exactly 30 stays one session
      (2L, 0L, 200L), (2L, 30L, 201L),
      // u3: equal timestamps order by the tiebreak, gap 0 -> one
      (3L, 5L, 301L), (3L, 5L, 300L))
      .toDF("user_id", "ts", "event_id")
    val got = Funnel.sessionStats(sevs, "user_id", "ts", "event_id",
        gapNs = 30L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got((1L, 1L)) == ((2L, 0L, 10L, 10L)), s"got $got")
    assert(got((1L, 2L)) == ((1L, 41L, 41L, 0L)))
    assert(got((2L, 1L)) == ((2L, 0L, 30L, 30L)))
    assert(got((3L, 1L)) == ((2L, 5L, 5L, 0L)))
    assert(got.size == 4)
    intercept[IllegalArgumentException] {
      Funnel.sessionStats(sevs, "user_id", "ts", "event_id", gapNs = 0L)
    }
  }

  test("pathMining: first-n journeys, short users keep their full " +
      "path, count-then-path ordering, id tie-break") {
    val evs = Seq(
      ("a", 1L, 1L, "x"), ("a", 2L, 2L, "y"), ("a", 3L, 3L, "z"),
      ("a", 4L, 4L, "w"), // 4th event must fall off at n = 3
      ("b", 1L, 5L, "x"), ("b", 2L, 6L, "y"),
      ("c", 5L, 7L, "x"), ("c", 6L, 8L, "y"))
      .toDF("u", "ts", "id", "t")
    val got = Funnel.pathMining(evs, "u", "t", "ts", "id",
      n = 3, k = 10).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("x>y", 2L), ("x>y>z", 1L)), s"got $got")
    // equal-ts events order by the id tie-break
    val tie = Seq(("d", 1L, 2L, "late"), ("d", 1L, 1L, "early"))
      .toDF("u", "ts", "id", "t")
    val p = Funnel.pathMining(tie, "u", "t", "ts", "id", n = 5, k = 1)
      .collect()(0).getString(0)
    assert(p == "early>late", s"got $p")
    // count ties cut deterministically on the path text
    val tied = Seq(("e", 1L, 1L, "b"), ("f", 1L, 2L, "a"))
      .toDF("u", "ts", "id", "t")
    val top1 = Funnel.pathMining(tied, "u", "t", "ts", "id",
      n = 1, k = 1).collect()(0)
    assert(top1.getString(0) == "a" && top1.getLong(1) == 1L)
    intercept[IllegalArgumentException] {
      Funnel.pathMining(evs, "u", "t", "ts", "id", n = 65, k = 1)
    }
  }

  test("attributePositionBased: 40/20/40 hand fixture, single and " +
      "double touches, post-conversion touches ignored") {
    // u1: A,B,C,D then conv -> 400000/100000/100000/400000
    // u2: A then conv -> 1000000 (first AND last)
    // u3: A,B then conv -> 500000 each
    // u4: conv only; u5: touch only AFTER conv -> nothing
    val evs = Seq(
      (1L, "A", 1L, 1L), (1L, "B", 2L, 2L), (1L, "C", 3L, 3L),
      (1L, "D", 4L, 4L), (1L, "conv", 5L, 5L),
      (2L, "A", 1L, 6L), (2L, "conv", 2L, 7L),
      (3L, "A", 1L, 8L), (3L, "B", 2L, 9L), (3L, "conv", 3L, 10L),
      (4L, "conv", 1L, 11L),
      (5L, "conv", 1L, 12L), (5L, "A", 2L, 13L))
      .toDF("u", "t", "ts", "id")
    val got = Funnel.attributePositionBased(evs, "u", "t", "t",
      "ts", "id", "conv").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got("A") == ((3L, 3L, 1L, 1900000L)), s"A: ${got("A")}")
    assert(got("B") == ((2L, 0L, 1L, 600000L)), s"B: ${got("B")}")
    assert(got("C") == ((1L, 0L, 0L, 100000L)))
    assert(got("D") == ((1L, 0L, 1L, 400000L)))
    assert(!got.contains("conv"))
  }

  test("attributePositionBased: equal-timestamp ties break on the " +
      "tiebreak column; only strictly-prior touches credit") {
    // touch and conversion share ts=5: tie 1 < tie 2 -> credited;
    // a second touch at (5, 3) is NOT strictly before (5, 2)
    val evs = Seq((1L, "A", 5L, 1L), (1L, "conv", 5L, 2L),
      (1L, "B", 5L, 3L)).toDF("u", "t", "ts", "id")
    val got = Funnel.attributePositionBased(evs, "u", "t", "t",
      "ts", "id", "conv").collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got == Map("A" -> 1000000L), s"got $got")
  }

  test("markovRemovalEffect: hand-solved 2-channel chain — removal " +
      "halves vs kills the start value, shares split 1:2") {
    // u1: C1 -> C2 -> conv; u2: C1 -> null; u3: C2 -> conv
    // trans: start->C1:2 start->C2:1 C1->C2:1 C1->null:1 C2->conv:2
    // v(C2)=1e6, v(C1)=5e5, p_full=(2*5e5+1e6) div 3 = 666666
    // remove C1: p=333333, 1e6*333333 div 666666 = 500000 exactly
    // -> RE 500000; remove C2: p=0 -> RE 1e6; shares over 1.5e6
    val evs = Seq(
      (1L, "C1", 10L, 1L), (1L, "C2", 20L, 2L), (1L, "buy", 30L, 3L),
      (2L, "C1", 10L, 4L),
      (3L, "C2", 10L, 5L), (3L, "buy", 20L, 6L))
      .toDF("u", "et", "ts", "id")
    val got = Funnel.markovRemovalEffect(evs, "u", "et", "ts", "id",
      "buy").collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("p_removed_ppm"), r.getAs[Long]("re_ppm"),
          r.getAs[Long]("share_ppm"))).toMap
    assert(got.keySet == Set("C1", "C2"))
    assert(got("C1") == ((333333L, 500000L, 333333L)), s"got $got")
    assert(got("C2") == ((0L, 1000000L, 666666L)), s"got $got")
    // lone converter (no touches) keeps mass flowing start->conv
    val lone = evs.union(Seq((4L, "buy", 5L, 7L))
      .toDF("u", "et", "ts", "id"))
    val pf = Funnel.markovRemovalEffect(lone, "u", "et", "ts", "id",
      "buy").collect()(0).getAs[Long]("p_full_ppm")
    // trans gains start->conv:1: v(start)=(2*5e5+1e6+1e6) div 4
    assert(pf == 750000L, s"got $pf")
    // post-conversion touches are ignored; a reserved channel name
    // refuses loudly
    val res = intercept[Exception] {
      Funnel.markovRemovalEffect(Seq((1L, "__conv__", 1L, 1L),
        (1L, "buy", 2L, 2L)).toDF("u", "et", "ts", "id"),
        "u", "et", "ts", "id", "buy").collect()
    }
    assert(rootCause(res).getMessage.contains("reserved"),
      s"got ${rootCause(res).getMessage}")
  }

  test("rfmSegments: 4-user hand fixture with every rank pinned; " +
      "future-event refusal; value refusal") {
    val evs = Seq(
      (1L, 90L, 10L), (1L, 95L, 20L),
      (2L, 50L, 100L),
      (3L, 99L, 1L),
      (4L, 80L, 5L), (4L, 85L, 5L), (4L, 88L, 5L))
      .map { case (u, t, v) => ("s", u, t, v) }
      .toDF("seg", "u", "ts", "v")
    val got = Funnel.rfmSegments(evs, "seg", "u", "ts", "v",
      nowTs = 100L, buckets = 4).collect()
      .map(r => r.getAs[Long]("user") ->
        ((r.getAs[Long]("recency"), r.getAs[Long]("frequency"),
          r.getAs[Long]("monetary"), r.getAs[Long]("r_score"),
          r.getAs[Long]("f_score"), r.getAs[Long]("m_score"),
          r.getAs[Long]("rfm")))).toMap
    assert(got(1L) == ((5L, 2L, 30L, 3L, 3L, 3L, 63L)), s"got $got")
    assert(got(2L) == ((50L, 1L, 100L, 1L, 1L, 4L, 24L)))
    assert(got(3L) == ((1L, 1L, 1L, 4L, 2L, 1L, 73L)))
    assert(got(4L) == ((12L, 3L, 15L, 2L, 4L, 2L, 50L)))
    val fut = intercept[Exception] {
      Funnel.rfmSegments(Seq(("s", 1L, 200L, 1L))
        .toDF("seg", "u", "ts", "v"), "seg", "u", "ts", "v",
        nowTs = 100L).collect()
    }
    assert(rootCause(fut).getMessage.contains("after nowTs"))
    val nul = intercept[Exception] {
      Funnel.rfmSegments(Seq(("s", 1L, 50L, Option.empty[Long]))
        .toDF("seg", "u", "ts", "v"), "seg", "u", "ts", "v",
        nowTs = 100L).collect()
    }
    assert(rootCause(nul).getMessage.contains("rfmSegments value"))
  }

  test("attributeTimeDecay: dyadic 4:1 split at one half-life step, " +
      "63-step staleness zeroes out, per-user normalization") {
    // u1: conv@100, A(d=10,e=0) B(d=50,e=2) hl=20 -> 4:1
    // u2: single stale touch -> min-shift renormalizes to 1e6
    // u3: D fresh, E 65 steps staler -> E gets exactly 0
    val evs = Seq(
      (1L, "A", 90L, 1L), (1L, "B", 50L, 2L), (1L, "buy", 100L, 3L),
      (2L, "C", -900L, 4L), (2L, "buy", 100L, 5L),
      (3L, "D", 99L, 6L), (3L, "E", -1200L, 7L),
      (3L, "buy", 100L, 8L))
      .toDF("u", "et", "ts", "id")
    val got = Funnel.attributeTimeDecay(evs, "u", "et", "ts", "id",
      "buy", halfLifeNs = 20L).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_touches"), r.getAs[Long]("credit_ppm"))))
      .toMap
    assert(got("A") == ((1L, 800000L)), s"got $got")
    assert(got("B") == ((1L, 200000L)))
    assert(got("C") == ((1L, 1000000L)),
      "a lone stale touch still gets full credit (min-shift)")
    assert(got("D") == ((1L, 1000000L)) && got("E") == ((1L, 0L)),
      ">= 63 half-lives staler than the freshest: zero, stated")
    val nul = intercept[Exception] {
      Funnel.attributeTimeDecay(
        Seq((1L, Option.empty[String], 1L, 1L), (1L, Some("buy"), 2L, 2L))
          .toDF("u", "et", "ts", "id"),
        "u", "et", "ts", "id", "buy", 20L).collect()
    }
    // the null type refuses as EITHER a null event type or a null
    // channel (typeCol doubles as the channel here) — the contract
    // is that it refuses loudly rather than silently vanishing from
    // both sides of the conversion/touch split
    assert(rootCause(nul).getMessage.contains("null"),
      s"got ${rootCause(nul).getMessage}")
  }

  test("attribution: null event types refuse loudly in all three " +
      "models — a null type row would silently vanish from both " +
      "the conversion and touch sides") {
    val evs = Seq((1L, Option.empty[String], "A", 1L, 1L),
      (1L, Some("buy"), "B", 2L, 2L))
      .toDF("u", "et", "ch", "ts", "id")
    val pb = intercept[Exception] {
      Funnel.attributePositionBased(evs, "u", "et", "ch", "ts",
        "id", "buy").collect()
    }
    assert(rootCause(pb).getMessage.contains("null event type"),
      s"got ${rootCause(pb).getMessage}")
    val mk = intercept[Exception] {
      Funnel.markovRemovalEffect(evs, "u", "et", "ts", "id",
        "buy").collect()
    }
    assert(rootCause(mk).getMessage.contains("null"),
      s"got ${rootCause(mk).getMessage}")
  }

  test("markovRemovalEffect: a channel named __none__ refuses — it " +
      "would merge with the baseline scenario and corrupt p_full") {
    val res = intercept[Exception] {
      Funnel.markovRemovalEffect(Seq((1L, "__none__", 1L, 1L),
        (1L, "buy", 2L, 2L)).toDF("u", "et", "ts", "id"),
        "u", "et", "ts", "id", "buy").collect()
    }
    assert(rootCause(res).getMessage.contains("reserved"),
      s"got ${rootCause(res).getMessage}")
  }

  test("growthAccounting: new/retained/resurrected/churned hand " +
      "walk; zero-active churn period survives; edge period " +
      "counts no churn") {
    val evs = Seq((1L, 5L), (1L, 15L), (1L, 35L),
      (2L, 15L), (3L, 35L))
      .toDF("u", "ts")
    val got = Funnel.growthAccounting(evs, "u", "ts", periodNs = 10L)
      .collect().map(r => r.getAs[Long]("period") ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
          r.getAs[Long]("n_retained"), r.getAs[Long]("n_resurrected"),
          r.getAs[Long]("n_churned"),
          if (r.isNullAt(6)) null else r.getAs[Long]("quick_ratio_ppm"))))
      .toMap
    assert(got(0L) == ((1L, 1L, 0L, 0L, 0L, null)), s"got $got")
    assert(got(1L) == ((2L, 1L, 1L, 0L, 0L, null)))
    // p2: nobody active, u1+u2 both went missing -> the cliff row
    assert(got(2L) == ((0L, 0L, 0L, 0L, 2L, 0L)))
    // p3 = max period: u1 resurrects, u3 is new; churn unseeable
    assert(got(3L) == ((2L, 1L, 0L, 1L, 0L, null)))
  }

  test("markovRemovalEffect: an overflowing transition-count " +
      "denominator throws instead of wrapping") {
    // both edges lead to the null absorber (weight 0), so the numerator
    // stays 0 and only the denominator Σ n can overflow
    val half = Long.MaxValue / 2 + 1
    val rows = Array(("__none__", "__start__", "A", half),
      ("__none__", "A", "__null__", half),
      ("__none__", "A", "__null__", half))
    intercept[ArithmeticException] {
      Funnel.markovDriverIterate(rows, iters = 1)
    }
    // the same edges below the overflow iterate normally
    val ok = Funnel.markovDriverIterate(rows.map(r => r.copy(_4 = 3L)), 2)
    assert(ok == Map(("__none__", "__start__") -> 0L,
      ("__none__", "A") -> 0L))
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null) t else rootCause(t.getCause)
}
