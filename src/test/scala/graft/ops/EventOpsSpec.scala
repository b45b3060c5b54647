package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gap sessionization and as-of join: boundary semantics pinned here are
  * the ones the DuckDB oracles (q54/q55) recompute.
  */
class EventOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("sessionize splits strictly-greater-than-gap deltas; delta == gap stays") {
    import spark.implicits._
    // user 1: 0, 10 (same session), 20 (delta == gap == 10 stays), 31 (> gap splits)
    // user 2: single event
    val ev = Seq((1L, 0L, 1.0), (1L, 10L, 2.0), (1L, 20L, 3.0), (1L, 31L, 4.0),
      (2L, 100L, 5.0)).toDF("user_id", "ts", "value")
    val got = EventOps.sessionize(ev.repartition(3), "user_id", "ts", "value", gap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(x => (x._1, x._2))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 20L, 3L, 6.0),
      (1L, 2L, 31L, 31L, 1L, 4.0),
      (2L, 1L, 100L, 100L, 1L, 5.0)))
  }

  test("asofJoin matches the newest right row at or before each left ts") {
    import spark.implicits._
    val left = Seq((1L, 10L, 5L, "a"), (2L, 20L, 5L, "b"), (3L, 5L, 5L, "c"),
      (4L, 15L, 9L, "d")).toDF("event_id", "ts", "user_id", "tag")
      .select("event_id", "user_id", "ts", "tag")
    val right = Seq((5L, 10L, 1.5), (5L, 18L, 2.5), (9L, 99L, 9.9))
      .toDF("user_id", "ts", "value")
    val got = EventOps.asofJoin(left, right, "user_id", "ts", Seq("value"))
      .collect().map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some(10L), Some(1.5)),  // inclusive: right at ts==left ts matches
      (2L, Some(18L), Some(2.5)),  // newest of two candidates
      (3L, None, None),            // nothing at or before
      (4L, None, None)))           // other key's rows invisible
  }

  test("asofJoin carries multiple payload columns from the same matched row") {
    import spark.implicits._
    val left = Seq((1L, 5L, 20L)).toDF("event_id", "user_id", "ts")
      .select("event_id", "user_id", "ts")
    val right = Seq((5L, 10L, 1.0, "ten"), (5L, 15L, 2.0, "fifteen"))
      .toDF("user_id", "ts", "value", "tag")
    val got = EventOps.asofJoin(left, right, "user_id", "ts", Seq("value", "tag"))
      .select("asof_ts", "asof_value", "asof_tag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    // both payload columns come from the SAME newest row — never mixed
    assert(got.toSeq == Seq((15L, 2.0, "fifteen")))
  }

  test("asofJoin deduplicates right-side (key, ts) ties by greatest payload") {
    import spark.implicits._
    val left = Seq((1L, 10L, 5L)).toDF("event_id", "ts", "user_id")
      .select("event_id", "user_id", "ts")
    val right = Seq((5L, 10L, 1.0), (5L, 10L, 3.0), (5L, 10L, 2.0))
      .toDF("user_id", "ts", "value")
    val got = EventOps.asofJoin(left, right, "user_id", "ts", Seq("value"))
      .collect().map(r => r.getDouble(4))
    assert(got.toSeq == Seq(3.0))
  }

  test("funnel counts strict ordered chains; equal timestamps never chain") {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    val ev = Seq(
      // user 1: full ordered chain
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: click BEFORE the first view — chain stops at stage 1,
      // but a later click rescues stage 2 (greedy takes earliest valid)
      (2L, "click", 5L), (2L, "view", 10L), (2L, "click", 15L),
      // user 3: click at the SAME ts as the view — strictness blocks it
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: purchase without the middle step
      (4L, "view", 1L), (4L, "purchase", 2L),
      // user 5: only noise event types
      (5L, "error", 1L)
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnel(ev.repartition(3), "user_id", "event_type", "ts", steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // stage 1: users 1,2,3,4 viewed; stage 2: 1 and 2 clicked after; stage 3: only 1
    assert(got.toSeq == Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("funnel emits explicit zero-count stages when no step events exist") {
    import spark.implicits._
    val ev = Seq((1L, "error", 1L), (2L, "signup", 2L)).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnel(ev, "user_id", "event_type", "ts", Seq("view", "click"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "view", 0L), (2, "click", 0L)))
  }

  test("funnel rejects empty or duplicated step lists") {
    import spark.implicits._
    val ev = Seq((1L, "view", 1L)).toDF("user_id", "event_type", "ts")
    intercept[IllegalArgumentException] {
      EventOps.funnel(ev, "user_id", "event_type", "ts", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      EventOps.funnel(ev, "user_id", "event_type", "ts", Seq("view", "view"))
    }
  }

  test("rollingActive counts trailing-window distinct keys per day") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    // u1 active days 0 and 2 (two events on day 0); u2 active day 1
    val ev = Seq((1L, 0L), (1L, 5L), (1L, 2 * day), (2L, day))
      .toDF("user_id", "ts")
    val got = EventOps.rollingActive(ev.repartition(3), "user_id", "ts", windowDays = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // day d's activity is visible from window-days d and d+1
    assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 1L))
    intercept[IllegalArgumentException] {
      EventOps.rollingActive(ev, "user_id", "ts", windowDays = 0)
    }
  }

  test("transitionMatrix counts consecutive pairs with row-normalized probabilities") {
    import spark.implicits._
    val ev = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "a", 3L), (1L, "b", 4L),
      (2L, "a", 1L), (2L, "c", 2L),
      // same-instant tie: (ts, type) order makes x precede y
      (3L, "y", 5L), (3L, "x", 5L)
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.transitionMatrix(ev.repartition(3), "user_id", "event_type", "ts")
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 2.0 / 3.0)),
      ("a", "c") -> ((1L, 1.0 / 3.0)),
      ("b", "a") -> ((1L, 1.0)),
      ("x", "y") -> ((1L, 1.0))))
  }

  test("plan shapes: funnel shuffles once on the key; weightedSample is a TakeOrdered") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).flatMap(flatten)
    // funnel: the per-key scan is ONE data-sized exchange; the stage
    // explode adds one more tiny aggregation exchange over |steps| rows
    // per key — a plan with a join or window here would be a regression
    val ev = (1L to 200L).flatMap(u => Seq((u, "view", u), (u, "click", u + 1)))
      .toDF("user_id", "event_type", "ts")
    val f = EventOps.funnel(ev, "user_id", "event_type", "ts", Seq("view", "click"))
    f.collect()
    val fNodes = flatten(f.queryExecution.executedPlan)
    assert(!fNodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "funnel must not use a window")
    assert(!fNodes.exists(_.nodeName.toLowerCase.contains("join")),
      "funnel must not join")
    // weightedSample: global top-k must plan as TakeOrdered (partition
    // heaps), never a full Sort + single-partition exchange
    val w = Sampling.weightedSample(
      (1L to 500L).map(i => (i, 1L + i % 7)).toDF("doc_id", "w"), "doc_id", "w", 10)
    w.collect()
    val wNodes = flatten(w.queryExecution.executedPlan)
    assert(wNodes.exists(_.nodeName.contains("TakeOrdered")),
      s"weightedSample should plan as TakeOrderedAndProject:\n${w.queryExecution.executedPlan}")
    assert(!wNodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "weightedSample must not global-sort")
  }

  test("retentionCohorts builds the activation triangle from first-event days") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    val ev = Seq(
      // user 1: first day 0, active days 0, 1, 3 (two events on day 1)
      (1L, 0L), (1L, day + 5L), (1L, day + 6L), (1L, 3 * day),
      // user 2: first day 0, active day 0 only
      (2L, 100L),
      // user 3: first day 1, active days 1 and 3
      (3L, day), (3L, 3 * day + 7L)
    ).toDF("user_id", "ts")
    val got = EventOps.retentionCohorts(ev.repartition(3), "user_id", "ts")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }
}
