package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bin-bucketed range join: results must equal the naive cartesian
  * filter exactly (the q86 oracle recomputes the same BETWEEN in
  * DuckDB), and the plan must be an equi-join — never a nested loop.
  */
class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def naive(facts: org.apache.spark.sql.DataFrame,
                    ranges: org.apache.spark.sql.DataFrame) =
    facts.crossJoin(ranges)
      .where(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("fid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("matches the cartesian filter on overlapping ranges, all bin widths") {
    import spark.implicits._
    // values straddle bin boundaries and negatives; ranges overlap, touch
    // exactly at endpoints, and include a point interval (lo == hi)
    val facts = Seq((1L, -3.0), (2L, 0.0), (3L, 2.0), (4L, 2.5), (5L, 4.0),
      (6L, 7.99), (7L, 8.0), (8L, 100.0)).toDF("fid", "v")
    val ranges = Seq((10L, -4.0, 0.0), (11L, 0.0, 3.0), (12L, 2.0, 2.0),
      (13L, 2.5, 8.0), (14L, 50.0, 49.0)).toDF("rid", "lo", "hi")
    val want = naive(facts, ranges).filterNot(_._2 == 14L) // empty interval drops
    for (w <- Seq(0.5, 1.0, 2.0, 7.0, 100.0)) {
      val got = RangeJoin.rangeJoin(facts, "v", ranges, "lo", "hi", w)
        .select("fid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"binWidth=$w")
    }
  }

  test("null values and null bounds never match; empty ranges yield empty output") {
    import spark.implicits._
    val facts = Seq((1L, Some(1.0)), (2L, None)).toDF("fid", "v")
    val ranges = Seq((10L, Some(0.0), Some(2.0)), (11L, None, Some(5.0)),
      (12L, Some(0.0), None)).toDF("rid", "lo", "hi")
    val got = RangeJoin.rangeJoin(facts, "v", ranges, "lo", "hi", 1.0)
      .select("fid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L)))
    val none = RangeJoin.rangeJoin(facts, "v", ranges.where(lit(false)), "lo", "hi", 1.0)
    assert(none.count() == 0L)
  }

  test("plans as an equi-join on the bin, not a nested loop or cartesian") {
    import spark.implicits._
    val facts = (1L to 200L).map(i => (i, i / 3.0)).toDF("fid", "v")
    val ranges = (1L to 20L).map(i => (i, i * 2.0, i * 2.0 + 5.0)).toDF("rid", "lo", "hi")
    val plan = RangeJoin.rangeJoin(facts, "v", ranges, "lo", "hi", 4.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("keyedRangeJoin only matches ranges of the same key") {
    import spark.implicits._
    val facts = Seq((1L, "u1", 5.0), (2L, "u2", 5.0), (3L, "u1", 50.0))
      .toDF("fid", "user", "v")
    val ranges = Seq((10L, "u1", 0.0, 10.0), (11L, "u2", 4.0, 6.0),
      (12L, "u3", 0.0, 100.0)).toDF("rid", "user", "lo", "hi")
    val got = RangeJoin.keyedRangeJoin(facts, "v", ranges, "lo", "hi", 3.0, Seq("user"))
      .select("fid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 10L), (2L, 11L))) // u3's catch-all range invisible
    assertThrows[IllegalArgumentException] {
      RangeJoin.keyedRangeJoin(facts, "v", ranges, "lo", "hi", 3.0, Seq("nope"))
    }
  }

  test("intervalOverlapJoin matches the cartesian overlap filter, pairs unique") {
    import spark.implicits._
    val left = Seq((1L, 0.0, 5.0), (2L, 4.9, 10.0), (3L, -7.0, -2.0),
      (4L, 20.0, 20.0), (5L, 3.0, 2.0)).toDF("lid", "lo", "hi")
    val right = Seq((10L, 5.0, 6.0), (11L, -3.0, 0.0), (12L, 19.5, 25.0),
      (13L, 50.0, 60.0), (14L, 0.5, 0.4)).toDF("rid", "lo", "hi")
    val want = left.as("l").crossJoin(right.as("r"))
      .where(col("l.lo") <= col("r.hi") && col("r.lo") <= col("l.hi") &&
        col("l.lo") <= col("l.hi") && col("r.lo") <= col("r.hi"))
      .select(col("lid"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(want.nonEmpty)
    for (w <- Seq(0.7, 2.0, 8.0, 100.0)) {
      val got = RangeJoin.intervalOverlapJoin(left, "lo", "hi", right, "lo", "hi", w)
        .select(col("lid"), col("r_rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"binWidth=$w")
    }
  }

  test("each qualifying pair appears exactly once (no cross-bin duplicates)") {
    import spark.implicits._
    val facts = Seq((1L, 5.0)).toDF("fid", "v")
    // range spans many bins; the single fact must still match once
    val ranges = Seq((10L, 0.0, 100.0)).toDF("rid", "lo", "hi")
    val got = RangeJoin.rangeJoin(facts, "v", ranges, "lo", "hi", 0.25)
    assert(got.count() == 1L)
  }

  test("a range spanning more than maxBinsPerRange bins fails loudly") {
    import spark.implicits._
    val facts = Seq((1L, 5.0)).toDF("fid", "v")
    val ranges = Seq((10L, 0.0, 1e7)).toDF("rid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.keyedRangeJoin(facts, "v", ranges, "lo", "hi", 1.0, Nil,
        maxBinsPerRange = 1000L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("raise binWidth")), e.toString)
  }
}
