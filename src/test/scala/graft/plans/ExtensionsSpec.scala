package graft.plans

import org.apache.spark.sql.{ExtendedSession, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object ExtensionsSpec {
  /** A session built with [[GraftExtensions]] over the test root; it
    * never becomes the active or default session, so the injected rule
    * and functions stay out of every other suite. */
  lazy val session: SparkSession =
    ExtendedSession(graft.LocalSpark.root, new GraftExtensions)
}

class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = ExtensionsSpec.session

  /** range-backed frame: local Seq relations constant-fold away before
    * the optimizer output can be inspected. */
  private def rangeA(n: Int) = spark.range(1, n + 1).selectExpr("CAST(id AS DOUBLE) AS a")

  test("graft_histogram matches the conditional-sum histogram") {
    import spark.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    df.createOrReplaceTempView("hx")
    val got = spark.sql(
      "SELECT graft_histogram(x, 1.0, 1000.0, 10) AS h FROM hx")
      .head().getSeq[Long](0)
    // width = (1000+1-1)/10 = 100 → buckets [1,101),[101,201)...
    assert(got == Seq(100L, 100L, 100L, 100L, 100L, 100L, 100L, 100L, 100L, 100L))
    // Column API path
    val viaCol = df.agg(HistogramAgg.histogram($"x", 1.0, 1000.0, 10).as("h"))
      .head().getSeq[Long](0)
    assert(viaCol == got)
  }

  test("bloom functions work through the extensions injection path (SQL)") {
    import spark.implicits._
    // build a filter over half the keys via pure SQL — the injected
    // graft_bloom_agg/graft_bloom_contains, no BloomSketch.register call
    (1L to 1000L).toDF("k").createOrReplaceTempView("bk")
    val bf = spark.sql(
      "SELECT graft_bloom_agg(xxhash64(k), 500L, 8192L) AS bf FROM bk WHERE k % 2 = 0")
      .head().getAs[Array[Byte]](0)
    val hits = spark.sql("SELECT k FROM bk")
      .where(BloomSketch.mightContain(bf, $"k"))
      .count()
    // no false negatives: all 500 even keys pass; odd keys only as fpp
    assert(hits >= 500, s"false negatives: only $hits of 500 members passed")
    assert(hits <= 600, s"fpp blown: $hits of 1000 passed (expected ~500 + small fp)")
  }

  test("interval merge collapses redundant bounds in the optimized plan") {
    val filtered = rangeA(100).where("a > 1.0 AND a > 10.0 AND a < 90.0 AND a < 95.0")
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("1.0") || !optimized.contains("95.0"),
      s"redundant bounds survived:\n$optimized")
    assert(filtered.count() == 79) // 10 < a < 90 over integers 1..100
  }

  test("interval merge: >= and <= of same constant become equality") {
    val filtered = rangeA(100).where("a >= 42.0 AND a <= 42.0")
    assert(filtered.count() == 1)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("= 42.0") || optimized.toLowerCase.contains("equalto"))
  }

  test("contradictory equalities are left untouched (reference parity)") {
    assert(rangeA(10).where("a = 1.0 AND a = 2.0").count() == 0)
  }
}
