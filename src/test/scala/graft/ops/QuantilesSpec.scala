package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.rng.Seed

class QuantilesSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  /** quantile_cont reference on a driver-side array. */
  private def ref(sorted: Array[Double], p: Double): Double = {
    val h = p * (sorted.length - 1)
    val lo = math.floor(h).toInt
    val frac = h - lo
    val q = if (frac == 0.0) sorted(lo)
            else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
    BigDecimal(q).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("exactQuantiles matches the continuous-quantile reference, multi-round") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(20000)(math.floor(rnd.nextDouble() * 100000) / 100.0)
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    // smallCutoff far below n forces several refinement rounds
    val got = Quantiles.exactQuantiles(xs.toSeq.toDF("x").repartition(8), "x",
        probs, buckets = 16, smallCutoff = 64)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = xs.sorted
    probs.foreach { p => assert(got(p) === ref(sorted, p), s"p=$p") }
  }

  test("exactQuantiles agrees with Spark's built-in percentile aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed(11).long._1)
    val xs = Array.fill(5000)(rnd.nextInt(500) / 7.0)  // heavy ties
    val df = xs.toSeq.toDF("x")
    val got = Quantiles.exactQuantiles(df, "x", Seq(0.5, 0.95),
        buckets = 8, smallCutoff = 32)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val Array(m, p95) = df.agg(
      expr("percentile(x, 0.5)"), expr("percentile(x, 0.95)"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    assert(got(0.5) === BigDecimal(m).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(0.95) === BigDecimal(p95).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("exactQuantiles handles constant columns, nulls, and bad input") {
    import spark.implicits._
    val const = Seq.fill(100)(3.25).toDF("x")
    val gotC = Quantiles.exactQuantiles(const, "x", Seq(0.5), smallCutoff = 8)
      .head().getDouble(1)
    assert(gotC === 3.25)
    val withNulls = Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0), None)
      .toDF("x")
    val gotN = Quantiles.exactQuantiles(withNulls, "x", Seq(0.5)).head().getDouble(1)
    assert(gotN === 2.0)
    assert(intercept[IllegalArgumentException] {
      Quantiles.exactQuantiles(const, "x", Seq(1.5))
    }.getMessage.contains("probs"))
  }

  test("groupedExactQuantiles matches the per-group reference through multi-round refinement") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // heterogeneous groups: large continuous, tie-heavy, constant, tiny
    val rows =
      Array.fill(5000)(("big", math.floor(rnd.nextDouble() * 1e6) / 100.0)) ++
      Array.fill(3000)(("ties", (rnd.nextInt(7) * 10).toDouble)) ++
      Array.fill(500)(("const", 3.25)) ++
      Array((("tiny", 1.0)), (("tiny", 2.0)), (("tiny", 4.0)))
    val df = rows.toSeq.toDF("g", "v").repartition(8)
    // smallCutoff far below the big groups forces several grouped rounds
    val got = Quantiles.groupedExactQuantiles(df, "g", "v", 0.95,
        buckets = 8, smallCutoff = 32)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val sorted = grp.map(_._2).sorted
      assert(got(g) == ((grp.length.toLong, ref(sorted, 0.95))),
        s"group $g: ${got(g)} vs (${grp.length}, ${ref(sorted, 0.95)})")
    }
  }

  test("groupedExactQuantiles excludes null group keys instead of crashing") {
    import spark.implicits._
    val df = Seq((Some("a"), 1.0), (Some("a"), 2.0), (None, 5.0), (None, 6.0))
      .toDF("g", "v")
    val got = Quantiles.groupedExactQuantiles(df, "g", "v", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 2L, 1.5)))
  }

  test("groupedExactQuantiles agrees with the built-in per-group percentile") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(4000)((s"g${rnd.nextInt(5)}", rnd.nextInt(1000).toDouble))
      .toDF("g", "v")
    val got = Quantiles.groupedExactQuantiles(df, "g", "v", 0.5,
        buckets = 4, smallCutoff = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = df.groupBy("g")
      .agg(round(expr("percentile(v, 0.5)"), 4).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }
}
