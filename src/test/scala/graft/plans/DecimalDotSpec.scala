package graft.plans

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native kernel must stay bit-identical to the composed decimal
  * fold it replaced — the DuckDB oracle reproduces the composed form.
  */
class DecimalDotSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("native DecimalDotProduct == composed aggregate(zip_with(cast)) fold") {
    import spark.implicits._
    val rng = new Random(7)
    val rows = (1 to 500).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val composed = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => (x.cast("double") * y.cast("double")).cast("decimal(20,12)")),
      lit(0).cast("decimal(30,12)"),
      (acc, x) => (acc + x).cast("decimal(30,12)"))
    val out = df.select(col("id"),
      graft.ops.Similarity.dotDecimal(col("a"), col("b")).as("native"),
      composed.as("composed")).collect()
    out.foreach { r =>
      assert(r.getDecimal(1) == r.getDecimal(2),
        s"id=${r.getLong(0)}: native=${r.getDecimal(1)} composed=${r.getDecimal(2)}")
    }
  }

  test("native DoubleDotProduct == composed aggregate(zip_with) double fold") {
    import spark.implicits._
    // the r16 prefilter kernel replaces the interpreted higher-order
    // form; its sum must follow the IDENTICAL left-to-right IEEE
    // sequence so prefilterPass screens exactly as before
    val rng = new Random(11)
    val rows = (1 to 500).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val composed = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    import org.apache.spark.sql.GraftBridge
    val native = GraftBridge.toColumn(DoubleDotProduct(
      GraftBridge.toExpression(col("a")), GraftBridge.toExpression(col("b"))))
    val out = df.select(col("id"), native.as("native"), composed.as("composed")).collect()
    out.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"id=${r.getLong(0)}: native=${r.getDouble(1)} composed=${r.getDouble(2)}")
    }
  }

  // outcome equality: same value, or the same exception class (the
  // reference path throws on NaN/Inf and on scaled values outside a
  // long — the fast path must reproduce that behavior, not mask it)
  private def sameOutcome(p: Double): Unit = {
    val slow = scala.util.Try(DecimalDotProduct.scaled12Reference(p))
    val fast = scala.util.Try(DecimalDotProduct.scaled12(p))
    (slow, fast) match {
      case (scala.util.Success(s), scala.util.Success(f)) =>
        assert(s == f, s"p=$p: fast $f vs reference $s")
      case (scala.util.Failure(s), scala.util.Failure(f)) =>
        assert(f.getClass == s.getClass, s"p=$p: $f vs $s")
      case _ => fail(s"p=$p: one path threw, the other did not: $slow vs $fast")
    }
  }

  test("scaled12 fast path == BigDecimal reference across magnitudes") {
    val rng = new Random(99)
    var checked = 0L
    // magnitude sweep: products of unit-ish embedding components live
    // around 2^-30..2^6, but the kernel must agree with the reference
    // everywhere — including where the reference overflows a long
    for (e <- -60 to 48; _ <- 1 to 2000) {
      sameOutcome((rng.nextDouble() * 2 - 1) * math.pow(2.0, e))
      checked += 1
    }
    assert(checked > 200000)
  }

  test("scaled12 matches the reference exactly AT rounding boundaries") {
    val rng = new Random(7)
    // adversarial: values whose true scaled fraction sits at or within
    // ulps of k + 0.5 — where the fast path must detect ambiguity and
    // fall back rather than guess
    (1 to 50000).foreach { _ =>
      val k = rng.nextLong() % 4000000000000L
      val base = (k + 0.5) / 1e12
      for (jitter <- Seq(0.0, Math.ulp(base), -Math.ulp(base),
        4 * Math.ulp(base), -4 * Math.ulp(base)))
        sameOutcome(base + jitter)
    }
    // specials: zeros, subnormals, the fast-window edge, beyond it,
    // long-overflow magnitudes, non-finite
    for (p <- Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      4.3e3, -4.3e3, 4.5e3, 1e10, -1e10, 2.3e-13, -2.3e-13, 5e-13, 1.5e-12,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      sameOutcome(p)
  }
}
