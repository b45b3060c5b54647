package graft.ops

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TopFraction must return exactly the rows a global
  * `ROW_NUMBER() OVER (ORDER BY score DESC, tie)` cut would — without
  * ever building the unpartitioned window it replaces.
  */
class TopFractionSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def naive(df: org.apache.spark.sql.DataFrame, frac: Double) = {
    val n = df.count()
    val k = math.floor(n * frac).toLong
    val w = Window.orderBy(col("score").desc, col("id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("matches the global-window cut on random scores (incl. heavy ties)") {
    import spark.implicits._
    val rng = new Random(11)
    // duplicate scores on purpose: ties must resolve identically by id
    val df = (1L to 1000L).map(i => (i, (rng.nextInt(40) + rng.nextDouble() * 0.5))).toDF("id", "score")
    for (frac <- Seq(0.2, 0.5, 0.001))
      assert(ids(TopFraction.topFraction(df, "score", "id", frac, buckets = 16))
        == ids(naive(df, frac)), s"frac=$frac")
  }

  test("all-equal scores fall back to tiebreaker order") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, 7.5)).toDF("id", "score")
    assert(ids(TopFraction.topFraction(df, "score", "id", 0.3)) == (1L to 30L))
  }

  test("k == 0 returns empty") {
    import spark.implicits._
    val df = (1L to 4L).map(i => (i, i.toDouble)).toDF("id", "score")
    assert(TopFraction.topFraction(df, "score", "id", 0.1).count() == 0)
  }
}
