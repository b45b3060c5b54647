package graft.lab

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.RangeJoin

/** Scale rehearsal for the bin-bucketed range join (q86/q87 path):
  * does the binned equi-join grow with the MATCH count while the plan
  * Spark would pick for the raw theta join (broadcast nested loop)
  * grows with |facts| × |ranges|?
  *
  * Deterministic synthetic workload: fact values uniform over a fixed
  * domain via a Knuth-hash of the id; range starts uniform the same
  * way, widths cycling 1..50 (mean ≈ 25, the binWidth). Match density
  * per fact = |ranges| · meanWidth / domain, held constant across
  * scales so output growth is linear by construction — any
  * superlinear wall-time is the operator's own.
  *
  * Usage: `sbt 'runMain graft.lab.RangeJoinRehearsal [baseN] [ranges]'`
  */
object RangeJoinRehearsal {

  private val Domain = 100000.0

  def facts(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("fid"),
      ((col("id") * 2654435761L) % 1000000L).cast("double").divide(1000000.0 / Domain).as("v"))

  def ranges(spark: SparkSession, m: Long): DataFrame =
    spark.range(m).select(col("id").as("rid"),
      ((col("id") * 40503L) % 1000000L).cast("double").divide(1000000.0 / Domain).as("lo"),
      (lit(1.0) + (col("id") % 50L).cast("double")).as("w"))
      .select(col("rid"), col("lo"), (col("lo") + col("w")).as("hi"))

  def main(args: Array[String]): Unit = {
    val baseN = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val m = args.lift(1).map(_.toLong).getOrElse(10000L)
    val spark = graft.Session.local(16)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // the plan Spark picks for the raw theta join, at base scale only
    // (it would not finish at 10x): broadcast nested loop — every fact
    // against every range
    val nf = facts(spark, baseN / 5).persist(); nf.count()
    val nr = ranges(spark, m / 5).persist(); nr.count()
    val naive = nf.join(nr, col("v") >= col("lo") && col("v") <= col("hi"))
    val naivePlan = naive.queryExecution.executedPlan.toString
    require(naivePlan.contains("NestedLoop") || naivePlan.contains("Cartesian"),
      s"expected Spark's native plan to be a nested loop, got:\n$naivePlan")
    val (naivePairs, naiveSec) = time(naive.count())
    val (binnedPairsSmall, binnedSecSmall) =
      time(RangeJoin.rangeJoin(nf, "v", nr, "lo", "hi", 25.0).count())
    require(naivePairs == binnedPairsSmall,
      s"binned join disagrees with nested loop: $binnedPairsSmall vs $naivePairs")
    println(f"[rehearsal] base/5: n=${baseN / 5} m=${m / 5} pairs=$naivePairs " +
      f"nested_loop=$naiveSec%.2fs binned=$binnedSecSmall%.2fs")
    nf.unpersist(); nr.unpersist()

    for (mult <- Seq(1L, 3L, 10L)) {
      val n = baseN * mult
      val f = facts(spark, n).persist(); f.count()
      val r = ranges(spark, m).persist(); r.count()
      val (pairs, sec) = time(RangeJoin.rangeJoin(f, "v", r, "lo", "hi", 25.0).count())
      println(f"[rehearsal] binned: n=$n m=$m pairs=$pairs sec=$sec%.2f " +
        f"pairs_per_fact=${pairs.toDouble / n}%.2f")
      f.unpersist(); r.unpersist()
    }
    spark.stop()
  }
}
