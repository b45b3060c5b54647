package graft.lab

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Sampling

/** Scale rehearsal for the q91/q93 curation paths: the claims under
  * test are the two Scaladoc'd skew/scale designs —
  *
  *  1. [[Sampling.capPerGroup]]'s salted two-phase top-k bounds the
  *     hot-group task at salts·k rows, where the naive single-window
  *     cap funnels the whole hot group through ONE task. Rehearsed on
  *     a corpus whose hottest "domain" owns half of every row — the
  *     shape a common-crawl host-cap actually sees.
  *  2. [[Sampling.trainingOrder]]'s range-exchange + offset plan scales
  *     out, where the textbook global-window `row_number` funnels the
  *     ENTIRE corpus through one task.
  *
  * Both comparisons assert result equality first (same kept rows, same
  * positions), then time at 1×/3×/10× — superlinear growth or a
  * hot-task stall is the operator's own fault by construction, because
  * the data is synthesized deterministically on the executors.
  *
  * Usage: `sbt 'runMain graft.lab.CurationRehearsal [baseN]'`
  */
object CurationRehearsal {

  /** n rows over 201 groups: group 0 ("hot") owns every even id — 50%
    * of the corpus — the rest spread uniformly. Deterministic, executor-
    * side, no driver materialization.
    */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      when(col("id") % 2 === 0, lit(0L))
        .otherwise((col("id") * 2654435761L) % 200L + 1L).cast("string").as("grp"))

  def main(args: Array[String]): Unit = {
    val baseN = args.lift(0).map(_.toLong).getOrElse(2000000L)
    val k = 100
    val spark = graft.Session.local(16)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // checksum that pins CONTENT, not just count: kept ids and ranks
    def capSum(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(col("id")), sum(col("rank_in_group").cast("long"))).head
      (r.getLong(0), r.getLong(1))
    }

    // equality gate at base scale: two-phase == naive single window
    {
      val c = corpus(spark, baseN / 10).persist(); c.count()
      val naive = c.withColumn("_rk",
          graft.ops.PortableHash.hash60(concat(lit("cap:"), col("grp"), lit(":"), col("id").cast("string"))))
        .withColumn("rank_in_group",
          row_number().over(Window.partitionBy(col("grp")).orderBy(col("_rk"), col("id"))))
        .where(col("rank_in_group") <= k).drop("_rk")
      val salted = Sampling.capPerGroup(c, "id", "grp", k, salts = 16)
      require(capSum(naive) == capSum(salted),
        "salted two-phase cap disagrees with the single-window cap")
      println(s"[rehearsal] equality: two-phase == naive window at n=${baseN / 10}")
      c.unpersist()
    }
    {
      val c = corpus(spark, baseN / 10).persist(); c.count()
      val ordered = Sampling.trainingOrder(c, "id", partitions = 16)
      val global = c.withColumn("_ok",
          graft.ops.PortableHash.hash60(concat(lit("order:"), col("id").cast("string"))))
        .withColumn("train_pos",
          row_number().over(Window.orderBy(col("_ok"), col("id"))).cast("long") - 1L)
      val a = ordered.agg(sum((col("id") * col("train_pos")) % 1000000007L)).head.getLong(0)
      val b = global.agg(sum((col("id") * col("train_pos")) % 1000000007L)).head.getLong(0)
      require(a == b, s"trainingOrder disagrees with the global window: $a vs $b")
      println(s"[rehearsal] equality: offset order == global window at n=${baseN / 10}")
      c.unpersist()
    }

    for (mult <- Seq(1L, 3L, 10L)) {
      val n = baseN * mult
      val c = corpus(spark, n).persist(); c.count()

      val (_, naiveSec) = time {
        c.withColumn("_rk",
            graft.ops.PortableHash.hash60(concat(lit("cap:"), col("grp"), lit(":"), col("id").cast("string"))))
          .withColumn("rank_in_group",
            row_number().over(Window.partitionBy(col("grp")).orderBy(col("_rk"), col("id"))))
          .where(col("rank_in_group") <= k).count()
      }
      val (kept, saltedSec) = time(
        Sampling.capPerGroup(c, "id", "grp", k, salts = 16).count())

      val (_, globalSec) = time {
        c.withColumn("_ok",
            graft.ops.PortableHash.hash60(concat(lit("order:"), col("id").cast("string"))))
          .select(col("id"),
            (row_number().over(Window.orderBy(col("_ok"), col("id"))).cast("long") - 1L).as("p"))
          .agg(sum((col("id") * col("p")) % 1000000007L)).head.getLong(0)
      }
      val (_, orderSec) = time {
        val o = Sampling.trainingOrder(c, "id", partitions = 16)
        o.agg(sum((col("id") * col("train_pos")) % 1000000007L)).head.getLong(0)
      }
      println(f"[rehearsal] n=$n kept=$kept | cap naive=$naiveSec%.2fs " +
        f"salted=$saltedSec%.2fs | order global_window=$globalSec%.2fs " +
        f"offsets=$orderSec%.2fs")
      spark.sharedState.cacheManager.clearCache() // trainingOrder persists internally
      c.unpersist()
    }
    spark.stop()
  }
}
