package graft.lab

import org.apache.spark.sql.functions._

import graft.model.IncrementalStats
import graft.ops.PortableHash

/** Scale rehearsal for the incremental-stats path: the 100 TB claim is
  * (a) synopsize cost grows LINEARLY with shard data (one pruned scan,
  * map-side-combined aggregation) while (b) a model refresh over the
  * synopsis table costs the same regardless of how much DATA the
  * synopses summarize — it only sees kilobyte rows, one per
  * (shard, measure). Grow a synthetic 3-measure table 1×/3×/10×,
  * time whole-table synopsize at each size, then time merge+finalize
  * over a 64-shard synopsis table at each size.
  *
  * Usage: `sbt 'runMain graft.lab.SynopsisRehearsal [baseN]'`
  */
object SynopsisRehearsal {

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = graft.Session.local()

    val anchors = Map(
      "a" -> (0.0, 1.0), "b" -> (0.0, 1000.0), "c" -> (-500.0, 1000.0))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // untimed warmup: JIT + codegen for the whole operator path, so the
    // smallest timed scale doesn't carry one-time costs (same protocol
    // as Bench's warm run)
    {
      val wdir = java.nio.file.Files.createTempDirectory("synrehw").toString
      spark.range(10000).toDF("id")
        .withColumn("a", (col("id") % 7).cast("double") / 7.0)
        .withColumn("b", (col("id") % 11).cast("double"))
        .withColumn("c", (col("id") % 13).cast("double"))
        .withColumn("shard", pmod(col("id"), lit(4)))
        .write.mode("overwrite").parquet(s"$wdir/t.parquet")
      val w = spark.read.parquet(s"$wdir/t.parquet")
      IncrementalStats.finalize(IncrementalStats.merge(
        IncrementalStats.synopsizeGrouped(w, col("shard"), anchors).drop("shard")))
      IncrementalStats.synopsize(w, anchors)
    }

    val rows = Seq(1L, 3L, 10L).map { s =>
      val n = baseN * s
      // deterministic synthetic measures, generated distributed and
      // materialized so the timings measure the operator, not codegen
      // of the generator
      val dir = java.nio.file.Files.createTempDirectory(s"synreh$n").toString
      spark.range(n).toDF("id")
        .withColumn("a", (PortableHash.hash60(col("id").cast("string")) % 1000000L)
          .cast("double") / 1e6)
        .withColumn("b", (PortableHash.hash60(concat(lit("b"), col("id").cast("string")))
          % 1000000L).cast("double") / 1e3)
        .withColumn("c", (PortableHash.hash60(concat(lit("c"), col("id").cast("string")))
          % 1000000L).cast("double") / 1e3 - 500.0)
        .withColumn("shard", pmod(col("id"), lit(64)))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t = spark.read.parquet(s"$dir/t.parquet")

      val (_, synSec) = timed(IncrementalStats.synopsize(t, anchors))
      // 64 shards summarized in one grouped pass, persisted as the
      // synopsis table a real deployment would maintain
      val (synTable, groupSec) = timed {
        val g = IncrementalStats.synopsizeGrouped(t, col("shard"), anchors)
        g.write.mode("overwrite").parquet(s"$dir/syn.parquet")
        spark.read.parquet(s"$dir/syn.parquet")
      }
      val (_, refreshSec) = timed {
        IncrementalStats.finalize(IncrementalStats.merge(synTable.drop("shard")))
      }
      (n, synSec, groupSec, refreshSec)
    }

    println("| n | synopsize_sec | grouped_64_shards_sec | model_refresh_sec |")
    println("|---|---|---|---|")
    rows.foreach { case (n, a, b, c) =>
      println(f"| $n | $a%.2f | $b%.2f | $c%.2f |")
    }
    val (n1, s1, g1, r1) = rows.head
    val (n10, s10, g10, r10) = rows.last
    println(f"growth n=×${n10.toDouble / n1}%.1f: synopsize=×${s10 / s1}%.1f " +
      f"grouped=×${g10 / g1}%.1f refresh=×${r10 / r1}%.1f " +
      "(refresh should be ~×1: it reads synopsis rows, not data)")
    spark.stop()
  }
}
