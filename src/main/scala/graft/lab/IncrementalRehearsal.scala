package graft.lab

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Rehearsal for the incremental-ingestion claim: with the corpus's LSH
  * bands persisted as a bucketed index, probe cost tracks the BATCH
  * size, not the corpus. Builds one index over a synthetic corpus, then
  * probes with growing batches (half duplicates of corpus docs, half
  * novel) and records wall-time + candidate counts.
  *
  * Usage: `sbt 'runMain graft.lab.IncrementalRehearsal [corpusN]'`
  */
object IncrementalRehearsal {
  def main(args: Array[String]): Unit = {
    val corpusN = args.headOption.map(_.toLong).getOrElse(5000L)
    val warehouse = java.nio.file.Files.createTempDirectory("increh").toString
    val spark = graft.Session.local(extra = Map(
      "spark.sql.warehouse.dir" -> warehouse,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    val corpus = ScaleRehearsal.syntheticDocs(spark, corpusN)
    val t0 = System.nanoTime()
    Dedup.buildLshIndex(corpus, "doc_id", "text", k = 8, shingleN = 3, bands = 4,
      table = "inc_idx", path = s"$warehouse/inc_idx", numBuckets = graft.Session.cpus)
    val buildSec = (System.nanoTime() - t0) / 1e9

    println(s"| corpusN | batchN | probe_sec | cand_pairs |")
    println(s"|---|---|---|---|")
    for (batchN <- Seq(100L, 300L, 1000L)) {
      // half the batch duplicates corpus docs (every 2nd row), half is
      // novel text from beyond the corpus id range
      val batch = ScaleRehearsal.syntheticDocs(spark, corpusN + batchN)
        .where(col("doc_id") >= corpusN - batchN / 2 && col("doc_id") < corpusN + batchN / 2)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val t1 = System.nanoTime()
      val pairs = Dedup.incrementalLshCandidates(batch, "doc_id", "text",
        k = 8, shingleN = 3, bands = 4, indexTable = "inc_idx").count()
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"| $corpusN | $batchN | $sec%.2f | $pairs |")
    }
    println(f"index build: $buildSec%.2f s over $corpusN docs")
    spark.stop()
  }
}
