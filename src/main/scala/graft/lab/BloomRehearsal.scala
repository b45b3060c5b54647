package graft.lab

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.plans.BloomSketch

/** Rehearsal for the bloom-prefilter claim behind
  * `Sketches.bloomContamination`: how much of the corpus shingle stream
  * does the benchmark-side bloom stop from shuffling? The 100 TB case
  * rests on the survivor fraction approaching (true overlaps + fpp),
  * independent of corpus size.
  *
  * Runs against the real sf tables: eval side = doc_id % 7, corpus =
  * the rest; for each fpp, count corpus shingle occurrences pre-filter,
  * post-filter survivors, and the true overlap (exact semi-join) for
  * reference.
  *
  * Usage: `sbt 'runMain graft.lab.BloomRehearsal [sfDir]'`
  */
object BloomRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    BloomSketch.register(spark)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = docs
      .select(col("doc_id"), (col("doc_id") % 7 === 0).as("is_eval"),
        Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("is_eval"),
        array_distinct(Dedup.shinglesOf(col("toks"), 3)).as("shs"))
      .persist()
    val evalDistinct = base.where(col("is_eval"))
      .select(explode(col("shs")).as("sh")).distinct().persist()
    val nEval = evalDistinct.count()
    val corpusSh = base.where(!col("is_eval")).select(explode(col("shs")).as("sh"))
    val corpusTotal = corpusSh.count()
    val trueHits = corpusSh.join(evalDistinct, Seq("sh"), "left_semi").count()

    println(s"eval distinct shingles: $nEval; corpus shingle occurrences: $corpusTotal; true-overlap occurrences: $trueHits")
    // the design claim is about the NON-overlapping volume: the filter
    // must stop ~(1-fpp) of it, whatever the corpus's natural overlap
    println("| fpp | survivors | fp_passed | fp_frac | filter_KiB |")
    println("|---|---|---|---|---|")
    for (fpp <- Seq(0.10, 0.03, 0.01)) {
      val bits = BloomSketch.bloomBits(spark, nEval, fpp)
      val bf = evalDistinct
        .agg(BloomSketch.bloomAgg(col("sh"), BloomSketch.bloomItems(spark, nEval), bits).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      val survivors = corpusSh.where(BloomSketch.mightContain(bf, col("sh"))).count()
      val fpPassed = survivors - trueHits
      val fpFrac = fpPassed.toDouble / math.max(corpusTotal - trueHits, 1L)
      println(f"| $fpp | $survivors | $fpPassed | $fpFrac%.4f | ${bf.length / 1024.0}%.1f |")
    }
    spark.stop()
  }
}
