package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** Spread decides on the frame it is handed, not on the scan under it:
  * the metadata split estimate applies only to one file scan under
  * projections and filters, and every other shape takes the exact probe.
  */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  test("coalesce(1) over a multi-split parquet input is fanned out to defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft_spread_").toFile
    try {
      val path = s"$dir/multi"
      // one file per partition: 2·par small files, each its own open-cost
      // split, so the scan alone is estimated at par or more splits
      spark.range(0, 4000, 1, 2 * par).write.parquet(path)
      val scan = spark.read.parquet(path).select("id")
      assert(GraftBridge.estimatedScanSplits(scan).exists(_ >= par),
        s"fixture scan is not multi-split: ${GraftBridge.estimatedScanSplits(scan)}")
      val narrowed = scan.coalesce(1)
      assert(GraftBridge.estimatedScanSplits(narrowed).isEmpty,
        "a coalesce above the scan must not take the scan's split estimate")
      assert(GraftBridge.estimatedScanSplits(scan.groupBy("id").count()).isEmpty)
      assert(GraftBridge.estimatedScanSplits(scan.union(scan)).isEmpty)
      val spread = Spread(narrowed)
      assert(spread.rdd.getNumPartitions == par)
      assert(spread.count() == 4000L)
    } finally deleteRec(dir)
  }

  test("a filtered, projected single-file scan still takes the metadata path") {
    val par = spark.sparkContext.defaultParallelism
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val shaped = docs.where(docs("doc_id") % 2 === 0).select("doc_id", "text")
    val est = GraftBridge.estimatedScanSplits(shaped)
    assert(est.exists(_ < par), s"single-file scan estimated at $est splits")
    assert(Spread(shaped).rdd.getNumPartitions == par)
  }

  test("a bare parquet read takes the metadata path") {
    // Tables.load is a bare spark.read.parquet: its parsed plan is an
    // unresolved data-source node, its analyzed plan the file relation
    val par = spark.sparkContext.defaultParallelism
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val est = GraftBridge.estimatedScanSplits(docs)
    assert(est.exists(_ < par), s"bare single-file read estimated at $est splits")
    assert(Spread(docs).rdd.getNumPartitions == par)
  }
}
