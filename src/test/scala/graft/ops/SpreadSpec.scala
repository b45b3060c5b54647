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
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

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

  test("the metadata estimate equals Spark's own split count on every sf0.001 table") {
    tables.foreach { t =>
      val df = graft.Tables.load(spark, "/root/testdata/sf0.001", t)
      assert(GraftBridge.estimatedScanSplits(df) == Some(df.rdd.getNumPartitions.toLong), t)
    }
  }

  test("the estimate equals Spark's split count at parallelism 2, with and without spark.sql.files.maxPartitionNum") {
    val leaf = "spark.sql.leafNodeDefaultParallelism" -> "2"
    val cap = "spark.sql.files.maxPartitionNum" -> "3"
    // 64 KiB splits and open cost cut the larger files into many pieces,
    // so the cap has pieces to pack
    val small = Seq("spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "65536")
    val most = Seq(Seq(leaf), Seq(leaf, cap), leaf +: small, leaf +: cap +: small).map { conf =>
      val s = graft.LocalSpark.session(conf: _*)
      conf -> (for (sf <- Seq("sf0.001", "sf0.01"); t <- tables) yield {
        val df = graft.Tables.load(s, s"/root/testdata/$sf", t)
        val splits = df.rdd.getNumPartitions.toLong
        assert(GraftBridge.estimatedScanSplits(df) == Some(splits), s"$sf/$t under $conf")
        splits
      }).max
    }.toMap
    // the cap binds: Spark re-packs the small splits into fewer, larger
    // partitions (about the cap; its greedy packing may pass it by one)
    assert(most(leaf +: small) > 3L && most(leaf +: cap +: small) < most(leaf +: small), most)
  }
}
