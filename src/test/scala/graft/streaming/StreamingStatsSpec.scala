package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.IncrementalStats

/** Streaming stats maintenance: JSONL shards land in a drop directory,
  * each is synopsized once on arrival, and the corpus model refreshes
  * from the synopsis table alone — matching a from-scratch synopsis of
  * all data, with crash-replayed batches collapsing to no-ops.
  */
class StreamingStatsSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private val schema = new StructType()
    .add("doc_id", LongType).add("score", DoubleType)

  private lazy val dirs = {
    val base = Files.createTempDirectory("sstats_").toString
    Seq("drop", "syn", "ckpt").foreach(d =>
      Files.createDirectories(Paths.get(s"$base/$d")))
    base
  }
  private lazy val cfg = StreamingStats.Config(
    anchors = Map("score" -> (0.0, 100.0), "doc_id" -> (0.0, 1000.0)),
    synopsisDir = s"$dirs/syn")

  private def shard(name: String, rows: (Long, Double)*): Unit =
    Files.writeString(Paths.get(s"$dirs/drop/$name"),
      rows.map { case (id, v) => s"""{"doc_id": $id, "score": $v}""" }
        .mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  private def runAvailable(): Unit = {
    val q = StreamingStats.start(spark, s"$dirs/drop", schema, s"$dirs/ckpt", cfg,
      availableNow = true)
    q.awaitTermination()
  }

  test("model from streamed synopses equals a from-scratch synopsis of all data") {
    shard("s1.jsonl", (1L, 10.5), (2L, 20.25), (3L, 30.0))
    runAvailable()
    shard("s2.jsonl", (4L, 150.0), (5L, 55.75)) // 150 exceeds the score anchor range
    runAvailable() // restart from the same checkpoint: only s2 is new
    val m = StreamingStats.currentModel(spark, cfg)
    assert(m("score").n == 5 && m("doc_id").n == 5)

    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1L, 10.5), (2L, 20.25), (3L, 30.0),
        (4L, 150.0), (5L, 55.75))))
      .toDF("doc_id", "score")
    val ref = IncrementalStats.finalize(IncrementalStats.merge(
      IncrementalStats.synopsize(all, cfg.anchors)))
    for (k <- Seq("doc_id", "score")) {
      assert(m(k).min == ref(k).min && m(k).max == ref(k).max, k)
      assert(math.abs(m(k).mean - ref(k).mean) < 1e-12, k)
      assert(math.abs(m(k).varSamp - ref(k).varSamp) < 1e-9, s"$k var")
      assert(m(k).hist == ref(k).hist, s"$k hist")
    }
  }

  test("a crash-replayed batch is a merge-side no-op") {
    val before = StreamingStats.currentModel(spark, cfg)
    // simulate the replay: re-run an already-committed batch id with the
    // same content — synopsize is deterministic, so the duplicate rows
    // collapse at refresh time
    val replay = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq((4L, 150.0), (5L, 55.75))))
      .toDF("doc_id", "score")
    StreamingStats.processBatch(replay, batchId = 1L, cfg)
    val after = StreamingStats.currentModel(spark, cfg)
    assert(after("score").n == before("score").n)
    assert(after("score").mean == before("score").mean)
    assert(after("doc_id").hist == before("doc_id").hist)
  }
}
