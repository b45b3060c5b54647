package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup
import graft.sources.JsonlStore

/** The composed ingestion story: JSONL shards land in a drop directory,
  * malformed lines quarantine, docs dedup against BOTH the persisted LSH
  * index and their own batch, survivors fold into the index and the
  * curated output — and a restart (same checkpoint) neither reprocesses
  * committed shards nor double-appends a replayed batch.
  */
class IngestDedupSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  // long enough for 3-word shingles to give the 16-hash signature teeth;
  // distinct sentences share no shingles, so no accidental LSH collision
  private val T1 = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val T2 = "a completely different document about spark bucketed joins and shuffle free probes at scale"
  private val TA = "large language models train on carefully deduplicated corpora with contamination checks applied"
  private val TB = "streaming ingestion folds accepted documents into a persisted index without rewriting the corpus"
  private val TC = "evenly spaced frame sampling keeps payload bytes partition local across one hundred terabytes"

  private lazy val dirs = {
    val base = Files.createTempDirectory("ingest_").toString
    Seq("drop", "accepted", "quarantine", "ckpt").foreach(d =>
      Files.createDirectories(Paths.get(s"$base/$d")))
    base
  }
  private lazy val cfg = IngestDedup.Config("doc_id", "text", k = 16, shingleN = 3,
    bands = 4, indexTable = "ingest_idx", acceptedDir = s"$dirs/accepted",
    quarantineDir = s"$dirs/quarantine")

  private def jsonl(name: String, lines: String*): Unit =
    Files.writeString(Paths.get(s"$dirs/drop/$name"), lines.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  private def doc(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""

  private def runAvailable(): Unit = {
    val q = IngestDedup.start(spark, s"$dirs/drop", schema, s"$dirs/ckpt", cfg,
      availableNow = true)
    q.awaitTermination()
  }

  private def acceptedIds: Set[Long] =
    spark.read.parquet(cfg.acceptedDir).select("doc_id").collect().map(_.getLong(0)).toSet

  private def indexIds: Set[Long] = {
    // the stream's micro-batch session clones append and refresh THEIR
    // relation cache; this outer session must refresh its own before
    // reading (standard Spark cross-session semantics)
    spark.catalog.refreshTable(cfg.indexTable)
    spark.table(cfg.indexTable).select("doc_id").distinct().collect().map(_.getLong(0)).toSet
  }

  test("shards dedup against the index and themselves; corrupt lines quarantine") {
    import spark.implicits._
    // seed index: docs 1 and 2 are the pre-existing corpus
    Dedup.buildLshIndex(Seq((1L, T1), (2L, T2)).toDF("doc_id", "text"),
      "doc_id", "text", k = 16, shingleN = 3, bands = 4,
      table = "ingest_idx", path = s"$dirs/idx", numBuckets = 4)

    jsonl("shard1.jsonl",
      doc(10, T1), // duplicate of indexed doc 1 -> rejected
      doc(11, TA), // unique -> accepted
      doc(12, TB), // unique -> accepted
      doc(13, TA), // batch-internal duplicate of 11 (larger id) -> rejected
      "this is not json at all") // -> quarantine
    runAvailable()

    assert(acceptedIds == Set(11L, 12L), s"got $acceptedIds")
    assert(indexIds == Set(1L, 2L, 11L, 12L))
    val quarantined = spark.read.text(cfg.quarantineDir).as[String].collect()
    assert(quarantined.toSeq == Seq("this is not json at all"))
  }

  test("a later shard dedups against docs accepted from earlier shards") {
    jsonl("shard2.jsonl",
      doc(20, TB), // duplicate of doc 12, which shard1 folded in -> rejected
      doc(21, TC)) // unique -> accepted
    runAvailable()
    assert(acceptedIds == Set(11L, 12L, 21L))
    assert(indexIds == Set(1L, 2L, 11L, 12L, 21L))
  }

  test("restart on the same checkpoint does not reprocess or double-append") {
    val before = (acceptedIds, indexIds,
      spark.table(cfg.indexTable).count(),
      spark.read.parquet(cfg.acceptedDir).count())
    runAvailable() // no new shards: committed ones must not replay
    assert((acceptedIds, indexIds, spark.table(cfg.indexTable).count(),
      spark.read.parquet(cfg.acceptedDir).count()) == before)
  }

  test("a replayed micro-batch is a no-op (crash between index append and commit)") {
    // simulate Spark re-delivering the same batch: call processBatch
    // twice on identical input; the id-level anti-join self-heals
    jsonl("shard3.jsonl", doc(30, T1 + " with a small novel suffix making it unique"))
    val batch = JsonlStore.read(spark, s"$dirs/drop/shard3.jsonl", schema)
    val first = IngestDedup.processBatch(spark, batch, cfg)
    val rowsAfterFirst = spark.table(cfg.indexTable).count()
    val second = IngestDedup.processBatch(spark, batch, cfg)
    assert(first == 1L && second == 0L)
    assert(spark.table(cfg.indexTable).count() == rowsAfterFirst)
    assert(acceptedIds.contains(30L) &&
      spark.read.parquet(cfg.acceptedDir).where(col("doc_id") === 30L).count() == 1L)
  }
}
