package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.lab.ScaleRehearsal
import graft.sources.BucketedStore

/** Incremental ingestion dedup: a new batch probes the persisted LSH
  * index. Contracts: (a) candidates match what a full recompute would
  * find for the batch, (b) the INDEX side of the probe join has no
  * shuffle — the corpus never moves, only the batch does, (c) accepted
  * batches fold into the index so later batches dedup against them,
  * (d) probing with mismatched signature parameters fails fast instead
  * of silently returning nothing.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val warehouse = java.nio.file.Files.createTempDirectory("incwh").toString
  // force the shuffle-join path so the index-side no-shuffle claim is
  // actually exercised (broadcast would hide it — and at corpus scale
  // the index side could never broadcast anyway)
  private lazy val spark =
    graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def buildIndex(table: String): Unit = {
    val corpus = ScaleRehearsal.syntheticDocs(spark, 300)
    Dedup.buildLshIndex(corpus, "doc_id", "text", k = 8, shingleN = 3, bands = 4,
      table = table, path = s"$warehouse/$table", numBuckets = 8)
  }

  test("new batch finds its corpus duplicates through the bucketed index, shuffle-free on the index side") {
    import spark.implicits._
    buildIndex("lsh_idx")
    val corpus = ScaleRehearsal.syntheticDocs(spark, 300)

    // new batch: three exact copies of corpus docs under new ids + one novel doc
    val copied = corpus.where($"doc_id".isin(0L, 50L, 100L))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val newDocs = (copied.map { case (src, text) => (1000L + src, text) } :+
      (2000L, "entirely novel vocabulary that matches nothing in the corpus at all"))
      .toSeq.toDF("doc_id", "text")

    val cands = Dedup.incrementalLshCandidates(newDocs, "doc_id", "text",
      k = 8, shingleN = 3, bands = 4, indexTable = "lsh_idx")
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // every exact copy must hit its source doc; the novel doc must not appear
    for (src <- Seq(0L, 50L, 100L))
      assert(got.contains((1000L + src, src)), s"copy of $src not found in $got")
    assert(!got.exists(p => p._1 == 2000L || p._2 == 2000L), s"novel doc matched: $got")

    // plan proof: the join child holding the index scan contains no
    // shuffle (the plan now also holds the batch-internal self-join —
    // pick the join whose subtree actually scans the index table)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      BucketedStore.planNodes(p).exists {
        case s: FileSourceScanExec => s.toString.contains("lsh_idx")
        case _ => false
      }
    val all = BucketedStore.planNodes(cands.queryExecution.executedPlan)
    val join = all.collect {
      case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: ShuffledHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
    }.find(j => j.children.exists(scansIndex))
      .getOrElse(fail(s"no shuffle join over the index in plan:\n${cands.queryExecution.executedPlan}"))
    val idxSide = join.children.find(scansIndex)
      .getOrElse(fail("no join side scans the index table"))
    assert(!BucketedStore.subtreeHasShuffle(idxSide),
      s"index side shuffled:\n${join.children.mkString("\n---\n")}")
  }

  test("accepted batches fold into the index; batch-vs-batch duplicates are caught") {
    import spark.implicits._
    buildIndex("lsh_idx2")
    val batch1 = Seq((5000L, "a brand new document that only exists in batch one today"))
      .toDF("doc_id", "text")
    val none = Dedup.incrementalLshCandidates(batch1, "doc_id", "text",
      k = 8, shingleN = 3, bands = 4, indexTable = "lsh_idx2")
    assert(none.where(col("id_new") === 5000L || col("id_idx") === 5000L).count() == 0)
    Dedup.appendToLshIndex(batch1, "doc_id", "text", 8, 3, 4, "lsh_idx2")

    val batch2 = Seq((6000L, "a brand new document that only exists in batch one today"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalLshCandidates(batch2, "doc_id", "text",
        k = 8, shingleN = 3, bands = 4, indexTable = "lsh_idx2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((6000L, 5000L)), s"batch-vs-batch duplicate missed: $got")
  }

  test("duplicates arriving INSIDE one batch are caught, oriented keep-min") {
    import spark.implicits._
    buildIndex("lsh_idx4")
    // two copies of the same novel text in the SAME batch: neither is in
    // the index, so the index probe alone would ingest both silently
    val batch = Seq(
      (7000L, "the same fresh sentence appears twice inside this single batch"),
      (7001L, "the same fresh sentence appears twice inside this single batch"),
      (7002L, "an unrelated fresh document with completely different words entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalLshCandidates(batch, "doc_id", "text",
        k = 8, shingleN = 3, bands = 4, indexTable = "lsh_idx4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((7001L, 7000L)),
      s"batch-internal duplicate missed (want id_new=7001 vs id_idx=7000): $got")
    assert(!got.exists(p => p._1 == 7002L || p._2 == 7002L),
      s"unrelated batch doc matched: $got")
  }

  test("probing with mismatched signature parameters fails fast") {
    import spark.implicits._
    buildIndex("lsh_idx3")
    val batch = Seq((1L, "whatever text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalLshCandidates(batch, "doc_id", "text",
        k = 16, shingleN = 3, bands = 8, indexTable = "lsh_idx3")
    }
    assert(e.getMessage.contains("different parameters"))
  }

  test("probing a table not built by buildLshIndex (no properties) fails fast") {
    import spark.implicits._
    // a bucketed table with the right shape but none of the graft.lsh.*
    // properties — must NOT silently pass as "matching"
    val fake = Seq((1L, 0, 42L, 7L)).toDF("doc_id", "band", "bucket", "bkey")
    BucketedStore.writeBucketed(fake, "not_an_index", "bkey", 4, s"$warehouse/not_an_index")
    val batch = Seq((1L, "whatever text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalLshCandidates(batch, "doc_id", "text",
        k = 8, shingleN = 3, bands = 4, indexTable = "not_an_index")
    }
    assert(e.getMessage.contains("<missing>"))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
