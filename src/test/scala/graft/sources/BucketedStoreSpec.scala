package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout sinks must actually delete the shuffle / the I/O, not just
  * write files: the bucketed join plan is asserted shuffle-free and the
  * partitioned scan is asserted directory-pruned.
  */
class BucketedStoreSpec extends AnyFunSuite {
  private lazy val warehouse = java.nio.file.Files.createTempDirectory("bswh").toString
  // force the shuffle-join path: a broadcast join would hide the
  // exchange this suite is about
  private lazy val spark =
    graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val sf = "/root/testdata/sf0.001"

  test("bucketed-by-key join runs with zero shuffle exchanges") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    BucketedStore.writeBucketed(orders, "orders_b", "o_custkey", 8, s"$warehouse/orders_b")
    BucketedStore.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "customer_b",
      "o_custkey", 8, s"$warehouse/customer_b")

    val joined = BucketedStore.colocatedJoin(spark, "orders_b", "customer_b", "o_custkey")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val n = joined.count()
    assert(n > 0)
    assert(BucketedStore.isShuffleFree(joined),
      s"expected no shuffle:\n${joined.queryExecution.executedPlan}")

    // sanity: the same join over the unbucketed sources DOES shuffle
    val plain = orders.join(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    plain.count()
    assert(!BucketedStore.isShuffleFree(plain))
  }

  test("compact merges a small-file explosion without a shuffle and preserves the data") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("bs_compact_in_").toString
    val out = java.nio.file.Files.createTempDirectory("bs_compact_out_").toString + "/c"
    // 64 tiny files — the per-batch-append accretion shape
    (1L to 2000L).toDF("v").repartition(64).write.mode("overwrite").parquet(in)
    def dataFiles(dir: String) =
      new java.io.File(dir).listFiles().count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(dataFiles(in) == 64)
    val totalBytes = BucketedStore.dataBytes(spark, in)
    assert(totalBytes > 0)
    // target sized so everything fits in ONE output file
    val written = BucketedStore.compact(spark, in, out, targetBytes = totalBytes + 1)
    assert(written == 1 && dataFiles(out) == 1)
    val back = spark.read.parquet(out).as[Long].collect().sorted
    assert(back.toSeq == (1L to 2000L))
    // the REAL rewrite plan (not a hand-rebuilt equivalent) must not shuffle
    val (plan, parts) = BucketedStore.compactPlan(spark, in, totalBytes + 1, shuffle = false)
    assert(parts == 1 && BucketedStore.isShuffleFree(plan))
    // a partitioned input is refused — flat compaction would destroy pruning
    val pdir = java.nio.file.Files.createTempDirectory("bs_compact_part_").toString + "/p"
    (1L to 100L).map(i => (i, i % 3)).toDF("v", "pc")
      .write.partitionBy("pc").mode("overwrite").parquet(pdir)
    val e = intercept[IllegalArgumentException] {
      BucketedStore.compact(spark, pdir, out + "_x", targetBytes = 1L << 20)
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("flat compact refuses a bucketed directory; compactBucketed preserves the layout") {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val head = docs.where(col("doc_id") < 400)
    val batch1 = docs.where(col("doc_id") >= 400 && col("doc_id") < 450)
    val batch2 = docs.where(col("doc_id") >= 450 && col("doc_id") < 500)
    val idxPath = s"$warehouse/lsh_cmp"
    Dedup.buildLshIndex(head, "doc_id", "text", k = 16, shingleN = 3, bands = 4,
      table = "lsh_cmp", path = idxPath, numBuckets = 4)
    Dedup.appendToLshIndex(batch1, "doc_id", "text", 16, 3, 4, "lsh_cmp")
    Dedup.appendToLshIndex(batch2, "doc_id", "text", 16, 3, 4, "lsh_cmp")

    // the flat path-level compactor must refuse this directory — a flat
    // rewrite would strip the bucket-file mapping out of the file names
    val e = intercept[IllegalArgumentException] {
      BucketedStore.compact(spark, idxPath, s"$warehouse/lsh_cmp_flat")
    }
    assert(e.getMessage.contains("bucketed"))

    def fileCount(dir: String) =
      new java.io.File(dir).listFiles().count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    // accretion is per-TASK per-bucket (not per-append per-bucket):
    // every writing task emits its own file for every bucket it holds,
    // so 1 build + 2 appends over 4-partition inputs left 48 files here
    val accreted = fileCount(idxPath)
    assert(accreted > 4, s"expected small-file accretion beyond numBuckets, got $accreted")

    // probe with exact copies of indexed docs under shifted ids: the
    // candidates are guaranteed non-empty, so AQE cannot collapse the
    // probe plan to an EmptyRelation (which would make the shuffle-free
    // assertion below vacuous)
    def probe() = Dedup.incrementalLshCandidates(
      docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")),
      "doc_id", "text", 16, 3, 4, "lsh_cmp")
    val before = probe().collect().map(_.toSeq).toSet
    assert(before.nonEmpty, "probe batch must collide with the index")

    // the write runs under the caller's conf, the local shuffle reader
    // at its default here, and writes none: unset stays unset (getAll
    // lists only set keys; getOption would report the default)
    val lsrKey = "spark.sql.adaptive.localShuffleReader.enabled"
    assert(spark.conf.getAll.get(lsrKey).isEmpty)
    val written = BucketedStore.compactBucketed(spark, "lsh_cmp")
    assert(written == 4, s"compaction should leave one file per bucket, got $written")
    assert(spark.conf.getAll.get(lsrKey).isEmpty,
      s"compaction leaked $lsrKey=${spark.conf.getAll.get(lsrKey)} into the caller")

    // same candidates, probe contract (graft.lsh.* properties) intact,
    // and the index side still reads its buckets in place — no shuffle
    val dfAfter = probe()
    val after = dfAfter.collect().map(_.toSeq).toSet
    assert(after == before,
      s"compaction changed probe results: ${(after -- before) ++ (before -- after)}")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      BucketedStore.planNodes(p).exists {
        case s: FileSourceScanExec => s.toString.contains("lsh_cmp")
        case _ => false
      }
    val join = BucketedStore.planNodes(dfAfter.queryExecution.executedPlan).collect {
      case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: ShuffledHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
    }.find(j => j.children.exists(scansIndex))
      .getOrElse(fail("no shuffle join over the compacted index"))
    val idxSide = join.children.find(scansIndex).get
    assert(!BucketedStore.subtreeHasShuffle(idxSide),
      s"compacted index side shuffled:\n$idxSide")

    // a second compaction swaps the location back — still one file per
    // bucket with the caller's local shuffle reader explicitly on, which
    // the caller keeps — and the probe still answers
    spark.conf.set(lsrKey, "true")
    try {
      assert(BucketedStore.compactBucketed(spark, "lsh_cmp") == 4)
      assert(spark.conf.getAll.get(lsrKey).contains("true"))
    } finally spark.conf.unset(lsrKey)
    assert(probe().collect().map(_.toSeq).toSet == before)
  }

  /** Fail unless the shuffle join in `df`'s finalized plan whose side
    * scans `table` reads that side's buckets in place.
    */
  private def assertIndexSideShuffleFree(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def scansIndex(p: SparkPlan): Boolean = BucketedStore.planNodes(p).exists {
      case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == table)
      case _ => false
    }
    val join = BucketedStore.planNodes(df.queryExecution.executedPlan).collect {
      case j: SortMergeJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
    }.find(_.children.exists(scansIndex))
      .getOrElse(fail(s"no shuffle join over $table in plan:\n${df.queryExecution.executedPlan}"))
    val idxSide = join.children.find(scansIndex).get
    assert(!BucketedStore.subtreeHasShuffle(idxSide), s"$table index side shuffled:\n$idxSide")
  }

  test("LSH and IVF indexes serve a batch appended after compaction, shuffle-free") {
    import graft.ops.{Dedup, Similarity}
    // LSH: build, compact, append, then probe with copies of the batch
    val docs = graft.lab.ScaleRehearsal.syntheticDocs(spark, 300)
    Dedup.buildLshIndex(docs.where(col("doc_id") < 250), "doc_id", "text", k = 16, shingleN = 3,
      bands = 4, table = "lsh_grow", path = s"$warehouse/lsh_grow", numBuckets = 4)
    assert(BucketedStore.compactBucketed(spark, "lsh_grow") == 4)
    val docBatch = docs.where(col("doc_id") >= 250)
    Dedup.appendToLshIndex(docBatch, "doc_id", "text", 16, 3, 4, "lsh_grow")
    val lshProbe = Dedup.incrementalLshCandidates(
      docBatch.select((col("doc_id") + 10000L).as("doc_id"), col("text")),
      "doc_id", "text", 16, 3, 4, "lsh_grow")
    val lshPairs = lshProbe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (d <- 250L until 300L)
      assert(lshPairs.contains((d + 10000L, d)), s"appended doc $d not found: $lshPairs")
    assertIndexSideShuffleFree(lshProbe, "lsh_grow")

    // IVF: the same lifecycle; a copy of an appended vector ranks its
    // original first (cosine 1.0)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs.where(col("vec_id") < 400), "vec_id", "embedding",
      col("vec_id") % 32 === 0, "ivf_grow", s"$warehouse/ivf_grow", numBuckets = 4)
    assert(BucketedStore.compactBucketed(spark, "ivf_grow") == 4)
    val vecBatch = vecs.where(col("vec_id") >= 400 && col("vec_id") < 410)
    Similarity.appendToIvfIndex(vecBatch, "vec_id", "embedding", "ivf_grow")
    val ivfProbe = Similarity.ivfIndexTopK(
      vecBatch.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", "ivf_grow", k = 3, nprobe = 2)
    val ivfPairs = ivfProbe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (v <- 400L until 410L)
      assert(ivfPairs.contains((v + 100000L, v)), s"appended vector $v not served: $ivfPairs")
    assertIndexSideShuffleFree(ivfProbe, "ivf_grow")
  }

  test("partitionBy write prunes directories under a partition predicate") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val dir = s"$warehouse/events_p"
    BucketedStore.writePartitioned(events, dir, "event_type")
    val types = events.select("event_type").distinct().collect().map(_.getString(0))
    assert(types.length > 1, "testdata needs >1 event_type for a pruning test")

    val one = spark.read.parquet(dir).where(col("event_type") === types.head)
    // collect() drives one.queryExecution itself, so its scan metrics fill
    // (count() would execute a separate derived plan)
    assert(one.collect().length > 0)
    // the scan itself must report the pruning: a partition filter was
    // pushed and only ONE of the directories was read
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(one.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty, "no partition filter pushed to the scan")
    assert(scan.metrics("numPartitions").value == 1,
      s"expected 1 pruned partition, scanned ${scan.metrics("numPartitions").value}")
  }
}
