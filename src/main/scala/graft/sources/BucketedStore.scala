package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-layout sinks for the 100 TB path: bucketed and partitioned
  * parquet, plus the co-located-join reader that proves the layout pays
  * off.
  *
  * At cluster scale the dominant cost of the engine's join/dedup
  * pipelines is the shuffle. Two layouts remove it at the source:
  *
  *  - **Bucketing** (`bucketBy` on the join/aggregation key): both sides
  *    of an equi-join pre-hashed into the same number of buckets join
  *    with ZERO exchanges — Spark's bucketed scan reports the hash
  *    partitioning, so `EnsureRequirements` inserts no shuffle. Filters
  *    on the bucket key also prune whole buckets at scan time.
  *  - **Partitioning** (`partitionBy` on a low-cardinality column):
  *    predicates on the partition column prune entire directories before
  *    any file is opened (`PartitionFilters` in the scan, zero I/O for
  *    excluded partitions).
  *
  * The reference stores workload tables in Postgres and leaves layout to
  * the DB (dqo/db/clients/postgres.py:241-317); here layout is a
  * first-class engine capability.
  *
  * **Persisted-index contract.** The LSH index (`Dedup.buildLshIndex`)
  * and the IVF index (`Similarity.buildIvfIndex`) are bucketed tables
  * that this object writes, checks and grows, so both follow one
  * contract:
  *  - [[writeBucketed]] stamps the build parameters as `graft.*` table
  *    properties;
  *  - [[requireProperties]] fails a probe or append whose parameters
  *    differ from them (a missing property reads `<missing>`);
  *  - [[appendBucketed]] adds a batch under the bucket key and count the
  *    catalog holds for the table;
  *  - [[compactBucketed]] rewrites the accreted files one per bucket and
  *    keeps the `graft.*` properties.
  */
object BucketedStore {

  /** Write `df` as a bucketed, bucket-sorted parquet table registered in
    * the session catalog, with `properties` stamped on it. `numBuckets`
    * sizes the parallelism of every downstream co-located join/agg on
    * `keyCol` — at 100 TB pick it so a bucket fits an executor's memory
    * (e.g. 2048 buckets for ~50 GB/b at 100 TB); bucket counts must match
    * on both join sides.
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    numBuckets: Int, path: String,
                    properties: Map[String, String] = Map.empty): Unit = {
    bucketedWriter(df, keyCol, numBuckets).option("path", path).mode("overwrite").saveAsTable(table)
    stamp(df.sparkSession, table, properties)
  }

  /** Append `df` to the bucketed `table` under the bucket key and count
    * its catalog entry holds: an append writer that does not re-declare
    * them is rejected ("Specified bucketing does not match").
    */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val (_, key, n) = bucketSpec(df.sparkSession, table)
    bucketedWriter(df, key, n).mode("append").saveAsTable(table)
  }

  /** Fail unless `table` carries each of the `expected` properties with
    * the same value. A missing property fails too, so a table that was
    * not built with them never passes as matching.
    */
  def requireProperties(spark: SparkSession, table: String,
                        expected: Map[String, String]): Unit = {
    val props = metadata(spark, table).properties
    val bad = expected.filter { case (p, v) => !props.get(p).contains(v) }
    require(bad.isEmpty,
      s"index $table was built with different parameters: " +
        bad.map { case (p, v) => s"$p: caller=$v index=${props.getOrElse(p, "<missing>")}" }
          .mkString("; "))
  }

  private def bucketedWriter(df: DataFrame, key: String, numBuckets: Int) =
    df.write.format("parquet").bucketBy(numBuckets, key).sortBy(key)

  private def stamp(spark: SparkSession, table: String, properties: Map[String, String]): Unit =
    if (properties.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
        properties.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")

  private def metadata(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** `table`'s catalog entry with its single bucket column and bucket
    * count.
    */
  private def bucketSpec(spark: SparkSession, table: String) = {
    val meta = metadata(spark, table)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — use compact() on its directory instead"))
    require(spec.bucketColumnNames.size == 1,
      s"$table buckets on ${spec.bucketColumnNames.mkString(",")} — only " +
        "single-column bucket specs are supported")
    (meta, spec.bucketColumnNames.head, spec.numBuckets)
  }

  /** Write `df` partitioned by directory on `partCols` (low-cardinality
    * columns only — each distinct tuple becomes a directory).
    */
  def writePartitioned(df: DataFrame, path: String, partCols: String*): Unit =
    df.write.partitionBy(partCols: _*).mode("overwrite").parquet(path)

  /** Equi-join two bucketed tables on their shared bucket key. When both
    * were written via [[writeBucketed]] with the same bucket count, the
    * physical plan contains no ShuffleExchange on either side.
    */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    keyCol: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keyCol)

  /** Flatten a physical plan to its nodes, looking through the AQE
    * wrapper nodes (AdaptiveSparkPlanExec re-plans under itself; query
    * stages hold their subtree in `plan`). Shared by the layout proofs
    * here and the per-join-side assertions in tests.
    */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case other => other +: other.children.flatMap(planNodes)
    }
  }

  /** True when the (sub)plan contains a shuffle exchange — including a
    * ReusedExchangeExec pointing at a shuffle planned elsewhere (the
    * subtree's data IS shuffled even though the exchange node lives in
    * another branch).
    */
  def subtreeHasShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    planNodes(p).exists {
      case _: ShuffleExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }
  }

  /** True when the finalized physical plan of `df` contains no shuffle
    * exchange — the co-location proof used by tests and by callers
    * validating a layout before a big run.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !subtreeHasShuffle(df.queryExecution.executedPlan)

  private def listDataFiles(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      // exclude markers/staging at EVERY path level below the base —
      // a stale _temporary/.../part-*.parquet subtree from a killed
      // writer has a clean leaf name but must not count as data
      val rel = f.getPath.toString.stripPrefix(base).stripPrefix("/")
      if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
        out += f
    }
    out.result()
  }

  /** Bytes of data files under `path` (Hadoop FS, recursive; markers
    * and _/.-prefixed staging subtrees excluded at every level) — sizes
    * the compaction target.
    */
  def dataBytes(spark: SparkSession, path: String): Long =
    listDataFiles(spark, path).map(_.getLen).sum

  /** The read+coalesce plan [[compact]] executes, exposed so tests (and
    * callers wanting a dry look) assert the REAL code path, plus the
    * file-count target.
    */
  def compactPlan(spark: SparkSession, inPath: String,
                  targetBytes: Long, shuffle: Boolean): (DataFrame, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val in = spark.read.parquet(inPath)
    // refuse layouts the flat rewrite would silently destroy: a
    // partitioned directory read flattens its partition columns into
    // data and every downstream pruning query degrades to a full scan
    val partCols = in.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fsRel: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        fsRel.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)
    require(partCols.isEmpty,
      s"$inPath is partitioned on ${partCols.mkString(",")} — a flat compact would " +
        "destroy directory pruning; compact per partition directory or rewrite " +
        "via writePartitioned")
    // refuse bucketed layouts the same way: bucket membership lives in
    // the FILE NAME (part-...-_NNNNN.c000...), so a flat rewrite would
    // silently destroy the bucket-file mapping every shuffle-free probe
    // depends on. A path read can't see the catalog's bucket spec —
    // detect by Spark's bucket-file naming instead, and route to
    // compactBucketed (which preserves the layout via the catalog).
    val bucketNamed = listDataFiles(spark, inPath)
      .filter(f => BucketFileName.findFirstIn(f.getPath.getName).isDefined)
    require(bucketNamed.isEmpty,
      s"$inPath holds bucketed data files (e.g. ${bucketNamed.head.getPath.getName}) — " +
        "a flat compact would destroy the bucket-file mapping; use " +
        "compactBucketed(spark, table) on the catalog table instead")
    val bytes = dataBytes(spark, inPath)
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    (if (shuffle) in.repartition(parts) else in.coalesce(parts), parts)
  }

  /** Compact a small-file parquet directory into ~`targetBytes` files.
    * Incremental ingestion (per-batch appends, streaming sinks, one
    * file per task) accretes thousands of tiny files, and at corpus
    * scale that is an operational failure mode of its own: scan tasks
    * collapse to one-file granularity, footer reads dominate, and the
    * driver's file index bloats. The rewrite `coalesce`s to
    * ceil(bytes/targetBytes) output files — coalesce, not repartition:
    * compaction only ever REDUCES file count, and coalesce merges
    * partitions without a shuffle (the data is read once and written
    * once). Pass `shuffle = true` only when the inputs are skewed
    * enough that evenly-sized outputs are worth one full shuffle.
    * Partitioned inputs are refused (see [[compactPlan]]). Returns the
    * ACTUAL output file count (coalesce cannot exceed the input's
    * partition count, so it may fall short of the byte target).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 512L << 20, shuffle: Boolean = false): Int = {
    val (plan, _) = compactPlan(spark, inPath, targetBytes, shuffle)
    plan.write.mode("overwrite").parquet(outPath)
    listDataFiles(spark, outPath).size
  }

  /** Spark's bucketed-output file naming: `..._NNNNN.c000.snappy.parquet`
    * (bucketIdToString pads the bucket id to 5 digits before the writer
    * extension). Used to refuse flat-compacting a bucketed directory.
    */
  private val BucketFileName = """_\d{5}\.c\d{3}""".r

  /** Bucket-PRESERVING compaction for incremental-index tables.
    * [[appendBucketed]] adds up to `numBuckets` files per writing task,
    * so a long-lived index accretes thousands of small files per
    * bucket — but the flat [[compact]]
    * would destroy the bucket-file mapping the shuffle-free probes
    * depend on. This rewrite goes through the catalog instead:
    * `repartition(numBuckets, key)` pre-shapes the data to EXACTLY the
    * bucket hash (repartition and bucketBy share Murmur3 pmod
    * semantics, so each task holds exactly one bucket → exactly one
    * file per bucket), written as a staging table + catalog rename so a
    * failure mid-rewrite never leaves the index name dangling. The
    * `graft.*` table properties (the index contract) are re-stamped on
    * the staging table before the swap. The table's
    * LOCATION alternates between `<path>` and `<path>_swap` across
    * compactions (a table cannot be overwritten from itself in one
    * pass); callers must address the index by table name, not path.
    * Returns the output file count (== numBuckets).
    */
  def compactBucketed(spark: SparkSession, table: String): Int = {
    import org.apache.spark.sql.functions.col
    val (meta, key, n) = bucketSpec(spark, table)
    val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = oldLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newLoc =
      if (oldLoc.getName.endsWith("_swap"))
        new org.apache.hadoop.fs.Path(oldLoc.getParent, oldLoc.getName.stripSuffix("_swap"))
      else new org.apache.hadoop.fs.Path(oldLoc.getParent, oldLoc.getName + "_swap")
    val staging = s"${table}_compact_staging"
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    if (fs.exists(newLoc)) fs.delete(newLoc, true)
    // read the FILES, not the catalog table: a bucketed-table source
    // lets the planner treat the repartition as redundant (its declared
    // partitioning already matches) even when the bucketed scan itself
    // is disabled, and the write then emits the full tasks × buckets
    // file cross product. A plain parquet read keeps the exchange in
    // the plan (bucket ids live only in file names, so no data is lost).
    // The exchange is a REPARTITION_BY_NUM one, which AQE's local shuffle
    // read never rewrites, so each write task holds one bucket whatever
    // the caller's local-shuffle-read setting.
    writeBucketed(spark.read.parquet(oldLoc.toString).repartition(n, col(key)),
      staging, key, n, newLoc.toString, meta.properties.filter(_._1.startsWith("graft.")))
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    fs.delete(oldLoc, true)
    listDataFiles(spark, newLoc.toString).size
  }
}
