package org.apache.spark.sql

import scala.annotation.tailrec
import scala.util.Using

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType}

/** Accessors for what Spark 4 made private[sql]: the Column ↔
  * Expression conversions, the session's SQL conf, plan statistics,
  * Spark's own cast and avg semantics, and its file-scan packing.
  * Extension libraries place a small accessor inside the spark.sql
  * package (the established pattern for Catalyst-extending projects)
  * rather than reflecting. Everything here reads; nothing sets a conf
  * or makes a session.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes; −1
    * means never broadcast.
    */
  def broadcastThreshold(spark: SparkSession): Long = sqlConf(spark).autoBroadcastJoinThreshold

  /** Spark's size estimate of `df` in bytes: its optimized plan's
    * statistics, the figure a join compares with
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  def sizeEstimate(df: DataFrame): BigInt =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan.stats.sizeInBytes

  /** `df`'s rows in Spark's internal format, before any conversion to
    * external `Row`s.
    */
  def internalRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Spark's own `try_cast` of a double to `to`, evaluated on the driver
    * in `spark`'s session time zone: null where Spark's `try_cast` is
    * null (NaN, infinity, or a value beyond a decimal's range). One
    * function per thread: it reuses its input row.
    */
  def doubleTryCast(spark: SparkSession, to: DataType): Double => Any = {
    val cast = Cast(BoundReference(0, DoubleType, nullable = false), to,
      Some(sqlConf(spark).sessionLocalTimeZone), EvalMode.TRY)
    val row = new GenericInternalRow(1)
    d => { row.update(0, d); cast.eval(row) }
  }

  /** Spark's `try_avg` of decimal values of type `in` with exact sum `sum`
    * over `count` non-null values: the sum divided as `Average` divides
    * it, at avg's result type decimal(p + 4, s + 4) (bounded). None where
    * `try_avg` is null: no values, or a mean beyond the result type.
    */
  def decimalTryAvg(sum: java.math.BigDecimal, count: Long, in: DecimalType): Option[Decimal] = {
    val out = DecimalType.bounded(in.precision + 4, in.scale + 4)
    if (count == 0L) None
    else Option((Decimal(sum) / Decimal(count)).toPrecision(out.precision, out.scale,
      Decimal.ROUND_HALF_UP, nullOnOverflow = true, null))
  }

  private def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The file relation `df` reads when it is ONE such relation under
    * nothing but projections and filters, from the analyzed plan (the
    * parsed plan of a bare `spark.read.parquet` is an unresolved
    * data-source node, not a `LogicalRelation`).
    */
  private def fileScan(df: DataFrame): Option[HadoopFsRelation] = {
    @tailrec def scan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => scan(child)
      case Filter(_, child) => scan(child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r)
        case _ => None
      }
      case _ => None
    }
    scan(df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
  }

  /** An upper bound on `df`'s row count from parquet metadata: the row
    * counts in the footers of the files it reads, when it is one parquet
    * relation under projections and filters over at most `maxFiles`
    * files; None otherwise. Reads one footer per file on the driver.
    */
  def parquetRowBound(df: DataFrame, maxFiles: Int): Option[Long] =
    fileScan(df).filter(_.fileFormat.isInstanceOf[ParquetFileFormat]).flatMap { r =>
      val files = r.location.listFiles(Nil, Nil).flatMap(_.files)
      if (files.size > maxFiles) None else {
        val hadoop = df.sparkSession.asInstanceOf[classic.SparkSession].sessionState
          .newHadoopConfWithOptions(r.options)
        Some(files.map(f => Using.resource(
          ParquetFileReader.open(HadoopInputFile.fromStatus(f.fileStatus, hadoop)))(_.getRecordCount)).sum)
      }
    }

  /** Estimated scan-split count of a frame that is ONE file relation
    * under nothing but projections and filters — None otherwise, and the
    * caller falls back to an exact RDD probe. Any other node above the
    * scan (coalesce, repartition, aggregate, window, join, union) sets
    * its own partition count, so the scan's splits say nothing about the
    * frame's. Spark's own packing (`FilePartition.maxSplitBytes`,
    * `PartitionedFileUtil.splitFiles`, `FilePartition.getFilePartitions`,
    * as a non-bucketed `FileSourceScanExec` calls them) over the
    * relation's already-cached file listing: no physical planning, no
    * RDD construction — the cheap replacement for
    * `df.rdd.getNumPartitions` in Spread's "fewer splits than cores?"
    * check, which re-planned the whole query once per call. It packs
    * every file of the relation, so a filter that prunes partition
    * directories reads high; a bucketed relation (one split per bucket)
    * takes the exact probe.
    */
  def estimatedScanSplits(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    fileScan(df).filter(_.bucketSpec.isEmpty).map { r =>
      val dirs = r.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val pieces = dirs.flatMap { d =>
        d.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
          r.fileFormat.isSplitable(spark, r.options, f.getPath), maxSplit, d.values))
      }.sortBy(-_.length)
      FilePartition.getFilePartitions(spark, pieces, maxSplit).size.toLong
    }
  }
}
