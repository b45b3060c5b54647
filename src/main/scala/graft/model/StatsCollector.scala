package graft.model

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Builds the full [[DbModel]] from parquet tables with DataFrame
  * aggregations — the engine-native replacement for the reference's
  * Postgres stat probes (`StatQueries`, dqo/db/clients/postgres.py:65-238
  * and `Postgres.model`, postgres.py:321-377).
  *
  * Scale design: every row is exploded into one `(cid, key, ma, mb)`
  * record per model column, a NARROW layout: `cid` is the column's
  * position, `key` a fixed-type struct of its value (null when the value
  * is null, so distinct counts stay exact), and `ma`/`mb` its measure
  * images (the numeric value, or a string's length and word count). Two
  * aggregations per column run over those records: scan 1 computes
  * count/nulls/distinct/min/max/mean (the reference's combined per-table
  * query, postgres.py:189-211); scan 2 takes each column's mean, width
  * and histogram bounds from scan 1 and computes the moment sums and
  * equi-width histogram counts. They finish in one of two places:
  *
  *  1. On the driver, when the table is small: Spark's size estimate of
  *     the input is within `spark.sql.autoBroadcastJoinThreshold`, the
  *     size-based rule a broadcast join follows. ONE job ships the
  *     records, each partition only while it holds at most its share of
  *     threshold ÷ record size, so the driver never holds more than a
  *     broadcast's worth; the driver folds them into both scans' results
  *     as Spark's aggregates compute them (see [[Fold]]). Every image and
  *     key is still evaluated by Spark, with the expressions the
  *     distributed scans use.
  *  2. Distributed, when the estimate is over the threshold, the
  *     threshold is −1, `exact = false` (its HLL distinct counts are part
  *     of its contract), a parquet input's footers count more records
  *     than the bound (checked before the job, whose work would be lost),
  *     or a partition outgrows its share (the job stops that partition
  *     early): scan 1 is one `groupBy(cid)` over the records; scan 2
  *     joins a small local frame of the scan-2 parameters and aggregates
  *     again.
  *
  * Both finishes feed the same model assembly and give byte-identical
  * models (StatsCollectorSpec runs its goldens on both).
  *
  * Why narrow: a wide aggregate with a few aggregates per column passes
  * Spark's 100-field whole-stage-codegen limit on wide tables and falls
  * back to interpreted evaluation, and baking each column's min/mean/width
  * into the plan as literals makes every table compile its own classes.
  * Here the aggregate's width and generated code depend on neither the
  * schema nor the data, so it stays in codegen and compiles once per JVM.
  * Distinct counts switch to approx_count_distinct at scale (`exact=false`;
  * HLL hashes the key struct) — the sketches merge in the combiner, so the
  * shuffle stays O(columns), not O(rows). Timestamps are reduced to epoch
  * seconds (postgres.py:177-186); strings contribute length and word-count
  * distributions (postgres.py:141-172).
  */
object StatsCollector {

  val HistBuckets = 10

  /** Probe expression for one column: measure column (numeric image) or
    * none for bool.
    */
  private def measure(c: ColumnModel): Option[Column] = c.dtype match {
    case DType.Float | DType.Number => Some(col(c.name).cast("double"))
    case DType.Time => Some(unix_seconds(col(c.name).cast("timestamp")).cast("double"))
    case _ => None
  }

  private val NoMeasure: Column = lit(null).cast(DoubleType)

  /** The two measure images of a column: its numeric image, or a
    * string's length and word count; null where the column has none.
    */
  private def images(c: ColumnModel): (Column, Column) = c.dtype match {
    case DType.Str =>
      val cc = col(c.name)
      (length(cc).cast("double"), size(split(cc, "\\s+")).cast("double"))
    case _ => (measure(c).getOrElse(NoMeasure), NoMeasure)
  }

  /** One slot per value family; every column fills exactly one. */
  private val KeyType = StructType(Seq(StructField("i", LongType),
    StructField("d", DoubleType), StructField("s", StringType), StructField("b", BooleanType)))

  /** The column's value in its slot of [[KeyType]], null when the value is
    * null. The image is injective per column type, so distinct counts
    * are those of the raw values: integers, dates (days) and timestamps
    * (microseconds) as longs, floats as doubles, and strings, decimals and
    * local timestamps as their string form.
    */
  private def key(f: StructField): Column = {
    val v = col(f.name)
    val (slot, image) = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => "i" -> v.cast(LongType)
      case DateType => "i" -> unix_date(v).cast(LongType)
      case TimestampType => "i" -> unix_micros(v)
      case FloatType | DoubleType => "d" -> v.cast(DoubleType)
      case BooleanType => "b" -> v
      case _ => "s" -> v.cast(StringType)
    }
    when(v.isNotNull, struct(KeyType.fields.toSeq.map(k =>
      (if (k.name == slot) image else lit(null)).cast(k.dataType).as(k.name)): _*))
  }

  /** The narrow layout: one record per (row, column) of `cols`, which
    * pairs each column with its cid. Scan 2 needs no key.
    */
  private def narrow(df: DataFrame, cols: Seq[(ColumnModel, Int)], withKey: Boolean): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f).toMap
    df.select(inline(array(cols.map { case (c, cid) =>
      val (a, b) = images(c)
      val k = if (withKey) Seq(key(fields(c.name)).as("key")) else Nil
      struct(Seq(lit(cid).as("cid")) ++ k ++ Seq(a.as("ma"), b.as("mb")): _*)
    }: _*)))
  }

  /** The decimal types the mean and the moment sums are exact in. */
  private val MeanType = DecimalType(38, 6)
  private val MomentType = DecimalType(38, 18)

  /** Scan-1 aggregates per measure: min/max plus a DECIMAL-exact mean.
    * Spark's double `avg`/`var_samp`/`skewness`/`kurtosis` merge partial
    * aggregates in partition order, so their low bits change with the
    * split count — the same table yields a (ulp-)different model on a
    * different cluster size, which breaks model reproducibility (and the
    * golden-pinned encoder vectors downstream). The mean goes through an
    * exact decimal sum (order-independent); central moments move to scan
    * 2 as decimal-exact sums of range-normalized deviations. Domain
    * bound: |value| < 10^32 (decimal(38,6)) — holds for every measure
    * the model covers (prices, counts, epoch seconds, string lengths).
    * Outside it the cast is a `try_cast`: a value beyond decimal(38,6)
    * is skipped by the mean as ±Infinity and NaN are, and a mean beyond
    * avg's decimal(38,10) result reads NaN (`try_avg`), instead of
    * failing the table under ANSI mode. The same cast sets a LOWER precision cliff: values quantize at
    * 1e-6 absolute before summation, so a measure whose signal lives
    * below that (per-token probabilities, sub-micro rates) would mean
    * to 0 silently — rescale such columns before feeding the model.
    */
  private def numAggs(m: String): Seq[Column] = Seq(
    min(m).as(s"${m}_min"), max(m).as(s"${m}_max"),
    try_avg(col(m).try_cast(MeanType)).cast("double").as(s"${m}_mean"))

  /** Scan-2 aggregates for one measure: exact decimal sums of the first
    * four powers of u = (x - mean)/width. |u| <= 1, so the quartic can
    * never overflow decimal(38,18) regardless of the column's magnitude
    * or the corpus size (a raw Σx⁴ of epoch-seconds overflows decimal at
    * any realistic row count); skew/kurt are scale-free so the
    * normalization cancels, and the variance rescales by width².
    */
  private def momentAggs(m: String): Seq[Column] = {
    val u = (col(m) - col(s"${m}_mean")) / col(s"${m}_width")
    val u2 = u * u
    Seq("s1" -> u, "s2" -> u2, "s3" -> (u2 * u), "s4" -> (u2 * u2))
      .map { case (n, c) => sum(c.try_cast(MomentType)).as(s"${m}__$n") }
  }

  /** Driver-side combine of the scan-2 sums into (var_samp, skewness,
    * kurtosis) matching Spark's definitions (population m3/m2^1.5 and
    * m4/m2²-3, NaN on degenerate inputs) — pure double arithmetic over
    * exact sums, so the result is identical at any partition count.
    */
  private[model] def combineMoments(n: Long, width: Double,
                             s1: Double, s2: Double, s3: Double, s4: Double)
      : (Double, Double, Double) = {
    if (n == 0) return (Double.NaN, Double.NaN, Double.NaN)
    val nd = n.toDouble
    val c2 = s2 - s1 * s1 / nd
    val varSamp = if (n < 2) Double.NaN else width * width * c2 / (nd - 1)
    val m2 = c2 / nd
    val m3 = (s3 - 3 * s1 * s2 / nd + 2 * s1 * s1 * s1 / (nd * nd)) / nd
    val m4 = (s4 - 4 * s1 * s3 / nd + 6 * s1 * s1 * s2 / (nd * nd)
      - 3 * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd
    val skew = if (m2 > 0) m3 / (m2 * math.sqrt(m2)) else Double.NaN
    val kurt = if (m2 > 0) m4 / (m2 * m2) - 3 else Double.NaN
    (varSamp, skew, kurt)
  }

  /** Schema-only model (no stats) from parquet footers. */
  def schemaModel(spark: SparkSession, dir: String, tables: Seq[String]): DbModel =
    DbModel(tables.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      TableModel(t, df.schema.fields.toSeq.flatMap(f =>
        DType.fromSpark(f.dataType).map(ColumnModel(f.name, _))))
    })

  /** Index flag from key-naming convention (FIXTURES.md §6): Postgres'
    * pg_index probe (postgres.py:99-119) has no parquet analog.
    */
  private def indexed(table: String, colName: String): Boolean =
    colName == "id" || colName.endsWith("key") || colName.endsWith("_id")

  /** Per-column parameters of scan 2, one row per cid that has a
    * measure to sum: mean and width of each measure (null where it has
    * none) and the histogram's lower bound and bucket width.
    */
  private val ParamsType = StructType(StructField("cid", IntegerType) +:
    Seq("ma_mean", "ma_width", "mb_mean", "mb_width", "h_min", "h_width")
      .map(StructField(_, DoubleType)))

  /** The measure images of a narrow record, in record order. */
  private val Measures = IndexedSeq("ma", "mb")

  /** Scan-1 result of one measure of one column: min, max and the
    * decimal-exact mean, NaN where Spark's aggregate is null.
    */
  private final case class Extent(min: Double, max: Double, mean: Double)
  private val NoExtent = Extent(Double.NaN, Double.NaN, Double.NaN)

  /** Scan-1 result of one column: its records (one per row), non-null
    * and distinct counts, and an extent per measure.
    */
  private final case class Scan1(rows: Long, n: Long, distinct: Long, extents: IndexedSeq[Extent])

  /** Scan-2 parameters of one column: (mean, width) of each measure that
    * has values, and the histogram's (lower bound, bucket width).
    */
  private final case class Params(moments: IndexedSeq[Option[(Double, Double)]],
                                  hist: Option[(Double, Double)])

  /** Scan-2 result of one column: the four moment sums of each measure
    * (NaN where Spark's sum is null) and the histogram counts.
    */
  private final case class Scan2(sums: IndexedSeq[IndexedSeq[Double]], hist: IndexedSeq[Long])

  /** Collect full stats for one table: in ONE job and a driver fold when
    * the table is small, else in two distributed scans (see the object's
    * scaladoc).
    */
  def collectTable(dfIn: DataFrame, name: String, sizeBytes: Long,
                   exact: Boolean = true): TableModel = {
    val schema = TableModel(name,
      dfIn.schema.fields.toSeq.flatMap(f =>
        DType.fromSpark(f.dataType).map(ColumnModel(f.name, _))))
    val cols = schema.columns.zipWithIndex
    val fold = if (exact && cols.nonEmpty) driverFold(dfIn, cols) else None
    // Parallelize small single-split sources: on one partition the whole
    // aggregate runs on one core (observed 51s for sf0.1 lineitem before
    // this). Large inputs keep their natural splits.
    lazy val df = graft.ops.Spread(dfIn)

    val s1 = fold.fold(scan1(df, cols, exact))(_.scan1)
    // every column emits one record per row, so any cid counts the rows
    val nRows = if (cols.isEmpty) df.count() else s1.values.headOption.fold(0L)(_.rows)
    def ext(cid: Int, m: Int): Extent = s1.get(cid).fold(NoExtent)(_.extents(m))
    def countOf(cid: Int, f: Scan1 => Long): Long = s1.get(cid).fold(0L)(f)

    // (min, max) of a measure with values; a column without the measure
    // has none (its image is null)
    def range(cid: Int, m: Int): Option[(Double, Double)] = {
      val e = ext(cid, m)
      if (e.min.isNaN || e.max.isNaN) None else Some((e.min, e.max))
    }
    // (mean, width) of a measure with values
    def moment(cid: Int, m: Int): Option[(Double, Double)] =
      range(cid, m).map { case (mn, mx) => (ext(cid, m).mean, if (mx > mn) mx - mn else 1.0) }
    val params = cols.flatMap { case (c, cid) =>
      val p = Params(Measures.indices.map(moment(cid, _)),
        if (measure(c).isDefined) range(cid, 0).map { case (mn, mx) => (mn, (mx + 1.0 - mn) / HistBuckets) }
        else None)
      if (p.moments.forall(_.isEmpty)) None else Some(cid -> p)
    }.toMap
    val s2 = if (params.isEmpty) Map.empty[Int, Scan2]
      else fold.fold(scan2(df, cols, params))(_.scan2(params))

    def numStats(cid: Int, m: Int): NumericStats = {
      val (v, sk, ku) = (for (r <- s2.get(cid); (_, width) <- moment(cid, m); s = r.sums(m))
        yield combineMoments(countOf(cid, _.n), width, s(0), s(1), s(2), s(3)))
        .getOrElse((Double.NaN, Double.NaN, Double.NaN))
      val e = ext(cid, m)
      NumericStats(e.min, e.mean, e.max, v, sk, ku)
    }

    val columns = cols.map { case (c, cid) =>
      val numeric = measure(c).map { _ =>
        val base = numStats(cid, 0)
        (s2.get(cid), range(cid, 0)) match {
          case (Some(r), Some((mn, mx))) =>
            val w = (mx + 1.0 - mn) / HistBuckets
            base.copy(hist = (1 to HistBuckets).map(b => mn + b * w), freq = r.hist)
          case _ => base
        }
      }
      val string = if (c.dtype == DType.Str)
        Some(StringStats(numStats(cid, 0), numStats(cid, 1)))
      else None
      c.copy(stats = Some(ColumnStats(nRows, nRows - countOf(cid, _.n), countOf(cid, _.distinct),
        indexed(name, c.name), numeric, string)))
    }
    TableModel(name, columns, Some(TableStats(nRows, sizeBytes)))
  }

  /** Scan 1, distributed: counts + min/max + exact means for every column
    * at once.
    */
  private def scan1(df: DataFrame, cols: Seq[(ColumnModel, Int)], exact: Boolean): Map[Int, Scan1] =
    if (cols.isEmpty) Map.empty else {
      val distinctAgg =
        if (exact) count_distinct(col("key")) else approx_count_distinct(col("key"), 0.01)
      narrow(df, cols, withKey = true).groupBy("cid")
        .agg(count(lit(1)).as("rows"), Seq(count("key").as("n"), distinctAgg.as("nd")) ++
          Measures.flatMap(numAggs): _*)
        .collect().map { r =>
          r.getAs[Int]("cid") -> Scan1(r.getAs[Long]("rows"), r.getAs[Long]("n"), r.getAs[Long]("nd"),
            Measures.map(m => Extent(getD(r, s"${m}_min"), getD(r, s"${m}_max"), getD(r, s"${m}_mean"))))
        }.toMap
    }

  /** Scan 2, distributed: central-moment sums for every measure +
    * equi-width histograms for the numeric/time columns, ONE combined
    * aggregation over the columns in `params`.
    */
  private def scan2(df: DataFrame, cols: Seq[(ColumnModel, Int)], params: Map[Int, Params]): Map[Int, Scan2] = {
    def box(v: Option[Double]): Any = v.map(Double.box).orNull
    val rows = params.toSeq.sortBy(_._1).map { case (cid, p) =>
      Row(cid +: (p.moments ++ Seq(p.hist)).flatMap(v => Seq(box(v.map(_._1)), box(v.map(_._2)))): _*)
    }
    // one partition: broadcasting the frame then runs one task, not one
    // per core
    val local = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), ParamsType).coalesce(1)
    // width_bucket(v, min, max+1, 10) semantics (postgres.py:122-138):
    // per column, 10 conditional counts
    val hmin = col("h_min"); val hw = col("h_width")
    val bucketAggs = (1 to HistBuckets).map { b =>
      val lo = hmin + lit((b - 1).toDouble) * hw; val hi = hmin + lit(b.toDouble) * hw
      sum(when(col("ma") >= lo && col("ma") < hi, 1L).otherwise(0L)).as(s"h$b")
    }
    val aggs = Measures.flatMap(momentAggs) ++ bucketAggs
    narrow(df, cols.filter { case (_, cid) => params.contains(cid) }, withKey = false)
      .join(broadcast(local), "cid")
      .groupBy("cid").agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        r.getAs[Int]("cid") -> Scan2(
          Measures.map(m => (1 to 4).map(k => getD(r, s"${m}__s$k"))),
          (1 to HistBuckets).map(b => r.getAs[Long](s"h$b")))
      }.toMap
  }

  /** The most parquet files whose footers the driver finish reads to
    * bound a table's records before it ships them; a table of more
    * files is bounded by the shipping job alone.
    */
  private val FooterProbeFiles = 32

  /** The driver finish: the narrow records of `df` in ONE job, when
    * Spark's size estimate of `df` is within the broadcast threshold and
    * every partition holds at most its share of threshold ÷ record size
    * records; None otherwise (threshold −1 included), and the caller runs
    * the distributed scans. A parquet input whose footers already count
    * more records than that skips the job, whose work would be lost.
    */
  private def driverFold(df: DataFrame, cols: Seq[(ColumnModel, Int)]): Option[Fold] = {
    val spark = df.sparkSession
    val bound = GraftBridge.broadcastThreshold(spark)
    lazy val records = narrow(df, cols, withKey = true)
    lazy val limit = bound / records.schema.defaultSize
    if (bound < 0 || GraftBridge.sizeEstimate(df) > bound ||
        GraftBridge.parquetRowBound(df, FooterProbeFiles).exists(_ * cols.size > limit)) None
    else {
      val rdd = GraftBridge.internalRows(records)
      val share = limit / math.max(1, rdd.getNumPartitions)
      val schema = records.schema
      val parts = spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => pack(it, schema, share))
      if (parts.contains(null)) None
      else Some(new Fold(spark, cols.size, parts.toSeq))
    }
  }

  /** A partition's records back to back as (size, UnsafeRow bytes), or
    * null as soon as they outnumber `share`.
    */
  private def pack(it: Iterator[InternalRow], schema: StructType, share: Long): Array[Byte] = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    var n = 0L
    while (n <= share && it.hasNext) {
      val row = it.next() match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
      n += 1
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buf)
    }
    if (n > share) null else { out.flush(); bytes.toByteArray }
  }

  /** One measure of one column, folded on the driver: min and max as
    * Spark's `min`/`max` keep them (NaN above every value, -0.0 equal to
    * 0.0, the first of equal values stays), and the records per distinct
    * value (keyed by the value's bits: one NaN, ±0.0 apart), from which
    * the decimal sums are exact whatever the order.
    */
  private final class MeasureFold {
    var seen = false
    var min, max = Double.NaN
    val counts = mutable.LongMap.empty[Long]
    def add(x: Double): Unit = {
      if (!seen) { seen = true; min = x; max = x }
      else {
        if (SQLOrderingUtil.compareDoubles(x, min) < 0) min = x
        if (SQLOrderingUtil.compareDoubles(x, max) > 0) max = x
      }
      val k = java.lang.Double.doubleToLongBits(x)
      counts.update(k, counts.getOrElse(k, 0L) + 1L)
    }
    /** (value, records) pairs. */
    def values: Iterator[(Double, Long)] =
      counts.iterator.map { case (k, c) => java.lang.Double.longBitsToDouble(k) -> c }
  }

  /** The driver fold of one table's narrow records (`parts`, as [[pack]]
    * wrote them) into the results of scan 1 and scan 2, computed as
    * Spark's aggregates compute them: nulls skipped as `count`, `avg` and
    * `sum` skip them; distinct keys compared after Spark's grouping
    * normalization (one NaN, -0.0 as 0.0); doubles cast to decimal by
    * Spark's own `try_cast` (from `Double.toString`, HALF_UP; null for
    * NaN, infinities and values beyond the decimal); the moment images in `momentAggs`' operation order; and
    * doubles compared as Spark's comparisons compare them.
    */
  private final class Fold(spark: SparkSession, ncols: Int, parts: Seq[Array[Byte]]) {
    private val rows, nonNull = new Array[Long](ncols)
    private val keys = Array.fill(ncols)(new java.util.HashSet[AnyRef])
    private val measures = Array.fill(ncols, Measures.size)(new MeasureFold)

    locally {
      val row = new UnsafeRow(4)
      parts.foreach { buf =>
        val in = java.nio.ByteBuffer.wrap(buf)
        var pos = 0
        while (pos < buf.length) {
          val size = in.getInt(pos)
          row.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + pos + 4, size)
          pos += 4 + size
          val cid = row.getInt(0)
          rows(cid) += 1
          if (!row.isNullAt(1)) {
            nonNull(cid) += 1
            keys(cid).add(keyValue(row.getStruct(1, KeyType.size)))
          }
          Measures.indices.foreach { m =>
            if (!row.isNullAt(2 + m)) measures(cid)(m).add(row.getDouble(2 + m))
          }
        }
      }
    }

    /** The key's filled slot, normalized as Spark's grouping normalizes a
      * double.
      */
    private def keyValue(k: InternalRow): AnyRef =
      if (!k.isNullAt(0)) Long.box(k.getLong(0))
      else if (!k.isNullAt(1)) { val d = k.getDouble(1); Double.box(if (d == 0.0) 0.0 else d) }
      else if (!k.isNullAt(2)) k.getUTF8String(2)
      else Boolean.box(k.getBoolean(3))

    /** Exact sums of `cast(image)` over a measure's values, for each of
      * the `k` images `images` derives from a value, each with how many
      * values cast to non-null.
      */
    private def exactSums(f: MeasureFold, cast: Double => Any, k: Int)(images: Double => Seq[Double])
        : Seq[(java.math.BigDecimal, Long)] = {
      val sums = Array.fill(k)(java.math.BigDecimal.ZERO)
      val counts = new Array[Long](k)
      f.values.foreach { case (x, c) =>
        images(x).map(cast).zipWithIndex.foreach {
          case (d: Decimal, i) =>
            sums(i) = sums(i).add(d.toJavaBigDecimal.multiply(java.math.BigDecimal.valueOf(c)))
            counts(i) += c
          case _ =>
        }
      }
      sums.toSeq.zip(counts)
    }

    def scan1: Map[Int, Scan1] = {
      val toMean = GraftBridge.doubleTryCast(spark, MeanType)
      (0 until ncols).map { cid =>
        cid -> Scan1(rows(cid), nonNull(cid), keys(cid).size.toLong, measures(cid).toIndexedSeq.map { f =>
          if (!f.seen) NoExtent else {
            val Seq((sum, n)) = exactSums(f, toMean, 1)(x => Seq(x))
            Extent(f.min, f.max,
              GraftBridge.decimalTryAvg(sum, n, MeanType).fold(Double.NaN)(_.toDouble))
          }
        })
      }.toMap
    }

    def scan2(params: Map[Int, Params]): Map[Int, Scan2] = {
      val toMoment = GraftBridge.doubleTryCast(spark, MomentType)
      params.map { case (cid, p) =>
        val sums = Measures.indices.map { m =>
          p.moments(m).fold(IndexedSeq.fill(4)(Double.NaN)) { case (mean, width) =>
            // u, u², u³, u⁴ in momentAggs' operation order
            exactSums(measures(cid)(m), toMoment, 4) { x =>
              val u = (x - mean) / width
              val u2 = u * u
              Seq(u, u2, u2 * u, u2 * u2)
            }.map { case (sum, n) =>
              // |u| ≤ 1, so the sum of at most a broadcast's worth of
              // terms is far inside decimal(38,18): it never overflows
              if (n == 0L) Double.NaN else sum.toString.toDouble
            }.toIndexedSeq
          }
        }
        val hist = p.hist.fold(IndexedSeq.fill(HistBuckets)(0L)) { case (hmin, hw) =>
          val values = measures(cid)(0).values.toSeq
          (1 to HistBuckets).map { b =>
            val lo = hmin + (b - 1).toDouble * hw; val hi = hmin + b.toDouble * hw
            values.collect { case (x, c) if SQLOrderingUtil.compareDoubles(x, lo) >= 0 &&
              SQLOrderingUtil.compareDoubles(x, hi) < 0 => c }.sum
          }
        }
        cid -> Scan2(sums, hist)
      }
    }
  }

  private def getD(r: Row, field: String): Double = {
    val i = r.fieldIndex(field)
    if (r.isNullAt(i)) Double.NaN
    else r.get(i) match {
      case d: Double => d
      case l: Long => l.toDouble
      case x => x.toString.toDouble
    }
  }

  /** The files under a table path (the path itself when it is a file),
    * with their sizes and modification times, in path order: a rewrite
    * under the same path changes it.
    */
  private def listing(path: String): Seq[(String, Long, FileTime)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else Using.resource(Files.walk(p)) { files =>
      files.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f))).toSeq.sortBy(_._1)
    }
  }

  /** Partition-column introspection (SURVEY §2.1 S6 — the engine analog
    * of the reference's pg_partitioned_table probe, postgres.py:19-45):
    * hive-style partition directories of a parquet dataset.
    */
  def partitionColumns(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)
  }

  /** The latest model per (dir, tables, exact), with the listing of
    * the table files it was built from.
    */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[String], Boolean), (Seq[Seq[(String, Long, FileTime)]], DbModel)]

  /** Full model over the standard table set, with in-memory memoization
    * and optional JSON cache (mirrors Postgres.model(use_cache=True),
    * postgres.py:321-377 — the reference also caches its model). The memo
    * holds while every table's files keep their paths, sizes and
    * modification times, so a table rewritten in place gets a fresh
    * model; the JSON cache at `cachePath` is the caller's and is read
    * whenever it exists.
    */
  def collect(spark: SparkSession, dir: String, tables: Seq[String],
              exact: Boolean = true, cachePath: Option[String] = None): DbModel = {
    val files = tables.map(t => listing(s"$dir/$t.parquet"))
    memo.get((dir, tables, exact)).collect { case (f, db) if f == files => db }.getOrElse {
      val db = cachePath.filter(p => Files.exists(Paths.get(p))).map { p =>
        ModelJson.fromJson(Files.readString(Paths.get(p)))
      }.getOrElse {
        val db = DbModel(tables.zip(files).map { case (t, f) =>
          collectTable(spark.read.parquet(s"$dir/$t.parquet"), t, f.map(_._2).sum, exact)
        })
        cachePath.foreach(p => Files.writeString(Paths.get(p), ModelJson.toJson(db)))
        db
      }
      memo.put((dir, tables, exact), (files, db))
      db
    }
  }
}
