package graft.model

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builds the full [[DbModel]] from parquet tables with DataFrame
  * aggregations — the engine-native replacement for the reference's
  * Postgres stat probes (`StatQueries`, dqo/db/clients/postgres.py:65-238
  * and `Postgres.model`, postgres.py:321-377).
  *
  * Scale design: two scans per table over a NARROW layout. Each row is
  * exploded into one `(cid, key, ma, mb)` record per model column: `cid`
  * is the column's position, `key` a fixed-type struct of its value (null
  * when the value is null, so distinct counts stay exact), and `ma`/`mb`
  * its measure images (the numeric value, or a string's length and word
  * count). Scan 1 is one `groupBy(cid)` computing count/nulls/distinct/
  * min/max/mean of every column at once (the reference's combined
  * per-table query, postgres.py:189-211); scan 2 joins a small local frame
  * of per-column mean, width and histogram bounds and computes the moment
  * sums and equi-width histogram counts from those columns.
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
    * The same cast sets a LOWER precision cliff: values quantize at
    * 1e-6 absolute before summation, so a measure whose signal lives
    * below that (per-token probabilities, sub-micro rates) would mean
    * to 0 silently — rescale such columns before feeding the model.
    */
  private def numAggs(m: String): Seq[Column] = Seq(
    min(m).as(s"${m}_min"), max(m).as(s"${m}_max"),
    avg(col(m).cast("decimal(38,6)")).cast("double").as(s"${m}_mean"))

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
      .map { case (n, c) => sum(c.cast("decimal(38,18)")).as(s"${m}__$n") }
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

  /** Collect full stats for one table in two scans. */
  def collectTable(dfIn: DataFrame, name: String, sizeBytes: Long,
                   exact: Boolean = true): TableModel = {
    // Parallelize small single-split sources: on one partition the whole
    // aggregate runs on one core (observed 51s for sf0.1 lineitem before
    // this). Large inputs keep their natural splits.
    val df = graft.ops.Spread(dfIn)
    val spark = df.sparkSession
    val schema = TableModel(name,
      df.schema.fields.toSeq.flatMap(f =>
        DType.fromSpark(f.dataType).map(ColumnModel(f.name, _))))
    val cols = schema.columns.zipWithIndex

    // ---- scan 1: counts + min/max + exact means for every column at once
    val distinctAgg =
      if (exact) count_distinct(col("key")) else approx_count_distinct(col("key"), 0.01)
    val s1 = if (cols.isEmpty) Map.empty[Int, Row]
      else narrow(df, cols, withKey = true).groupBy("cid")
        .agg(count(lit(1)).as("rows"), Seq(count("key").as("n"), distinctAgg.as("nd")) ++
          numAggs("ma") ++ numAggs("mb"): _*)
        .collect().map(r => r.getAs[Int]("cid") -> r).toMap
    // every column emits one record per row, so any cid counts the rows
    val nRows = if (cols.isEmpty) df.count()
      else s1.values.headOption.fold(0L)(_.getAs[Long]("rows"))
    def stat(cid: Int, f: String): Double = s1.get(cid).fold(Double.NaN)(getD(_, f))
    def countOf(cid: Int, f: String): Long = s1.get(cid).fold(0L)(_.getAs[Long](f))

    // ---- scan 2: central-moment sums for every measure + equi-width
    // histograms for the numeric/time columns, ONE combined aggregation
    def range(cid: Int, m: String): Option[(Double, Double)] = {
      val (mn, mx) = (stat(cid, s"${m}_min"), stat(cid, s"${m}_max"))
      if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
    }
    // (mean, width) of a measure with values; a column without the
    // measure has none (its image is null)
    def moment(cid: Int, m: String): Option[(Double, Double)] =
      range(cid, m).map { case (mn, mx) => (stat(cid, s"${m}_mean"), if (mx > mn) mx - mn else 1.0) }
    val params = cols.flatMap { case (c, cid) =>
      val (a, b) = (moment(cid, "ma"), moment(cid, "mb"))
      val h = if (measure(c).isDefined) range(cid, "ma") else None
      def box(v: Option[Double]): Any = v.map(Double.box).orNull
      if (a.isEmpty && b.isEmpty) None
      else Some(Row(cid, box(a.map(_._1)), box(a.map(_._2)), box(b.map(_._1)), box(b.map(_._2)),
        box(h.map(_._1)), box(h.map { case (mn, mx) => (mx + 1.0 - mn) / HistBuckets })))
    }
    val s2 = if (params.isEmpty) Map.empty[Int, Row] else {
      val byCid = params.map(_.getInt(0)).toSet
      // one partition: broadcasting the frame then runs one task, not one
      // per core
      val local = spark.createDataFrame(java.util.Arrays.asList(params: _*), ParamsType).coalesce(1)
      // width_bucket(v, min, max+1, 10) semantics (postgres.py:122-138):
      // per column, 10 conditional counts
      val hmin = col("h_min"); val hw = col("h_width")
      val bucketAggs = (1 to HistBuckets).map { b =>
        val lo = hmin + lit((b - 1).toDouble) * hw; val hi = hmin + lit(b.toDouble) * hw
        sum(when(col("ma") >= lo && col("ma") < hi, 1L).otherwise(0L)).as(s"h$b")
      }
      val aggs = momentAggs("ma") ++ momentAggs("mb") ++ bucketAggs
      narrow(df, cols.filter { case (_, cid) => byCid(cid) }, withKey = false)
        .join(broadcast(local), "cid")
        .groupBy("cid").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getAs[Int]("cid") -> r).toMap
    }

    def numStats(cid: Int, m: String): NumericStats = {
      val (v, sk, ku) = (for (r <- s2.get(cid); (_, width) <- moment(cid, m))
        yield combineMoments(countOf(cid, "n"), width,
          getD(r, s"${m}__s1"), getD(r, s"${m}__s2"),
          getD(r, s"${m}__s3"), getD(r, s"${m}__s4")))
        .getOrElse((Double.NaN, Double.NaN, Double.NaN))
      NumericStats(stat(cid, s"${m}_min"), stat(cid, s"${m}_mean"), stat(cid, s"${m}_max"),
        v, sk, ku)
    }

    val columns = cols.map { case (c, cid) =>
      val numeric = measure(c).map { _ =>
        val base = numStats(cid, "ma")
        (s2.get(cid), range(cid, "ma")) match {
          case (Some(r), Some((mn, mx))) =>
            val w = (mx + 1.0 - mn) / HistBuckets
            base.copy(hist = (1 to HistBuckets).map(b => mn + b * w),
              freq = (1 to HistBuckets).map(b => r.getAs[Long](s"h$b")))
          case _ => base
        }
      }
      val string = if (c.dtype == DType.Str)
        Some(StringStats(numStats(cid, "ma"), numStats(cid, "mb")))
      else None
      c.copy(stats = Some(ColumnStats(nRows, nRows - countOf(cid, "n"), countOf(cid, "nd"),
        indexed(name, c.name), numeric, string)))
    }
    TableModel(name, columns, Some(TableStats(nRows, sizeBytes)))
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

  private def dirSize(path: String): Long = {
    val p = Paths.get(path)
    if (Files.isDirectory(p))
      Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size).sum()
    else if (Files.exists(p)) Files.size(p) else 0L
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

  private val memo = scala.collection.concurrent.TrieMap.empty[(String, Seq[String], Boolean), DbModel]

  /** Full model over the standard table set, with in-memory memoization
    * and optional JSON cache (mirrors Postgres.model(use_cache=True),
    * postgres.py:321-377 — the reference also caches its model).
    */
  def collect(spark: SparkSession, dir: String, tables: Seq[String],
              exact: Boolean = true, cachePath: Option[String] = None): DbModel =
    memo.getOrElseUpdate((dir, tables, exact), {
      cachePath.filter(p => Files.exists(Paths.get(p))).map { p =>
        ModelJson.fromJson(Files.readString(Paths.get(p)))
      }.getOrElse {
        val db = DbModel(tables.map { t =>
          val path = s"$dir/$t.parquet"
          collectTable(spark.read.parquet(path), t, dirSize(path), exact)
        })
        cachePath.foreach(p => Files.writeString(Paths.get(p), ModelJson.toJson(db)))
        db
      }
    })
}
