package graft.model

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class StatsCollectorSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()
  /** A session that never broadcasts: `collectTable` takes its
    * distributed scans there, while `spark` finishes small tables on the
    * driver.
    */
  private lazy val scans = graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private lazy val paths = Seq(spark, scans)

  private val dir = "/root/testdata/sf0.001"

  private def read(s: SparkSession, t: String): DataFrame = {
    s.sparkContext.setLogLevel("ERROR")
    s.read.parquet(s"$dir/$t.parquet")
  }

  private lazy val li = StatsCollector.collectTable(read(spark, "lineitem"), "lineitem", 12345L)

  private def json(t: TableModel): String = ModelJson.toJson(DbModel(Seq(t)))

  /** Every table of the sf0.001 fixture bears a model (at least one
    * column of the five model types).
    */
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  /** The model of `t` as the wide-aggregate collector wrote it (size 0). */
  private def golden(t: String): String = {
    val in = getClass.getResourceAsStream(s"/model/sf0.001/$t.json")
    assert(in != null, s"no golden model for $t")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  test("collects per-column counts, stats, histograms") {
    val rows = li.stats.get.rows
    assert(rows > 1000)
    val qty = li.columnsByName("l_quantity")
    assert(qty.dtype == DType.Float)
    val st = qty.stats.get
    assert(st.total == rows && st.nulls == 0 && st.distinct > 10)
    val num = st.numeric.get
    assert(num.min >= 1.0 && num.max <= 60.0 && num.mean > num.min && num.mean < num.max)
    assert(num.hist.size == StatsCollector.HistBuckets)
    assert(num.freq.sum == rows) // equi-width buckets cover [min, max+1)
    // string stats exist for returnflag
    val rf = li.columnsByName("l_returnflag").stats.get
    assert(rf.string.get.length.min == 1.0 && rf.string.get.length.max == 1.0)
    // time column measured as epoch seconds
    val sd = li.columnsByName("l_shipdate").stats.get.numeric.get
    assert(sd.min > 6e8 && sd.max < 1.1e9) // ~1995..2002 epoch range
    // key-convention index flags
    assert(li.columnsByName("l_orderkey").stats.get.index)
    assert(!li.columnsByName("l_quantity").stats.get.index)
  }

  test("JSON model round-trips exactly") {
    val db = DbModel(Seq(li))
    val json = ModelJson.toJson(db)
    // compare via JSON (case-class == is false under NaN skew/kurt fields)
    assert(ModelJson.toJson(ModelJson.fromJson(json)) == json)
  }

  // each finish by its test-name suffix: the driver finish keeps the
  // plain names
  for ((suffix, session) <- Seq("" -> (() => spark), " (distributed scans)" -> (() => scans))) {
    test(s"every sf0.001 table reproduces its golden model byte for byte$suffix") {
      tables.foreach { t =>
        assert(json(StatsCollector.collectTable(read(session(), t), t, 0L)) == golden(t),
          s"model of $t drifted from src/test/resources/model/sf0.001/$t.json")
      }
    }

    test(s"the model does not depend on the input's partitioning$suffix") {
      val models = Seq(1, 3, 8).map(n =>
        n -> json(StatsCollector.collectTable(read(session(), "lineitem").repartition(n), "lineitem", 0L)))
      models.foreach { case (n, m) =>
        assert(m == golden("lineitem"), s"lineitem over $n partitions drifted")
      }
    }
  }

  test("both finishes give the same model of every sf0.01 TPC-H table") {
    val sf = "/root/testdata/sf0.01"
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem").foreach { t =>
      val Seq(driver, distributed) = paths.map { s =>
        json(StatsCollector.collectTable(s.read.parquet(s"$sf/$t.parquet"), t, 0L))
      }
      assert(driver == distributed, s"$t: the driver finish and the scans disagree")
    }
  }

  /** Values where Spark's semantics are easy to miss: nulls and an
    * all-null column, empty and whitespace-only strings, ±0.0 (kept off
    * the extremes, where Spark's own min/max keep whichever merges
    * first), NaN, large magnitudes (within decimal(38,10), the mean's
    * type), doubles whose decimal cast rounds differently from their
    * binary expansion, and one column of every other model type.
    */
  private def edgeCases(s: SparkSession, rows: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("none", DoubleType), StructField("txt", StringType),
      StructField("zeros", DoubleType), StructField("nan", DoubleType), StructField("big", DoubleType),
      StructField("noise", DoubleType), StructField("dec", DecimalType(12, 4)),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("flag", BooleanType)))
    val rnd = new scala.util.Random(7)
    val texts = IndexedSeq("", " ", "   ", "a", "a b", " a  b ", null)
    val zeros = IndexedSeq(-2.5, 0.0, -0.0, 3.75, null)
    val nans = IndexedSeq(1.0, Double.NaN, -0.0, 0.0, 2.5e-7, -1.5, null)
    val big = IndexedSeq(9.9e26, -4.2e25, 1e20, 0.30000000000000004, 5e-7, -5e-7, 1.0000005, null)
    val data = (0 until rows).map { i =>
      Row(if (i % 5 == 4) null else i, null, texts(i % texts.size), zeros(i % zeros.size),
        nans(i % nans.size), big(i % big.size),
        if (i % 9 == 8) null else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 8),
        if (i % 6 == 5) null else java.math.BigDecimal.valueOf(rnd.nextInt(2000000) - 1000000L, 4),
        if (i % 7 == 6) null else java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(9000L + rnd.nextInt(3000))),
        if (i % 8 == 7) null else new java.sql.Timestamp(1000L * (900000000L + rnd.nextInt(100000000))),
        if (i % 4 == 3) null else java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusSeconds(rnd.nextInt(10000000)),
        if (i % 3 == 2) null else i % 2 == 0)
    }
    s.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  test("both finishes agree byte for byte on the edge-case fixture and on an empty table") {
    Seq(600, 0).foreach { rows =>
      val Seq(driver, distributed) = paths.map { s =>
        json(StatsCollector.collectTable(edgeCases(s, rows), "edge", 0L))
      }
      assert(driver == distributed, s"$rows rows: the driver finish and the scans disagree\n$driver\n$distributed")
    }
  }

  test("doubles beyond the decimal mean's domain leave the mean, not fail the table") {
    // ±1e300 overflow decimal(38,6) and are skipped as ±Infinity is;
    // 5e31 fits it, but the mean it makes does not fit avg's decimal(38,10)
    val schema = StructType(Seq(StructField("wide", DoubleType), StructField("tall", DoubleType)))
    val data = Seq(Row(1e300, 5e31), Row(-1e300, 1.0), Row(2.0, 1.0), Row(4.0, null))
    val Seq(driver, distributed) = paths.map { s =>
      StatsCollector.collectTable(
        s.createDataFrame(java.util.Arrays.asList(data: _*), schema), "far", 0L)
    }
    assert(json(driver) == json(distributed),
      s"the driver finish and the scans disagree\n${json(driver)}\n${json(distributed)}")
    def numeric(c: String) = driver.columnsByName(c).stats.get.numeric.get
    assert(numeric("wide").mean == 3.0)
    assert(numeric("wide").min == -1e300 && numeric("wide").max == 1e300)
    assert(numeric("tall").mean.isNaN)
  }

  test("a small table takes one Spark job, and leaves no conf change or persisted RDD") {
    val s = graft.LocalSpark.session()
    val sc = s.sparkContext
    val group = s"stats-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      tables.foreach { t =>
        val df = read(s, t) // the footer read is the reader's job, not the collector's
        val (conf, persisted) = (s.conf.getAll, sc.getPersistentRDDs.keySet)
        ListenerBusDrain(sc)
        jobs.set(0)
        sc.setJobGroup(group, group)
        try StatsCollector.collectTable(df, t, 0L) finally sc.clearJobGroup()
        ListenerBusDrain(sc)
        assert(jobs.get == 1, s"$t: ${jobs.get} Spark jobs")
        assert(s.conf.getAll == conf, s"$t: session conf changed")
        assert(sc.getPersistentRDDs.keySet == persisted, s"$t: persisted RDDs left behind")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a table rewritten in place gets a fresh model, an unchanged one the memoized model") {
    val dir = Files.createTempDirectory("graft_stats_memo_").toFile
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }
    try {
      val path = s"$dir/t.parquet"
      def model = StatsCollector.collect(spark, dir.toString, Seq("t"))
      spark.range(0, 100).toDF("id").write.parquet(path)
      val first = model
      assert(first.tables.head.stats.get.rows == 100L)
      assert(model eq first, "an unchanged table must hit the memo")
      spark.range(0, 250).toDF("id").write.mode("overwrite").parquet(path)
      val second = model
      assert(second.tables.head.stats.get.rows == 250L, "the memo returned the model of the old files")
      assert(json(second.tables.head) ==
        json(StatsCollector.collectTable(spark.read.parquet(path), "t", second.tables.head.stats.get.sizeBytes)))
    } finally deleteRec(dir)
  }

  test("approx mode stays within 5% on distinct counts") {
    // every column: HLL hashes the key struct, whatever the column type
    val approx = StatsCollector.collectTable(read(spark, "lineitem"), "lineitem", 0L, exact = false)
    li.columns.foreach { c =>
      val e = c.stats.get.distinct.toDouble
      val a = approx.columnsByName(c.name).stats.get.distinct.toDouble
      assert(math.abs(a - e) / e < 0.05, s"${c.name}: approx $a vs exact $e")
    }
  }

  /** (aggregate, whether it runs inside whole-stage codegen) for every
    * aggregate of an executed plan, through adaptive query stages. An
    * InputAdapter or an exchange ends the enclosing codegen stage.
    */
  private def aggregates(p: SparkPlan, inCodegen: Boolean = false): Seq[(BaseAggregateExec, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => aggregates(a.executedPlan)
      case s: QueryStageExec => aggregates(s.plan)
      case w: WholeStageCodegenExec => aggregates(w.child, inCodegen = true)
      case i: InputAdapter => aggregates(i.child)
      case e: Exchange => aggregates(e.child)
      case a: BaseAggregateExec => (a, inCodegen) +: a.children.flatMap(aggregates(_, inCodegen))
      case other => other.children.flatMap(aggregates(_, inCodegen))
    }

  test("plan shape: every aggregate is in whole-stage codegen, same width for every table") {
    // a session of its own scopes the listener to this test's queries;
    // it never broadcasts, so it takes the scans (the driver finish plans
    // no aggregate)
    val s = graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    def aggregateExprs(t: String): Int = {
      plans.synchronized(plans.clear())
      StatsCollector.collectTable(read(s, t), t, 0L)
      ListenerBusDrain(s.sparkContext)
      val aggs = plans.synchronized(plans.toList).flatMap(aggregates(_))
      assert(aggs.nonEmpty, s"no aggregate planned for $t")
      aggs.foreach { case (a, inCodegen) =>
        assert(a.isInstanceOf[HashAggregateExec] && inCodegen,
          s"$t: aggregate outside whole-stage codegen:\n$a")
      }
      aggs.map(_._1.aggregateExpressions.size).sum
    }
    try {
      val (region, lineitem) = (aggregateExprs("region"), aggregateExprs("lineitem"))
      assert(region == lineitem,
        s"aggregate width depends on the table: region $region, lineitem $lineitem")
    } finally s.listenerManager.unregister(listener)
  }
}
