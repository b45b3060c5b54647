package graft.model

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class StatsCollectorSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

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

  test("every sf0.001 table reproduces its golden model byte for byte") {
    tables.foreach { t =>
      assert(json(StatsCollector.collectTable(read(spark, t), t, 0L)) == golden(t),
        s"model of $t drifted from src/test/resources/model/sf0.001/$t.json")
    }
  }

  test("the model does not depend on the input's partitioning") {
    val models = Seq(1, 3, 8).map(n =>
      n -> json(StatsCollector.collectTable(read(spark, "lineitem").repartition(n), "lineitem", 0L)))
    models.foreach { case (n, m) =>
      assert(m == golden("lineitem"), s"lineitem over $n partitions drifted")
    }
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
    // a child session scopes the listener to this test's queries
    val s = spark.newSession()
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
      org.apache.spark.ListenerBusDrain(s.sparkContext)
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
