package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables}
import graft.plans.BloomSketch

/** Plan-shape facts that past optimizations of the catalog rely on,
  * asserted on the executed plans and the job counts of the sf0.01 gate
  * queries: the MinHash and bigram generators stay lambda-free, the bloom
  * build has no DISTINCT pass, the bloom join reads its persisted small
  * side, and the connected-components queries stay under a job ceiling.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val gate = "/root/testdata/sf0.01"

  /** The executed plans of the actions `work` ran and the Spark jobs it
    * launched, on its own child session: a QueryExecutionListener on that
    * session and a SparkListener counting only this job group's jobs.
    */
  private case class Observed(plans: Seq[SparkPlan], jobs: Int)

  private def observe(work: SparkSession => Unit): Observed = {
    val s = graft.LocalSpark.session()
    val sc = s.sparkContext
    val group = s"plan-shape-${java.util.UUID.randomUUID()}"
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val jobs = new AtomicInteger
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val scheduler = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    s.listenerManager.register(queries)
    sc.addSparkListener(scheduler)
    sc.setJobGroup(group, group)
    try {
      work(s)
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(scheduler)
      s.listenerManager.unregister(queries)
      s.catalog.clearCache()
    }
    Observed(plans.synchronized(plans.toList), jobs.get)
  }

  private def runQuery(name: String): Observed =
    observe(s => SparkEntry.queries(name)(s, gate).collect())

  /** Every node of an executed plan, through adaptive query stages,
    * cached relations and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def interpreted(plans: Seq[SparkPlan]): Seq[Expression] =
    plans.flatMap(nodes).flatMap(_.expressions).flatMap(_.collect {
      case e: LambdaFunction => e
      case e: CodegenFallback => e
    })

  Seq("q31_minhash_sig", "q32_lsh_candidates", "q109_edit_distance", "q80_bigram_lm")
    .foreach { name =>
      test(s"$name: no lambda or CodegenFallback expression in its executed plans") {
        val o = runQuery(name)
        assert(o.plans.nonEmpty, s"$name ran no observed action")
        val found = interpreted(o.plans)
        assert(found.isEmpty,
          s"$name: interpreted expressions in the executed plan: ${found.map(_.prettyName).distinct.mkString(", ")}")
      }
    }

  test("BloomSketch.build: no DISTINCT aggregate and no key exchange") {
    val o = observe { s =>
      // lineitem's order keys repeat: a DISTINCT pass would show as a
      // grouped aggregate behind a hash exchange on the key
      val keys = Tables.load(s, gate, "lineitem").select("l_orderkey")
      assert(BloomSketch.build(keys, "l_orderkey", 0.01).isDefined)
    }
    assert(o.plans.size == 2, s"expected the sizing count and the filter aggregate, got ${o.plans.size} actions")
    val all = o.plans.flatMap(nodes)
    val aggs = all.collect { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(a.groupingExpressions.isEmpty && !a.aggregateExpressions.exists(_.isDistinct),
        s"grouped or DISTINCT aggregate in the bloom build:\n$a")
    }
    all.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(e.outputPartitioning == SinglePartition,
        s"exchange other than the global-aggregate gather in the bloom build:\n$e")
    }
  }

  test("q72_bloom_join: the join reads its small side from the cache") {
    val o = runQuery("q72_bloom_join")
    val joins = o.plans.flatMap(nodes).collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "q72 planned no join")
    val cachedSmallSide = joins.exists(_.children.exists { side =>
      nodes(side).exists {
        case i: InMemoryTableScanExec =>
          val cols = i.relation.output.map(_.name).toSet
          cols.contains("o_orderkey") && !cols.contains("l_orderkey")
        case _ => false
      }
    })
    assert(cachedSmallSide, "no join side of q72 reads the persisted orders frame")
  }

  /** The highest job count of three runs of each query at commit
    * eadc1c8, before the catalog split. A connected-components query over
    * its ceiling launched extra rounds or extra eager jobs. Adaptive
    * execution submits some query stages as jobs of their own, and how
    * many varies from run to run (q100 drew 71 to 75 there), so the
    * ceiling holds the fewer jobs of two runs: an extra round shows in
    * both.
    */
  private val jobCeiling = Map(
    "q49_dedup_clusters" -> 31,
    "q90_groupaware_split" -> 31,
    "q100_semantic_dedup" -> 75)

  jobCeiling.toSeq.sortBy(_._1).foreach { case (name, ceiling) =>
    test(s"$name: at most $ceiling Spark jobs") {
      val runs = Seq.fill(2)(runQuery(name).jobs)
      info(s"$name launched ${runs.mkString(" and ")} jobs")
      assert(runs.min > 0 && runs.min <= ceiling, s"$name launched ${runs.mkString(" and ")} jobs, ceiling $ceiling")
    }
  }
}
