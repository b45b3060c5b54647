package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation pipeline: the operators a corpus actually flows
  * through, CHAINED — near-dup clustering → canonical selection →
  * per-source cap → leakage-safe split → token budgeting → training
  * order — with the cross-operator invariants asserted on the final
  * frame, not per-op. This is the "a user of the reference could switch"
  * test: every stage is the public q-query operator, no test-only glue.
  */
class CurationPipelineSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("dedup -> cap -> split -> budget -> order composes with invariants intact") {
    import spark.implicits._
    // 40 docs over 3 sources with per-doc disjoint vocabularies, so the
    // ONLY near-dup pairs are the planted ones: 2 copies 1, 12 copies 11
    val base = (1L to 40L).map { i =>
      val src = i match {
        case 2L  => 1L
        case 12L => 11L
        case _   => i
      }
      val words = (0 until 12).map(j => s"w${src}_$j")
      val text = (if (src == i) words else words :+ "tail").mkString(" ")
      (i, text, s"src${i % 3}")
    }.toDF("doc_id", "text", "source")

    // 1. near-dup clusters + canonical survivor per cluster
    val edges = Dedup.ngramJaccardPairs(base, "doc_id", "text",
      shingleN = 3, maxDf = 50, threshold = 0.5)
    val labels = Dedup.connectedComponents(edges, "id_a", "id_b", base, "doc_id")
    assert(labels.where(col("doc_id").isin(1L, 2L)).select("cluster_id")
      .distinct().count() === 1, "planted near-dups 1/2 must share a cluster")
    val labeled = base.join(labels, "doc_id")
    val canon = Dedup.keepBest(
      labeled.withColumn("score", length(col("text")).cast("double")),
      "cluster_id", "doc_id", "score")
    assert(canon.count() === 38, "two near-dup pairs collapse to their canonicals")

    // 2. per-source cap: nothing dominates
    val capped = Sampling.capPerGroup(canon, "doc_id", "source", k = 10, salts = 4)
    val bySource = capped.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource.values.forall(_ <= 10))

    // 3. leakage-safe split on the CLUSTER id: a near-dup pair that
    // survived capping can never straddle train/test
    val split = Sampling.splitByGroup(capped, "cluster_id", 80, 10)
    val clusterSplits = split.groupBy("cluster_id")
      .agg(count_distinct(col("split")).as("n")).as[(Long, Long)].collect()
    assert(clusterSplits.forall(_._2 === 1L), "every cluster sits in exactly one split")

    // 4. token budget across sources: allocations sum to the budget
    val withTok = split.withColumn("n_tok", size(Dedup.tokens(col("text"))).cast("long"))
    val alloc = Sampling.allocateTokenBudget(withTok, "source", "n_tok", budget = 1000L)
      .as[(String, Long, Long)].collect()
    assert(alloc.map(_._3).sum === 1000L)

    // 5. training order over the final train split: contiguous 0..N-1
    val train = withTok.where(col("split") === "train")
    val ordered = Sampling.trainingOrder(train, "doc_id", partitions = 4)
    val positions = ordered.select("train_pos").as[Long].collect().sorted
    assert(positions === (0L until train.count()).toArray)
  }
}
