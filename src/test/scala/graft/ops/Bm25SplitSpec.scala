package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 corpus search (q89) and the leakage-safe group-aware split
  * (q90). Tests pin the exact semantics the DuckDB oracles recompute —
  * the rational-idf BM25 formula against hand arithmetic, and the
  * same-cluster-same-split invariant that is the whole point of
  * splitting on the group key.
  */
class Bm25SplitSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("bm25Search matches hand-computed scores and ranks by them") {
    import spark.implicits._
    // corpus: n=3, dl = 4,2,3 (avgdl = 3.0); term "cat": tf 2,1,0 -> df 2
    val docs = Seq(
      (1L, "cat cat dog fish"),
      (2L, "cat bird"),
      (3L, "dog dog bird")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("cat"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    def bm25(tf: Double, dl: Double, n: Double, df: Double, avgdl: Double): Double = {
      val idf = (n - df + 0.5) / (df + 0.5)
      val s = idf * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      math.rint(s * 1e6) / 1e6
    }
    // doc 3 has tf=0: filtered out (no query term), never scored 0
    assert(got.map(_._1) === Seq(1L, 2L))
    assert(got(0) === ((1L, 2L, 4L, bm25(2, 4, 3, 2, 3.0))))
    assert(got(1) === ((2L, 1L, 2L, bm25(1, 2, 3, 2, 3.0))))
    // shorter doc 2 outranks doc 1 only if its normalized tf wins — with
    // tf 2 vs 1 it must not: check the ordering the top-k cut uses
    assert(bm25(2, 4, 3, 2, 3.0) > bm25(1, 2, 3, 2, 3.0))
  }

  test("bm25Search multi-term scores sum in fixed term order and k cuts") {
    import spark.implicits._
    val docs = Seq(
      (10L, "a a b"), (11L, "a b b"), (12L, "b b b"), (13L, "c c c")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("a", "b"), 2)
      .collect().map(r => r.getLong(0)).sorted
    // doc 13 matches nothing; k=2 keeps the best two of 10,11,12
    assert(got.length === 2)
    assert(got.forall(Seq(10L, 11L, 12L).contains))
  }

  test("bm25Search plans a broadcast stats join and a take-ordered cut") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"w$i common token")).toDF("doc_id", "text")
    val plan = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("common"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"corpus stats must broadcast, got:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered (never a global sort), got:\n$plan")
  }

  test("splitByGroup never lets two rows of one group straddle splits") {
    import spark.implicits._
    // 200 rows in 50 groups of 4
    val labeled = (0L until 200L).map(i => (i, i % 50)).toDF("doc_id", "cluster_id")
    val got = Sampling.splitByGroup(labeled, "cluster_id", 80, 10)
    val perGroup = got.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("nsplits"))
      .agg(max("nsplits")).collect()(0).getLong(0)
    assert(perGroup === 1L, "a group appeared in more than one split")
    // all three labels appear over 50 independent group dice
    val labels = got.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("train", "valid", "test")))
    assert(labels.contains("train"))
  }

  test("splitByGroup is a pure projection — no shuffle in the plan") {
    import spark.implicits._
    val labeled = (0L until 64L).map(i => (i, i / 4)).toDF("doc_id", "cluster_id")
    val plan = Sampling.splitByGroup(labeled, "cluster_id", 80, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must not shuffle, got:\n$plan")
  }
}
