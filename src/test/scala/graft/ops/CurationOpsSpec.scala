package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import PortableHash.hash60Value

/** Corpus-curation operators added for q91–q94: contiguous training
  * order, per-source caps, largest-remainder token budgets, and PII
  * redaction. Each test pins the exact procedure the DuckDB oracle
  * recomputes, using the driver-side [[PortableHash.hash60Value]] as
  * the independent expectation.
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("trainingOrder emits the contiguous hash-ordered global permutation") {
    import spark.implicits._
    val ids = (1L to 57L)
    val df = ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val got = Sampling.trainingOrder(df, "doc_id", partitions = 4)
      .select("doc_id", "train_pos").as[(Long, Long)].collect().toMap
    // expectation: rank in the permutation ordered by (hash, id)
    val expected = ids.sortBy(i => (hash60Value(s"order:$i"), i))
      .zipWithIndex.map { case (i, p) => i -> p.toLong }.toMap
    assert(got === expected)
    // positions are exactly 0..N-1 (contiguous, no partition gaps —
    // the property monotonically_increasing_id alone would NOT give)
    assert(got.values.toSeq.sorted === (0L until 57L))
  }

  test("trainingOrder positions are partition-count independent") {
    import spark.implicits._
    val df = (1L to 41L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run(p: Int) = Sampling.trainingOrder(df, "doc_id", partitions = p)
      .select("doc_id", "train_pos").as[(Long, Long)].collect().toMap
    val two = run(2)
    assert(run(7) === two)
    assert(run(16) === two)
  }

  test("trainingOrder goes through a range exchange, not a global sort to one partition") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, i.toString)).toDF("doc_id", "text")
    val plan = Sampling.trainingOrder(df, "doc_id", partitions = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"expected a range exchange in:\n$plan")
  }

  test("capPerGroup keeps the k hash-smallest rows per group, salt-invariant") {
    import spark.implicits._
    // group sizes 12, 3, 1 with k=5: capped, under-full, singleton
    val rows = (1L to 12L).map(i => (i, "big")) ++
      Seq((101L, "mid"), (102L, "mid"), (103L, "mid"), (201L, "one"))
    val df = rows.toDF("doc_id", "source")
    def run(salts: Int) = Sampling.capPerGroup(df, "doc_id", "source", 5, salts)
      .select("doc_id", "source", "rank_in_group")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val got = run(salts = 8)
    // independent expectation from the driver-side hash
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (g, xs) =>
      xs.map(_._1).sortBy(i => (hash60Value(s"cap:$g:$i"), i)).take(5)
        .zipWithIndex.map { case (i, r) => (i, g, r + 1) }
    }.sortBy(_._1)
    assert(got === expected)
    // the salted two-phase MUST equal the single-phase answer: phase 1
    // only discards rows that cannot be in the per-group top-k
    assert(run(salts = 1) === got)
    assert(run(salts = 16) === got)
    assert(got.count(_._2 == "big") === 5)
    assert(got.count(_._2 == "mid") === 3)
    assert(got.count(_._2 == "one") === 1)
  }

  test("allocateTokenBudget is exact largest-remainder apportionment") {
    import spark.implicits._
    // T=10, budget=7: bases 3,2,1 (sum 6), one extra to the largest
    // remainder (a: 35%10=5 beats c: 14%10=4 and b: 21%10=1)
    val df = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("source", "n_tok")
    val got = Sampling.allocateTokenBudget(df, "source", "n_tok", budget = 7L)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("a", 5L, 4L), ("b", 3L, 2L), ("c", 2L, 1L)))
  }

  test("allocateTokenBudget: equal remainders tie-break by name and sum to budget") {
    import spark.implicits._
    val df = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("source", "n_tok")
    val got = Sampling.allocateTokenBudget(df, "source", "n_tok", budget = 10L)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // 10/3: base 3 each, remainder 1/3 each — the single extra goes to 'x'
    assert(got === Seq(("x", 1L, 4L), ("y", 1L, 3L), ("z", 1L, 3L)))
    assert(got.map(_._3).sum === 10L)
  }

  test("allocateTokenBudget sums to budget under skewed weights") {
    import spark.implicits._
    val df = (1 to 17).map(i => (f"s$i%02d", (i.toLong * i * 7919) % 1000 + 1))
      .toDF("source", "n_tok")
    val got = Sampling.allocateTokenBudget(df, "source", "n_tok", budget = 99999L)
      .as[(String, Long, Long)].collect()
    assert(got.map(_._3).sum === 99999L)
    assert(got.forall(_._3 >= 0L))
  }

  test("allocateTokenBudget matches a driver-side reference on seeded random instances") {
    import spark.implicits._
    // independent exact-integer reference for Hamilton apportionment
    def ref(weights: Seq[(String, Long)], budget: Long): Map[String, Long] = {
      val t = weights.map(_._2).sum
      val base = weights.map { case (g, w) => (g, budget * w / t, budget * w % t) }
      val extra = (budget - base.map(_._2).sum).toInt
      val bumped = base.sortBy { case (g, _, r) => (-r, g) }.take(extra).map(_._1).toSet
      base.map { case (g, b, _) => g -> (b + (if (bumped(g)) 1L else 0L)) }.toMap
    }
    val rng = new scala.util.Random(7)
    for (c <- 1 to 8) {
      val nGroups = 1 + rng.nextInt(12)
      val weights = (1 to nGroups).map(i => (f"g$i%02d", 1L + rng.nextInt(1000)))
      val budget = 1L + rng.nextInt(10000)
      val got = Sampling.allocateTokenBudget(
          weights.toDF("source", "n_tok"), "source", "n_tok", budget)
        .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      assert(got === ref(weights, budget), s"case $c: weights=$weights budget=$budget")
    }
  }

  test("nbQualityFilter fits the Bernoulli counts and scores in fixed term order") {
    import spark.implicits._
    // np=2 nn=2; term "x": dp=2 dn=0 — hand-computable Laplace ratios
    val df = Seq((1L, "x y", true), (2L, "x", true),
      (3L, "y", false), (4L, "z", false)).toDF("doc_id", "text", "lbl")
    val got = TextAnalysis.nbQualityFilter(df, "doc_id", "text", col("lbl"), Seq("x"))
      .as[(Long, Boolean, Double, Boolean)].collect().sortBy(_._1).toSeq
    val present = math.rint((math.log(2.0 / 2.0) +
      math.log((3.0 / 4.0) / (1.0 / 4.0))) * 1e4) / 1e4   //  ln 3
    val absent = math.rint((math.log(2.0 / 2.0) +
      math.log((1.0 - 3.0 / 4.0) / (1.0 - 1.0 / 4.0))) * 1e4) / 1e4 // -ln 3
    assert(got === Seq(
      (1L, true, present, true), (2L, true, present, true),
      (3L, false, absent, false), (4L, false, absent, false)))
  }

  test("nbQualityFilter learns a real signal: long-doc label from word presence") {
    import spark.implicits._
    // longer docs contain more distinct words — presence features carry
    // genuine signal for the length label, so train accuracy must beat
    // the base rate by a margin
    val docs = (1 to 200).map { i =>
      val n = 1 + (i * 7919) % 20
      val words = (0 until n).map(j => s"w${(i * 31 + j * 17) % 25}")
      (i.toLong, words.mkString(" "), n > 10)
    }.toDF("doc_id", "text", "lbl")
    val terms = (0 until 25).map(j => s"w$j")
    val scored = TextAnalysis.nbQualityFilter(docs, "doc_id", "text", col("lbl"), terms)
    val acc = scored.where(col("weak_label") === col("predicted")).count().toDouble / 200
    val base = math.max(scored.where(col("weak_label")).count(),
      scored.where(!col("weak_label")).count()).toDouble / 200
    assert(acc > base + 0.1, s"NB accuracy $acc should beat base rate $base")
  }

  test("redactPii counts on the original text and replaces in pattern order") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at a.b+c@ex-ample.co.uk or call 555-123-4567 now"),
      (2L, "server at 10.0.200.7 and 192.168.1.1; no mail"),
      (3L, "nothing sensitive here"),
      (4L, "two mails x@y.org z@w.io and dotted phone 800.555.1234")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(df, "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got(0) === ((1L, 1L, 1L, 0L, "mail me at [EMAIL] or call [PHONE] now")))
    assert(got(1) === ((2L, 0L, 0L, 2L, "server at [IP] and [IP]; no mail")))
    assert(got(2) === ((3L, 0L, 0L, 0L, "nothing sensitive here")))
    assert(got(3) === ((4L, 2L, 1L, 0L, "two mails [EMAIL] [EMAIL] and dotted phone [PHONE]")))
  }
}
