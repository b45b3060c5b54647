package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BloomSketch

/** Mergeable-synopsis operators: the bloom-prefiltered contamination
  * path must be EXACTLY the plain path (the filter only routes data),
  * HLL estimates must sit inside their error band and merge losslessly,
  * and CMS point queries must respect the one-sided over-count bound.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def docs() = {
    import spark.implicits._
    // 40 docs over a tiny vocabulary so train/eval share many shingles
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    (1L to 40L).map { i =>
      val t = (0 until 12).map(j => words(((i * 7 + j * 3) % 31 % words.size).toInt))
      (i, t.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("bloomContamination matches ngramContamination exactly") {
    val d = docs()
    val pred = col("doc_id") % 5 === 0
    val plain = Dedup.ngramContamination(d, "doc_id", "text", pred, 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bloom = Sketches.bloomContamination(d, "doc_id", "text", pred, 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(bloom == plain)
    assert(plain.nonEmpty && plain.exists(r => r(2).asInstanceOf[Long] > 0L))
  }

  test("bloomContamination stays exact when the filter saturates (worst-case fpp)") {
    // fpp→0.5 with the bit floor (64) forces heavy false positives on
    // the train side; the exact join must absorb every one of them
    val d = docs()
    val pred = col("doc_id") % 5 === 0
    val plain = Dedup.ngramContamination(d, "doc_id", "text", pred, 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bloom = Sketches.bloomContamination(d, "doc_id", "text", pred, 3, fpp = 0.49)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(bloom == plain)
  }

  test("bloomContamination handles an empty eval side") {
    val d = docs()
    val out = Sketches.bloomContamination(d, "doc_id", "text", lit(false), 3)
    assert(out.count() == 0L)
  }

  test("bloom prefilter drops non-candidate rows before any exchange") {
    // the might_contain test must sit BELOW the first shuffle of the
    // train branch: find it in the executed plan and assert no Exchange
    // appears beneath it (the whole point is that non-candidates never
    // travel)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE wraps stages; walk through them but stop at the cache boundary
    // (the persisted base's own repartition is caller-chosen layout, not
    // contamination data movement)
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: InMemoryTableScanExec => Nil
      case other => other.children
    }).flatMap(flatten)
    val d = docs()
    val out = Sketches.bloomContamination(d, "doc_id", "text", col("doc_id") % 5 === 0, 3)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val withBloom = flatten(plan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("might_contain") => f
    }
    assert(withBloom.nonEmpty, s"no might_contain filter in:\n$plan")
    val shufflesBelow = flatten(withBloom.head).drop(1).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shufflesBelow.isEmpty,
      s"bloom filter runs above a shuffle — prefilter is not scan-side:\n$plan")
  }

  test("hll shard sketches estimate within the band and merge losslessly") {
    import spark.implicits._
    // 4 shards × 2500 distinct values, half shared across shards so the
    // global distinct (4×1250 unique + 1250 shared = 6250) differs from
    // the per-shard sum (10000)
    val rows = (0 until 4).flatMap { s =>
      (0 until 2500).map { i => (s, if (i < 1250) s * 10000L + i else 100000L + i) }
    }
    val df = rows.toDF("shard", "v").repartition(7)
    val sk = Sketches.hllShardSketches(df, "shard", "v", lgK = 12)
    val per = sk.select("shard", "estimate").as[(Int, Long)].collect().toMap
    assert(per.size == 4)
    per.values.foreach(e => assert(math.abs(e - 2500.0) / 2500.0 < 0.05, s"per-shard est $e"))
    val merged = Sketches.hllMergedEstimate(sk).head.getLong(0)
    assert(math.abs(merged - 6250.0) / 6250.0 < 0.05, s"merged est $merged")
    // determinism across partitionings: sketches are hash-based, union is
    // order-insensitive
    val merged2 = Sketches.hllMergedEstimate(
      Sketches.hllShardSketches(df.repartition(3), "shard", "v", lgK = 12)).head.getLong(0)
    assert(merged == merged2)
  }

  test("bloomJoin equals the plain join, even with a saturated filter") {
    import spark.implicits._
    val big = (1L to 5000L).map(i => (i % 500, i)).toDF("k", "v")
    val small = Seq((7L, "a"), (13L, "b"), (490L, "c"), (9999L, "d")).toDF("sk", "tag")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "sk", "tag").collect().map(_.toSeq).toSet
    val plain = norm(big.join(small, big("k") === small("sk")))
    assert(plain.nonEmpty)
    assert(norm(Sketches.bloomJoin(big, small, "k", "sk")) == plain)
    // worst-case fpp: the floor-sized filter passes most keys; the join
    // still discards every false positive
    assert(norm(Sketches.bloomJoin(big, small, "k", "sk", fpp = 0.49)) == plain)
    // empty small side -> empty result, same schema
    val empty = Sketches.bloomJoin(big, small.where(lit(false)), "k", "sk")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v", "sk", "tag"))
  }

  test("bloomAntiJoin equals the plain anti-join, even with a saturated filter") {
    import spark.implicits._
    val big = (1L to 5000L).map(i => (i % 500, i)).toDF("k", "v")
    val small = Seq(7L, 13L, 490L, 9999L).toDF("sk")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(_.toSeq).toSet
    val plain = norm(big.join(small, big("k") === small("sk"), "left_anti"))
    assert(plain.nonEmpty && plain.size < 5000)
    assert(norm(Sketches.bloomAntiJoin(big, small, "k", "sk")) == plain)
    // saturated filter: every row routes through the exact anti branch,
    // but no clean row may be lost and no blocked row may survive
    assert(norm(Sketches.bloomAntiJoin(big, small, "k", "sk", fpp = 0.49)) == plain)
    // empty blocklist removes nothing
    assert(norm(Sketches.bloomAntiJoin(big, small.where(lit(false)), "k", "sk")) == norm(big))
  }

  test("profile reports exact counts per column with the HLL band satisfied") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 1.5), (2L, Some("b"), 1.5),
      (3L, None, 2.5), (4L, Some("a"), 3.5)
    ).toDF("id", "s", "d").repartition(3)
    val got = Sketches.profile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got("id") == ((4L, 0L, 4L, true)))
    assert(got("s") == ((4L, 1L, 2L, true)))   // nulls excluded from distinct
    assert(got("d") == ((4L, 0L, 3L, true)))   // double profiled via string cast
    // dotted column names must profile (generated aliases are
    // backtick-quoted, not parsed as struct accesses), and binary
    // columns sketch natively (invalid-UTF-8 values stay distinct)
    val dotted = df.withColumnRenamed("s", "a.b")
      .withColumn("bin", when($"id" % 2 === 0, lit(Array[Byte](-1)))
        .otherwise(lit(Array[Byte](-2))))
    val got2 = Sketches.profile(dotted).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got2("a.b") == ((2L, true)))
    assert(got2("bin") == ((2L, true)))
  }

  test("cms point estimates never undercount and respect the eps bound") {
    import spark.implicits._
    // zipf-ish: term t_k appears 1000/k times
    val rows = (1 to 50).flatMap(k => Seq.fill(1000 / k)(s"t_$k"))
    val df = rows.toDF("term").repartition(5)
    val n = rows.size
    val eps = 0.01
    val sketch = Sketches.cmsAgg(df, "term", eps, 0.99, seed = 42)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(1, 2, 7, 50)) {
      val est = Sketches.cmsEstimate(sketch, s"t_$k")
      val truth = exact(s"t_$k")
      assert(est >= truth, s"t_$k undercounted: $est < $truth")
      assert(est <= truth + math.ceil(eps * n).toLong, s"t_$k overcounted: $est vs $truth")
    }
    // determinism: same seed, different partitioning, same sketch answers
    val sketch2 = Sketches.cmsAgg(df.repartition(11), "term", eps, 0.99, seed = 42)
    assert(Sketches.cmsEstimate(sketch2, "t_1") == Sketches.cmsEstimate(sketch, "t_1"))
  }
}
