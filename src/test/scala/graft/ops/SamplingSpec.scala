package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Split/sample assignments must be deterministic, partition-independent
  * functions of (salt, stratum, id) — the properties that make them safe
  * to recompute across runs and engines.
  */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def corpus = {
    import spark.implicits._
    (1 to 2000).map(i => (i.toLong, s"lang${i % 5}")).toDF("id", "lang")
  }

  test("deterministicSplit is stable under repartitioning and near target rates") {
    val a = Sampling.deterministicSplit(corpus, "id", "lang", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Sampling.deterministicSplit(corpus.repartition(13), "id", "lang", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b, "split changed under repartition")
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.80) < 0.05, s"train=${frac("train")}")
    assert(math.abs(frac("valid") - 0.10) < 0.03, s"valid=${frac("valid")}")
    // per-stratum rates hold too (stratification, not just global rate)
    val perLang = Sampling.deterministicSplit(corpus, "id", "lang", 80, 10)
      .groupBy("lang").agg(
        (sum(when(col("split") === "train", 1).otherwise(0)) / count(lit(1))).as("tr"))
      .collect().map(_.getDouble(1))
    perLang.foreach(tr => assert(math.abs(tr - 0.80) < 0.08, s"stratum train=$tr"))
  }

  test("different salts give independent splits") {
    val a = Sampling.deterministicSplit(corpus, "id", "lang", 50, 0, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Sampling.deterministicSplit(corpus, "id", "lang", 50, 0, salt = "s2")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val agree = a.count { case (k, v) => b(k) == v } / 2000.0
    assert(agree > 0.35 && agree < 0.65, s"salts not independent: agree=$agree")
  }

  test("stratifiedSample returns exactly m rows per stratum, deterministically") {
    val s1 = Sampling.stratifiedSample(corpus, "id", "lang", 7)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val s2 = Sampling.stratifiedSample(corpus.repartition(9), "id", "lang", 7)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(s1 == s2)
    val perStratum = s1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perStratum.values.forall(_ == 7), s"$perStratum")
    assert(perStratum.keySet.size == 5)
  }

  test("mixtureSample hits target multiplicities and stays deterministic") {
    val weights = Map("lang0" -> 2.5, "lang1" -> 0.25, "lang2" -> 0.0)
    val out = Sampling.mixtureSample(corpus, "id", "lang", weights)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 400 source rows per lang; expected 1000 / 100 / 0 / 400 / 400
    assert(counts.getOrElse("lang2", 0L) == 0L, "weight-0 domain not dropped")
    assert(math.abs(counts("lang0") - 1000L) < 60, s"lang0=${counts("lang0")}")
    assert(math.abs(counts("lang1") - 100L) < 40, s"lang1=${counts("lang1")}")
    assert(counts("lang3") == 400L && counts("lang4") == 400L,
      "default-weight domains must pass through exactly")
    // whole-part copies are guaranteed: every kept lang0 row appears >= 2x
    val lang0Copies = out.where(col("lang") === "lang0")
      .groupBy("id").count().collect().map(_.getLong(1))
    assert(lang0Copies.forall(c => c == 2L || c == 3L))
    // deterministic and partition-independent
    val again = Sampling.mixtureSample(corpus.repartition(17), "id", "lang", weights)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(again == out.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
  }

  test("temperatureSample: Hamilton allocation over sqrt weights, flattened shares") {
    import spark.implicits._
    // heavily skewed groups: 1600 / 300 / 80 / 20
    val skewed = ((1 to 1600).map(i => (i.toLong, "big")) ++
      (2001 to 2300).map(i => (i.toLong, "mid")) ++
      (3001 to 3080).map(i => (i.toLong, "small")) ++
      (4001 to 4020).map(i => (i.toLong, "tiny"))).toDF("id", "lang")
    val total = 500L
    val out = Sampling.temperatureSample(skewed, "id", "lang", total).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))

    // independent Hamilton reference over floor(sqrt(n)*1e6) in BigInt
    val ns = Map("big" -> 1600L, "mid" -> 300L, "small" -> 80L, "tiny" -> 20L)
    val iw = ns.map { case (g, n) => g -> BigInt(math.floor(math.sqrt(n.toDouble) * 1e6).toLong) }
    val t = iw.values.sum
    val base = iw.map { case (g, w) => g -> (w * total / t) }
    val rem = iw.map { case (g, w) => g -> (w * total % t) }
    val extra = total - base.values.sum.toLong
    val order = rem.toSeq.sortBy { case (g, r) => (-r, g) }.map(_._1)
    val expectAlloc = base.map { case (g, b) =>
      g -> (b.toLong + (if (order.indexOf(g) < extra) 1L else 0L))
    }
    val gotAlloc = out.groupBy(_._2).map { case (g, rows) => g -> rows.head._5 }
    assert(gotAlloc == expectAlloc, s"alloc $gotAlloc != reference $expectAlloc")
    assert(expectAlloc.values.sum == total, "Hamilton must hit the total exactly")

    // per group: exactly min(alloc, n) rows, contiguous ranks from 1
    out.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.length == math.min(expectAlloc(g), ns(g)).toInt,
        s"$g emitted ${rows.length}, alloc ${expectAlloc(g)}, n ${ns(g)}")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"$g ranks not contiguous")
    }
    // flattening: under sqrt weighting the dominant group's share must
    // sit strictly between its proportional share and uniform
    val bigShare = expectAlloc("big").toDouble / total
    assert(bigShare < 1600.0 / 2000.0 && bigShare > 0.25,
      s"big share $bigShare not flattened")
    // deterministic and partition-independent
    val again = Sampling.temperatureSample(skewed.repartition(13), "id", "lang", total)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(again == out.map(r => (r._1, r._3)).toSet)
  }

  test("temperatureSample caps an over-allocated tiny group at its size") {
    import spark.implicits._
    // tiny group upweighted beyond its row count: sqrt flattening with a
    // large total forces alloc(tiny) > n(tiny)
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1004).map(i => (i.toLong, "tiny"))).toDF("id", "lang")
    val out = Sampling.temperatureSample(df, "id", "lang", 400L)
      .collect().map(r => (r.getString(1), r.getLong(4)))
    val tinyRows = out.count(_._1 == "tiny")
    val tinyAlloc = out.find(_._1 == "tiny").map(_._2).getOrElse(0L)
    assert(tinyAlloc > 4, s"fixture degenerated: tiny alloc $tinyAlloc not over-allocated")
    assert(tinyRows == 4, s"tiny emitted $tinyRows rows, must cap at group size 4")
  }
}
