package graft.model

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalStatsSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private lazy val li = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  }

  private lazy val model = StatsCollector.collectTable(li, "lineitem", 0L)
  private lazy val anchors = IncrementalStats.anchorsFor(model)
    .view.filterKeys(Set("l_extendedprice", "l_quantity", "l_discount")).toMap

  private def key(r: org.apache.spark.sql.Row) = r.getAs[String]("measure")

  test("merge of shard synopses equals the whole-table synopsis bit-for-bit") {
    val whole = IncrementalStats.synopsize(li, anchors)
    val parts = (0 until 3).map(i =>
      IncrementalStats.synopsize(li.where(pmod(col("l_orderkey"), lit(3)) === i), anchors))
    val merged = IncrementalStats.merge(parts.reduce(_ unionAll _))

    val w = whole.collect().map(r => key(r) -> r).toMap
    val m = merged.collect().map(r => key(r) -> r).toMap
    assert(w.keySet == m.keySet && w.nonEmpty)
    for ((k, wr) <- w) {
      val mr = m(k)
      for (f <- Seq("n", "nulls"))
        assert(wr.getAs[Long](f) == mr.getAs[Long](f), s"$k.$f")
      for (f <- Seq("vmin", "vmax"))
        assert(wr.getAs[Double](f) == mr.getAs[Double](f), s"$k.$f")
      // the decimal moment sums must be EXACTLY equal — addition of the
      // identically-quantized per-row terms is associative
      for (f <- Seq("s1", "s2", "s3", "s4"))
        assert(wr.getDecimal(wr.fieldIndex(f)).compareTo(
          mr.getDecimal(mr.fieldIndex(f))) == 0, s"$k.$f")
      assert(wr.getSeq[Long](wr.fieldIndex("hist")) ==
        mr.getSeq[Long](mr.fieldIndex("hist")), s"$k.hist")
    }
    // the union's estimate tracks the one-shot sketch closely (the
    // Datasketches union can promote the register representation, so
    // bit-equality is NOT guaranteed — only estimate agreement)
    val we = IncrementalStats.finalize(IncrementalStats.merge(whole))
    val me = IncrementalStats.finalize(merged)
    for (k <- we.keys)
      assert(math.abs(we(k).distinctEst - me(k).distinctEst) <=
        0.01 * we(k).distinctEst, s"$k.hll")
  }

  test("finalize matches the two-scan collector's statistics") {
    val stats = IncrementalStats.finalize(
      IncrementalStats.merge(IncrementalStats.synopsize(li, anchors)))
    for ((k, s) <- stats) {
      val ref = model.columnsByName(k).stats.get
      val num = ref.numeric.get
      assert(s.n == ref.total - ref.nulls && s.nulls == ref.nulls, k)
      assert(s.min == num.min && s.max == num.max, k)
      assert(math.abs(s.mean - num.mean) <= 1e-9 * math.max(1.0, math.abs(num.mean)), k)
      assert(math.abs(s.varSamp - num.variance) <=
        1e-9 * math.max(1.0, math.abs(num.variance)), s"$k var")
      assert(math.abs(s.skew - num.skewness) <= 1e-6, s"$k skew")
      assert(math.abs(s.kurt - num.kurtosis) <= 1e-6, s"$k kurt")
      // sketch estimate within the usual band of the exact count
      assert(math.abs(s.distinctEst - ref.distinct) <= 0.05 * ref.distinct, s"$k nd")
      assert(s.hist.sum == s.n, s"$k hist mass")
    }
  }

  test("values outside the bootstrap anchor range stay exact") {
    // anchor from the LOW half only, then synopsize both halves — the
    // high half's u values exceed 1; sums must still merge exactly
    val split = 30000.0
    val lowAnchor = Map("l_extendedprice" ->
      (model.columnsByName("l_extendedprice").stats.get.numeric.get.min, split))
    val low = IncrementalStats.synopsize(li.where(col("l_extendedprice") < split), lowAnchor)
    val high = IncrementalStats.synopsize(li.where(col("l_extendedprice") >= split), lowAnchor)
    val whole = IncrementalStats.synopsize(li, lowAnchor)
    val m = IncrementalStats.merge(low.unionAll(high)).collect().head
    val wr = whole.collect().head
    for (f <- Seq("s1", "s2", "s3", "s4"))
      assert(wr.getDecimal(wr.fieldIndex(f)).compareTo(
        m.getDecimal(m.fieldIndex(f))) == 0, f)
    // the open top bucket absorbed the out-of-range mass
    assert(m.getSeq[Long](m.fieldIndex("hist")).sum == m.getAs[Long]("n"))
  }

  test("grouped one-pass synopsis equals the per-shard scans") {
    val perShard = (0 until 3).map(i =>
      IncrementalStats.synopsize(li.where(pmod(col("l_orderkey"), lit(3)) === i), anchors)
        .withColumn("shard", lit(i.toString)))
      .reduce(_ unionAll _).collect()
      .map(r => (r.getAs[String]("shard"), r.getAs[String]("measure")) -> r).toMap
    val grouped = IncrementalStats.synopsizeGrouped(li,
        pmod(col("l_orderkey"), lit(3)), anchors).collect()
      .map(r => (r.getAs[String]("shard"), r.getAs[String]("measure")) -> r).toMap
    assert(grouped.keySet == perShard.keySet && grouped.size == 3 * anchors.size)
    for ((key, gr) <- grouped) {
      val pr = perShard(key)
      for (f <- Seq("n", "nulls"))
        assert(gr.getAs[Long](f) == pr.getAs[Long](f), s"$key.$f")
      for (f <- Seq("s1", "s2", "s3", "s4"))
        assert(gr.getDecimal(gr.fieldIndex(f)).compareTo(
          pr.getDecimal(pr.fieldIndex(f))) == 0, s"$key.$f")
      assert(gr.getSeq[Long](gr.fieldIndex("hist")) ==
        pr.getSeq[Long](pr.fieldIndex("hist")), s"$key.hist")
    }
  }

  test("mixed anchor generations are refused at finalize") {
    val a1 = Map("l_quantity" -> (1.0, 49.0))
    val a2 = Map("l_quantity" -> (0.0, 60.0))
    val s1 = IncrementalStats.synopsize(li, a1)
    val s2 = IncrementalStats.synopsize(li, a2)
    val ex = intercept[IllegalArgumentException] {
      IncrementalStats.finalize(IncrementalStats.merge(s1.unionAll(s2)))
    }
    assert(ex.getMessage.contains("anchor generations"))
  }
}
