package graft.estimate

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The estimator must accept every encoder family as its feature input
  * (the reference's encoder-comparison axis) and keep each family's
  * width stable across queries.
  */
class EstimatorSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def col(name: String, t: DType) = ColumnModel(name, t,
    Some(ColumnStats(1000, 0, 100, index = false,
      if (t == DType.Str) None else Some(NumericStats(1, 50, 100, 1, 0, 0)),
      if (t == DType.Str) Some(StringStats(NumericStats(1, 5, 9, 1, 0, 0),
        NumericStats(1, 2, 3, 0, 0, 0))) else None)))

  private val db = DbModel(Seq(
    TableModel("ta", Seq(col("id", DType.Number), col("x", DType.Float))),
    TableModel("tb", Seq(col("id", DType.Number), col("y", DType.Float)))))

  private val sqls = Seq(
    "SELECT MIN(a.x) FROM ta AS a WHERE a.id > 3",
    "SELECT MIN(a.x) FROM ta AS a, tb AS b WHERE a.id = b.id AND b.y > 1.0",
    "SELECT MIN(b.y) FROM tb AS b WHERE b.id > 7")

  test("every family produces a stable per-family width") {
    for (family <- Seq("gerelt", "neo", "greq", "mscn")) {
      val widths = sqls.map(Estimator.featurizeWith(db, _, family).length).distinct
      assert(widths.size == 1, s"$family widths: $widths")
    }
    // neo: C(2,2)=1 join bit + 4 columns; greq: fixed 25 slots
    assert(Estimator.featurizeWith(db, sqls.head, "neo").length == 5)
    assert(Estimator.featurizeWith(db, sqls.head, "greq").length == 25)
    intercept[IllegalArgumentException](
      Estimator.featurizeWith(db, sqls.head, "nope"))
  }

  test("evaluate takes the MAE in the bucket space") {
    val label = math.log(0.05) / math.log(2)  // a 0.05 s query, log2 ≈ -4.32
    val (acc, mae, _) = Estimator.evaluate(Seq((0.0, label)), minBucket = 0)
    assert(acc == 1.0 && mae == 0.0, s"acc=$acc mae=$mae")
    // inside the range the MAE stays the raw log2 distance
    val (_, inRange, _) = Estimator.evaluate(Seq((1.5, 3.0), (9.0, 7.0)), minBucket = 0)
    assert(inRange == (1.5 + 1.0) / 2)
  }

  test("gerelt_v20 featurizes over the plan-merged tree and refuses to run plan-less") {
    import graft.lab.ExecOp
    def scan(t: String) = ExecOp("Scan", t, Nil, None)
    val plan = ExecOp("Join", "SortMerge Inner", Seq(scan("ta"), scan("tb")), None)
    val v20 = Estimator.featurizeWith(db, sqls(1), "gerelt_v20", Some(plan))
    val plain = Estimator.featurizeWith(db, sqls(1), "gerelt")
    assert(v20.length == plain.length, "v20 keeps the gerelt feature width")
    intercept[IllegalArgumentException](
      Estimator.featurizeWith(db, sqls(1), "gerelt_v20"))
  }

  test("GBT trains and predicts on each family") {
    val workload = sqls.zipWithIndex.map { case (s, i) => (s, 1.0 + i) }
    for (family <- Seq("gerelt", "neo", "greq")) {
      val t = Estimator.train(spark, db, workload, maxIter = 2, family = family)
      val p = t.predictLog2(Estimator.featurizeWith(db, sqls.head, family))
      assert(!p.isNaN)
    }
  }

  test("saved and reloaded models predict bit-identically") {
    val workload = sqls.zipWithIndex.map { case (s, i) => (s, 1.0 + i) }
    val t = Estimator.train(spark, db, workload, maxIter = 2)
    val path = java.nio.file.Files.createTempDirectory("graft_gbt_").toString + "/m"
    Estimator.save(t, path)
    val back = Estimator.load(path)
    sqls.foreach { s =>
      val f = Estimator.featurize(db, s)
      assert(back.predictLog2(f) == t.predictLog2(f))
    }
  }
}
