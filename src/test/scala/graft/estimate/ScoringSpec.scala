package graft.estimate

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Distributed workload scoring must reproduce the driver-side
  * encode→z-score→predict pipeline exactly, keep unparseable rows
  * (bucket −1) instead of dropping them, and stay shuffle-free — the
  * whole point of the broadcast-checkpoint design.
  */
class ScoringSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def col(name: String, t: DType) = ColumnModel(name, t,
    Some(ColumnStats(1000, 0, 100, index = false,
      if (t == DType.Str) None else Some(NumericStats(1, 50, 100, 1, 0, 0)),
      if (t == DType.Str) Some(StringStats(NumericStats(1, 5, 9, 1, 0, 0),
        NumericStats(1, 2, 3, 0, 0, 0))) else None)))

  // three tables: a 2-table schema has exactly one joinable pair, so
  // the MSCN join-id encoding would be zero bits wide (bitsFor(1) = 0)
  // — a degenerate shape no real schema produces
  private val db = DbModel(Seq(
    TableModel("ta", Seq(col("id", DType.Number), col("x", DType.Float))),
    TableModel("tb", Seq(col("id", DType.Number), col("y", DType.Float))),
    TableModel("tc", Seq(col("id", DType.Number), col("z", DType.Float)))))

  private val sqls = Seq(
    "SELECT MIN(ta.x) FROM ta WHERE ta.id > 10",
    "SELECT MIN(tb.y) FROM tb WHERE tb.id < 5",
    "SELECT MIN(ta.x) FROM ta, tb WHERE ta.id = tb.id",
    "SELECT MIN(ta.id) FROM ta WHERE ta.x > 2")
  private val labels = Seq(0, 2, 1, 0)

  test("scoreWorkload matches driver-side predictions, keeps bad rows, no shuffle") {
    val Dim = 203
    def enc(sql: String): Array[Array[Double]] =
      graft.encode.SetEncoders.flatMatrix(db, sql).map(_.padTo(Dim, 0.0))

    // per-dimension train-timestep moments, like the sweep's z-score
    val steps = sqls.flatMap(enc)
    val mean = Array.tabulate(Dim)(i => steps.map(_(i)).sum / steps.size)
    val std = Array.tabulate(Dim) { i =>
      val v = steps.map(r => math.pow(r(i) - mean(i), 2)).sum / steps.size
      math.max(1e-6, math.sqrt(v))
    }
    def z(seq: Array[Array[Double]]): Array[Array[Double]] =
      seq.map(r => Array.tabulate(Dim)(i => (r(i) - mean(i)) / std(i)))

    val fitted = Gru.fit(sqls.map(s => (z(enc(s)), 0)).zip(labels).map {
      case ((seq, _), label) => (seq, label) },
      Gru.Config(inputDim = Dim, hidden = 8, classes = 3,
        lr = 5e-3, epochs = 5, batch = 2, seed = 42L))

    val dir = java.nio.file.Files.createTempDirectory("scoring").toString
    ModelIo.saveGru(s"$dir/gru.json", fitted, Some((mean, std)))
    val modelJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/gru.json"))
    val statsJson = ModelJson.toJson(db)

    import spark.implicits._
    val workload = (sqls :+ "SELECT MIN(nope.z) FROM nope").toDF("sql")
    val scored = Scoring.scoreWorkload(spark, workload, "sql",
      modelJson, statsJson)

    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"),
      "scoring must be a narrow map — no shuffle")

    val rows = scored.collect().map(r =>
      r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    sqls.foreach { s =>
      val expected = fitted.predict(z(enc(s)))
      assert(rows(s)._1 == expected, s"bucket mismatch for $s")
      assert(rows(s)._2 == math.pow(2.0, expected))
    }
    val (badBucket, badEst) = rows("SELECT MIN(nope.z) FROM nope")
    assert(badBucket == -1, "unbindable SQL must keep its row with bucket -1")
    assert(badEst.isNaN)
  }

  test("scoreWorkloadAny matches driver-side v20 gru4 tree predictions") {
    val Dim = 203
    def tree(sql: String): Gru4.Tree = {
      val (parents, vecs) = graft.encode.SetEncoders.treeWithParents(db, sql)
      Gru4.fromParents(parents, vecs.map(_.padTo(Dim, 0.0)))
    }
    val fitted = Gru4.fit(sqls.map(tree).zip(Seq(0.0, 2.0, 1.0, 0.5)),
      Gru4.Config(inputDim = Dim, hidden = 8, headHidden = 8,
        lr = 5e-3, epochs = 5, batch = 2, seed = 42L))

    val dir = java.nio.file.Files.createTempDirectory("scoring4").toString
    ModelIo.saveGru4(s"$dir/gru4.json", fitted, norm = None)
    val modelJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/gru4.json"))

    import spark.implicits._
    val workload = (sqls :+ "SELECT MIN(nope.z) FROM nope").toDF("sql")
    val scored = Scoring.scoreWorkloadAny(spark, workload, "sql",
      modelJson, ModelJson.toJson(db))
    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"))

    val rows = scored.collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    sqls.foreach { s =>
      val expected = fitted.predict(tree(s))
      assert(rows(s)._1 == expected, s"log2 mismatch for $s")
      assert(rows(s)._2 == math.pow(2.0, expected))
    }
    assert(rows("SELECT MIN(nope.z) FROM nope")._1.isNaN)
  }

  test("scoreWorkloadAny serves every persisted family through one surface") {
    val Dim = 203
    val dir = java.nio.file.Files.createTempDirectory("scoringAny").toString
    val statsJson = ModelJson.toJson(db)
    def flat(sql: String): Array[Array[Double]] =
      graft.encode.SetEncoders.flatMatrix(db, sql).map(_.padTo(Dim, 0.0))
    def tree(sql: String): Gru4.Tree = {
      val (parents, vecs) = graft.encode.SetEncoders.treeWithParents(db, sql)
      Gru4.fromParents(parents, vecs.map(_.padTo(Dim, 0.0)))
    }
    val log2s = Seq(0.0, 2.0, 1.0, 0.5)

    // one tiny fitted checkpoint per remaining family (gru/gru4 have
    // dedicated tests above) — norm deliberately None so the test
    // isolates the kind dispatch, not the z-score plumbing (which the
    // gru test covers)
    ModelIo.saveTreeLstm(s"$dir/treelstm.json",
      TreeLstm.fit(sqls.map(tree).zip(log2s),
        TreeLstm.Config(inputDim = Dim, hidden = 6,
          lr = 5e-3, epochs = 3, batch = 2, seed = 42L)), norm = None)
    ModelIo.saveRelCnn(s"$dir/relcnn.json",
      RelCnn.fit(sqls.map(s => (flat(s), 0.0)).zip(log2s).map {
        case ((x, _), y) => (x, y) },
        RelCnn.Config(inputDim = Dim, filters = 4, headHidden = 4,
          lr = 5e-3, epochs = 3, batch = 2, seed = 42L)), norm = None)
    val mscnEnc = sqls.map(s => graft.encode.SetEncoders.encodeMscn(db, s))
    val (tf, pf, jf) = (mscnEnc.head.tables.head.length,
      mscnEnc.head.predicates.head.length,
      math.max(1, mscnEnc.head.joins.headOption.map(_.length).getOrElse(1)))
    ModelIo.saveMscn(s"$dir/mscn.json",
      Mscn.fit(mscnEnc.map(Mscn.sets).zip(Seq(1.0, 4.0, 2.0, 1.5)),
        Mscn.Config(tf, pf, jf, hidden = 8,
          lr = 1e-3, epochs = 3, batch = 2, seed = 42L)))
    val neoDim = Estimator.featurizeWith(db, sqls.head, "neo").length
    ModelIo.saveNeo(s"$dir/neonet.json",
      NeoNet.fit(sqls.map(s => (Estimator.featurizeWith(db, s, "neo"), 0.0))
        .zip(log2s).map { case ((x, _), y) => (x, y) },
        NeoNet.Config(inputDim = neoDim,
          lr = 1e-4, epochs = 3, batch = 2, seed = 42L)))

    import spark.implicits._
    val workload = (sqls :+ "SELECT MIN(nope.z) FROM nope").toDF("sql")
    for (family <- Seq("treelstm", "relcnn", "mscn", "neonet")) {
      val modelJson = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/$family.json"))
      val scored = Scoring.scoreWorkloadAny(spark, workload, "sql",
        modelJson, statsJson)
      assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"),
        s"$family scoring must stay a narrow map")
      val rows = scored.collect().map(r =>
        r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val local = Scoring.predictorFor(modelJson, statsJson)
      sqls.foreach { s =>
        assert(rows(s)._1 == local(s), s"$family log2 mismatch for $s")
        assert(rows(s)._2 == math.pow(2.0, local(s)))
      }
      assert(rows("SELECT MIN(nope.z) FROM nope")._1.isNaN,
        s"$family must keep unbindable rows")
    }

    // the bucket-classifier entry refuses a checkpoint of the wrong family
    val tlJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/treelstm.json"))
    intercept[IllegalArgumentException] {
      Scoring.scoreWorkload(spark, workload, "sql", tlJson, statsJson)
    }
  }
}
