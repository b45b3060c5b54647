package graft.estimate

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.BalancedCheckpoint
import graft.model._

/** The estimator evaluation end to end on a tiny synthetic campaign:
  * every family runs, writes its artifacts and models only under the
  * output directory, and every saved model, reloaded through the
  * serving path ([[Scoring.predictorFor]]), reproduces the held-out
  * predictions the run computed in memory — the encode→normalize→forward
  * chain is the same on both sides. A failing seed fails the run.
  */
class EvaluateSpec extends AnyFunSuite {

  private lazy val spark = graft.LocalSpark.session()

  private def num(mn: Double, mx: Double) = NumericStats(mn, (mn + mx) / 2, mx, 1, 0, 0)
  private def col(name: String, t: DType) = ColumnModel(name, t,
    Some(ColumnStats(1000, 0, 100, index = false, Some(num(1, 100)), None)))
  private val db = DbModel(Seq(
    TableModel("ta", Seq(col("id", DType.Number), col("x", DType.Float))),
    TableModel("tb", Seq(col("id", DType.Number), col("y", DType.Float))),
    TableModel("tc", Seq(col("id", DType.Number), col("z", DType.Float)))))

  /** 60 measured queries: one, two and three tables, runtimes spread
    * over buckets 0..5 (0.4 s to 40 s). */
  private val measured: Seq[(String, Double)] = (0 until 60).map { i =>
    val sql = i % 3 match {
      case 0 => s"SELECT MIN(ta.x) FROM ta WHERE ta.x > ${i + 1}"
      case 1 => s"SELECT MIN(ta.x) FROM ta, tb WHERE ta.id = tb.id AND tb.y < ${i + 10}"
      case _ => "SELECT MIN(ta.x) FROM ta, tb, tc WHERE ta.id = tb.id " +
        s"AND tb.id = tc.id AND ta.x > ${i % 7 + 1} AND tc.z < ${i + 20}"
    }
    (sql, 0.4 * math.pow(2.0, i % 6 + (i % 5) * 0.1))
  }

  /** A temp dir holding the checkpoint and stats model. */
  private def campaign(): (Path, String, String) = {
    val dir = Files.createTempDirectory("evaluate_")
    val cp = dir.resolve("campaign.cp")
    Files.writeString(cp, BalancedCheckpoint(42L, iterations = measured.size,
      produced = measured.size, counts = Seq.fill(9)(0L), results = measured,
      lastSql = None).serialize)
    val stats = dir.resolve("stats.json")
    Files.writeString(stats, ModelJson.toJson(db))
    (dir, cp.toString, stats.toString)
  }

  private def files(root: Path): Set[String] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).map(root.relativize(_).toString)
      .toArray.map(_.toString).toSet
    finally s.close()
  }

  test("every family writes under its output dir and its saved models serve") {
    val (dir, cp, stats) = campaign()
    val repoBand = Paths.get("data/band")
    def bandListing = if (Files.isDirectory(repoBand))
      files(repoBand).map(f => f -> Files.getLastModifiedTime(repoBand.resolve(f))).toMap
    else Map.empty
    val bandBefore = bandListing
    val r = Evaluate.run(Evaluate.Families.toSet, cp, stats, dir.toString, () => spark)

    assert(r.heldout.nonEmpty && r.heldout.size < measured.size)
    val reports = Set("v20", "v20_refspace", "v20_capacity", "treelstm", "relcnn",
      "mscn", "neonet", "gru", "tailweight").map(f => s"REPORT_$f.md")
    val models = Set("gru4", "gru4_h96", "gru4_h128", "treelstm", "relcnn", "mscn",
      "neonet", "gru").map(m => s"models/$m.json")
    assert(files(dir) == Set("campaign.cp", "stats.json", "LEARNING_CURVE.md") ++
      reports ++ models)
    assert(bandListing == bandBefore, "the run wrote into the repo's data/band")

    assert(r.saved.keySet == models.map(m => s"$dir/$m"))
    val statsJson = Files.readString(Paths.get(stats))
    r.saved.foreach { case (path, inMemory) =>
      val predict = Scoring.predictorFor(Files.readString(Paths.get(path)), statsJson)
      assert(r.heldout.map { case (sql, _) => predict(sql) } == inMemory,
        s"$path does not reproduce its run's held-out predictions")
    }
  }

  test("a failing seed fails the run and reports no ensemble") {
    val (dir, cp, stats) = campaign()
    // the last seed saves the model: a directory in the way fails it
    Files.createDirectories(dir.resolve("models/treelstm.json"))
    intercept[java.io.IOException] {
      Evaluate.run(Set("treelstm"), cp, stats, dir.toString, () => spark)
    }
    assert(!Files.exists(dir.resolve("REPORT_treelstm.md")))
  }

  test("an unknown family is refused before any work") {
    val (dir, cp, stats) = campaign()
    val e = intercept[IllegalArgumentException] {
      Evaluate.run(Set("v20", "gru"), cp, stats, dir.toString, () => spark)
    }
    assert(e.getMessage.contains("unknown families gru"))
    assert(files(dir) == Set("campaign.cp", "stats.json"))
  }
}
