package graft.lab

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

class DataGeneratorSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("generated table matches model stats (rows, ranges, nulls, histogram shape)") {
    val model = StatsCollector.collectTable(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"), "orders", 0L)
    val gen = DataGenerator.generateTable(spark, model, 5000L)
    assert(gen.count() == 5000L)
    assert(gen.schema.fieldNames.toSet == model.columns.map(_.name).toSet)

    val stats = StatsCollector.collectTable(gen, "orders_gen", 0L)
    val src = model.columnsByName("o_totalprice").stats.get.numeric.get
    val out = stats.columnsByName("o_totalprice").stats.get.numeric.get
    assert(out.min >= src.min - 1 && out.max <= src.max + 1)
    // histogram-faithful: mean within 10% of the model's
    assert(math.abs(out.mean - src.mean) / src.mean < 0.1,
      s"mean drifted: ${out.mean} vs ${src.mean}")
    // key column regenerated as dense monotonic ids
    val keys = stats.columnsByName("o_orderkey").stats.get
    assert(keys.distinct.toDouble >= 5000 * 0.95)
  }

  test("string-kind inference: categorical vs pattern") {
    val cat = ColumnStats(1000, 0, 5, index = false,
      string = Some(StringStats(NumericStats(8, 9, 10, 1, 0, 0), NumericStats(1, 1, 1, 0, 0, 0))))
    assert(DataGenerator.inferStringKind(cat) == "categorical")
    val pat = ColumnStats(1000, 0, 900, index = false,
      string = Some(StringStats(NumericStats(5, 9, 20, 4, 0, 0), NumericStats(1, 1.5, 2, 0, 0, 0))))
    assert(DataGenerator.inferStringKind(pat) == "pattern")
  }

  test("scale produces proportional row counts") {
    val db = DbModel(Seq(
      StatsCollector.collectTable(
        spark.read.parquet("/root/testdata/sf0.001/nation.parquet"), "nation", 0L)))
    val scaled = DataGenerator.scale(spark, db, 4.0)
    assert(scaled("nation").count() == 100) // 25 * 4
  }

  test("generation is deterministic for a fixed model") {
    val db = StatsCollector.collectTable(
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"), "region", 0L)
    val a = DataGenerator.generateTable(spark, db, 50L).collect().map(_.toString).sorted
    val b = DataGenerator.generateTable(spark, db, 50L).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
