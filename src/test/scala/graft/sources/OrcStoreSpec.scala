package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OrcStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("sorted ORC round-trip preserves rows and values") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc_").toString
    val df = (1L to 1000L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "s", "x")
    OrcStore.writeSorted(df, dir, "id", 4)
    val back = OrcStore.read(spark, dir)
    assert(back.count() === 1000L)
    assert(back.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
    // range partitioning by the sort key: each file's key interval is
    // disjoint, so file min/max stats can prune a range probe
    val perFile = back
      .select(col("id"), input_file_name().as("f"))
      .groupBy("f").agg(min("id").as("mn"), max("id").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length === 4)
    perFile.sliding(2).foreach { case Array((_, aMax), (bMin, _)) =>
      assert(aMax < bMin, s"overlapping file key ranges: $perFile")
    }
  }

  test("readWhereProven pushes an attribute predicate, rejects an unpushable one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc_").toString
    OrcStore.writeSorted((1L to 100L).toDF("id"), dir, "id", 2)
    val got = OrcStore.readWhereProven(spark, dir, col("id") >= 10 && col("id") < 20)
      .count()
    assert(got === 10L)
    // an arithmetic-wrapped predicate cannot become an ORC search
    // argument — the proof must fail loudly instead of scanning all rows
    val e = intercept[IllegalArgumentException] {
      OrcStore.readWhereProven(spark, dir, col("id") + 1 > 50)
    }
    assert(e.getMessage.contains("not pushed"))
  }
}
