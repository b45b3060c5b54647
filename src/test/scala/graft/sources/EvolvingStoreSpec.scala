package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-evolution reads: the union schema must surface, pre-evolution
  * rows must read NULL in the new column, and the proof obligation must
  * catch a dropped column. */
class EvolvingStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("merged read unions shard schemas; old rows are NULL in the new column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_").toString
    EvolvingStore.appendShard(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir)
    EvolvingStore.appendShard(Seq((3L, 30.0, "new")).toDF("k", "v", "tag"), dir)
    val df = EvolvingStore.readMergedProven(spark, dir, Seq("k", "v", "tag"))
    assert(df.schema.fieldNames.toSet === Set("k", "v", "tag"))
    val rows = df.select("k", "tag").as[(Long, Option[String])].collect().sortBy(_._1)
    assert(rows === Seq((1L, None), (2L, None), (3L, Some("new"))))
  }

  test("proof obligation: expecting a column no shard carries fails the read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve2_").toString
    EvolvingStore.appendShard(Seq((1L, 1.0)).toDF("k", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      EvolvingStore.readMergedProven(spark, dir, Seq("k", "v", "ghost"))
    }
    assert(e.getMessage.contains("ghost"))
  }
}
