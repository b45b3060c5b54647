package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UpsertStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private def shardFiles(path: String): Map[String, Set[String]] =
    new File(path).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.lastModified}").toSet)
      .toMap

  test("upsert replaces, inserts, and leaves unhit shards byte-untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_").toString
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "payload")
    UpsertStore.writeKeyed(base, dir, "id", 8)
    val before = shardFiles(dir)
    assert(before.size === 8)

    // one replaced key + one new key — at most 2 shards hit
    val updates = Seq((7L, "v7-new"), (999L, "v999")).toDF("id", "payload")
    UpsertStore.upsert(spark, dir, updates, "id", 8)

    val got = UpsertStore.read(spark, dir).as[(Long, String)].collect().toMap
    assert(got.size === 201)
    assert(got(7L) === "v7-new")
    assert(got(999L) === "v999")
    assert(got(8L) === "v8")

    val after = shardFiles(dir)
    val changed = after.keySet.filter(s => before.get(s) != after.get(s))
    assert(changed.size <= 2, s"more shards rewritten than hit: $changed")
    // every unhit shard kept its exact files (name + mtime)
    (after.keySet -- changed).foreach(s => assert(after(s) === before(s)))
  }

  test("re-running the same upsert is idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_").toString
    UpsertStore.writeKeyed((1L to 50L).map(i => (i, i * 10)).toDF("id", "x"), dir, "id", 4)
    val updates = Seq((3L, 999L), (60L, 600L)).toDF("id", "x")
    UpsertStore.upsert(spark, dir, updates, "id", 4)
    val once = UpsertStore.read(spark, dir).orderBy("id").collect().toSeq
    UpsertStore.upsert(spark, dir, updates, "id", 4)
    val twice = UpsertStore.read(spark, dir).orderBy("id").collect().toSeq
    assert(once === twice)
  }

  test("duplicate keys in a batch are refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_").toString
    UpsertStore.writeKeyed((1L to 10L).map(i => (i, i)).toDF("id", "x"), dir, "id", 2)
    val e = intercept[IllegalArgumentException] {
      UpsertStore.upsert(spark, dir,
        Seq((5L, 1L), (5L, 2L)).toDF("id", "x"), "id", 2)
    }
    assert(e.getMessage.contains("duplicate keys"))
  }
}
