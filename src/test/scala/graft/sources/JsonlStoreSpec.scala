package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** JSONL ingest/export boundary: lossless round-trip, malformed-line
  * capture instead of job death, and the corrupt-count gate.
  */
class JsonlStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private val docSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  test("round-trips documents losslessly, including JSON-hostile strings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain text", "en"),
      (2L, "line\nbreak and \"quotes\" and a \\ backslash", "en"),
      (3L, "unicode: żółć 中文 🙂 ", "pl"),
      (4L, null.asInstanceOf[String], "de"),
      (5L, "   leading/trailing ws   ", "en")
    ).toDF("doc_id", "text", "lang")
    val dir = Files.createTempDirectory("graft_jsonl_").toString
    JsonlStore.write(docs, dir)
    val back = JsonlStore.readChecked(spark, dir, docSchema)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("malformed lines surface in the corrupt column, clean rows bind") {
    val dir = Files.createTempDirectory("graft_jsonl_bad_").toString
    Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en"}""" + "\n" +
       """{"doc_id": 2, "text": "truncated""" + "\n" +
       """not json at all""" + "\n" +
       """{"doc_id": 3, "text": "also ok", "lang": "de"}""" + "\n")
        .getBytes("UTF-8"))
    val raw = spark.read
      .schema(docSchema.add(JsonlStore.CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", JsonlStore.CorruptCol)
      .json(dir).cache()
    assert(raw.where(col(JsonlStore.CorruptCol).isNotNull).count() == 2)
    assert(raw.where(col(JsonlStore.CorruptCol).isNull)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    raw.unpersist()
  }

  test("readChecked gates on the malformed-line budget") {
    val dir = Files.createTempDirectory("graft_jsonl_gate_").toString
    Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en"}""" + "\n" +
       """broken""" + "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      JsonlStore.readChecked(spark, dir, docSchema, maxCorrupt = 0L)
    }
    assert(e.getMessage.contains("malformed"))
    // with budget, the clean row comes through without the corrupt col
    val ok = JsonlStore.readChecked(spark, dir, docSchema, maxCorrupt = 1L)
    assert(ok.columns.toSeq == docSchema.fieldNames.toSeq)
    assert(ok.count() == 1L)
  }

  test("streaming ingest binds clean lines and quarantines malformed ones") {
    val dir = Files.createTempDirectory("graft_jsonl_stream_").toString
    Files.write(java.nio.file.Paths.get(dir, "shard-0.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en"}""" + "\n" +
       """garbage line""" + "\n" +
       """{"doc_id": 2, "text": "fine", "lang": "de"}""" + "\n")
        .getBytes("UTF-8"))
    val stream = JsonlStore.readStream(spark, dir, docSchema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("jsonl_in")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM jsonl_in").collect()
    assert(rows.count(r => r.getAs[String](JsonlStore.CorruptCol) == null) == 2)
    val bad = rows.filter(r => r.getAs[String](JsonlStore.CorruptCol) != null)
    assert(bad.length == 1 && bad.head.getAs[String](JsonlStore.CorruptCol).contains("garbage"))
  }

  test("compressed shards carry the codec extension") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_jsonl_gz_").toString
    JsonlStore.write(Seq((1L, "a", "en")).toDF("doc_id", "text", "lang"),
      dir, compression = Some("gzip"))
    val parts = new java.io.File(dir).listFiles().map(_.getName)
    assert(parts.exists(_.endsWith(".json.gz")), parts.mkString(","))
    assert(JsonlStore.readChecked(spark, dir, docSchema).count() == 1L)
  }
}
