package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins the parse/quarantine contract for JSON payload columns. */
class SemiStructuredSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("valid payloads parse once; corrupt and null payloads quarantine") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": 8}"""),          // missing field -> null field, still ok
      (3L, """{not json"""),         // corrupt -> quarantined
      (4L, null.asInstanceOf[String]), // absent payload -> quarantined
      (5L, ""),                      // empty string -> quarantined
      (6L, "   "),                   // whitespace -> quarantined
      (7L, "null")                   // JSON null literal -> quarantined
    ).toDF("id", "props")
    val got = SemiStructured.parseJsonColumn(df, "props", "k INT, tag STRING")
      .selectExpr("id", "json_ok", "parsed.k", "parsed.tag")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)), Option(r.get(3)))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, true, Some(7), Some("a")),
      (2L, true, Some(8), None),
      (3L, false, None, None),
      (4L, false, None, None),
      (5L, false, None, None),
      (6L, false, None, None),
      (7L, false, None, None)))
  }

  test("nested schemas parse in the same single pass") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"u": {"id": 3, "tags": ["a", "b"]}, "n": 1.5}"""),
      (2L, """{"u": {"id": 4}, "n": "wrong-type"}""")).toDF("id", "props")
    val got = SemiStructured.parseJsonColumn(df, "props",
      "u STRUCT<id: BIGINT, tags: ARRAY<STRING>>, n DOUBLE")
      .selectExpr("id", "json_ok", "parsed.u.id AS uid", "parsed.u.tags[0]", "parsed.n")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1).toSeq
    assert(got.head == (1L, true, Some(3L), Some("a"), Some(1.5)))
    // a mis-typed FIELD quarantines the row (PERMISSIVE nulls the field
    // but fills the corrupt-record channel) — data-quality gates see it
    assert(got(1)._1 == 2L && !got(1)._2)
  }

  test("output name collisions fail fast") {
    import spark.implicits._
    val df = Seq((1L, "{}", true)).toDF("id", "props", "json_ok")
    assertThrows[IllegalArgumentException] {
      SemiStructured.parseJsonColumn(df, "props", "k INT")
    }
  }
}
