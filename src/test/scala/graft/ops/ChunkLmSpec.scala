package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-6 corpus operators: C4-style chunk-level dedup with document
  * reassembly, and the corpus-trained bigram-LM likelihood score. Tests
  * pin the exact semantics the DuckDB oracles (q79/q80) recompute.
  */
class ChunkLmSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("chunkDedup keeps first occurrence of a repeated chunk and reassembles") {
    import spark.implicits._
    // w=2 chunks: doc 1 -> [a b][c d], doc 2 -> [a b][x y], doc 3 -> [c d]
    // "a b" first occurs at (1,0); "c d" at (1,1) — doc 2 loses "a b",
    // doc 3 loses its only chunk but keeps its row with empty text
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d")
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs.repartition(3), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got === Seq(
      (1L, "a b c d", 2L, 2L),
      (2L, "x y", 2L, 1L),
      (3L, "", 1L, 0L)))
  }

  test("chunkDedup: ragged tail chunk, case folding, and tie to smallest doc") {
    import spark.implicits._
    // w=3 over 4 tokens -> chunks [p q r][s]; tail chunk "s" repeats in
    // doc 5 (same text, upper case) — smallest doc_id wins the tie
    val docs = Seq((5L, "P Q R S"), (4L, "p q r s")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got === Seq((4L, "p q r s", 2L, 2L), (5L, "", 2L, 0L)))
  }

  test("chunkDedup is partition-count independent") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w${i % 2} tail$i"))
      .toDF("doc_id", "text")
    val a = Dedup.chunkDedup(docs.repartition(1), "doc_id", "text", 2)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.chunkDedup(docs.repartition(7), "doc_id", "text", 2)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(intercept[IllegalArgumentException] {
      Dedup.chunkDedup(docs, "doc_id", "text", 0)
    }.getMessage.contains("chunk width"))
  }

  test("bigramLmScore matches a hand-computed corpus") {
    import spark.implicits._
    // corpus: "a b a b" and "a b"; bigrams: (a,b)x3, (b,a)x1
    // c2(a,b)=3 c2(b,a)=1; c1(a)=3 c1(b)=1; V=2 (words a,b); k=1
    // p(a,b)=(3+1)/(3+2)=0.8  p(b,a)=(1+1)/(1+2)=2/3
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val lp1 = math.rint(((2 * math.log(0.8) + math.log(2.0 / 3)) / 3) * 1e4) / 1e4
    val lp2 = math.rint(math.log(0.8) * 1e4) / 1e4
    assert(got === Seq((1L, 3L, lp1), (2L, 1L, lp2)))
  }

  test("bigramLmScore omits documents with fewer than two tokens") {
    import spark.implicits._
    val docs = Seq((1L, "only"), (2L, "two words")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text", 1.0)
      .select("doc_id").as[Long].collect().toSeq
    assert(got === Seq(2L))
  }

  test("chunkDedup plans as aggregates, never a corpus-wide window") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"a b c d w$i x$i")).toDF("doc_id", "text")
    val plan = Dedup.chunkDedup(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    // the C4 skew story: first-occurrence must be a map-side-combinable
    // aggregate; a Window over chunk_text would serialize hot chunks
    assert(!plan.contains("Window"), s"window operator in plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"no partial aggregation in plan:\n$plan")
  }

  test("bigramLmScore ranks an out-of-distribution doc below in-distribution ones") {
    import spark.implicits._
    // 20 docs share a tight phrase distribution; doc 99 wires rare
    // transitions — its likelihood must come out strictly lowest
    val common = (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val odd = Seq((99L, "dog the fox quick jumps brown lazy over the"))
    val docs = (common ++ odd).toDF("doc_id", "text")
    val scores = TextAnalysis.bigramLmScore(docs, "doc_id", "text", 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(99L) < (1L to 20L).map(scores).min)
  }
}
