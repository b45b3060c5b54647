package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions: inverted index, context windows, weighted
  * sampling, exact-substring dup spans, and edit-distance pair
  * verification. Tests pin the exact deterministic semantics the DuckDB
  * oracles recompute.
  */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("invertedIndex emits df/cf and doc-ordered postings") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "b a"), (3L, "c c b")).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs, "doc_id", "text", 1L, 100)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == Map(
      "a" -> ((2L, 3L, "1:2,2:1")),
      "b" -> ((3L, 3L, "1:1,2:1,3:1")),
      "c" -> ((2L, 3L, "1:1,3:2"))))
  }

  test("invertedIndex minDf filters and maxPostings caps (smallest ids kept)") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "b a"), (3L, "c c b")).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs.repartition(3), "doc_id", "text", 3L, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // df/cf stay exact over ALL docs; only the materialized list truncates
    assert(got.toSeq == Seq(("b", 3L, 3L, "1:1,2:1")))
  }

  test("contextWindows cuts full windows at stride steps; short doc emits one") {
    import spark.implicits._
    val ten = (0 until 10).map(i => s"T$i").mkString(" ") // uppercase: lowering checked
    val docs = Seq((1L, ten), (2L, "A b")).toDF("doc_id", "text")
    val got = TextAnalysis.contextWindows(docs, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 6L, 4L, "t6 t7 t8 t9"),
      (2L, 0L, 0L, 2L, "a b")))
  }

  test("contextWindows rejects non-positive window/stride") {
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.contextWindows(docs, "doc_id", "text", 0, 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.contextWindows(docs, "doc_id", "text", 4, 0)
    }
  }

  test("weightedSample matches the brute-force priority order and is repartition-stable") {
    import spark.implicits._
    val rows = (1L to 100L).map(id => (id, if (id == 50L) 1000000000L else 1L + id % 3))
    val df = rows.toDF("doc_id", "w")
    val expect = rows.map { case (id, w) =>
      val u = PortableHash.hash60Value(s"wsamp:$id") % (1L << 50)
      (id, u.toDouble / w.toDouble)
    }.sortBy(x => (x._2, x._1)).take(5).map(_._1)
    val got = Sampling.weightedSample(df, "doc_id", "w", 5)
      .collect().map(_.getLong(0))
    assert(got.sorted.toSeq == expect.sorted.toSeq)
    // the heavy row's priority is ~1e9 times smaller: it must be sampled
    assert(got.contains(50L))
    val again = Sampling.weightedSample(df.repartition(7), "doc_id", "w", 5)
      .collect().map(_.getLong(0))
    assert(again.sorted.toSeq == got.sorted.toSeq, "not repartition-stable")
  }

  test("weightedSample excludes non-positive weights") {
    import spark.implicits._
    val df = Seq((1L, 0L), (2L, -5L), (3L, 1L)).toDF("doc_id", "w")
    val got = Sampling.weightedSample(df, "doc_id", "w", 10).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(3L))
  }

  test("dupSpans computes interval-union coverage of corpus-duplicated grams") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefgh"),          // grams abcd/bcde/cdef shared with doc 2
      (2L, "xxabcdefzz"),        // dup at positions 2,3,4
      (3L, "zzzzzzzz"),          // self-repetition: every gram identical
      (4L, "ab"),                // shorter than l: zero positions
      (5L, "unique wrds here!"), // nothing shared, nothing self-repeated
      (6L, "")                   // zero-length: ratio pinned to 0.0, not NaN
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(docs.repartition(3), "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // doc1: dup starts 0,1,2 -> 4 + 1 + 1 = 6 covered chars of 8
    assert(got(1L) == ((8L, 5L, 3L, 6L, 0.75)))
    // doc2: dup starts 2,3,4 -> 6 covered of 10
    assert(got(2L) == ((10L, 7L, 3L, 6L, 0.6)))
    // doc3: "zzzz" occurs at all 5 starts -> whole doc covered
    assert(got(3L) == ((8L, 5L, 5L, 8L, 1.0)))
    assert(got(4L) == ((2L, 0L, 0L, 0L, 0.0)))
    assert(got(5L) == ((17L, 14L, 0L, 0L, 0.0)))
    assert(got(6L) == ((0L, 0L, 0L, 0L, 0.0)))
  }

  test("dupSpans rejects degenerate gram lengths") {
    import spark.implicits._
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.dupSpans(docs, "doc_id", "text", 1)
    }
  }

  test("editDistancePairs verifies LSH candidates with the exact DP distance") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val near1 = "alpha beta gamma delta epsilon zeta eta theta"
    val near2 = "alpha beta gamma delta epsilon zeta eta thetb" // 1 edit
    val far = "wholly unrelated content with nothing in common anywhere"
    val docs = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        k = 8, shingleN = 3, bands = 4, maxDistFrac = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == ((lev(near1, near2).toLong, near1.length.toLong)))
  }
}
