package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** BPE merge learning vs an independent driver-side reference
  * implementation of the Sennrich et al. 2016 pseudocode (dict-based,
  * no Spark) — the operator has no SQL-oracle form, so THIS is its
  * correctness anchor.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  /** Reference BPE: word-frequency dict, per round count adjacent pairs
    * weighted by frequency, merge the (count desc, pair asc) winner
    * left-to-right non-overlapping.
    */
  private def referenceBpe(corpus: Seq[String], nMerges: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = corpus
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, n) => (w.map(_.toString).toVector :+ Bpe.Eow) -> n }
    def mergeWord(w: Vector[String], a: String, b: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        if (i + 1 < w.length && w(i) == a && w(i + 1) == b) { out += (a + b); i += 2 }
        else { out += w(i); i += 1 }
      }
      out.toVector
    }
    (0 until nMerges).flatMap { rank =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, n) =>
        w.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      if (pairs.isEmpty) None
      else {
        val ((a, b), n) = pairs.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.groupBy { case (w, _) => mergeWord(w, a, b) }
          .view.mapValues(_.values.sum).toMap
        Some((rank, a, b, n))
      }
    }
  }

  test("learnMerges equals the reference merge sequence on a hand corpus") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "new new new")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnMerges(docs.repartition(3), "text", 8)
      .map { case (r, a, b, _, n) => (r, a, b, n) }
    val want = referenceBpe(corpus, 8)
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("learnMerges is deterministic under repartition and tie-broken lexicographically") {
    import spark.implicits._
    // every pair count ties at 1 -> winner must be the smallest (l, r):
    // ("a", "</w>") beats ("b", "a") and ("d", "c") on the left symbol
    val docs = Seq((1L, "ba"), (2L, "dc")).toDF("doc_id", "text")
    val got = Bpe.learnMerges(docs, "text", 2).map(m => (m._2, m._3))
    assert(got.head == (("a", Bpe.Eow)), s"lexicographic tie-break violated: $got")
    val a = Bpe.learnMerges(docs.repartition(7), "text", 2)
    val b = Bpe.learnMerges(docs.repartition(2), "text", 2)
    assert(a == b)
  }

  test("distributed rounds (driverVocabLimit = 0) equal the driver-side loop") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "new new new")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val driver = Bpe.learnMerges(docs, "text", 6)
    val dist = Bpe.learnMerges(docs.repartition(5), "text", 6, driverVocabLimit = 0L)
    assert(dist == driver)
  }

  test("learnMerges stops early when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a a a")).toDF("doc_id", "text")
    // "a</w>" merges once; the single-symbol words then have no pairs
    val got = Bpe.learnMerges(docs, "text", 10)
    assert(got.length == 1 && got.head._4 == ("a" + Bpe.Eow))
  }

  test("tokenize applies merges in rank order, left-to-right non-overlapping") {
    import spark.implicits._
    val docs = Seq((1L, "aaa ab")).toDF("doc_id", "text")
    // merges: (a,a) then (aa,a</w>)
    val toks = Bpe.tokenize(docs, "text",
        Seq(("a", "a"), ("aa", "a" + Bpe.Eow)))
      .select("bpe_tokens").as[Seq[String]].collect().head
    // "aaa" -> [a,a,a,</w>] -> [aa,a,</w>] -> merge (aa,a</w>) needs a</w>
    // as ONE symbol which never formed -> stays [aa,a,</w>]
    // "ab" -> [a,b,</w>] untouched
    assert(toks == Seq("aa", "a", Bpe.Eow, "a", "b", Bpe.Eow), toks.toString)
  }

  test("tokenize drops empty split artifacts from leading whitespace") {
    import spark.implicits._
    val docs = Seq((1L, "  ab")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(docs, "text", Seq(("a", "b")))
      .select("bpe_tokens").as[Seq[String]].collect().head
    // no phantom ["", "</w>"] from the leading-whitespace empty word
    assert(toks == Seq("ab", Bpe.Eow), toks.toString)
  }

  test("tokenize of the learned merges compresses the training corpus") {
    import spark.implicits._
    val corpus = Seq.fill(20)("the same sentence repeated here") ++
      Seq("rare words appear once")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 12).map(m => (m._2, m._3))
    val before = docs.select(org.apache.spark.sql.functions.expr(
      "sum(length(replace(text, ' ', '')) + size(split(text, '\\\\s+')))"))
      .collect().head.getLong(0) // chars + one </w> per word
    val after = Bpe.tokenize(docs, "text", merges)
      .agg(org.apache.spark.sql.functions.sum("n_bpe")).collect().head.getLong(0)
    assert(after < before, s"BPE did not compress: $after vs $before")
  }
}
