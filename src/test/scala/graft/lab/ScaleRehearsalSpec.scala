package graft.lab

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** The rehearsal corpus must be deterministic (same ids → same bytes)
  * and carry its planted near-dups at constant density, or the growth
  * numbers in SCALE.md measure noise.
  */
class ScaleRehearsalSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("synthetic corpus is deterministic across generations") {
    val a = ScaleRehearsal.syntheticDocs(spark, 100).orderBy("doc_id").collect()
    val b = ScaleRehearsal.syntheticDocs(spark, 100).orderBy("doc_id").collect()
    assert(a.map(_.getString(1)).toSeq == b.map(_.getString(1)).toSeq)
    val e1 = ScaleRehearsal.syntheticEmbeddings(spark, 50).orderBy("vec_id").collect()
    val e2 = ScaleRehearsal.syntheticEmbeddings(spark, 50).orderBy("vec_id").collect()
    assert(e1.map(_.getSeq[Float](1)).toSeq == e2.map(_.getSeq[Float](1)).toSeq)
  }

  test("planted near-dups: doc 50k+1 differs from 50k in exactly one word") {
    val docs = ScaleRehearsal.syntheticDocs(spark, 200).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(0L, 50L, 100L, 150L).foreach { k =>
      val orig = docs(k).split(" ")
      val dup = docs(k + 1).split(" ")
      assert(orig.length == dup.length)
      assert(orig.zip(dup).count { case (x, y) => x != y } == 1,
        s"docs $k/${k + 1} differ in more than one word")
    }
  }

  test("LSH band path recovers the planted near-dups") {
    val docs = ScaleRehearsal.syntheticDocs(spark, 500)
    val wide = Dedup.minhashSignaturesWide(docs, "doc_id", "text", k = 8, shingleN = 3)
    val pairs = Dedup.lshCandidates(Dedup.lshBandsWide(wide, "doc_id", 4, 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 500L by 50L).map(k => (k, k + 1)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${planted.diff(pairs)}")
  }

  test("planes knob tracks corpus size logarithmically") {
    assert(ScaleRehearsal.planesFor(500) == 4)
    assert(ScaleRehearsal.planesFor(5000) == 7)
    assert(ScaleRehearsal.planesFor(20000) == 9)
    assert(ScaleRehearsal.planesFor(10) == 3) // floor
  }
}
