package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.estimate.Evaluate

/** The band-sweep helpers of [[Evaluate]]. The concurrency contract
  * [[Evaluate.parSeeds]] gives the seed ensembles: results come back in
  * seed order (a vote over per-seed prediction columns must line up with
  * the seeds list no matter which thread finished first), and a failing
  * fit fails the whole run instead of leaving a null ensemble member
  * behind.
  */
class SweepKitSpec extends AnyFunSuite {

  test("parSeeds preserves seed order regardless of completion order") {
    val seeds = Seq(1L, 2L, 3L, 4L)
    val out = Evaluate.parSeeds(seeds) { s =>
      Thread.sleep((5 - s) * 20) // later seeds finish first
      s * 10
    }
    assert(out == Seq(10L, 20L, 30L, 40L))
  }

  test("parSeeds matches the sequential map byte-for-byte") {
    val seeds = Seq(42L, 7L, 1234L)
    def fit(s: Long): Seq[Double] = {
      val rnd = new scala.util.Random(s)
      Seq.fill(16)(rnd.nextDouble())
    }
    assert(Evaluate.parSeeds(seeds)(fit) == seeds.map(fit))
  }

  test("classWeights: inverse frequency, capped, empty class -> 0") {
    // 8 examples of class 0, 2 of class 1, none of class 2
    val labels = Seq.fill(8)(0) ++ Seq.fill(2)(1)
    val w = Evaluate.classWeights(labels, classes = 3, cap = 10.0)
    assert(math.abs(w(0) - 10.0 / (3 * 8)) < 1e-12)
    assert(math.abs(w(1) - 10.0 / (3 * 2)) < 1e-12)
    assert(w(2) == 0.0, "an empty class must get weight 0, not infinity")
    // rarer class weighs more, proportionally to the inverse frequency
    assert(math.abs(w(1) / w(0) - 4.0) < 1e-12)
    // the cap binds on a near-empty class in a large population
    val extreme = Seq.fill(1000)(0) ++ Seq.fill(1)(1)
    val cw = Evaluate.classWeights(extreme, classes = 2, cap = 10.0)
    assert(cw(1) == 10.0, s"cap must bind, got ${cw(1)}")
  }

  test("augmentPerBucket expands rare buckets more than the majority") {
    import graft.model._
    def num(mn: Double, mx: Double) = NumericStats(mn, (mn + mx) / 2, mx, 1, 0, 0)
    def col(name: String, t: DType) = ColumnModel(name, t,
      Some(ColumnStats(1000, 0, 100, index = false,
        if (t == DType.Str) None else Some(num(1, 100)),
        if (t == DType.Str) Some(StringStats(num(1, 20), num(1, 3))) else None)))
    val db = DbModel(Seq(
      TableModel("ta", Seq(col("id", DType.Number), col("x", DType.Float))),
      TableModel("tb", Seq(col("id", DType.Number), col("y", DType.Float))),
      TableModel("tc", Seq(col("id", DType.Number), col("z", DType.Float)))))
    // 6 sub-second (bucket 0) queries, 1 forty-second (bucket 5) query
    // with enough joins/predicates to permute
    val majority = (1 to 6).map(i =>
      (s"SELECT MIN(ta.x) FROM ta WHERE ta.id > $i", 0.5))
    val tail = Seq(("SELECT MIN(ta.x) FROM ta, tb, tc " +
      "WHERE ta.id = tb.id AND tb.id = tc.id AND ta.x > 3 AND tc.z < 90", 40.0))
    val out = Evaluate.augmentPerBucket(majority ++ tail, db,
      capLimit = 8, holdout = Set.empty)
    val tailRows = out.count(_._2 == 40.0)
    val majRows = out.count(_._2 == 0.5)
    // majority limit = round(6/6) = 1 permutation per query; tail limit
    // = round(6/1) = 6 — the one expensive measurement multiplies
    assert(majRows == 6, s"majority bucket must stay ~unaugmented, got $majRows")
    assert(tailRows >= 3, s"tail query must expand into permutations, got $tailRows")
    // every augmented row keeps its source label
    assert(out.map(_._2).toSet == Set(0.5, 40.0))
  }

  test("parSeeds rethrows a member failure after all threads settle") {
    val hit = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Evaluate.parSeeds(Seq(1L, 2L, 3L)) { s =>
        hit.incrementAndGet()
        if (s == 2L) throw new IllegalStateException("fit died")
        s
      }
    }
    assert(e.getMessage == "fit died")
    assert(hit.get == 3) // the other members still ran to completion
  }
}
