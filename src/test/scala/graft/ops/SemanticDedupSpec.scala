package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.semanticDedup]] against an independent driver-side
  * reference: same Voronoi assignment, same within-cell threshold graph
  * closed with union-find, same least-centroid-cosine keep-rule — but
  * computed with plain Scala collections instead of DataFrames, so a
  * distributed-plan bug (lost edge, wrong tie-break, per-partition
  * nondeterminism) cannot hide in a shared implementation.
  */
class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  // the engine's decimal-exact dot: each product HALF_UP at scale 12,
  // summed exactly (graft.plans.DecimalDotProduct) — replicated here so
  // threshold/argmax comparisons cannot flip on summation-order ulps
  private def dot(a: Array[Float], b: Array[Float]): JBigDecimal =
    a.zip(b).foldLeft(JBigDecimal.ZERO) { case (acc, (x, y)) =>
      acc.add(JBigDecimal.valueOf(x.toDouble * y.toDouble)
        .setScale(12, RoundingMode.HALF_UP))
    }
  private def cos(a: Array[Float], b: Array[Float]): Double =
    dot(a, b).doubleValue() /
      (math.sqrt(dot(a, a).doubleValue()) * math.sqrt(dot(b, b).doubleValue()))

  test("semanticDedup == driver-side reference (assignment, groups, keep-rule)") {
    import spark.implicits._
    val rng = new Random(7)
    val centMod = 10
    val tau = 0.8
    // 8 base directions; most vectors are a jittered copy of one base, so
    // near-dup groups genuinely form inside cells
    val bases = Array.fill(8)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val vecs: Seq[(Long, Array[Float])] = (0 until 60).map { i =>
      val v =
        if (i % 5 == 4) Array.fill(16)(rng.nextFloat() * 2 - 1) // loners
        else bases(i % 8).map(x => x + (rng.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }
    val out = Similarity.semanticDedup(
        vecs.toDF("vec_id", "vec"), "vec_id", "vec",
        col("vec_id") % centMod === 0, tau)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap

    // reference: nearest centroid (cos DESC, cent id ASC)
    val byId = vecs.toMap
    val cents = vecs.collect { case (id, v) if id % centMod == 0 => (id, v) }
    val cell = vecs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
    }.toMap
    // union-find over within-cell threshold edges
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, va) <- vecs; (b, vb) <- vecs
         if a < b && cell(a) == cell(b) && cos(va, vb) >= tau) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val group = vecs.map { case (id, _) => id -> find(id) }.toMap
    val keeper = group.groupBy(_._2).map { case (g, members) =>
      g -> members.keys.minBy(id => (cos(byId(id), byId(cell(id))), id))
    }

    assert(out.size == vecs.size)
    vecs.foreach { case (id, v) =>
      val (oCell, oGroup, oCentCos, oKept) = out(id)
      assert(oCell == cell(id), s"id=$id cell $oCell != ${cell(id)}")
      assert(oGroup == group(id), s"id=$id group $oGroup != ${group(id)}")
      assert(math.abs(oCentCos - cos(v, byId(cell(id)))) < 5e-7,
        s"id=$id cent_cos $oCentCos != ${cos(v, byId(cell(id)))}")
      assert(oKept == (keeper(group(id)) == id), s"id=$id kept flag wrong")
    }
    // the fixture must actually exercise multi-member groups
    assert(group.values.groupBy(identity).values.exists(_.size >= 3),
      "fixture degenerated: no duplicate group with >= 3 members")
  }

  test("the persisted assignment feeds every consumer as a cache scan") {
    import spark.implicits._
    val rng = new Random(29)
    val dir = java.nio.file.Files.createTempDirectory("semspec").toString
    (0 until 120).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "vec")
      .write.mode("overwrite").parquet(s"$dir/vecs.parquet")
    // parquet-backed: a local relation would constant-fold and never
    // build the scans under test
    val df = spark.read.parquet(s"$dir/vecs.parquet")
    val out = Similarity.semanticDedup(df, "vec_id", "vec",
      col("vec_id") % 12 === 0, 0.5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the centroid-scoring crossJoin is the expensive subtree; both pair
    // sides, the labeling join, and the keep-rule aggregate must read
    // the persisted assignment, not recompute it
    val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cacheScans >= 2, s"expected >=2 cache scans, got $cacheScans in:\n$plan")
  }

  test("exactly one kept member per group, and it is the centroid-farthest") {
    import spark.implicits._
    val rng = new Random(13)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
    val out = Similarity.semanticDedup(
        vecs.toDF("vec_id", "vec"), "vec_id", "vec",
        col("vec_id") % 8 === 0, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    out.groupBy(_._2).foreach { case (g, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"group $g: ${kept.length} kept members")
      val expected = members.minBy(m => (m._3, m._1))
      assert(kept.head._1 == expected._1,
        s"group $g kept ${kept.head._1}, expected least-cent-cos ${expected._1}")
      assert(g == members.map(_._1).min, s"group label $g is not the min member id")
    }
  }
}
