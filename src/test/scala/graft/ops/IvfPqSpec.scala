package graft.ops

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ contract: the coarse quantizer only RESTRICTS which pairs are
  * scored — every emitted distance must be bit-identical to the plain
  * full-scan PQ/ADC distance for the same pair — and the candidate set
  * is exactly the probed cells' members, never the whole corpus.
  */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  private val m = 4
  private val subDim = 4

  private def corpus() = {
    import spark.implicits._
    val rng = new Random(7)
    (0L until 240L).map(i => (i, Array.fill(m * subDim)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("IVF-PQ distances equal full-scan PQ/ADC distances on the shared pairs") {
    val df = corpus()
    val cent = col("vec_id") % 16 === 0
    val code = col("vec_id") % 12 === 0
    val query = col("vec_id") % 40 === 0
    val full = Similarity.pqAdcTopK(df, "vec_id", "embedding",
        code, query, m, subDim, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfPqTopK(df, "vec_id", "embedding",
        cent, code, query, m, subDim, k = 1000, nprobe = 2)
      .collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full.contains(key), s"pair $key emitted by IVF-PQ but not scored by full PQ")
      assert(full(key) == r.getDouble(2),
        s"pair $key: ivf adc ${r.getDouble(2)} != full adc ${full(key)}")
    }
  }

  test("candidates are exactly the probed cells' members (scan restriction is real)") {
    val df = corpus()
    val cent = col("vec_id") % 16 === 0
    val code = col("vec_id") % 12 === 0
    val query = col("vec_id") % 40 === 0
    // ground-truth cells + probes from the one-shot IVF path's own parts
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", cent)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // with k unbounded, the emitted pair set IS the candidate set
    val pairs = Similarity.ivfPqTopK(df, "vec_id", "embedding",
        cent, code, query, m, subDim, k = 100000, nprobe = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQuery = pairs.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (qid, ps) =>
      val cells = ps.map(p => assigned(p._2)).toSet
      assert(cells.size <= 2, s"query $qid drew candidates from ${cells.size} cells (nprobe=2)")
      // restriction is strict: some corpus member outside the probed
      // cells exists and was NOT scored
      val probed = ps.map(_._2).toSet
      val outside = assigned.keys.filterNot(id => cells.contains(assigned(id)) || id == qid)
      assert(outside.nonEmpty && outside.forall(!probed.contains(_)),
        s"query $qid scored vectors outside its probed cells")
    }
  }
}
