package graft.estimate

import org.scalatest.funsuite.AnyFunSuite

/** The MLP bucket classifier: learns a separable feature→bucket map,
  * standardizes features (wide-range raw slots must not break
  * training), and round-trips through save/load bit-identically.
  */
class MlpEstimatorSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  // separable synthetic workload: feature slot 0 is a huge-scale raw
  // count (1e6-ish, exercises standardization), slot 1 is noise; the
  // runtime is 2^(slot0 / 1e6) seconds → bucket == slot0 / 1e6
  private def synth(n: Int, seed: Long): Seq[(Array[Double], Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val b = rnd.nextInt(5) // buckets 0..4
      val f = Array(b * 1e6 + rnd.nextGaussian() * 1e4, rnd.nextGaussian())
      val rt = math.pow(2.0, b + 0.1) // safely inside floor(x+0.5) bucket b
      (f, rt)
    }
  }

  test("learns a separable bucket map through standardized features") {
    val train = synth(300, seed = 1L)
    val test = synth(60, seed = 2L)
    val m = Estimator.trainMlpOnFeatures(spark, train, hidden = Seq(16), seed = 42L)
    val acc = test.count { case (f, rt) =>
      m.predictBucket(f) == Estimator.runtimeBucket(rt, 0)
    }.toDouble / test.size
    assert(acc >= 0.95, s"held-out bucket accuracy $acc")
  }

  test("runtimeBucket matches evaluate's label space") {
    // evaluate buckets log2 via floor(x + 0.5) with a clamp — the MLP's
    // training labels must use the identical map
    for ((rt, want) <- Seq(0.4 -> 0, 1.0 -> 0, 1.5 -> 1, 2.9 -> 2, 300.0 -> 8))
      assert(Estimator.runtimeBucket(rt, 0) == want, s"rt=$rt")
    assert(Estimator.runtimeBucket(0.2, -3) == -2)
  }

  test("save/load round-trips predictions bit-identically") {
    val train = synth(120, seed = 3L)
    val m = Estimator.trainMlpOnFeatures(spark, train, hidden = Seq(8), seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("mlp").toString
    Estimator.saveMlp(m, dir)
    val back = Estimator.loadMlp(dir)
    assert(back.minBucket == m.minBucket)
    assert(back.mean.sameElements(m.mean) && back.scale.sameElements(m.scale))
    val probes = synth(40, seed = 4L)
    assert(probes.forall { case (f, _) => back.predictBucket(f) == m.predictBucket(f) })
  }
}
