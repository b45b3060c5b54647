package graft.tools

import java.nio.file.{Files, Paths}

import graft.estimate.Estimator
import graft.gen.BalancedCheckpoint
import graft.model.ModelJson

/** Capacity + seed-ensemble sweep for the NEURAL estimator family over an
  * already-measured band-campaign checkpoint — the follow-on to
  * [[BandRetrain]] once the MLP became the stronger family on the
  * full-band workload. Two levers [[BandRetrain]] doesn't touch:
  * hidden-layer width beyond 64×32, and majority-vote seed ensembling
  * (MLP fits on a ~1k-row set are seed-noisy; voting 3 seeds removes
  * variance no single wider net can). Same checkpoint, same CRC-byte
  * holdout, same reference bucket space — numbers drop into the README
  * parity table unchanged.
  *
  * Usage: `sbt 'runMain graft.tools.MlpSweep [checkpoint] [statsJson]'`
  */
object MlpSweep {

  def main(args: Array[String]): Unit = {
    val cpPath = args.lift(0).getOrElse("/root/repo/data/band/campaign_x160_c2.cp")
    val statsPath = args.lift(1).getOrElse("/root/repo/data/band/x160/stats.json")
    val cp = BalancedCheckpoint.deserialize(Files.readString(Paths.get(cpPath)))
    val db = ModelJson.fromJson(Files.readString(Paths.get(statsPath)))
    val usable = cp.results.filter(_._2 > 0)
    println(s"[sweep] ${usable.size} measured runtimes from $cpPath")

    val spark = graft.Session.local(8)

    val (test, train) = usable.partition { case (sql, _) =>
      val c = new java.util.zip.CRC32(); c.update(sql.getBytes("UTF-8"))
      (c.getValue & 0xff) < 64
    }
    println(s"[sweep] train=${train.size} heldout=${test.size}")
    val feats = scala.collection.mutable.Map.empty[String, Array[Double]]
    def fz(sql: String): Array[Double] =
      feats.getOrElseUpdate(sql, Estimator.featurize(db, sql))
    train.foreach { case (s, _) => fz(s) }; test.foreach { case (s, _) => fz(s) }

    // deterministic cyclic oversampling to the majority count, in the
    // MLP's OWN label space (BandRetrain's oversampleBy, inlined)
    val byBucket = train.groupBy { case (_, rt) => Estimator.runtimeBucket(rt, 0) }
    val cap = byBucket.values.map(_.size).max
    val balanced = byBucket.toSeq.sortBy(_._1).flatMap { case (_, xs) =>
      Iterator.continually(xs).flatten.take(cap).toSeq
    }

    val actuals = test.map { case (_, rt) => math.log(rt) / math.log(2) }
    def score(bucketsPerSeed: Seq[Seq[Int]]): (Double, Double, Double) = {
      // majority vote per test row; ties break to the LOWER bucket (the
      // same pessimism-free direction runtimeBucket's floor+0.5 rounds)
      val voted = bucketsPerSeed.transpose.map { votes =>
        votes.groupBy(identity).toSeq
          .maxBy { case (b, vs) => (vs.size, -b) }._1.toDouble
      }
      Estimator.evaluate(voted.zip(actuals), minBucket = 0)
    }

    val hiddens = Seq(Seq(32), Seq(64), Seq(128), Seq(64, 32), Seq(128, 64), Seq(96, 48))
    val seeds = Seq(42L, 7L, 1234L)
    for ((label, set) <- Seq("plain" -> train, "balanced" -> balanced);
         hidden <- hiddens) {
      val perSeed = SweepKit.parSeeds(seeds) { seed =>
        val m = Estimator.trainMlpOnFeatures(spark,
          set.map { case (sql, rt) => (fz(sql), rt) }, hidden = hidden, seed = seed)
        test.map { case (sql, _) => m.predictBucket(fz(sql)) }
      }
      for ((seed, buckets) <- seeds.zip(perSeed)) {
        val (acc, mae, f1) = score(Seq(buckets))
        println(f"[mlp1] $label%-8s hidden=${hidden.mkString("x")}%-6s seed=$seed%4d " +
          f"| heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
      }
      val (acc, mae, f1) = score(perSeed)
      println(f"[vote] $label%-8s hidden=${hidden.mkString("x")}%-6s seeds=${seeds.size} " +
        f"| heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
    }
    spark.stop()
  }
}
