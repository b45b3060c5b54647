package graft.tools

import java.nio.file.{Files, Paths}

import graft.estimate.Estimator
import graft.gen.BalancedCheckpoint
import graft.model.ModelJson

/** Offline re-train/evaluate over an ALREADY-MEASURED band campaign
  * checkpoint ([[graft.lab.BandCampaign]]): the measurement is the
  * 50-minute step; the GBT fit is seconds. This main sweeps model
  * capacity and reports held-out metrics in BOTH bucket spaces —
  * the diagnostic one (sub-second runtimes spread over buckets -3..0)
  * and the reference's (Log2Partitioner sends <=1 s to bucket 0,
  * partitioner.py:40-46, the space its published band is scored in) —
  * so the README parity table can quote numbers measured like the
  * reference measured them, without re-running a single query.
  *
  * Usage: `sbt 'runMain graft.tools.BandRetrain [checkpoint] [statsJson]'`
  */
object BandRetrain {

  def main(args: Array[String]): Unit = {
    val cpPath = args.lift(0).getOrElse("/root/repo/data/band/campaign_x160_c2.cp")
    val statsPath = args.lift(1).getOrElse("/root/repo/data/band/x160/stats.json")
    val cp = BalancedCheckpoint.deserialize(Files.readString(Paths.get(cpPath)))
    val db = ModelJson.fromJson(Files.readString(Paths.get(statsPath)))
    val usable = cp.results.filter(_._2 > 0)
    println(s"[retrain] ${usable.size} measured runtimes from $cpPath")

    val spark = graft.Session.local(8)

    // same stable 25% holdout as Campaign.runOnModel: low CRC byte
    val (test, train) = usable.partition { case (sql, _) =>
      val c = new java.util.zip.CRC32(); c.update(sql.getBytes("UTF-8"))
      (c.getValue & 0xff) < 64
    }
    println(s"[retrain] train=${train.size} heldout=${test.size}")
    def refBucket(rt: Double): Int =
      if (rt <= 1.0) 0
      else math.min(8, math.floor(math.log(rt) / math.log(2)).toInt)
    val dist = test.groupBy { case (_, rt) => refBucket(rt) }
      .toSeq.sortBy(_._1).map { case (b, xs) => s"$b:${xs.size}" }
    println(s"[retrain] heldout ref-bucket distribution: ${dist.mkString(" ")}")

    val feats = scala.collection.mutable.Map.empty[String, Array[Double]]
    def fz(sql: String): Array[Double] =
      feats.getOrElseUpdate(sql, Estimator.featurize(db, sql))
    train.foreach { case (s, _) => fz(s) }; test.foreach { case (s, _) => fz(s) }
    println(s"[retrain] featurized ${feats.size} distinct queries")

    // learning curve at fixed capacity: train on a measurement-order
    // prefix (what a shorter campaign would have had), evaluate on the
    // SAME full holdout — if metrics climb monotonically with n, the
    // band gap is sample count (the reference measured 100k queries,
    // guided.py:268), not the GBT substitution
    for (k <- Seq(train.size / 8, train.size / 4, train.size / 2,
                  train.size * 3 / 4, train.size).distinct) {
      val prefix = train.take(k)
      val model = Estimator.trainOnFeatures(spark,
        prefix.map { case (sql, rt) => (fz(sql), rt) }, maxIter = 80)
      val preds = test.map { case (sql, rt) =>
        (model.predictLog2(fz(sql)), math.log(rt) / math.log(2))
      }
      val (acc, mae, f1) = Estimator.evaluate(preds, minBucket = 0)
      println(f"[curve] n=$k%3d | heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
    }

    // bucket-balanced training: the balanced GENERATOR still yields a
    // bucket-0-heavy workload (sub-second queries are cheap to find), so
    // the squared loss on log2(runtime) is dominated by bucket-0 targets.
    // Deterministic cyclic oversampling of each bucket to the majority
    // count reweights the loss the way the reference's bucket-balanced
    // 100k campaign was weighted by construction (guided.py balance
    // target); holdout stays untouched and honest. Parameterized on the
    // bucket map because the GBT (continuous log2 target) balances in
    // ref space while the MLP must balance in its own LABEL space
    // (rounded log2) — the two differ for the upper half of each octave.
    def oversampleBy(bucketOf: Double => Int): Seq[(String, Double)] = {
      val byBucket = train.groupBy { case (_, rt) => bucketOf(rt) }
      val cap = byBucket.values.map(_.size).max
      byBucket.toSeq.sortBy(_._1).flatMap { case (_, xs) =>
        Iterator.continually(xs).flatten.take(cap).toSeq
      }
    }
    {
      val balanced = oversampleBy(refBucket)
      for (maxIter <- Seq(40, 80); maxDepth <- Seq(4, 5, 6)) {
        val model = Estimator.trainOnFeatures(spark,
          balanced.map { case (sql, rt) => (fz(sql), rt) }, maxIter = maxIter,
          maxDepth = maxDepth)
        val preds = test.map { case (sql, rt) =>
          (model.predictLog2(fz(sql)), math.log(rt) / math.log(2))
        }
        val (acc, mae, f1) = Estimator.evaluate(preds, minBucket = 0)
        println(f"[balanced] iter=$maxIter%3d depth=$maxDepth " +
          f"(train ${train.size}->${balanced.size}) " +
          f"| heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
      }
    }

    // the NEURAL family (Estimator.trainMlpOnFeatures): an MLP
    // classifying log2 buckets directly over the same gerelt features —
    // the public-MLlib stand-in for the reference's GRU. Oversampling
    // equalizes the MLP's OWN class labels (runtimeBucket), acting as
    // cross-entropy class reweighting.
    {
      val balanced = oversampleBy(rt => Estimator.runtimeBucket(rt, 0))
      for ((label, set) <- Seq("plain" -> train, "balanced" -> balanced);
           hidden <- Seq(Seq(32), Seq(64, 32))) {
        val m = Estimator.trainMlpOnFeatures(spark,
          set.map { case (sql, rt) => (fz(sql), rt) }, hidden = hidden)
        val preds = test.map { case (sql, rt) =>
          (m.predictLog2(fz(sql)), math.log(rt) / math.log(2))
        }
        val (acc, mae, f1) = Estimator.evaluate(preds, minBucket = 0)
        println(f"[mlp] $label%-8s hidden=${hidden.mkString("x")}%-5s " +
          f"| heldout REF-SPACE: acc=$acc%.3f mae=$mae%.3f f1=$f1%.3f")
      }
    }

    for (maxIter <- Seq(15, 40, 80); maxDepth <- Seq(4, 5, 6)) {
      val model = Estimator.trainOnFeatures(spark,
        train.map { case (sql, rt) => (fz(sql), rt) }, maxIter = maxIter,
        maxDepth = maxDepth)
      def preds(split: Seq[(String, Double)]) = split.map { case (sql, rt) =>
        (model.predictLog2(fz(sql)), math.log(rt) / math.log(2))
      }
      val (dAcc, dMae, dF1) = Estimator.evaluate(preds(test))
      val (rAcc, rMae, rF1) = Estimator.evaluate(preds(test), minBucket = 0)
      val (tAcc, _, tF1) = Estimator.evaluate(preds(train), minBucket = 0)
      println(f"[retrain] iter=$maxIter%3d depth=$maxDepth " +
        f"| heldout diag: acc=$dAcc%.3f mae=$dMae%.3f f1=$dF1%.3f " +
        f"| heldout REF-SPACE: acc=$rAcc%.3f mae=$rMae%.3f f1=$rF1%.3f " +
        f"| train ref: acc=$tAcc%.3f f1=$tF1%.3f")
    }
    spark.stop()
  }
}
