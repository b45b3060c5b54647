package graft.lab

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

import graft.Tables
import graft.estimate.{Estimator, Evaluate}
import graft.gen.{BalancedCheckpoint, BalancedQueryGen}
import graft.model.StatsCollector

/** End-to-end workload campaign — the reference's full lifecycle in one
  * run (SURVEY §3.2 + §3.3): collect the stats model, generate a
  * runtime-balanced workload against REAL Spark execution, train the
  * estimator on measured runtimes, and report bucket metrics on a
  * HELD-OUT split (the reference's published band is held-out quality:
  * gerelt acc 0.836 / MAE 0.235 / F1 0.754, BASELINE.md — train-set
  * numbers would overstate a tree model trivially).
  *
  * Usage: `sbt 'runMain graft.lab.Campaign [sfDir] [nQueries] [checkpointPath]'`
  * With a checkpoint path, an interrupted campaign resumes from it
  * (guided.py:233-266 semantics) and the state is saved after generation.
  */
object Campaign {

  /** Crash-safe checkpoint write: serialize to a temp sibling, then
    * atomically rename over the target. A plain `Files.writeString`
    * truncates first, so a kill (or a concurrent reader) mid-write
    * could tear the ONLY copy of hours of measured runtimes — the
    * exact artifact the incremental checkpointing exists to protect.
    * With the rename, readers and restarts always see a complete
    * serialization: either the previous one or the new one.
    */
  private[lab] def saveCheckpoint(p: java.nio.file.Path, text: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  final case class Result(nMeasured: Int, nTrain: Int, nTest: Int,
                          trainAcc: Double, trainMae: Double, trainF1: Double,
                          testAcc: Double, testMae: Double, testF1: Double,
                          bucketCounts: Seq[Long] = Nil,
                          runtimes: Seq[Double] = Nil,
                          // held-out metrics in the REFERENCE's bucket
                          // space (Log2Partitioner clamps <=1s to bucket
                          // 0, partitioner.py:40-46) — the space its
                          // published band is scored in
                          testRefAcc: Double = 0.0, testRefMae: Double = 0.0,
                          testRefF1: Double = 0.0)

  /** Generate `n` measured queries at `sfDir`, train GBT on a
    * deterministic 3:1 split, evaluate both splits. The split hashes
    * the SQL text (not its position) so resumed campaigns produce the
    * same assignment.
    */
  def run(spark: SparkSession, sfDir: String, n: Int,
          checkpointPath: Option[String] = None,
          timeoutSec: Int = 60): Result = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    Tables.registerAll(spark, sfDir)

    println(s"[campaign] collecting stats model over $tables @ $sfDir")
    val db = StatsCollector.collect(spark, sfDir, tables)
    runOnModel(spark, db, n, checkpointPath, timeoutSec)
  }

  /** Campaign core against an already-collected model whose tables are
    * already registered as views — lets [[BandCampaign]] point it at a
    * scaled-up synthetic database instead of a driver sf directory.
    */
  def runOnModel(spark: SparkSession, db: graft.model.DbModel, n: Int,
                 checkpointPath: Option[String] = None,
                 timeoutSec: Int = 60, seed: Long = 42L,
                 budget: Option[String] = None): Result = {
    println(s"[campaign] balanced generation of $n measured queries")
    val executor = new Executor(spark, timeoutSec = timeoutSec)
    val cpPath = checkpointPath.map(Paths.get(_))
    // checkpoint INCREMENTALLY (before each new measurement) so a long
    // campaign killed mid-flight loses at most the in-flight query, not
    // hours of measured runtimes; `genRef` is assigned right after the
    // generator is built below. The caller's compute budget rides in
    // the header so CheckpointMerge can verify label comparability.
    var genRef: BalancedQueryGen = null
    val runner: String => Double = sql => {
      cpPath.foreach(p => if (genRef != null)
        saveCheckpoint(p, genRef.checkpoint.copy(budget = budget).serialize))
      executor.time(sql)
    }
    val gen = cpPath.filter(Files.exists(_)) match {
      case Some(p) =>
        println(s"[campaign] resuming from checkpoint $p")
        BalancedCheckpoint.restore(
          BalancedCheckpoint.deserialize(Files.readString(p)),
          db, runner, maxStepsPerGen = 15)
      case None =>
        new BalancedQueryGen(db, runner, maxStepsPerGen = 15, seed = seed)
    }
    genRef = gen
    val measured = gen.generate(n)
    cpPath.foreach { p =>
      saveCheckpoint(p, gen.checkpoint.copy(budget = budget).serialize)
      println(s"[campaign] checkpoint saved to $p")
    }
    println(s"[campaign] measured ${measured.size} runs; bucket counts: " +
      gen.counts.mkString("[", ",", "]"))

    val usable = measured.filter(_._2 > 0)
    val (test, train) = usable.partition { case (sql, _) => Evaluate.isHoldout(sql) }
    println(s"[campaign] training GBT on ${train.size} measured runtimes " +
      s"(holding out ${test.size})")
    val model = Estimator.train(spark, db, train, maxIter = 15)
    def preds(split: Seq[(String, Double)]) = split.map { case (sql, rt) =>
      (model.predictLog2(Estimator.featurize(db, sql)), math.log(rt) / math.log(2))
    }
    val (tAcc, tMae, tF1) = Estimator.evaluate(preds(train))
    val (hAcc, hMae, hF1) =
      if (test.nonEmpty) Estimator.evaluate(preds(test)) else (0.0, 0.0, 0.0)
    val (rAcc, rMae, rF1) =
      if (test.nonEmpty) Estimator.evaluate(preds(test), minBucket = 0)
      else (0.0, 0.0, 0.0)
    // bucket-balanced variant (training set only; see the gbt rows of
    // graft.estimate.Evaluate — +0.2 held-out macro-F1 at n=247): cyclic
    // oversampling of each ref-space bucket to the majority count
    // reweights the squared loss the reference's bucket-balanced
    // campaign had by construction
    if (test.nonEmpty) {
      val balanced = Evaluate.balance(train, Evaluate.refBucket)
      val bModel = Estimator.train(spark, db, balanced, maxIter = 40)
      val bPreds = test.map { case (sql, rt) =>
        (bModel.predictLog2(Estimator.featurize(db, sql)), math.log(rt) / math.log(2))
      }
      val (bAcc, bMae, bF1) = Estimator.evaluate(bPreds, minBucket = 0)
      println(f"[campaign] bucket-BALANCED heldout REF-SPACE: acc=$bAcc%.3f " +
        f"mae=$bMae%.3f f1=$bF1%.3f (train ${train.size}->${balanced.size})")
      // the neural family on the same measurements — an MLP classifying
      // the ref-space buckets directly (see Estimator.trainMlpOnFeatures)
      val mlp = Estimator.trainMlpOnFeatures(spark,
        train.map { case (sql, rt) => (Estimator.featurize(db, sql), rt) },
        hidden = Seq(32))
      val mPreds = test.map { case (sql, rt) =>
        (mlp.predictLog2(Estimator.featurize(db, sql)), math.log(rt) / math.log(2))
      }
      val (mAcc, mMae, mF1) = Estimator.evaluate(mPreds, minBucket = 0)
      println(f"[campaign] MLP heldout REF-SPACE: acc=$mAcc%.3f " +
        f"mae=$mMae%.3f f1=$mF1%.3f (bucket classifier; MAE is in bucket units)")
    }
    Result(usable.size, train.size, test.size, tAcc, tMae, tF1, hAcc, hMae, hF1,
      gen.counts.toSeq, usable.map(_._2), rAcc, rMae, rF1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val n = args.lift(1).map(_.toInt).getOrElse(25)
    val spark = graft.Session.local()
    val r = run(spark, sfDir, n, args.lift(2))
    println(f"[campaign] n=${r.nMeasured} train(${r.nTrain}): acc=${r.trainAcc}%.3f " +
      f"mae=${r.trainMae}%.3f f1=${r.trainF1}%.3f | heldout(${r.nTest}): " +
      f"acc=${r.testAcc}%.3f mae=${r.testMae}%.3f f1=${r.testF1}%.3f")
    spark.stop()
  }
}
