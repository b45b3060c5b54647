package graft.lab

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.model.StatsCollector

/** Estimator-parity campaign in the REFERENCE's runtime band. The
  * reference trains on workloads whose measured runtimes span 1–256 s in
  * log2 buckets (its Log2Partitioner range); at the driver's sf0.1 every
  * generated query finishes sub-second, the label spread collapses to
  * 2–3 buckets, and macro-F1 has nothing to separate — the reason the
  * earlier sf0.1 campaign reported F1 0.583 against the 0.70–0.754 band.
  *
  * This main rebuilds the conditions the reference measured under:
  * [[DataGenerator.scale]] (G11) synthesizes a `factor`× database from
  * the sf0.1 stats model (row counts multiply, per-column distributions
  * hold), persists it as parquet, re-collects EXACT stats over the
  * scaled tables, and runs the balanced campaign against real Spark
  * execution — so measured runtimes occupy the positive log2 buckets and
  * the reported metrics are comparable to the published band.
  *
  * Usage: `sbt 'runMain graft.lab.BandCampaign [baseSfDir] [factor] [n] [workDir] [seed]'`
  * The scaled parquet is cached under workDir and reused across runs.
  *
  * `seed` (default 42) selects an INDEPENDENT generator stream with its
  * own checkpoint file (`campaign_x<f>_c<cpus>_s<seed>.cp` for non-42
  * seeds; the historical un-suffixed name for 42, so existing campaign
  * checkpoints keep resuming). Streams with different seeds draw
  * disjoint splitmix64 seed sequences, so several measurement JVMs can
  * run side by side — each still gets its full local[cpus] compute
  * budget on an idle host — and their checkpoints are merged for
  * training by [[graft.tools.CheckpointMerge]] (dedup by SQL text; the
  * CRC-byte holdout hashes the SQL, not the stream, so the split stays
  * stable across any merge order).
  */
object BandCampaign {

  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Phase 1 (full parallelism): synthesize the `factor`× database and
    * cache its exact stats model — campaign PREP, not the thing being
    * measured, so it runs on all cores whatever the measurement budget.
    * Idempotent: reruns at any compute budget skip straight to the
    * measurement phase. Returns the scaled directory.
    */
  private def ensureScaled(baseSfDir: String, factor: Double, workDir: String): String = {
    val scaledDir = s"$workDir/x${factor.toInt}"
    if (!Files.exists(Paths.get(s"$scaledDir/stats.json"))) {
      val prep = graft.Session.local(32)
      graft.Tables.registerAll(prep, baseSfDir)
      val baseDb = StatsCollector.collect(prep, baseSfDir, tables)
      if (!Files.exists(Paths.get(s"$scaledDir/_done"))) {
        println(s"[band] generating ${factor}x database under $scaledDir")
        DataGenerator.scale(prep, baseDb, factor).foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$scaledDir/$name.parquet")
        }
        Files.createDirectories(Paths.get(scaledDir))
        Files.writeString(Paths.get(s"$scaledDir/_done"), "ok")
      } else println(s"[band] reusing scaled database at $scaledDir")
      tables.foreach(t =>
        prep.read.parquet(s"$scaledDir/$t.parquet").createOrReplaceTempView(t))
      println(s"[band] collecting stats over the scaled tables")
      StatsCollector.collect(prep, scaledDir, tables,
        cachePath = Some(s"$scaledDir/stats.json"))
      prep.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    } else println(s"[band] reusing cached stats at $scaledDir/stats.json")
    scaledDir
  }

  /** Register the scaled tables as views on `spark` and return the
    * cached stats model (phase-2 setup).
    */
  private def openScaled(spark: SparkSession, scaledDir: String): graft.model.DbModel = {
    tables.foreach(t =>
      spark.read.parquet(s"$scaledDir/$t.parquet").createOrReplaceTempView(t))
    StatsCollector.collect(spark, scaledDir, tables,
      cachePath = Some(s"$scaledDir/stats.json"))
  }

  def main(args: Array[String]): Unit = {
    val baseSfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toDouble).getOrElse(40.0)
    val n = args.lift(2).map(_.toInt).getOrElse(48)
    val workDir = args.lift(3).getOrElse("/tmp/graft_band")
    val seed = args.lift(4).map(_.toLong).getOrElse(42L)
    // the MEASUREMENT compute budget. Shrinking it is the second lever
    // (after `factor`) for pushing runtimes into the reference's 1-256 s
    // band: the reference measured a single Postgres backend, so a
    // query's compute budget there was a couple of cores, not 32.
    val cpus = graft.Session.cpus
    val scaledDir = ensureScaled(baseSfDir, factor, workDir)

    // ---- phase 2 (budgeted): measure + train -----------------------
    println(s"[band] measurement session: local[$cpus]")
    val spark = graft.Session.local(cpus)
    val db = openScaled(spark, scaledDir)

    // 4. balanced campaign against real execution in the scaled world.
    // The checkpoint is keyed on the core count too: measured runtimes
    // are only comparable within one compute budget, so a 2-core
    // campaign must never resume from 32-core measurements.
    val cpName =
      if (seed == 42L) s"campaign_x${factor.toInt}_c$cpus.cp"
      else s"campaign_x${factor.toInt}_c${cpus}_s$seed.cp"
    val r = Campaign.runOnModel(spark, db, n,
      checkpointPath = Some(s"$workDir/$cpName"),
      timeoutSec = 300, seed = seed,
      budget = Some(s"x${factor.toInt}_c$cpus"))

    val positive = r.runtimes.count(_ >= 1.0)
    val buckets = r.runtimes.map(rt =>
      math.max(0, math.min(8, math.floor(math.log(math.max(rt, 1e-3)) / math.log(2)).toInt + 1)))
    val spanned = buckets.filter(_ >= 1).distinct.sorted
    println(f"[band] runtimes: n=${r.runtimes.size} >=1s: $positive " +
      f"min=${r.runtimes.min}%.2fs max=${r.runtimes.max}%.2fs " +
      s"positive-log2-buckets spanned=${spanned.mkString(",")}")
    println(f"[band] n=${r.nMeasured} train(${r.nTrain}): acc=${r.trainAcc}%.3f " +
      f"mae=${r.trainMae}%.3f f1=${r.trainF1}%.3f | heldout(${r.nTest}): " +
      f"acc=${r.testAcc}%.3f mae=${r.testMae}%.3f f1=${r.testF1}%.3f")
    println(f"[band] heldout in the reference's bucket space (<=1s -> bucket 0): " +
      f"acc=${r.testRefAcc}%.3f mae=${r.testRefMae}%.3f f1=${r.testRefF1}%.3f " +
      "(capacity sweep + learning curve: graft.estimate.Evaluate gbt)")
    spark.stop()
  }
}
