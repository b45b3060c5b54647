package perfbench

import java.util.Locale

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.encode.Encoder
import graft.estimate.Estimator
import graft.gen.RandomQueryGen
import graft.ir.Frontend
import graft.lab.Executor
import graft.model.{DbModel, StatsCollector}

/** `estimator_loop`: the learned-estimator lifecycle on a new database.
  * Un-memoized stats collection, seeded random queries, parse, encode,
  * execute with plan capture, then featurize, train and predict.
  */
object EstimatorWorkload {
  val scale = "sf0.001"
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  /** Queries per pass by number of tables joined (the last bucket holds
    * four or more). Every seed draws the same mix, so seeds differ in the
    * queries, not in how much a pass joins.
    */
  val passMix: Seq[(Int, Int)] = Seq(1 -> 9, 2 -> 11, 3 -> 8, 4 -> 4)
  /** Generator draws allowed to fill the mix. */
  val maxDraws = 2000
  /** Boosting rounds of the trained estimator. */
  val trainIterations = 5

  def statsModel(spark: SparkSession, dir: String, names: Seq[String] = tables): DbModel =
    DbModel(names.map { t =>
      val path = s"$dir/$t.parquet"
      StatsCollector.collectTable(spark.read.parquet(path), t, new java.io.File(path).length)
    })

  final case class Generated(sqls: Seq[String], draws: Int, valid: Int, sqlDigest: Digest.Result,
                             encDigest: Digest.Result, encodedOk: Int)

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.9e", Double.box(d))

  /** The seeded queries of one pass, drawn until `mix` is filled, and the
    * digests that pin them. Each draw gets its generator seed from one
    * seeded stream: generators built from consecutive seeds pick nearly the
    * same number of tables.
    */
  def generate(db: DbModel, seed: Long, mix: Seq[(Int, Int)] = passMix): Generated = {
    val seeds = new scala.util.Random(seed)
    val left = mutable.LinkedHashMap(mix: _*)
    val widest = mix.map(_._1).max
    val sqls = mutable.ArrayBuffer.empty[String]
    var draws, valid = 0
    while (left.values.exists(_ > 0) && draws < maxDraws) {
      val q = new RandomQueryGen(db, seeds.nextLong()).randomize()
      draws += 1
      val k = math.min(widest, q.relations.size)
      if (q.valid) {
        valid += 1
        if (left.getOrElse(k, 0) > 0) { left(k) -= 1; sqls += q.toSql(pretty = false) }
      }
    }
    val encoded = sqls.toSeq.flatMap(sql => Try(Encoder.encodeQuery(db, sql)).toOption.map { tree =>
      tree.preorder.map(n => n.nodeType + ":" + n.vector.map(fmt).mkString(",")).mkString(";")
    })
    Generated(sqls.toSeq, draws, valid, Digest.of(sqls), Digest.of(encoded), encoded.size)
  }

  def run(ctx: Ctx): String = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val dir = s"${ctx.data}/$scale"
    val rec = new Recorder
    val errors = mutable.ArrayBuffer.empty[String]
    val spans = ctx.spans
    val executor = new Executor(spark, timeoutSec = 60)
    val confStart = spark.conf.getAll

    // set-up: session (timed by Main), table views, and an untimed warm
    // pass of the whole lifecycle on two tables and three queries
    val s0 = System.nanoTime()
    Tables.registerAll(spark, dir)
    val warmDb = statsModel(spark, dir, tables.take(2))
    val warm = generate(warmDb, -1L, Seq(1 -> 2, 2 -> 1)).sqls
    val warmFeats = warm.flatMap { sql =>
      Frontend.parseSql(sql, Some(warmDb))
      Try(executor.analyze(sql)).toOption.map(r => Estimator.featurize(warmDb, sql) -> r.seconds)
    }
    if (warmFeats.nonEmpty) {
      val m = Estimator.trainOnFeatures(spark, warmFeats, maxIter = trainIterations)
      warmFeats.foreach(f => m.predictLog2(f._1))
    }
    val setupS = ctx.sessionS + (System.nanoTime() - s0) / 1e9

    if (ctx.trace) {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      spans.enabled = true
    }
    val gc0 = Main.gcSeconds()
    val stage = mutable.LinkedHashMap.empty[String, Double]
    def timed[A](name: String, run: String)(body: => A): A = {
      Tags.set(sc, run, name, name)
      rec.open(run)
      val t0 = System.nanoTime()
      try spans(name, run)(body)
      finally {
        stage(name) = stage.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        rec.close(run)
        Tags.clear(sc)
      }
    }

    val p0 = System.nanoTime()
    val (db, gen, latencies, analyzeWall, preds) = spans("pass", "p0") {
      val db = timed("model.stats", "p0/stats")(statsModel(spark, dir))
      val gen = timed("gen.gen", "p0/gen")(generate(db, ctx.seed))
      timed("ir.parse", "p0/parse")(gen.sqls.foreach(sql => Frontend.parseSql(sql, Some(db))))
      timed("encode.encode", "p0/encode")(gen.sqls.foreach(sql => Try(Encoder.encodeQuery(db, sql))))
      val a0 = System.nanoTime()
      val runs = gen.sqls.zipWithIndex.map { case (sql, i) =>
        val t0 = System.nanoTime()
        val r = try Some(timed("lab.analyze", s"p0/q$i")(executor.analyze(sql)))
          catch { case NonFatal(e) => errors += s"q$i: $e"; None }
        (sql, r, (System.nanoTime() - t0) / 1e9)
      }
      val analyzeWall = (System.nanoTime() - a0) / 1e9
      val ok = runs.collect { case (sql, Some(r), s) => (sql, r, s) }
      val feats = timed("estimate.featurize", "p0/featurize")(
        ok.map { case (sql, r, _) => Estimator.featurize(db, sql) -> r.seconds })
      val model = timed("estimate.train", "p0/train")(
        Estimator.trainOnFeatures(spark, feats, maxIter = trainIterations))
      val preds = timed("estimate.predict", "p0/predict")(feats.map(f => model.predictLog2(f._1)))
      (db, gen, runs.map(r => (r._2.isDefined, r._3)), analyzeWall, preds)
    }
    val wallS = (System.nanoTime() - p0) / 1e9
    val gcS = Main.gcSeconds() - gc0
    val layers = if (!ctx.trace) null else {
      PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      spans.enabled = false
      Json.Raw(CatalogWorkload.layers(rec))
    }
    val heap = Main.heapAfterGcMb()
    // host-speed probe for traced runs: the trivial catalog items, first
    // touched and then timed once each
    val trivialS = if (!ctx.trace) 0.0 else {
      val queries = graft.SparkEntry.queries
      CatalogWorkload.trivial.foreach(n => queries(n)(spark, dir).count())
      CatalogWorkload.trivial.map { n =>
        val t0 = System.nanoTime()
        queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.sum
    }

    // correctness: the generated SQL and its encodings against the pins of
    // this seed (or, for an unpinned seed, of a pinned one), and finite
    // predictions
    val checkSeed =
      if (ctx.pins.sql.contains(ctx.seed)) ctx.seed
      else Pins.estimatorSeeds(math.floorMod(ctx.seed, Pins.estimatorSeeds.size.toLong).toInt)
    val checked = if (checkSeed == ctx.seed) gen else generate(db, checkSeed)
    val sqlOk = ctx.pins.sql.get(checkSeed).contains(checked.sqlDigest)
    val encOk = ctx.pins.enc.get(checkSeed).contains(checked.encDigest)
    val predOk = preds.nonEmpty && preds.forall(p => !p.isNaN && !p.isInfinite)
    if (!sqlOk) errors += s"seed $checkSeed: sql digest ${checked.sqlDigest} != pin ${ctx.pins.sql.get(checkSeed)}"
    if (!encOk) errors += s"seed $checkSeed: encoding digest ${checked.encDigest} != pin ${ctx.pins.enc.get(checkSeed)}"
    if (!predOk) errors += "predictions are not all finite"
    val confEnd = spark.conf.getAll
    val drift = CatalogWorkload.driftedKeys(confStart, confEnd)

    Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "clients" -> 1, "cores" -> Main.cores,
      "scale" -> scale, "trace" -> ctx.trace,
      "setup_s" -> setupS, "session_s" -> ctx.sessionS,
      "pass_wall_s" -> Seq(wallS),
      "measured_s" -> wallS,
      "analyze_wall_s" -> analyzeWall,
      "samples" -> Json.Raw(latencies.zipWithIndex.map { case ((ok, s), i) =>
        Json.obj("item" -> s"q$i", "pass" -> 0, "s" -> s, "ok" -> ok) }.mkString("[", ",", "]")),
      "generated" -> gen.draws, "valid" -> gen.valid, "used" -> gen.sqls.size,
      "encoded_ok" -> gen.encodedOk,
      "stage_s" -> stage.toMap,
      "checks" -> Map("seed" -> checkSeed, "sql_ok" -> sqlOk, "enc_ok" -> encOk, "predictions_finite" -> predOk),
      "attempted" -> (latencies.size + 3),
      "failed" -> (latencies.count(!_._1) + Seq(sqlOk, encOk, predOk).count(!_)),
      "errors" -> errors.toSeq.take(50),
      "heap_after_gc_mb" -> Seq(heap),
      "gc_s" -> gcS,
      "conf_drift" -> drift.map(k => s"$k: ${confStart.getOrElse(k, "<unset>")} -> ${confEnd.getOrElse(k, "<unset>")}"),
      "cached_rdds_end" -> sc.getRDDStorageInfo.count(_.numCachedPartitions > 0),
      "persistent_rdds_end" -> sc.getPersistentRDDs.size,
      "tables" -> db.tables.size,
      "trivial_s" -> trivialS,
      "layers" -> layers)
  }
}
