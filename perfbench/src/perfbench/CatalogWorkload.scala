package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `catalog_mix`: one client, closed loop, runs the catalog items in a
  * seeded order on one long-lived session. Each item builds its frame
  * through `SparkEntry.queries` and runs `count()`. The session's conf and
  * cache are never reset, so what the operators leave behind shows in the
  * `session.*` counters.
  */
object CatalogWorkload {

  /** Catalog queries whose code no recent change touched (a subset of the
    * eighteen such queries of the last round report): their summed time is
    * per-query fixed overhead, a probe of host speed.
    */
  val trivial: Seq[String] = Seq(
    "q02_scan_project", "q03_filter_cmp", "q15_count_distinct", "q21_log2_bucket",
    "q52_pack_sequences", "q56_shuffle_shards", "q92_pii_redact")

  /** Operator-heavy items: connected components whose loop runs dozens of
    * jobs while the frame is built (q49), shingle-pair shuffles (q33), a
    * bloom join that persists its small side (q72).
    */
  val heavy: Seq[String] = Seq("q49_dedup_clusters", "q33_ngram_jaccard", "q72_bloom_join")

  val items: Seq[String] = trivial ++ heavy

  val scale = "sf0.01"

  final case class Sample(item: String, pass: Int, seconds: Double, ok: Boolean)

  final case class Check(item: String, firstTouchS: Double, got: Option[Digest.Result],
                         pin: Option[Digest.Result], ok: Boolean) {
    def toJson: String = Json.obj("first_touch_s" -> firstTouchS,
      "rows" -> got.map(_.rows), "digest" -> got.map(_.digest),
      "pin_rows" -> pin.map(_.rows), "pin_digest" -> pin.map(_.digest), "ok" -> ok)
  }

  def run(ctx: Ctx): String = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val dir = s"${ctx.data}/$scale"
    val rng = new scala.util.Random(ctx.seed)
    val rec = new Recorder
    val errors = mutable.ArrayBuffer.empty[String]
    val confStart = spark.conf.getAll

    /** Builds the item's frame and runs `action` on it. */
    def item[A](name: String, run: String)(action: org.apache.spark.sql.DataFrame => A): A = {
      rec.open(run)
      try ctx.spans("item", run) {
        Tags.set(sc, run, name, "build")
        val df = ctx.spans("queries.build", run)(SparkEntry.queries(name)(spark, dir))
        Tags.set(sc, run, name, "action")
        ctx.spans("exec.action", run)(action(df))
      } finally {
        Tags.clear(sc)
        rec.close(run)
      }
    }

    // set-up: session (timed by Main), table views, then the warm pass that
    // first-touches every item in this seed's order. The first touch
    // collects the full result, which is digested (untimed) and checked
    // against the item's pin.
    val s0 = System.nanoTime()
    Tables.registerAll(spark, dir)
    var setupNs = System.nanoTime() - s0
    val warm = rng.shuffle(items).map { name =>
      val t0 = System.nanoTime()
      val result = try Some(item(name, s"warm/$name")(df => (df.columns, df.collect())))
        catch { case NonFatal(e) => errors += s"$name (first touch): $e"; None }
      val ns = System.nanoTime() - t0
      setupNs += ns
      val pin = ctx.pins.catalog.get(name)
      val got = result.map { case (columns, rows) => Digest.ofRows(columns, rows) }
      val ok = pin.isDefined && got == pin
      if (!ok) errors += s"$name: digest ${got.getOrElse("-")} != pin ${pin.getOrElse("-")}"
      Check(name, ns / 1e9, got, pin, ok)
    }
    val setupS = ctx.sessionS + setupNs / 1e9
    // one more untimed pass lets the JIT settle: timed passes right after
    // the first touch still speed up from one pass to the next
    rng.shuffle(items).foreach { name =>
      try item(name, s"settle/$name")(_.count())
      catch { case NonFatal(e) => errors += s"$name (settle): $e" }
    }

    // timed passes, closed loop, until the measuring time is spent; at
    // least three, so the median pass is a middle one
    if (ctx.trace) {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      ctx.spans.enabled = true
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    val sessionSamples = mutable.ArrayBuffer(sessionState(spark, confStart))
    val gc0 = Main.gcSeconds()
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < 3 || (System.nanoTime() - m0) / 1e9 < ctx.seconds) {
      val t0 = System.nanoTime()
      rng.shuffle(items).foreach { name =>
        val i0 = System.nanoTime()
        val ok =
          try {
            val n = item(name, s"p$pass/$name")(_.count())
            val pinned = ctx.pins.catalog.get(name).map(_.rows)
            if (!pinned.contains(n)) errors += s"$name: $n rows != pin $pinned"
            pinned.contains(n)
          } catch { case NonFatal(e) => errors += s"$name: $e"; false }
        samples += Sample(name, pass, (System.nanoTime() - i0) / 1e9, ok)
      }
      passWalls += (System.nanoTime() - t0) / 1e9
      sessionSamples += sessionState(spark, confStart)
      // heap after the first two passes only: every run has them, and later
      // passes would add whatever a long-lived session accumulates per pass
      if (pass < 2) heaps += Main.heapAfterGcMb()
      pass += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val gcS = Main.gcSeconds() - gc0
    if (ctx.trace) PerfbenchBridge.drainListenerBus(sc)
    val confEnd = spark.conf.getAll
    val drift = driftedKeys(confStart, confEnd)

    Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "clients" -> 1,
      "cores" -> Main.cores, "scale" -> scale, "trace" -> ctx.trace,
      "setup_s" -> setupS, "session_s" -> ctx.sessionS,
      "checks" -> Json.Raw(Json.obj(warm.map(c => c.item -> Json.Raw(c.toJson)): _*)),
      "pass_wall_s" -> passWalls.toSeq,
      "measured_s" -> measuredS,
      "samples" -> Json.Raw(samples.map(s =>
        Json.obj("item" -> s.item, "pass" -> s.pass, "s" -> s.seconds, "ok" -> s.ok))
        .mkString("[", ",", "]")),
      "attempted" -> (samples.size + warm.size),
      "failed" -> (samples.count(!_.ok) + warm.count(!_.ok)),
      "errors" -> errors.toSeq.take(50),
      "heap_after_gc_mb" -> heaps.toSeq,
      "gc_s" -> gcS,
      "conf_drift" -> drift.map(k => s"$k: ${confStart.getOrElse(k, "<unset>")} -> ${confEnd.getOrElse(k, "<unset>")}"),
      "session_before_and_after_passes" -> Json.Raw(sessionSamples.mkString("[", ",", "]")),
      "cached_rdds_end" -> sc.getRDDStorageInfo.count(_.numCachedPartitions > 0),
      "persistent_rdds_end" -> sc.getPersistentRDDs.size,
      "trivial" -> trivial,
      "layers" -> (if (ctx.trace) Json.Raw(layers(rec)) else null))
  }

  def driftedKeys(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))

  /** Cached RDDs and the number of conf keys changed since session start. */
  private def sessionState(spark: SparkSession, confStart: Map[String, String]): String = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    Json.obj("cached_rdds" -> infos.length,
      "memory_mb" -> infos.map(_.memSize).sum / 1e6, "disk_mb" -> infos.map(_.diskSize).sum / 1e6,
      "conf_drift" -> driftedKeys(confStart, spark.conf.getAll).size)
  }

  /** Recorder counters grouped by phase and by item (the pass prefix of
    * a run id dropped), plus the unattributed bucket.
    */
  def layers(rec: Recorder): String = {
    val byPhase = mutable.LinkedHashMap.empty[String, Work]
    val byItem = mutable.LinkedHashMap.empty[String, Work]
    rec.snapshot().foreach { case (k, w) =>
      val (run, phase) =
        if (k == Tags.Unattributed) (k, k) else (k.take(k.lastIndexOf('|')), k.drop(k.lastIndexOf('|') + 1))
      byPhase.getOrElseUpdate(phase, new Work) += w
      byItem.getOrElseUpdate(run.drop(run.indexOf('/') + 1), new Work) += w
    }
    def json(m: mutable.LinkedHashMap[String, Work]): Json.Raw =
      Json.Raw(Json.obj(m.toSeq.map { case (p, w) => p -> Json.Raw(w.toJson) }: _*))
    Json.obj("by_phase" -> json(byPhase), "by_item" -> json(byItem),
      "catalyst_s" -> rec.catalystSeconds, "sql_actions" -> rec.actions,
      "sql_action_s" -> rec.actionSeconds, "listener_busy_s" -> rec.busySeconds)
  }
}
