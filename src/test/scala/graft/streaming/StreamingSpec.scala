package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark =
    graft.LocalSpark.session("spark.sql.streaming.schemaInference" -> "true")

  test("watermarked tumbling-window aggregation over the events stream") {
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val agg = EventStream.windowedCounts(stream)
    EventStream.runToMemory(agg, "win", org.apache.spark.sql.streaming.OutputMode.Complete())
    val rows = spark.sql("SELECT * FROM win").collect()
    assert(rows.nonEmpty)
    // batch ground truth: same window bucketing over the static table
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val expect = ev.select((graft.Tables.eventTimeNs(ev)
        .divide(1000000000L).cast("long").divide(3600).cast("long")).as("hb"))
      .distinct().count()
    assert(rows.length == rows.map(r => (r.getAs[Any]("window_start"), r.getAs[String]("event_type"))).distinct.length)
    assert(rows.map(_.getAs[Any]("window_start")).distinct.length.toLong == expect)
    val n = rows.map(_.getAs[Long]("n_events")).sum
    val total = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(n == total) // complete mode emits every window
  }

  test("windowed approx-distinct users equals the batch HLL++ sketch exactly") {
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val agg = EventStream.approxDistinctUsers(stream)
    EventStream.runToMemory(agg, "adu", org.apache.spark.sql.streaming.OutputMode.Complete())
    val got = spark.sql("SELECT * FROM adu").collect()
      .map(r => r.getAs[Any]("window_start").toString -> r.getAs[Long]("approx_users")).toMap
    assert(got.nonEmpty)
    // batch ground truth: same sketch over the static table — register-max
    // merging makes the estimate independent of micro-batching, so this is
    // EQUALITY, not a tolerance band
    import org.apache.spark.sql.functions._
    val evb = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batch = evb
      .withColumn("event_time", graft.Tables.eventTime(evb))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("window.start").as("window_start"), col("approx_users"))
      .collect()
      .map(r => r.getAs[Any]("window_start").toString -> r.getAs[Long]("approx_users")).toMap
    assert(got == batch)
    // and the estimates are real: within rsd-ish of exact per window
    val exact = evb
      .withColumn("event_time", graft.Tables.eventTime(evb))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
      .collect()
      .map(r => r.getAs[Any]("window_start").toString -> r.getAs[Long]("n")).toMap
    exact.foreach { case (w, n) =>
      val e = got(w)
      assert(math.abs(e - n.toDouble) / math.max(n, 1L) < 0.1, s"window $w: est $e exact $n")
    }
  }

  test("streaming exact dedup matches the batch content-hash dedup") {
    import org.apache.spark.sql.functions._
    val stream0 = EventStream.readEvents(spark, "/root/testdata/sf0.001")
      // synthesize duplicate content: value bucket as the "text"
      .withColumn("txt", (col("value") % 50).cast("int").cast("string"))
    val stream = stream0.withColumn("event_time", graft.Tables.eventTime(stream0))
    val dedup = EventStream.dedupStream(stream, "txt", "event_time")
    EventStream.runToMemory(dedup, "dd", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.sql("SELECT content_hash FROM dd").collect().map(_.getString(0))
    val expectSet = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("md5(CAST(CAST(value % 50 AS INT) AS STRING)) AS h")
      .distinct().collect().map(_.getString(0)).toSet
    // contract assertions (hold under ANY micro-batching): every distinct
    // content survives at least once, nothing else appears, and the
    // within-horizon dedup collapses the vast bulk of the duplicates.
    // Exact one-per-content only holds when arrival fits one horizon —
    // dropDuplicatesWithinWatermark legally RE-ADMITS a content once the
    // watermark passes it (state-expiry semantics pinned in the test
    // below), so equality would pin an accident of batching.
    assert(got.toSet == expectSet)
    assert(got.length < expectSet.size * 3,
      s"horizon dedup barely deduped: ${got.length} rows for ${expectSet.size} contents")
  }

  test("native session_window sessions agree with the batch sessionize totals") {
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val sessions = EventStream.sessionCounts(stream, "8 hours")
    EventStream.runToMemory(sessions, "sw", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.sql("SELECT user_id, n_events FROM sw").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val static0 = spark.read
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val static = static0.withColumn("ts", graft.Tables.eventTimeNs(static0))
    // batch counterpart: same gap, strict semantics differ only when a
    // delta is EXACTLY the gap (measure-zero for ns data; absent here).
    // Append mode only emits sessions CLOSED before the final watermark,
    // so streaming output is a subset: each user's last session stays
    // open and unemitted. Assert subset + near-complete coverage.
    val batch = graft.ops.EventOps.sessionize(
        static, "user_id", "ts", "value", 8L * 3600 * 1000000000L)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    val batchSessions = batch.groupBy(identity).view.mapValues(_.size).toMap
    val gotSessions = got.groupBy(identity).view.mapValues(_.size).toMap
    gotSessions.foreach { case (k, n) =>
      assert(batchSessions.getOrElse(k, 0) >= n, s"streaming session $k not in batch")
    }
    val coverage = got.map(_._2).sum.toDouble / batch.map(_._2).sum
    assert(coverage > 0.9, s"emitted only $coverage of events in closed sessions")
  }

  test("dedupStream state expires after the watermark horizon (bounded state)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val dedup = EventStream.dedupStream(
      ms.toDF().toDF("txt", "event_time"), "txt", "event_time", "10 minutes")
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("ddw").start()
    try {
      // batch 1: two copies of A — one survivor; watermark -> 60s - 10min
      ms.addData(("A", ts(0)), ("A", ts(60)))
      q.processAllAvailable()
      // batch 2: push the watermark far past A's marker (3600s - 600s)
      ms.addData(("B", ts(3600)))
      q.processAllAvailable()
      // batch 3: A's seen-marker has EXPIRED — the horizon-bounded
      // contract re-admits it exactly once (in-batch dup still collapses).
      // With plain dropDuplicates this would be 1, and state immortal.
      ms.addData(("A", ts(4000)), ("A", ts(4010)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT txt FROM ddw").collect().map(_.getString(0))
    assert(got.count(_ == "A") == 2, s"expected horizon re-admission: ${got.toSeq}")
    assert(got.count(_ == "B") == 1)
  }

  test("funnel idleTimeout evicts idle users and restarts them at stage 0") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val steps = Seq("view", "click")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stages = EventStream.funnelStages(spark,
      ms.toDF().toDF("user_id", "event_type", "ts"), steps,
      idleTimeout = Some("30 minutes"))
    val q = stages.writeStream.outputMode("update").format("memory")
      .queryName("fidle").start()
    try {
      // batch 1: user 1 completes step 0; timeout armed at t+30min
      // (timeline starts well above epoch 0 — the initial watermark)
      ms.addData((1L, "view", ts(100000)))
      q.processAllAvailable()
      // batch 2: another user far in the future pushes the watermark
      // (2h − 10min delay) past user 1's horizon — no timeout yet, the
      // batch runs under the PREVIOUS watermark
      ms.addData((99L, "view", ts(107200)))
      q.processAllAvailable()
      // batch 3: unrelated data; user 1 has no rows, watermark is now
      // past their horizon → timeout fires, final stage re-emitted,
      // state evicted
      ms.addData((99L, "click", ts(107300)))
      q.processAllAvailable()
      // batch 4: user 1 reappears with a STEP-1 event; their state is
      // gone, so the funnel restarts at 0 and the click cannot advance
      ms.addData((1L, "click", ts(107400)))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.sql("SELECT reached FROM fidle WHERE user_id = 1")
      .collect().map(_.getInt(0)).toSeq
    // rows: batch-1 progress (1), timeout emission (1), post-eviction
    // restart (0) — the 0 proves the state was evicted, the row count
    // proves the timeout emission happened
    assert(u1.count(_ == 1) == 2, s"expected progress + timeout emissions, got $u1")
    assert(u1.count(_ == 0) == 1, s"expected a post-eviction restart row, got $u1")
    // user 99 reached both steps under the same query
    val u99 = spark.sql("SELECT MAX(reached) FROM fidle WHERE user_id = 99")
      .collect()(0).getInt(0)
    assert(u99 == 2)
  }

  test("funnel idle clock is monotone: out-of-order batch cannot rewind the deadline") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val steps = Seq("view", "click")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stages = EventStream.funnelStages(spark,
      ms.toDF().toDF("user_id", "event_type", "ts"), steps,
      idleTimeout = Some("30 minutes"))
    val q = stages.writeStream.outputMode("update").format("memory")
      .queryName("fmono").start()
    try {
      // user 1's newest event is at t=100000 → deadline 100000+1800
      ms.addData((1L, "click", ts(100000)))
      q.processAllAvailable()
      // an OLDER in-watermark event (wm = 100000-600 = 99400; 99500 is
      // above it) — the buggy anchor re-armed at 99500+1800 = 101300
      ms.addData((1L, "click", ts(99500)))
      q.processAllAvailable()
      // drive the watermark into (101300, 101800): 102000-600 = 101400.
      // A rewound deadline fires here; the monotone clock must NOT.
      ms.addData((99L, "view", ts(102000)))
      q.processAllAvailable()
      ms.addData((99L, "view", ts(102001)))
      q.processAllAvailable()
      val mid = spark.sql("SELECT COUNT(*) FROM fmono WHERE user_id = 1")
        .collect()(0).getLong(0)
      assert(mid == 2, s"premature eviction: expected only the 2 data rows, got $mid")
      // past the TRUE deadline (102500-600 = 101900 > 101800) the user
      // times out for real — the clock is late-proof, not immortal
      ms.addData((99L, "view", ts(102500)))
      q.processAllAvailable()
      ms.addData((99L, "view", ts(102501)))
      q.processAllAvailable()
      val after = spark.sql("SELECT COUNT(*) FROM fmono WHERE user_id = 1")
        .collect()(0).getLong(0)
      assert(after == 3, s"expected the timeout emission after the true deadline, got $after")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch attribution join") {
    val within = 24L * 3600
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val attributed = EventStream.attributedPurchases(stream, within)
    EventStream.runToMemory(attributed, "attr", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.sql("SELECT purchase_id, click_id FROM attr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch equivalent on the same static data
    import org.apache.spark.sql.functions._
    val ev0 = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val ev = ev0.withColumn("event_time", graft.Tables.eventTime(ev0))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("event_time").as("ct"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"), col("event_time").as("pt"))
    val batch = p.join(c, col("pu") === col("cu") &&
        col("ct") <= col("pt") && col("ct") >= col("pt") - expr(s"INTERVAL $within SECONDS"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "test corpus yields no attributed pairs")
    // single-batch AvailableNow processing: watermark only advances at the
    // end, so no pair is dropped — streaming must equal batch exactly
    assert(got == batch)
  }

  test("streaming funnel stages equal the batch funnel on the static canon") {
    val steps = Seq("view", "click", "purchase")
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val stages = EventStream.funnelStages(spark, stream, steps)
    EventStream.runToMemory(stages, "fns", org.apache.spark.sql.streaming.OutputMode.Update())
    // Update mode re-emits a user on every batch; the canon is one file →
    // one batch, so rows are already final. Guard anyway: keep the MAX
    // reached per user (stages only advance).
    val got = spark.sql("SELECT user_id, MAX(reached) AS reached FROM fns GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val static0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val static = static0.withColumn("ts_ns", graft.Tables.eventTimeNs(static0))
    val batch = graft.ops.EventOps.funnel(static, "user_id", "event_type", "ts_ns", steps)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // per-stage user counts derived from the streaming per-user stages
    steps.indices.foreach { i =>
      val stage = i + 1
      val nStream = got.values.count(_ >= stage).toLong
      assert(nStream == batch(stage),
        s"stage $stage: streaming $nStream vs batch ${batch(stage)}")
    }
  }

  test("stateful per-user sessions via mapGroupsWithState") {
    val stream = EventStream.readEvents(spark, "/root/testdata/sf0.001")
    val sessions = EventStream.userSessions(spark, stream)
    EventStream.runToMemory(sessions, "sess", org.apache.spark.sql.streaming.OutputMode.Update())
    val rows = spark.sql("SELECT * FROM sess").collect()
    assert(rows.nonEmpty)
    val static = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val users = static.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("user_id")).distinct.length.toLong == users)
    val sumCounts = rows.map(_.getAs[Long]("n_events")).sum
    assert(sumCounts == static.count())
  }

  test("userSessions idleTimeout evicts idle users and restarts them from zero") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(Long, Double, java.sql.Timestamp)]
    val sessions = EventStream.userSessions(spark,
      ms.toDF().toDF("user_id", "value", "ts"),
      idleTimeout = Some("30 minutes"))
    val q = sessions.writeStream.outputMode("update").format("memory")
      .queryName("sidle").start()
    try {
      // batch 1: user 1 aggregates two events; deadline t+30min
      ms.addData((1L, 1.0, ts(100000)), (1L, 2.0, ts(100000)))
      q.processAllAvailable()
      // batch 2: a far-future user pushes the watermark (2h − 10min
      // delay) past user 1's horizon — this batch still runs under the
      // PREVIOUS watermark, so no timeout yet
      ms.addData((99L, 1.0, ts(107200)))
      q.processAllAvailable()
      // batch 3: unrelated data; user 1 has no rows and the watermark is
      // past their horizon → timeout fires, final aggregate re-emitted,
      // state evicted (state size stays bounded by the active users)
      ms.addData((99L, 1.0, ts(107300)))
      q.processAllAvailable()
      // batch 4: user 1 reappears — their state is gone, the running
      // aggregate restarts from zero
      ms.addData((1L, 5.0, ts(107400)))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.sql("SELECT n_events, total_value FROM sidle WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // rows: batch-1 aggregate, timeout emission (same values), then the
    // post-eviction restart at count 1 — the restart proves eviction,
    // the duplicate (2, 3.0) row proves the timeout emission happened
    assert(u1.count(_ == ((2L, 3.0))) == 2, s"expected aggregate + timeout emissions, got $u1")
    assert(u1.count(_ == ((1L, 5.0))) == 1, s"expected a post-eviction restart row, got $u1")
  }

  test("userSessions state codec: length-versioned decode across field eras") {
    // current-era round-trip, including the Double bit-pattern carry
    val v2 = EventStream.SessionState(7L, 123.456, 987654321L)
    assert(EventStream.SessionState.fromPersisted(v2.toPersisted) == v2)
    // a special Double survives exactly (bit pattern, not a decimal cast)
    val tiny = EventStream.SessionState(1L, java.lang.Double.MIN_VALUE, 0L)
    assert(EventStream.SessionState.fromPersisted(tiny.toPersisted) == tiny)
    // a 2-field (pre-lastNanos-era) persisted row decodes with the
    // default idle clock instead of crashing the restart — the exact
    // schema-change shape that breaks a case-class state encoder
    val v1 = EventStream.SessionState.fromPersisted(
      Array(4L, java.lang.Double.doubleToLongBits(2.5)))
    assert(v1 == EventStream.SessionState(4L, 2.5, Long.MinValue))
    // a longer FUTURE row is readable by this decoder too (rollbacks)
    val v3 = EventStream.SessionState.fromPersisted(
      Array(4L, java.lang.Double.doubleToLongBits(2.5), 10L, 77L))
    assert(v3 == EventStream.SessionState(4L, 2.5, 10L))
  }

  test("funnel state codec: length-versioned decode accepts 2-field-era rows") {
    // v2 round-trip
    val v2 = EventStream.FunnelState(3, 42L, 99L)
    assert(EventStream.FunnelState.fromPersisted(v2.toPersisted) == v2)
    // a 2-field (pre-seenNanos) persisted row decodes with the default
    // idle clock instead of crashing the restart
    val v1 = EventStream.FunnelState.fromPersisted(Array(2L, 17L))
    assert(v1 == EventStream.FunnelState(2, 17L, Long.MinValue))
    // a longer FUTURE row is readable by this decoder too (rollbacks)
    val v3 = EventStream.FunnelState.fromPersisted(Array(1L, 2L, 3L, 4L))
    assert(v3 == EventStream.FunnelState(1, 2L, 3L))
  }
}
