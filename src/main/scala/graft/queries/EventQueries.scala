package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{EventOps, Quantiles, SemiStructured}

import QueryDef.frame

/** Event-stream operators over the events table: hourly windows,
  * sessionization, as-of join, funnel, retention, rolling actives,
  * transitions, grouped quantiles and JSON payload extraction.
  */
object EventQueries {

  private val SessionGapNs = 8L * 3600 * 1000000000L // 8h session gap (epoch-nanos)
  private val FunnelSteps = Seq("view", "click", "purchase") // q111 ordered funnel
  private val RollingDays = 7    // q113 trailing active-user window (days)
  private val GroupQuantP = 0.95 // q117 per-group continuous quantile

  val all: Seq[QueryDef] = Seq(
    // gap-based sessionization: one row per (user, session). ts is
    // normalized to µs-resolution epoch nanos at the QUERY layer only
    // (`Tables.eventTimeNs` handles whichever type the canon ships;
    // the DIV-1000 truncation keeps long-nanos canons oracle-visible —
    // DuckDB reads TIMESTAMP(NANOS) parquet at µs resolution — and is
    // a no-op for µs-typed canons). The operator itself is nanos-native.
    frame("q54_sessionize",
      s"""WITH lagged AS (
         |  SELECT user_id, epoch_ns(ts) AS t, value,
         |         CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) IS NULL
         |                OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) > $SessionGapNs
         |              THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |), sess AS (
         |  SELECT user_id, t, value,
         |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM lagged
         |)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |       MIN(t) AS session_start, MAX(t) AS session_end,
         |       CAST(COUNT(*) AS BIGINT) AS n_events,
         |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts", Tables.eventTimeNs(ev0))
        .withColumn("ts", expr("(ts DIV 1000) * 1000"))
      EventOps.sessionize(ev, "user_id", "ts", "value", SessionGapNs)
        .orderBy("user_id", "session_id")
    },
    // point-in-time join: each click joined to the user's most recent
    // purchase at or before it (union + running-last, no range join);
    // same µs truncation rationale as q54
    frame("q55_asof_join",
      // DuckDB's native ASOF JOIN reproduces the union+running-last
      // semantics exactly once the right side is unique per (key, ts)
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts, value
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_ns(ts) AS ts, max(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT l.event_id, l.user_id, l.ts, l.value, r.ts AS asof_ts, r.v AS asof_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts", Tables.eventTimeNs(ev0))
        .withColumn("ts", expr("(ts DIV 1000) * 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      EventOps.asofJoin(clicks, purchases, "user_id", "ts", Seq("value"))
        .orderBy("event_id")
    },
    // ordered conversion funnel: strict view -> click -> purchase chains
    // per user, one in-row scan per key (greedy earliest == min-chain)
    frame("q111_funnel", {
      // independent derivation from the Spark scan: the min-chain form
      // (step i's completion = MIN t of step-i events strictly after
      // step i-1's completion) — equal by the greedy-exchange argument
      val ctes = FunnelSteps.zipWithIndex.map { case (st, i) =>
        if (i == 0)
          s"s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = '$st' GROUP BY 1)"
        else
          s"s${i + 1} AS (SELECT e.user_id, MIN(t) AS t${i + 1} FROM e JOIN s$i USING (user_id) " +
            s"WHERE event_type = '$st' AND t > t$i GROUP BY 1)"
      }.mkString(", ")
      val rows = FunnelSteps.zipWithIndex.map { case (st, i) =>
        s"SELECT CAST(${i + 1} AS INTEGER) AS stage, '$st' AS step, " +
          s"(SELECT CAST(COUNT(*) AS BIGINT) FROM s${i + 1}) AS n_users"
      }.mkString(" UNION ALL ")
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
         |$ctes
         |SELECT * FROM ($rows) ORDER BY stage""".stripMargin
    }) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts_ns", Tables.eventTimeNs(ev0))
      EventOps.funnel(ev, "user_id", "event_type", "ts_ns", FunnelSteps)
        .orderBy("stage")
    },
    // activation/retention triangle: cohort by first-event epoch-day,
    // count users active at each day offset
    frame("q112_retention",
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1
        |)
        |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM days d JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts_ns", Tables.eventTimeNs(ev0))
      EventOps.retentionCohorts(ev, "user_id", "ts_ns")
        .orderBy("cohort_day", "day_offset")
    },
    // per-group exact continuous quantile (p95 of value per event type):
    // grouped range refinement — all groups advance in one aggregate
    // per round, never a per-group gather
    frame("q117_grouped_quantiles",
      s"""SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
         |       ROUND(quantile_cont(value, $GroupQuantP), 4) AS quantile
         |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Quantiles.groupedExactQuantiles(Tables.load(s, dir, "events"),
          "event_type", "value", GroupQuantP)
        .orderBy("event_type")
    },
    // trailing 7-day distinct-active curve (distinct (user, day) first,
    // then a bounded in-row window-day explode)
    frame("q113_rolling_active",
      s"""WITH days AS (
         |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
         |), wins AS (
         |  SELECT user_id, day + unnest(range(0, $RollingDays)) AS window_day FROM days
         |)
         |SELECT window_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
         |FROM wins GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts_ns", Tables.eventTimeNs(ev0))
      EventOps.rollingActive(ev, "user_id", "ts_ns", RollingDays)
        .orderBy("window_day")
    },
    // first-order Markov transition matrix over per-user event streams
    frame("q114_transitions",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events
        |), p AS (
        |  SELECT event_type AS to_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_type) AS from_type
        |  FROM e
        |), c AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      val ev0 = Tables.load(s, dir, "events")
      val ev = ev0.withColumn("ts_ns", Tables.eventTimeNs(ev0))
      EventOps.transitionMatrix(ev, "user_id", "event_type", "ts_ns")
        .orderBy("from_type", "to_type")
    },
    // schema-on-read over the events JSON payload: ONE from_json parse
    // per row (never per-field re-parses), quarantine-aware, then an
    // ordinary typed rollup on the extracted field
    frame("q88_json_extract",
      """WITH parsed AS (
        |  -- json_extract_STRING + TRY_CAST keeps DuckDB as strict as
        |  -- Spark's schema'd parser: a fractional k fails the INTEGER
        |  -- cast on both sides instead of silently rounding here
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
        |  FROM events
        |  WHERE props IS NOT NULL AND json_valid(props)
        |)
        |SELECT CAST(floor(k / 10.0) AS BIGINT) AS k_decade,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
        |       CAST(MIN(k) AS BIGINT) AS min_k,
        |       CAST(MAX(k) AS BIGINT) AS max_k
        |FROM parsed WHERE k IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // spread the single-split source: the per-row from_json parse and
      // the json_ok filter run upstream of the (10-group) aggregate's
      // exchange, i.e. in ONE task on a one-file table; placement cannot
      // affect a per-row parse or the order-independent aggregates
      val ev = graft.ops.Spread(Tables.load(s, dir, "events"))
      // json_ok drops corrupt/empty payloads; the k-not-null filter
      // additionally drops valid payloads missing the field — the same
      // row set the oracle's json_valid + TRY_CAST IS NOT NULL keeps,
      // whatever the canon ships (mis-typed k quarantines BOTH sides)
      SemiStructured.parseJsonColumn(ev, "props", "k INT")
        .where(col("json_ok") && col("parsed.k").isNotNull)
        .withColumn("k_decade", floor(col("parsed.k") / 10).cast("long"))
        .groupBy("k_decade")
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"),
          min(col("parsed.k")).cast("long").as("min_k"),
          max(col("parsed.k")).cast("long").as("max_k"))
        .orderBy("k_decade")
    },
    frame("q41_window_events",
      """SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600.0) AS BIGINT) AS hour_bucket,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
        |       MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // hour bucket from the canonical ns clock (type-agnostic): the
      // normalized view keeps the rest of the query plain SQL
      val ev0 = Tables.load(s, dir, "events")
      ev0.withColumn("ts_ns", Tables.eventTimeNs(ev0))
        .createOrReplaceTempView("events_ns")
      s.sql("""SELECT CAST(floor((ts_ns DIV 1000000000) / 3600.0) AS BIGINT) AS hour_bucket,
              |       event_type,
              |       CAST(COUNT(*) AS BIGINT) AS n_events,
              |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
              |       MIN(value) AS min_value, MAX(value) AS max_value
              |FROM events_ns
              |GROUP BY 1, 2
              |ORDER BY 1, 2""".stripMargin)
    }
  )
}
