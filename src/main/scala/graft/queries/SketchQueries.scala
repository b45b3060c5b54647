package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Futures, Quantiles, Sketches}
import graft.queries.DedupQueries.{ShingleN, shingleCte}

import QueryDef.frame

/** Sketches and statistics: bloom-prefiltered contamination, joins and
  * anti-joins, HLL cardinality, count-min heavy hitters, table profile,
  * exact quantiles and mergeable incremental statistics.
  */
object SketchQueries {

  private val HllLgK = 12        // 2^12 HLL registers (~1.6% rel. std. err.)
  private val HllRtol = 0.05     // accepted estimate band (≈3 sigma)
  private val CmsEps = 0.001     // CMS over-count bound: eps * total tokens
  private val CmsTopK = 20       // heavy hitters checked against the CMS
  private val QuantProbs = Seq(0.5, 0.9, 0.99)  // exact quantiles (q82)

  val all: Seq[QueryDef] = Seq(
    // bloom-prefiltered benchmark contamination: same exact semantics
    // as q51 on a different eval slice (doc_id % 7). The broadcast bloom
    // only decides which corpus shingles TRAVEL (no false negatives;
    // false positives die in the exact join), so the oracle is the same
    // plain SQL — a wrong filter shows up as a value mismatch, not a
    // weaker check.
    //
    // exact contamination SQL (q51's shape on the % 7 eval slice): the
    // Spark side's bloom prefilter must be value-invisible
    frame("q66_bloom_contamination",
      s"""WITH $shingleCte, dsh AS (
         |  SELECT DISTINCT doc_id AS id, sh FROM sh
         |), train AS (
         |  SELECT DISTINCT sh FROM dsh WHERE id % 7 <> 0
         |), evalsh AS (
         |  SELECT id, sh FROM dsh WHERE id % 7 = 0
         |), hits AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_contam
         |  FROM evalsh JOIN train USING (sh) GROUP BY id
         |), nsh AS (
         |  SELECT d.doc_id AS id, CAST(COUNT(dsh.sh) AS BIGINT) AS n_sh
         |  FROM documents d LEFT JOIN dsh ON dsh.id = d.doc_id
         |  WHERE d.doc_id % 7 = 0 GROUP BY d.doc_id
         |)
         |SELECT nsh.id AS doc_id, n_sh,
         |       CAST(COALESCE(n_contam, 0) AS BIGINT) AS n_contam,
         |       CASE WHEN n_sh = 0 THEN 0.0
         |            ELSE CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_sh END AS contam_frac
         |FROM nsh LEFT JOIN hits ON hits.id = nsh.id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sketches.bloomContamination(Tables.load(s, dir, "documents"), "doc_id", "text",
          col("doc_id") % 7 === 0, ShingleN)
        .orderBy("doc_id")
    },
    // per-shard HLL cardinality sketches + lossless merge: each nation's
    // distinct-customer estimate and the union-merged global estimate
    // must sit within HllRtol of the EXACT counts the query also
    // computes (shard -1 = the merged global row) — the oracle pins the
    // exact counts and `true` for every band check
    //
    // the oracle pins the EXACT distinct counts and `true` for every
    // estimate-band check — an HLL estimate drifting past the band (or a
    // broken sketch merge) fails as a plain value mismatch
    frame("q67_hll_cardinality",
      """SELECT CAST(c_nationkey AS BIGINT) AS shard,
        |       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_exact,
        |       TRUE AS hll_ok
        |FROM customer GROUP BY 1
        |UNION ALL
        |SELECT -1, CAST(COUNT(DISTINCT c_custkey) AS BIGINT), TRUE FROM customer
        |ORDER BY shard""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val sk = Sketches.hllShardSketches(c, "c_nationkey", "c_custkey", HllLgK)
      val exact = c.groupBy("c_nationkey").agg(countDistinct("c_custkey").as("n_exact"))
      val per = exact.join(sk.select(col("c_nationkey"), col("estimate")), Seq("c_nationkey"))
        .select(col("c_nationkey").cast("long").as("shard"), col("n_exact"),
          Sketches.withinBand(col("estimate"), col("n_exact"), HllRtol).as("hll_ok"))
      val global = c.agg(countDistinct("c_custkey").as("n_exact"))
        .crossJoin(Sketches.hllMergedEstimate(sk))
        .select(lit(-1L).as("shard"), col("n_exact"),
          Sketches.withinBand(col("estimate"), col("n_exact"), HllRtol).as("hll_ok"))
      per.unionAll(global).orderBy("shard")
    },
    // count-min heavy hitters: the exact top-CmsTopK terms (one
    // distributed TakeOrdered) checked against CMS point estimates —
    // over-count bounded by eps·N, never an undercount. The sketch and
    // the ≤CmsTopK term rows are the only driver-side data.
    //
    // exact top-K terms; cms_ok pinned TRUE = the sketch answer stayed
    // inside [count, count + ceil(eps*N)] for every heavy hitter
    frame("q68_cms_heavy_hitters",
      s"""WITH w AS (
         |  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |  FROM documents
         |)
         |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt, TRUE AS cms_ok
         |FROM w GROUP BY term
         |ORDER BY cnt DESC, term LIMIT $CmsTopK""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("term"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val top = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("term")).limit(CmsTopK)
      val n = toks.count()
      val sketch = Sketches.cmsAgg(toks, "term", CmsEps, 0.99, seed = 42)
      val bound = math.ceil(CmsEps * n).toLong
      val rows = top.collect().map { r =>
        val term = r.getString(0); val cnt = r.getLong(1)
        val est = Sketches.cmsEstimate(sketch, term)
        (term, cnt, est >= cnt && est <= cnt + bound)
      }.toSeq
      rows.toDF("term", "cnt", "cms_ok").orderBy(desc("cnt"), asc("term"))
    },
    // bloom-prefiltered exact join: lineitem rows drop inside the scan
    // unless their order key can match the selective orders side; the
    // oracle is the PLAIN join, so the filter must be value-invisible
    frame("q72_bloom_join",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val big = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val hi = Tables.load(s, dir, "orders")
        .where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
      Sketches.bloomJoin(big, hi, "l_orderkey", "o_orderkey")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
    // bloom-shortcut anti-join (subtract a blocklist): bloom-negative
    // rows keep without shuffling; maybe-matches go through the exact
    // left_anti. Oracle = plain NOT EXISTS.
    frame("q73_bloom_anti_join",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_orderkey = l_orderkey
        |                    AND o_totalprice > 400000.0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val big = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val block = Tables.load(s, dir, "orders")
        .where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      Sketches.bloomAntiJoin(big, block, "l_orderkey", "o_orderkey")
        .orderBy("l_orderkey", "l_linenumber")
    },
    // one-pass per-column table profile with an HLL estimate band per
    // column — the oracle pins the exact counts and `true` per band
    frame("q71_profile", {
      val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
      docCols.sorted.map { c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_total,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, TRUE AS hll_ok
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
    }) { (s, dir) =>
      Sketches.profile(Tables.load(s, dir, "documents"))
        .orderBy("column_name")
    },
    // exact whole-table quantiles by iterative range refinement — no
    // global sort, no single-reducer percentile; small cutoff forced low
    // so the gate actually exercises multi-round refinement
    frame("q82_exact_quantiles", {
      // CAST the prob label: a bare 0.99 literal is DECIMAL(3,2) to
      // DuckDB but DOUBLE to Spark, and the driver compares schemas
      val rows = QuantProbs.map(p =>
        s"SELECT CAST($p AS DOUBLE) AS prob, ROUND(quantile_cont(l_extendedprice, $p), 4) AS quantile FROM lineitem")
        .mkString("\nUNION ALL\n")
      s"$rows\nORDER BY prob"
    }) { (s, dir) =>
      Quantiles.exactQuantiles(Tables.load(s, dir, "lineitem"),
          "l_extendedprice", QuantProbs, smallCutoff = 512)
        .orderBy("prob")
    },
    // mergeable incremental statistics (the 100 TB stats-refresh path):
    // three disjoint shard synopses merged by aggregation must equal the
    // whole-table synopsis — counts/min/max/exact-distinct checked by
    // the oracle; bit-exactness of the decimal moment sums, agreement
    // with the two-scan collector, and the HLL band are Spark-side
    // booleans the oracle pins TRUE (q67/q68 pattern)
    //
    // portable fields exactly (counts, min/max, exact distinct); the
    // float-internal assertions (decimal-sum merge exactness, collector
    // agreement, HLL band) are Spark-side booleans pinned TRUE here.
    // o_orderdate's measure image is epoch seconds on both engines
    // (whole-second timestamps, so epoch() vs unix_seconds agree).
    frame("q84_incremental_stats", {
      val measures = Seq(
        ("o_custkey", "o_custkey"),
        ("o_orderdate", "epoch(o_orderdate)"),
        ("o_totalprice", "o_totalprice"))
      measures.map { case (name, img) =>
        s"""SELECT '$name' AS measure,
           |       CAST(COUNT($name) AS BIGINT) AS n,
           |       CAST(COUNT(*) - COUNT($name) AS BIGINT) AS nulls,
           |       CAST(MIN($img) AS DOUBLE) AS vmin,
           |       CAST(MAX($img) AS DOUBLE) AS vmax,
           |       CAST(COUNT(DISTINCT $name) AS BIGINT) AS n_distinct,
           |       TRUE AS hll_ok, TRUE AS merge_exact, TRUE AS moments_ok,
           |       CAST(COUNT($name) AS BIGINT) AS hist_total
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY measure"
    }) { (s, dir) =>
      import s.implicits._
      import graft.model.{IncrementalStats, StatsCollector}
      // persist the shared scan + the (KB-sized) merged synopsis: the
      // whole-vs-merged three-way replay otherwise rescans orders per
      // collect (round-6 bench: q84 spread 4.1 from exactly that).
      // Spread the single-split source first: all four synopsis scans
      // (agg + sketch, whole + grouped) aggregate the CACHED partitions,
      // and on the driver testdata's one-file table they would otherwise
      // all run single-task (r16 measured q84 at 3.0 s, ~4 sequential
      // one-core passes). Every synopsis field is order-independent
      // (exact decimal sums, min/max/counts, HLL register union), so the
      // placement change cannot move a bit of the output.
      val li = graft.ops.Spread(Tables.load(s, dir, "orders"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model = StatsCollector.collect(s, dir, Seq("orders"))
        .tables.find(_.name == "orders").get
      val keys = Seq("o_custkey", "o_orderdate", "o_totalprice")
      val anchors = IncrementalStats.anchorsFor(model)
        .view.filterKeys(keys.contains).toMap
      // the whole-table and grouped synopses are independent jobs over
      // the same cached partitions; run them CONCURRENTLY (guide §2.6:
      // actions are only sequential because the driver calls them
      // sequentially) so the grouped pass back-fills cores the whole
      // pass's short tasks leave idle. synopsize() collects eagerly
      // inside, so each Future is a self-contained job set; results are
      // deterministic regardless of interleaving.
      import scala.concurrent.duration.DurationInt
      import scala.concurrent.ExecutionContext.Implicits.global
      val group = s"q84_incremental_stats-${java.util.UUID.randomUUID()}"
      val wholeF = Futures.race(s.sparkContext, s"$group/whole")(
        IncrementalStats.synopsize(li, anchors))
      // all 3 shards in ONE grouped pass (the backfill shape), then
      // merged exactly as separately-arriving shard synopses would be
      val partsF = Futures.race(s.sparkContext, s"$group/parts")(
        IncrementalStats.synopsizeGrouped(li, pmod(col("o_orderkey"), lit(3)), anchors))
      // FINITE bound (was Duration.Inf — a wedged concurrent job hung the
      // query forever): generously above any sane synopsis pass; a timed-
      // out pass has its job group cancelled, then a deterministic
      // sequential recomputation is the fallback
      val whole = Futures.awaitOr(wholeF, 1.hour)(
        IncrementalStats.synopsize(li, anchors))
      val parts = Futures.awaitOr(partsF, 1.hour)(
        IncrementalStats.synopsizeGrouped(li, pmod(col("o_orderkey"), lit(3)), anchors))
      val merged = IncrementalStats.merge(parts.drop("shard"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = IncrementalStats.finalize(merged)
      val wRows = whole.collect().map(r => r.getAs[String]("measure") -> r).toMap
      val mRows = merged.collect().map(r => r.getAs[String]("measure") -> r).toMap
      val out = keys.map { k =>
        val st = stats(k)
        val (wr, mr) = (wRows(k), mRows(k))
        val mergeExact = Seq("s1", "s2", "s3", "s4").forall(f =>
          wr.getDecimal(wr.fieldIndex(f)).compareTo(mr.getDecimal(mr.fieldIndex(f))) == 0) &&
          wr.getSeq[Long](wr.fieldIndex("hist")) == mr.getSeq[Long](mr.fieldIndex("hist"))
        val num = model.columnsByName(k).stats.get.numeric.get
        def close(a: Double, b: Double, tol: Double) =
          math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
        val momentsOk = close(st.mean, num.mean, 1e-9) &&
          close(st.varSamp, num.variance, 1e-9) &&
          close(st.skew, num.skewness, 1e-6) && close(st.kurt, num.kurtosis, 1e-6)
        // the memoized model was collected exact=true: its per-column
        // distinct IS the exact count (no second count_distinct scan)
        val nd = model.columnsByName(k).stats.get.distinct
        (k, st.n, st.nulls, st.min, st.max, nd,
          math.abs(st.distinctEst - nd) <= HllRtol * nd,
          mergeExact, momentsOk, st.hist.sum)
      }
      out.toDF("measure", "n", "nulls", "vmin", "vmax", "n_distinct",
          "hll_ok", "merge_exact", "moments_ok", "hist_total")
        .orderBy("measure")
    }
  )
}
