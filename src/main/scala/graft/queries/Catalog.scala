package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{RangeJoin, TopFraction}

import QueryDef.{frame, sql}

/** Relational catalog entries of `SparkEntry.queries` / `SparkEntry.oracleSql`.
  *
  * Covers the reference's query surface (SURVEY.md §2.2-2.5: comparison /
  * LIKE / BETWEEN / IN / IS NULL / OR predicates, inner equi- and theta-
  * joins built from comma-FROM + WHERE, global MIN/MAX/SUM/AVG/COUNT
  * aggregates — reference grammar dqo/relational/sql/ast.py:308-424) plus
  * the stats-probe library (dqo/db/clients/postgres.py:65-238) re-expressed
  * as plain Spark SQL over parquet-backed views.
  *
  * Shared-dialect discipline: every oracle-checked query is written so the
  * SAME string runs on Spark AND DuckDB where possible, and — critically —
  * so float results are bit-identical across engines regardless of row
  * order. Doubles are never summed directly (partial-sum order would
  * diverge); instead each per-row double is cast to a DECIMAL with fixed
  * scale (deterministic rounding of an identical IEEE value on both
  * engines), summed exactly, and the total cast back to DOUBLE.
  * Higher moments (variance/skewness/kurtosis — Spark's population
  * semantics, reference collects the same bundle via Postgres stats_agg,
  * postgres.py:189-238) are derived from exact decimal power sums, with
  * values pre-scaled so x^4 stays inside DECIMAL(38) range; skew/kurtosis
  * are scale-invariant so the pre-scaling cancels.
  */
object Catalog {

  private val PivotStatuses = Seq("F", "O") // q104 pivot columns (known domain)

  /** Full per-column numeric stats bundle: one pass, exact decimal power
    * sums → deterministic mean/variance/skewness/kurtosis.
    * Mirrors reference StatQueries.table_stats (postgres.py:189-238).
    *
    * @param scaleDiv divisor bringing |x| down to ~O(100) so x^4 fits in
    *                 DECIMAL(34,8) sums (skew/kurt are scale-invariant).
    */
  def numericStatsSql(table: String, col: String, scaleDiv: Double): String = {
    // d: exact decimal image of the (money-scale, ≤2 fractional digits)
    // column; y: exact decimal of col/scaleDiv at 5 fractional digits.
    // Casting a COMPUTED double to decimal is NOT portable (Spark rounds
    // the shortest string repr, DuckDB the full binary value), so all
    // powers are taken with exact decimal multiplication, whose precision/
    // scale rules align across engines at these widths.
    // Widening one operand of each multiply to width ≥19 keeps DuckDB in
    // hugeint decimal math (int64 would overflow) while every result stays
    // ≤ DECIMAL(38) so Spark performs the same exact arithmetic.
    // The derived variance additionally ROUNDs to 4 decimals before
    // emission: sx2's unscaled value exceeds int64 from sf0.1 up, and
    // DuckDB's hugeint-decimal→double conversion double-rounds where the
    // JVM single-rounds — a last-ulp divergence the ROUND collapses
    // (both engines round the same decimal once the inputs agree to
    // 1e-16 relative). Residual caveat: Spark rounds the shortest
    // decimal repr where DuckDB rounds the binary value, so an input
    // landing EXACTLY on a 4-decimal midpoint could still split —
    // measure-zero for real variances, verified green at sf0.01/sf0.1.
    s"""WITH raw AS (
       |  SELECT $col AS xd,
       |         CAST($col AS DECIMAL(14,2)) AS d,
       |         CAST($col / $scaleDiv AS DECIMAL(8,5)) AS y
       |  FROM $table
       |), pows AS (
       |  SELECT xd, d, y,
       |         CAST(CAST(y AS DECIMAL(19,5)) * y AS DECIMAL(19,10)) AS y2
       |  FROM raw
       |), pows2 AS (
       |  SELECT xd, d, y, y2,
       |         CAST(y2 * y AS DECIMAL(23,15)) AS y3
       |  FROM pows
       |), sums AS (
       |  SELECT
       |    CAST(COUNT(*) AS BIGINT) AS n_all,
       |    CAST(COUNT(xd) AS BIGINT) AS n,
       |    CAST(COUNT(DISTINCT xd) AS BIGINT) AS n_distinct,
       |    MIN(xd) AS mn, MAX(xd) AS mx,
       |    SUM(d) AS sx,
       |    SUM(CAST(d AS DECIMAL(19,2)) * d) AS sx2,
       |    SUM(y) AS sy,
       |    SUM(y2) AS sy2,
       |    SUM(y3) AS sy3,
       |    SUM(y3 * y) AS sy4
       |  FROM pows2
       |)
       |SELECT
       |  n_all AS total,
       |  n_all - n AS nulls,
       |  n_distinct,
       |  mn AS min_val, mx AS max_val,
       |  CAST(sx AS DOUBLE) / n AS mean_val,
       |  ROUND((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1), 4) AS var_samp_val,
       |  (CAST(sy3 AS DOUBLE) / n
       |     - 3 * (CAST(sy AS DOUBLE) / n) * (CAST(sy2 AS DOUBLE) / n)
       |     + 2 * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
       |   / ((CAST(sy2 AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) * sqrt(CAST(sy2 AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))) AS skew_val,
       |  (CAST(sy4 AS DOUBLE) / n
       |     - 4 * (CAST(sy AS DOUBLE) / n) * (CAST(sy3 AS DOUBLE) / n)
       |     + 6 * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) * (CAST(sy2 AS DOUBLE) / n)
       |     - 3 * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
       |   / ((CAST(sy2 AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) * (CAST(sy2 AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))) - 3.0 AS kurt_val
       |FROM sums""".stripMargin
  }

  /** The relational surface: SQL that runs verbatim on both engines,
    * SQL with a DuckDB-dialect oracle where the function names differ,
    * and the relational operators written as DataFrame programs.
    */
  val all: Seq[QueryDef] = Seq(
    // Reference workload shape: global MIN projections over a comma-join
    // (dqo/query_generator/__init__.py:151-153 wraps every projection in MIN)
    sql("q01_agg_min_join",
      """SELECT MIN(l.l_extendedprice) AS min_price, MIN(o.o_totalprice) AS min_total,
        |       MAX(l.l_discount) AS max_disc
        |FROM lineitem l, orders o
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_totalprice > 50000.0""".stripMargin),

    // P1/P2 projection (SURVEY §2.2)
    sql("q02_scan_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P3 comparison operators <,<=,>,>=,=,!= (node.py:206-261)
    sql("q03_filter_cmp",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity >= 10.0 AND l_quantity < 40.0 AND l_linenumber <> 3
        |  AND l_returnflag = 'A' AND l_discount <= 0.05 AND l_tax > 0.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // LIKE / NOT LIKE (ast.py:308-334)
    sql("q04_filter_like",
      """SELECT p_partkey, p_name, p_type
        |FROM part
        |WHERE p_name LIKE '%re%' AND p_type NOT LIKE '%ECO%'
        |ORDER BY p_partkey""".stripMargin),

    // BETWEEN (ast.py:277-279)
    sql("q05_filter_between",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 10000.0 AND 50000.0
        |ORDER BY o_orderkey""".stripMargin),

    // IN-list (MultiValueOperand, node.py:43-51)
    sql("q06_filter_in",
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin),

    // IS NULL / IS NOT NULL (ast.py:320-329)
    sql("q07_filter_null",
      """SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_not_null
        |FROM events""".stripMargin),

    // OrNode (node.py:264-313)
    sql("q08_filter_or",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'F' OR o_totalprice < 5000.0
        |ORDER BY o_orderkey""".stripMargin),

    // J1/J2 inner equi-join + grouped agg (node.py:316-386)
    sql("q09_join_inner",
      """SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem l, orders o
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus <> 'F'
        |GROUP BY o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin),

    // 5-way connected join chain (join-tree construction, node.py:316-356)
    sql("q10_join_chain",
      """SELECT r.r_name, n.n_name,
        |       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM region r, nation n, customer c, orders o, lineitem l
        |WHERE r.r_regionkey = n.n_regionkey AND n.n_nationkey = c.c_nationkey
        |  AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r.r_name, n.n_name""".stripMargin),

    // theta join (grammar permits <,> comparisons across relations, ast.py:308-318)
    sql("q11_join_theta",
      """SELECT n1.n_name AS name_a, n2.n_name AS name_b
        |FROM nation n1, nation n2
        |WHERE n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY name_a, name_b""".stripMargin),

    // A1 global aggregate bundle MIN/MAX/AVG/SUM/COUNT (ast.py:407-424)
    sql("q12_agg_global",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(l_quantity) AS BIGINT) AS n_qty,
        |       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        |FROM lineitem""".stripMargin),

    // A4 GROUP BY + HAVING honored end-to-end (grammar-only in reference, ast.py:179-227)
    sql("q13_groupby_having",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))) AS DOUBLE) AS sum_base,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
        |       CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING COUNT(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ORDER BY + LIMIT honored end-to-end (dropped by reference parser, tree/parser.py:21-51)
    sql("q14_orderby_limit",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // COUNT(DISTINCT) stats probe (postgres.py:189-238)
    sql("q15_count_distinct",
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
        |       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_flag
        |FROM lineitem""".stripMargin),

    // S5/A6 full numeric stats bundle incl. population skew/kurtosis
    sql("q16_stats_numeric", numericStatsSql("lineitem", "l_extendedprice", 1000.0)),

    // F1 string length stats (postgres.py:161-172)
    sql("q17_stats_strlen",
      """SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |       CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
        |       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len,
        |       CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_len
        |FROM documents""".stripMargin),

    // F2 word-count stats: size(split()) on Spark, len(regexp_split_to_array())
    // on DuckDB
    sql("q18_stats_words",
      """SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |       CAST(MIN(size(split(text, '\\s+'))) AS BIGINT) AS min_words,
        |       CAST(MAX(size(split(text, '\\s+'))) AS BIGINT) AS max_words,
        |       CAST(SUM(CAST(size(split(text, '\\s+')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_words
        |FROM documents""".stripMargin,
      """SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |       CAST(MIN(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS min_words,
        |       CAST(MAX(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS max_words,
        |       CAST(SUM(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_words
        |FROM documents""".stripMargin),

    // F3 TIME-as-epoch-seconds stats (postgres.py:177-186)
    sql("q19_time_epoch",
      """SELECT CAST(MIN(unix_seconds(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS min_epoch,
        |       CAST(MAX(unix_seconds(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS max_epoch,
        |       CAST(COUNT(DISTINCT unix_seconds(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS nd_epoch
        |FROM lineitem""".stripMargin,
      """SELECT CAST(MIN(CAST(floor(epoch(l_shipdate)) AS BIGINT)) AS BIGINT) AS min_epoch,
        |       CAST(MAX(CAST(floor(epoch(l_shipdate)) AS BIGINT)) AS BIGINT) AS max_epoch,
        |       CAST(COUNT(DISTINCT CAST(floor(epoch(l_shipdate)) AS BIGINT)) AS BIGINT) AS nd_epoch
        |FROM lineitem""".stripMargin),

    // A7/F4 equi-width histogram, width_bucket(v, mn, mx+1, 10) semantics
    // (postgres.py:122-138) spelled out so it runs on both engines
    sql("q20_hist_equiwidth",
      """WITH b AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) + 1.0 AS mx FROM orders)
        |SELECT CAST(floor((o_totalprice - b.mn) / (b.mx - b.mn) * 10.0) AS BIGINT) + 1 AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS freq
        |FROM orders, b
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // F6 log2 runtime bucketization, round-half-up spelled as floor(x+0.5)
    // (datasets/__init__.py:111-112,140)
    sql("q21_log2_bucket",
      """SELECT CAST(least(greatest(floor(log2(value) + 0.5), -3.0), 8.0) AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS freq
        |FROM events
        |WHERE value > 0.0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // top-20%-by-runtime (augment.py:18-21). The oracle may use the lazy
    // global window; the Spark side is ops.TopFraction (bucketed ranking —
    // an unpartitioned window would serialize the table at scale).
    frame("q22_topk_window",
      """SELECT event_id, value FROM (
        |  SELECT event_id, value,
        |         ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM events
        |) t
        |WHERE rn <= CAST(floor(n * 0.2) AS BIGINT)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      TopFraction.topFraction(Tables.load(s, dir, "events"), "value", "event_id", 0.2)
        .select("event_id", "value").orderBy("event_id")
    },

    // ---- beyond-reference relational surface (SURVEY §2.3/§2.5 notes
    // these as ABSENT in the reference; the engine supports them) ------

    sql("q23_union_all",
      """SELECT c_custkey AS id, 'customer' AS src FROM customer WHERE c_acctbal > 9000.0
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS src FROM supplier WHERE s_acctbal > 9000.0
        |ORDER BY src, id""".stripMargin),

    sql("q24_left_join",
      """SELECT c.c_custkey, o.o_orderkey
        |FROM customer c LEFT JOIN orders o
        |  ON c.c_custkey = o.o_custkey AND o.o_totalprice > 100000.0
        |ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""".stripMargin),

    sql("q25_semi_join",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin),

    sql("q26_anti_join",
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0)
        |ORDER BY c_custkey""".stripMargin),

    sql("q27_rollup",
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n""".stripMargin),

    sql("q28_window_rank",
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(RANK() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin),

    sql("q29_intersect",
      """SELECT c_nationkey AS k FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY k""".stripMargin),

    // relational pivot with the value domain DECLARED (no driver-side
    // distinct-collect pass — .pivot(col) alone scans the table to find
    // the columns, the classic hidden job at scale); decimal-exact sums
    frame("q104_pivot", {
      val cells = PivotStatuses.map(st =>
        s"CAST(SUM(CASE WHEN l_linestatus = '$st' THEN CAST(l_quantity AS DECIMAL(14,2)) END) AS DOUBLE) AS qty_${st.toLowerCase}")
        .mkString(",\n       ")
      s"""SELECT l_returnflag,
         |       $cells
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .withColumn("qd", col("l_quantity").cast("decimal(14,2)"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", PivotStatuses)
        .agg(sum(col("qd")))
        .select(col("l_returnflag") +:
          PivotStatuses.map(st =>
            col(st).cast("double").as(s"qty_${st.toLowerCase}")): _*)
        .orderBy("l_returnflag")
    },

    // CUBE over two dims with grouping_id — all four grouping sets in
    // one pass (partial-agg combined), decimal-exact sums
    frame("q105_cube",
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       l_returnflag, l_linestatus,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .withColumn("qd", col("l_quantity").cast("decimal(14,2)"))
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("qd")).cast("double").as("qty"))
        .select("gid", "l_returnflag", "l_linestatus", "n", "qty")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // bin-bucketed range join: lineitem quantities against overlapping
    // nation-derived [lo, hi] intervals — an equi-join on the bin id,
    // never a nested loop (RangeJoinSpec asserts the plan)
    frame("q86_range_join",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS rid,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN nation n
        |  ON CAST(l.l_quantity AS DOUBLE) >= n.n_nationkey * 2.0
        | AND CAST(l.l_quantity AS DOUBLE) <= n.n_nationkey * 2.0 + 3.0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      val facts = s.table("lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("double").as("qty"))
      val ranges = s.table("nation").select(
        col("n_nationkey").cast("long").as("rid"),
        (col("n_nationkey") * lit(2.0)).as("lo"),
        (col("n_nationkey") * lit(2.0) + lit(3.0)).as("hi"))
      RangeJoin.rangeJoin(facts, "qty", ranges, "lo", "hi", binWidth = 2.0)
        .groupBy("rid")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("qty").cast("decimal(14,2)")).cast("double").as("sum_qty"))
        .orderBy("rid")
    },

    // interval-overlap join: supplier × part synthetic intervals meet
    // on bin ids, each overlapping pair counted exactly once via the
    // first-shared-bin rule — no distinct, no nested loop
    frame("q87_interval_join",
      """SELECT CAST(s.s_suppkey AS BIGINT) AS sid,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(p.p_partkey) AS BIGINT) AS sum_pid
        |FROM supplier s JOIN part p
        |  ON (s.s_suppkey % 100) * 3.0 <= (p.p_partkey % 200) * 1.5 + 2.0
        | AND (p.p_partkey % 200) * 1.5 <= (s.s_suppkey % 100) * 3.0 + 10.0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      val sup = s.table("supplier")
        .select(col("s_suppkey").cast("long").as("sid"),
          ((col("s_suppkey") % 100).cast("double") * 3.0).as("lo"))
        .withColumn("hi", col("lo") + 10.0)
      val prt = s.table("part")
        .select(col("p_partkey").cast("long").as("pid"),
          ((col("p_partkey") % 200).cast("double") * 1.5).as("lo"))
        .withColumn("hi", col("lo") + 2.0)
      RangeJoin.intervalOverlapJoin(sup, "lo", "hi", prt, "lo", "hi", binWidth = 8.0)
        .groupBy("sid")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("r_pid")).cast("long").as("sum_pid"))
        .orderBy("sid")
    }
  )
}
