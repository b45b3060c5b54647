package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Independent in-repo reference for the q61 plan-op golden (the
  * BpeSpec discipline: the pinned CRC must be DERIVABLE from a
  * hand-built expectation, not just re-recorded). The q61 query's
  * physical plan at the sf0.01 gate scale is hand-asserted property by
  * property — two-level hash aggregation, a broadcast hash join (orders
  * after its selective filter is far under the broadcast threshold),
  * and both filters pushed into their parquet scans — and the CRC of
  * the hand-written kind sequence must equal the pinned golden. A Spark
  * version bump that re-plans the query fails these assertions with a
  * readable diff; re-pinning the golden then requires consciously
  * updating the expectation here too.
  */
class PlanGoldenSpec extends AnyFunSuite {

  private val gate = "/root/testdata/sf0.01"

  private lazy val spark = {
    // the production default the q61 golden was pinned under
    val s = graft.LocalSpark.session(
      "spark.sql.autoBroadcastJoinThreshold" -> (10L * 1024 * 1024).toString)
    Tables.registerAll(s, gate)
    s
  }

  // the exact q61 SQL (PipelineCatalog's q61_plan_ops entry)
  private val sql =
    """SELECT o.o_orderkey, COUNT(*) AS n FROM lineitem l, orders o
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_totalprice > 1000.0
      |GROUP BY o.o_orderkey""".stripMargin

  /** The hand-built expectation: partial+final hash aggregate over a
    * broadcast inner join whose two scan legs both receive their pushed
    * filter. This IS the plan a cost-based engine should produce here —
    * if Spark stops producing it, that is a semantic event worth a
    * failing test, whatever the CRC says.
    */
  private val expectedKinds =
    Seq("Aggregate", "Aggregate", "Join", "Filter", "Scan", "Filter", "Scan")

  private def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  test("hand-built expected kind sequence reproduces the pinned q61 golden") {
    assert(crc32(expectedKinds.mkString(",")) == PipelineCatalog.pinnedQ61,
      "the pinned q61 CRC is not the CRC of the hand-built expectation — " +
        "someone re-pinned the golden without updating PlanGoldenSpec")
  }

  test("executed plan at the gate scale matches the hand-built expectation") {
    val df = spark.sql(sql)
    df.collect()
    val ops = graft.lab.PlanOps.fromDataFrame(df).preorder
    assert(ops.map(_.kind) == expectedKinds,
      s"plan shape drifted: ${ops.map(o => s"${o.kind}(${o.detail.take(30)})").mkString(" -> ")}")
    // property 1: two-level (partial, final) hash aggregation
    assert(ops(0).detail.startsWith("Hash") && ops(1).detail.startsWith("Hash"))
    // property 2: the join is broadcast (filtered orders is tiny) and inner
    assert(ops(2).detail.contains("BroadcastHash") && ops(2).detail.contains("Inner"),
      s"join strategy drifted: ${ops(2).detail}")
    // property 3: pushdown reached BOTH parquet scans — the join-key
    // null filter on lineitem, the totalprice predicate on orders
    val scans = ops.filter(_.kind == "Scan").map(_.detail)
    assert(scans.exists(d => d.startsWith("lineitem") && d.contains("l_orderkey IS NOT NULL")),
      s"lineitem scan lost its pushed filter: $scans")
    assert(scans.exists(d => d.startsWith("orders") && d.contains("o_totalprice")),
      s"orders scan lost its pushed filter: $scans")
  }
}
