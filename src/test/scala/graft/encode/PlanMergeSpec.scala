package graft.encode

import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.ir._
import graft.lab.{ExecOp, PlanOps}
import graft.model.StatsCollector

/** E10 "hybrid tree" merge (merge_rel_tree_with_exec_plan,
  * dqo/estimator/gerelt/v20/encoder.py:579-742): the relational tree is
  * rebuilt so its join STRUCTURE follows the measured physical plan, not
  * the parse order. Covers the three behaviors the reference exercises:
  * direct join-condition recovery per physical join, implied-join
  * recovery via BFS on the join graph when the engine joined along a
  * transitive-equality path (encoder.py:654-686), and re-attachment of
  * single-relation selections + the projection root. The last test runs
  * the whole path against a REAL executed Spark plan whose join order
  * provably differs from the SQL conjunct order.
  */
class PlanMergeSpec extends AnyFunSuite {

  // three-relation chain: c --(c_custkey=o_custkey)-- o --(o_orderkey=l_orderkey)-- l
  // conjunct order puts the l-o join FIRST, so the parse-order tree
  // bottoms out at (l ⋈ o); a plan that joined (c ⋈ o) first is a
  // genuinely different structure.
  private val chainSql =
    """SELECT MIN(c.c_acctbal) FROM customer as c, lineitem as l, orders as o
      |WHERE l.l_orderkey = o.o_orderkey AND c.c_custkey = o.o_custkey
      |AND o.o_totalprice > 1000.0""".stripMargin

  private def scan(table: String) = ExecOp("Scan", table, Nil, None)
  private def join(l: ExecOp, r: ExecOp) = ExecOp("Join", "SortMerge Inner", Seq(l, r), None)

  /** Structure fingerprint: nesting of joins/leaves (filters collapsed —
    * their placement is covered separately). */
  private def shape(p: RelPlan): String = p match {
    case RelationLeaf(_, key) => key
    case JoinNode(_, l, r, lc, rc) => s"J[${l.fullName}=${r.fullName}](${shape(lc)},${shape(rc)})"
    case Filter(_, c) => shape(c)
    case Project(_, _, c) => s"P(${shape(c)})"
    case Subquery(_, i) => shape(i)
    case CrossSet(bs) => s"X(${bs.map(shape).mkString(",")})"
  }

  test("merge follows the executed plan's join order, not the SQL conjunct order") {
    val tree = Frontend.parseSql(chainSql)
    // parse-order tree bottoms out at the first conjunct's join (l ⋈ o)
    assert(shape(tree) == "P(J[c.c_custkey=o.o_custkey](c,J[l.l_orderkey=o.o_orderkey](l,o)))")

    // measured plan joined (customer ⋈ orders) FIRST, then lineitem
    val plan = ExecOp("Aggregate", "Hash 1",
      Seq(join(join(scan("customer"), scan("orders")), scan("lineitem"))), None)
    val merged = PlanMerge.mergeWithExecPlan(tree, plan)
    // merged bottom join is now (c ⋈ o) on the direct edge; the top join
    // recovers the l-o edge between the joined pair and the l leaf
    assert(shape(merged) ==
      "P(J[o.o_orderkey=l.l_orderkey](J[c.c_custkey=o.o_custkey](c,o),l))")
  }

  test("single-relation selections re-attach above their relation after merge") {
    val tree = Frontend.parseSql(chainSql)
    val plan = join(join(scan("customer"), scan("orders")), scan("lineitem"))
    val merged = PlanMerge.mergeWithExecPlan(tree, plan)
    // the o_totalprice filter must sit somewhere above the `o` leaf
    def filterAboveO(p: RelPlan): Boolean = p match {
      case Filter(c: Cmp, child) =>
        (c.col.rel == "o" && c.col.name == "o_totalprice" &&
          child.relationKeys.contains("o")) || filterAboveO(child)
      case other => other.children.exists(filterAboveO)
    }
    assert(filterAboveO(merged), s"filter not re-attached in ${shape(merged)}")
  }

  test("implied-join recovery: BFS on the join graph when the plan joined a transitive pair") {
    val tree = Frontend.parseSql(chainSql)
    // the engine joined customer × lineitem first — NO direct SQL edge
    // exists between them; recovery must consult the join graph
    // (encoder.py:654-686) instead of emitting a cartesian CrossSet
    val plan = join(join(scan("customer"), scan("lineitem")), scan("orders"))
    val merged = PlanMerge.mergeWithExecPlan(tree, plan)
    def joins(p: RelPlan): Seq[JoinNode] = p match {
      case j: JoinNode => j +: j.children.flatMap(joins)
      case other => other.children.flatMap(joins)
    }
    def crosses(p: RelPlan): Seq[CrossSet] = p match {
      case c: CrossSet => Seq(c)
      case other => other.children.flatMap(crosses)
    }
    assert(crosses(merged).isEmpty, s"merge fell back to cartesian: ${shape(merged)}")
    val bottom = joins(merged).find(j => j.lc.isInstanceOf[RelationLeaf] &&
      j.rc.isInstanceOf[RelationLeaf]).get
    // recovered condition must be a REAL edge of the join graph
    // (c-o or l-o), exactly like the reference's graph-path grab
    val edge = Set(bottom.left.fullName, bottom.right.fullName)
    assert(edge == Set("c.c_custkey", "o.o_custkey") ||
      edge == Set("l.l_orderkey", "o.o_orderkey"), s"bad recovered edge $edge")
  }

  test("end-to-end: real executed plan reorders the join; merged encoding differs") {
    // deterministic physical shape: no broadcast conversion, so the
    // join order is exactly what ReorderJoin picked from FROM order
    val spark = graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val dir = "/root/testdata/sf0.001"
    Tables.registerAll(spark, dir)

    val df = spark.sql(chainSql)
    df.collect()
    val plan = PlanOps.fromDataFrame(df)
    // Spark's ReorderJoin walks FROM order (customer, lineitem, orders)
    // and picks the first conditioned pair: (customer ⋈ orders) first —
    // different from the SQL conjunct order that bottoms at (l ⋈ o)
    val bottomJoin = plan.preorder.filter(_.kind == "Join")
      .find(_.children.forall(c => c.preorder.count(_.kind == "Scan") == 1)).get
    val bottomTables = bottomJoin.preorder.filter(_.kind == "Scan")
      .map(_.detail.split(":").head.trim).toSet
    assert(bottomTables == Set("customer", "orders"), s"unexpected physical order: $bottomTables")

    val tree = Frontend.parseSql(chainSql)
    val merged = PlanMerge.mergeWithExecPlan(tree, plan)
    assert(shape(merged) !=
      shape(tree), "merge should restructure when the plan reordered")
    assert(shape(merged).contains("J[c.c_custkey=o.o_custkey](c,o)"))

    // the merged tree encodes end-to-end with the standard widths, and
    // its structure survives into the encoded node sequence
    val db = StatsCollector.collect(spark, dir, Seq("customer", "orders", "lineitem"))
    val mergedEnc = Encoder.encodeQuery(db, chainSql, Some(plan))
    val plainEnc = Encoder.encodeQuery(db, chainSql)
    val widths = Map("relation" -> 63, "projection" -> 69, "selection" -> 112, "join" -> 203)
    mergedEnc.preorder.foreach(n => assert(n.vector.length == widths(n.nodeType)))
    def sig(n: Encoder.EncodedNode): String =
      n.preorder.map(x => s"${x.nodeType}:${x.vector.sum.round}").mkString("|")
    assert(sig(mergedEnc) != sig(plainEnc),
      "plan-merged encoding should differ from the parse-order encoding")
  }
}
