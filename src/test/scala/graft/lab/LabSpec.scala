package graft.lab

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

class LabSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = graft.LocalSpark.session()
    Tables.registerAll(s, "/root/testdata/sf0.001")
    s
  }

  private val joinSql =
    """SELECT o.o_orderkey, COUNT(*) AS n FROM lineitem l, orders o
      |WHERE l.l_orderkey = o.o_orderkey AND o.o_totalprice > 1000.0
      |GROUP BY o.o_orderkey""".stripMargin

  test("executor times and analyzes with plan capture") {
    val ex = new Executor(spark, timeoutSec = 120)
    val secs = ex.time("SELECT COUNT(*) AS n FROM lineitem")
    assert(secs > 0 && secs < 60)
    val run = ex.analyze(joinSql)
    assert(run.seconds > 0 && run.planJson.get.contains("\"kind\""))
  }

  test("plan op tree maps scan/join/aggregate taxonomy") {
    val df = spark.sql(joinSql)
    df.collect()
    val tree = PlanOps.fromDataFrame(df)
    val kinds = tree.preorder.map(_.kind).toSet
    assert(kinds.contains("Scan"))
    assert(kinds.contains("Join") || kinds.contains("NestedLoop"))
    assert(kinds.contains("Aggregate"))
    // pushed filter reaches the orders scan
    val scans = tree.preorder.filter(_.kind == "Scan")
    assert(scans.exists(s => s.detail.startsWith("orders") && s.detail.contains("o_totalprice")))
    assert(tree.toJson.startsWith("{"))
  }

  test("plan ops carry executed row counts and scan metrics") {
    val df = spark.sql(joinSql)
    val resultRows = df.collect().length.toLong
    val tree = PlanOps.fromDataFrame(df)
    // the join's reported output rows equal the lineitem rows that found
    // a qualifying order (every group member), and the final aggregate's
    // equal the collected result
    val join = tree.preorder.find(op => op.kind == "Join" || op.kind == "NestedLoop").get
    assert(join.outputRows.exists(_ >= resultRows),
      s"join rows ${join.outputRows} < result groups $resultRows")
    val aggs = tree.preorder.filter(_.kind == "Aggregate")
    assert(aggs.exists(_.outputRows.contains(resultRows)),
      s"no aggregate reported the $resultRows result rows: ${aggs.map(_.outputRows)}")
    // scans expose I/O-shape metrics (files read), richer than the
    // reference's regex scrape
    val scans = tree.preorder.filter(_.kind == "Scan")
    assert(scans.exists(_.metrics.get("numFiles").exists(_ > 0)),
      s"no scan carried numFiles: ${scans.map(_.metrics)}")
  }

  test("workload load/save/bucket/groom/augment round-trip") {
    val dir = Files.createTempDirectory("wl").toString
    val csv = s"$dir/runtimes.csv"
    val rows = Seq(
      ("SELECT MIN(t1.l_quantity) FROM lineitem as t1 WHERE t1.l_quantity > 10", 0.5),
      ("SELECT MIN(t1.o_totalprice) FROM orders as t1", 2.0),
      ("SELECT MIN(t1.l_quantity) FROM lineitem as t1 WHERE t1.l_quantity > 10", 0.5), // dup
      ("THIS IS NOT SQL", 1.0),
      ("SELECT MIN(l.l_quantity), MIN(o.o_totalprice) FROM lineitem as l, orders as o WHERE l.l_orderkey = o.o_orderkey", 7.9))
    Files.writeString(java.nio.file.Paths.get(csv),
      rows.map { case (q, r) => "\"" + q.replace("\"", "\"\"") + "\"," + r }.mkString("\n"))

    val loaded = Workloads.load(spark, csv)
    assert(loaded.count() == 4) // dedup
    val buckets = loaded.select("bucket").collect().map(_.getInt(0)).toSet
    assert(buckets.subsetOf(Set(-1, 0, 1, 2, 3)))

    val groomed = Workloads.groom(loaded, None)
    assert(groomed.count() == 3) // non-SQL dropped

    val aug = Workloads.augment(groomed, None, limit = 4)
    assert(aug.count() >= groomed.count())

    Workloads.save(groomed, s"$dir/out", split = Some(0.3))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/out-train")))
  }

  test("timeout cancels runaway queries") {
    val ex = new Executor(spark, timeoutSec = 1)
    // cartesian triple product of lineitem is far beyond 1s
    intercept[Exception] {
      ex.time("SELECT COUNT(*) AS n FROM lineitem a, lineitem b, lineitem c " +
        "WHERE a.l_quantity + b.l_quantity + c.l_quantity > 0")
    }
  }
}
