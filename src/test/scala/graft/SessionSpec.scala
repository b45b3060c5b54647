package graft

import org.scalatest.funsuite.AnyFunSuite

/** The factory contract Bench, Verify and the oracle rely on, checked on
  * the test root (built by `Session.local(4)`) and on a suite's child.
  * The keys are asserted in the SparkContext conf, where only an
  * explicit setting puts them, so a JVM default cannot pass for one.
  */
class SessionSpec extends AnyFunSuite {

  test("Session.local(n): local[n], n shuffle partitions, UTC, nanosAsLong, no UI") {
    val root = LocalSpark.root
    val conf = root.sparkContext.getConf
    assert(root.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(root.sparkContext.uiWebUrl.isEmpty)
    for (s <- Seq(root, LocalSpark.session())) {
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    }
  }
}
