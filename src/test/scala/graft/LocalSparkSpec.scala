package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{BloomSketch, ExtensionsSpec}

/** Suites must not see each other's session state: what one suite sets
  * on its session stays there, so no result depends on suite order.
  */
class LocalSparkSpec extends AnyFunSuite {

  private val partitions = "spark.sql.shuffle.partitions"
  private val broadcast = "spark.sql.autoBroadcastJoinThreshold"

  test("runtime conf set on one suite's session is invisible to another and to the root") {
    val before = Seq(partitions, broadcast).map(LocalSpark.root.conf.get)
    val mine = LocalSpark.session(partitions -> "8", broadcast -> "-1")
    val other = LocalSpark.session()
    assert(Seq(partitions, broadcast).map(mine.conf.get) == Seq("8", "-1"))
    assert(Seq(partitions, broadcast).map(other.conf.get) == before)
    assert(Seq(partitions, broadcast).map(LocalSpark.root.conf.get) == before)
    assert(before.head == "4")
  }

  test("temp functions stay on the session that registered them") {
    val mine = LocalSpark.session()
    val other = LocalSpark.session()
    BloomSketch.register(mine)
    val sql = "SELECT graft_bloom_agg(xxhash64(id), 10L, 1024L) FROM range(10)"
    assert(mine.sql(sql).head().getAs[Array[Byte]](0).nonEmpty)
    intercept[AnalysisException](other.sql(sql))
    intercept[AnalysisException](LocalSpark.root.sql(sql))

    val hist = "SELECT graft_histogram(CAST(id AS DOUBLE), 0.0, 9.0, 2) FROM range(10)"
    assert(ExtensionsSpec.session.sql(hist).head().getSeq[Long](0) == Seq(5L, 5L))
    intercept[AnalysisException](other.sql(hist))
    intercept[AnalysisException](LocalSpark.root.sql(hist))
  }
}
