package graft.lab

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level proof of the documented skew strategy: when a join key is
  * pathologically hot, AQE's skew-join handling splits the oversized
  * partition instead of serializing it on one task (SCALE.md: "skewed
  * keys → salting or AQE skew-join"). The dedup/similarity operators
  * salt deterministically where the oracle must reproduce results; for
  * everything else this is the runtime safety net, so it must actually
  * fire.
  */
class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // thresholds scaled down so a unit-test-sized hot key counts as skew
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "24KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("AQE splits a hot join key across tasks (skew=true in the final plan)") {
    import spark.implicits._
    // 50k rows on ONE key vs 50 uniform keys — partition holding key 0
    // dwarfs the others
    val left = spark.range(0, 51000).select(
      when(col("id") < 50000, 0L).otherwise(col("id") % 50).as("k"),
      concat(lit("padpadpadpadpadpadpadpad-"), col("id")).as("payload"))
    val right = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "name")
      .repartition(8)
    val joined = left.join(right, "k")
    // execute THIS dataset's own plan (count() would build a new one and
    // leave joined's adaptive plan unfinalized)
    assert(joined.collect().length == 51000)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE skew handling did not fire; final plan:\n$finalPlan")
  }
}
