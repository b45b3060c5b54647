package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main runs on
  * `Session.local`, so the core count, the timestamp handling and the
  * time zone that results depend on are set the same way everywhere.
  */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, 4 when unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, no UI, WARN logging, and TIMESTAMP(NANOS) parquet
    * columns read as epoch-nanos LONG (`events.parquet` stores them;
    * Spark refuses them by default). `extra` adds conf on top.
    */
  def local(cpus: Int = Session.cpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
