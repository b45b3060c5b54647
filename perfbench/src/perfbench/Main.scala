package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: runs one workload on one seed and writes its raw
  * measurements (samples, counters, checks) as one JSON object. Metric
  * arithmetic happens in `perfbench/run.py`, which starts this process.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir with sf0.01 and sf0.001> --pins <pins.tsv> --out <raw.json>
  * --spans <spans.jsonl>`, or `--dump <out.json>` to write the digests
  * that `perfbench/pins.py` turns into pins.
  */
object Main {
  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = args.get(k)
  }

  def parse(argv: Array[String]): Opts =
    Opts(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full collection, in MB. Collected twice: the
    * first collection lets Spark's cleaner release what it tracks through
    * weak references, the second frees that.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1e6
  }

  /** JVM-wide collection time so far, in seconds (driver and executors
    * share the JVM in local mode).
    */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val work = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val exit =
      try {
        o.get("dump") match {
          case Some(out) =>
            Files.writeString(Paths.get(out), Pins.dump(spark, o("data")) + "\n")
            0
          case None =>
            val spans = new Spans
            val ctx = Ctx(spark, o("workload"), o("seed").toLong, o("seconds").toDouble,
              o("trace") == "1", o("data"), Pins.load(o("pins")), spans, sessionS)
            val raw = o("workload") match {
              case "catalog_mix" => CatalogWorkload.run(ctx)
              case "estimator_loop" => EstimatorWorkload.run(ctx)
              case w => throw new IllegalArgumentException(s"unknown workload $w")
            }
            System.err.println(f"[perfbench] workload done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
            Files.writeString(Paths.get(o("out")), raw + "\n")
            o.get("spans").foreach { p =>
              Files.writeString(Paths.get(p), spans.all.map(_.toJson).mkString("", "\n", "\n"))
            }
            0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        System.err.println(f"[perfbench] stopped at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    sys.exit(exit)
  }
}

/** What every workload receives. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                     trace: Boolean, data: String, pins: Pins, spans: Spans,
                     sessionS: Double)
