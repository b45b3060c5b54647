package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Expected outputs, read from `perfbench/pins.tsv`: one line per pin,
  * `kind key rows digest source`, tab-separated. Kind `catalog` pins a
  * catalog item's result; kinds `sql` and `enc` pin, per generator seed,
  * the generated SQL and the encoded vectors of `estimator_loop`.
  */
final case class Pins(catalog: Map[String, Digest.Result],
                      sql: Map[Long, Digest.Result], enc: Map[Long, Digest.Result])

object Pins {
  def load(path: String): Pins = {
    val rows = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t"))
    def kind(k: String): Seq[(String, Digest.Result)] =
      rows.filter(_(0) == k).map(r => r(1) -> Digest.Result(r(2).toLong, r(3)))
    Pins(kind("catalog").toMap,
      kind("sql").map { case (s, d) => s.toLong -> d }.toMap,
      kind("enc").map { case (s, d) => s.toLong -> d }.toMap)
  }

  /** Seeds whose generated workload is pinned. */
  val estimatorSeeds: Seq[Long] = 0L until 32L

  /** This commit's digests of every pinnable output, as JSON. */
  def dump(spark: SparkSession, data: String): String = {
    val dir = s"${data}/${CatalogWorkload.scale}"
    Tables.registerAll(spark, dir)
    val queries = SparkEntry.queries
    val catalog = CatalogWorkload.items.map { name =>
      val d = Digest.ofFrame(queries(name)(spark, dir))
      spark.catalog.clearCache()
      name -> Json.Raw(Json.obj("rows" -> d.rows, "digest" -> d.digest))
    }
    val oracle = CatalogWorkload.items.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    val db = EstimatorWorkload.statsModel(spark, s"${data}/${EstimatorWorkload.scale}")
    val est = estimatorSeeds.map { seed =>
      val w = EstimatorWorkload.generate(db, seed)
      seed.toString -> Json.Raw(Json.obj(
        "sql_rows" -> w.sqlDigest.rows, "sql" -> w.sqlDigest.digest,
        "enc_rows" -> w.encDigest.rows, "enc" -> w.encDigest.digest))
    }
    Json.obj("catalog" -> Json.Raw(Json.obj(catalog: _*)),
      "oracle_sql" -> Json.Raw(Json.obj(oracle: _*)),
      "estimator" -> Json.Raw(Json.obj(est: _*)))
  }
}
