package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` exposes one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` carries the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01. Both are views of one list, [[all]], in which each
  * query is defined once with its oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * 5-way join chain + grouped revenue aggregate (SURVEY §2.3/§2.4).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_join_chain")(spark, "/root/testdata/sf0.001")

  /** Every catalog query, each name exactly once. */
  lazy val all: Seq[QueryDef] = {
    val defs = Catalog.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      TextQueries.all ++ MultimodalQueries.all ++ EventQueries.all ++
      CurationQueries.all ++ SketchQueries.all ++ SourceQueries.all ++
      StatsCatalog.all ++ PipelineCatalog.all
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"catalog names defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    defs
  }

  private lazy val byName: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.run).toMap

  private lazy val oracles: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = byName

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = oracles
}
