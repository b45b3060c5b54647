package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** One catalog query, defined once: the Spark program the engine runs on
  * a scale-factor directory, and the DuckDB SQL the oracle runs on the
  * same parquet tables (None: rows-only, checked another way).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Spark SQL over the registered tables, checked against `duck`. */
  def sql(name: String, spark: String, duck: String): QueryDef =
    QueryDef(name, { (s: SparkSession, sfDir: String) =>
      Tables.registerAll(s, sfDir)
      s.sql(spark)
    }, Some(duck))

  /** SQL that runs verbatim on both Spark and DuckDB. */
  def sql(name: String, spark: String): QueryDef = sql(name, spark, spark)

  /** A DataFrame program, checked against `oracle`. */
  def frame(name: String, oracle: String)(body: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, body, Some(oracle))

  /** A DataFrame program with no SQL-expressible oracle. */
  def frame(name: String)(body: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, body, None)
}
