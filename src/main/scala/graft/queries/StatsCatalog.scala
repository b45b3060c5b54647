package graft.queries

import graft.model.StatsCollector

import QueryDef.frame

/** Oracle-checked exposure of the stats collector (SURVEY §2.1 S4/S5):
  * the engine collects the full [[graft.model.DbModel]] and emits the
  * portable subset (counts, nulls, distincts, min/max on the numeric
  * measure image) as rows the DuckDB oracle recomputes per column.
  * Moments/histograms are library-internal (their decimal-exact
  * correctness probe is q16/q20).
  */
object StatsCatalog {

  /** numeric ("num") and epoch-second ("time") measure columns of the
    * driver testdata tables; static so the oracle SQL is static.
    */
  val measureCols: Seq[(String, String, String)] = Seq(
    ("region", "r_regionkey", "num"),
    ("nation", "n_nationkey", "num"), ("nation", "n_regionkey", "num"),
    ("customer", "c_custkey", "num"), ("customer", "c_nationkey", "num"),
    ("customer", "c_acctbal", "num"),
    ("supplier", "s_suppkey", "num"), ("supplier", "s_nationkey", "num"),
    ("supplier", "s_acctbal", "num"),
    ("part", "p_partkey", "num"), ("part", "p_size", "num"),
    ("part", "p_retailprice", "num"),
    ("orders", "o_orderkey", "num"), ("orders", "o_custkey", "num"),
    ("orders", "o_totalprice", "num"), ("orders", "o_orderdate", "time"),
    ("lineitem", "l_orderkey", "num"), ("lineitem", "l_partkey", "num"),
    ("lineitem", "l_suppkey", "num"), ("lineitem", "l_linenumber", "num"),
    ("lineitem", "l_quantity", "num"), ("lineitem", "l_extendedprice", "num"),
    ("lineitem", "l_discount", "num"), ("lineitem", "l_tax", "num"),
    ("lineitem", "l_shipdate", "time"),
    ("documents", "doc_id", "num"), ("documents", "n_chars", "num"))

  private val tables = measureCols.map(_._1).distinct

  val all: Seq[QueryDef] = Seq(
    frame("q50_stats_model", {
      val parts = measureCols.map { case (t, c, kind) =>
        val m = if (kind == "time") s"CAST(floor(epoch($c)) AS BIGINT)" else c
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  CAST(COUNT(*) AS BIGINT) AS total,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($m) AS DOUBLE) AS min_val,
           |  CAST(MAX($m) AS DOUBLE) AS max_val
           |FROM $t""".stripMargin
      }
      s"SELECT * FROM (\n${parts.mkString("\nUNION ALL\n")}\n) ORDER BY table_name, column_name"
    }) { (s, dir) =>
      import s.implicits._
      val db = StatsCollector.collect(s, dir, tables)
      val wanted = measureCols.map { case (t, c, _) => (t, c) }.toSet
      val rows = for {
        t <- db.tables
        c <- t.columns if wanted.contains((t.name, c.name))
        st <- c.stats; num <- st.numeric
      } yield (t.name, c.name, st.total, st.nulls, st.distinct, num.min, num.max)
      rows.toDF("table_name", "column_name", "total", "nulls", "n_distinct",
          "min_val", "max_val")
        .orderBy("table_name", "column_name")
    }
  )
}
