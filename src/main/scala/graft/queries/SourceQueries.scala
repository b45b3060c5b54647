package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

import QueryDef.frame

/** Physical layout and source round-trips: partition pruning, JSONL,
  * z-order, ORC, keyed upsert and schema evolution. Each query writes a
  * table copy once per source directory and the oracle reads the
  * original tables, so the round-trip must be value-invisible.
  */
object SourceQueries {

  private val ZBits = 8          // z-order bits per dimension (q77)
  private val ZBoxLo = 32L       // 2-D box probed on the z-ordered table
  private val ZBoxHi = 95L
  private val OrcKeyLo = 1000L   // pushed key range probed on the ORC copy (q81)
  private val OrcKeyHi = 3000L

  // Layout-rewriting queries (q65/q69) materialize a table copy under a
  // temp dir. Memoize per (tag, source) so the bench's warm+3-timed
  // protocol measures the READ path after the first write instead of
  // four rewrites, and delete everything on JVM exit so repeated
  // bench/verify runs don't fill /tmp with table copies.
  private val materialized = scala.collection.concurrent.TrieMap.empty[String, String]
  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }
  private def tempOutput(tag: String, srcDir: String)(write: String => Unit): String =
    materialized.getOrElseUpdate(s"$tag|$srcDir", {
      val out = java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString
      write(out)
      sys.addShutdownHook(deleteRec(new java.io.File(out)))
      out
    })

  val all: Seq[QueryDef] = Seq(
    // schema evolution: an old shard (2 cols) and a new shard (3 cols)
    // land in ONE directory; the proven mergeSchema read sees the union
    // with pre-evolution rows NULL in the new column
    frame("q98_schema_evolution",
      s"""WITH m AS (
         |  SELECT l_orderkey, l_quantity, CAST(NULL AS VARCHAR) AS l_returnflag
         |  FROM lineitem WHERE l_orderkey % 2 = 0
         |  UNION ALL
         |  SELECT l_orderkey, l_quantity, l_returnflag
         |  FROM lineitem WHERE l_orderkey % 2 = 1
         |)
         |SELECT COALESCE(l_returnflag, '<pre-evolution>') AS rflag,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         |FROM m GROUP BY 1 ORDER BY rflag""".stripMargin) { (s, dir) =>
      import graft.sources.EvolvingStore
      val out = tempOutput("q98", dir) { o =>
        val li = Tables.load(s, dir, "lineitem")
        EvolvingStore.appendShard(
          li.where(col("l_orderkey") % 2 === 0).select("l_orderkey", "l_quantity"), o)
        EvolvingStore.appendShard(
          li.where(col("l_orderkey") % 2 === 1)
            .select("l_orderkey", "l_quantity", "l_returnflag"), o)
      }
      EvolvingStore.readMergedProven(s, out,
          Seq("l_orderkey", "l_quantity", "l_returnflag"))
        .groupBy(coalesce(col("l_returnflag"), lit("<pre-evolution>")).as("rflag"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("sum_qty"))
        .orderBy("rflag")
    },
    // physical layout: lang-partitioned rewrite of the corpus, then a
    // partition-pruned scan — the ONE §2 capability (S6 partition
    // introspection / writePartitioned) previously without end-to-end
    // driver evidence. The query re-reads its own partitioned copy and
    // FAILS unless the scan proves directory pruning (a partition
    // filter pushed, exactly one of the five lang directories read), so
    // a regression in the pruning path cannot pass as a value match.
    //
    // the oracle reads the ORIGINAL unpartitioned table: value equality
    // proves the partitioned rewrite round-trips; the pruning itself is
    // asserted plan-side inside the query
    frame("q65_partition_prune",
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'de' ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.sources.BucketedStore
      val out = tempOutput("q65", dir) { o =>
        BucketedStore.writePartitioned(Tables.load(s, dir, "documents"), o, "lang")
      }
      // S6 partition introspection (the reference's PARTITIONS_QUERY,
      // postgres.py:19-45): the written layout must report its partition
      // column, and the unpartitioned source must report none
      val introspected = graft.model.StatsCollector.partitionColumns(s, out)
      require(introspected == Seq("lang"),
        s"partition introspection saw $introspected, expected [lang]")
      val flat = graft.model.StatsCollector.partitionColumns(s, s"$dir/documents.parquet")
      require(flat.isEmpty,
        s"unpartitioned source reported partition columns: $flat")
      val pruned = s.read.parquet(out).where(col("lang") === "de")
      pruned.collect() // drive THIS plan so its scan metrics fill
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scan = BucketedStore.planNodes(pruned.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(sys.error("no file scan in the partitioned read"))
      require(scan.partitionFilters.nonEmpty,
        s"lang predicate not pushed as a partition filter:\n${pruned.queryExecution.executedPlan}")
      val nPart = scan.metrics("numPartitions").value
      require(nPart == 1, s"expected 1 pruned lang directory, scanned $nPart")
      pruned.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // ingestion boundary: export the corpus as JSONL shards, re-ingest
    // through the declared-schema + corrupt-line gate, emit the rows.
    // The oracle reads the ORIGINAL parquet, so a lossy escape, schema
    // drift, or dropped row in the JSONL boundary is a value mismatch.
    //
    // the unmodified source table: the JSONL export/ingest must be
    // value-invisible
    frame("q69_jsonl_roundtrip",
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val out = tempOutput("q69", dir) { o =>
        graft.sources.JsonlStore.write(Tables.load(s, dir, "documents"), o)
      }
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
        .add("source", StringType).add("n_chars", LongType)
      graft.sources.JsonlStore.readChecked(s, out, schema)
        .orderBy("doc_id")
    },
    // z-order layout round-trip: write lineitem z-ordered on two derived
    // dims, read a 2-D box back through the z-range + exact predicates.
    // The oracle computes the same Morton interleave arithmetically, so
    // a wrong bit position or an unsound z-interval (dropping in-box
    // rows) is a value mismatch, not just a slow plan.
    frame("q77_zorder_box", {
      // the same Morton interleave, spelled in portable >>/& arithmetic
      val zTerms = (0 until ZBits).map(i =>
        s"((da >> $i) & 1) * ${1L << (2 * i + 1)} + ((db >> $i) & 1) * ${1L << (2 * i)}")
        .mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, da, db, CAST($zTerms AS BIGINT) AS zval
         |FROM (SELECT l_orderkey, l_linenumber,
         |             l_partkey % 256 AS da, l_suppkey % 256 AS db
         |      FROM lineitem)
         |WHERE da BETWEEN $ZBoxLo AND $ZBoxHi AND db BETWEEN $ZBoxLo AND $ZBoxHi
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    }) { (s, dir) =>
      val out = tempOutput("q77", dir) { o =>
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_partkey") % 256).as("da"), (col("l_suppkey") % 256).as("db"))
        graft.sources.ZOrderStore.writeZOrdered(li, o, "da", "db", ZBits, numFiles = 32)
      }
      graft.sources.ZOrderStore.readBox(s, out, "da", "db", ZBits,
          ZBoxLo, ZBoxHi, ZBoxLo, ZBoxHi)
        .select("l_orderkey", "l_linenumber", "da", "db", "zval")
        .orderBy("l_orderkey", "l_linenumber")
    },
    // ORC round-trip: lineitem rewritten as key-sorted ORC, re-read
    // through a PROVEN pushed range predicate (the read fails unless the
    // filter reaches the ORC scan), aggregated — values must match the
    // oracle computed from the original parquet
    frame("q81_orc_roundtrip",
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE l_orderkey >= $OrcKeyLo AND l_orderkey < $OrcKeyHi
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import graft.sources.OrcStore
      val out = tempOutput("q81", dir) { o =>
        OrcStore.writeSorted(
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
          o, "l_orderkey", 8)
      }
      OrcStore.readWhereProven(s, out,
          col("l_orderkey") >= OrcKeyLo && col("l_orderkey") < OrcKeyHi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },
    // keyed upsert (MERGE) into a hash-sharded layout: replaced keys,
    // inserted keys, untouched shards never rewritten — final state
    // must equal the oracle's anti-join + union
    frame("q83_upsert",
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 <> 0
        |), u AS (
        |  SELECT doc_id, lang, n_chars + 100000 AS n_chars
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT doc_id, lang, n_chars FROM u
        |UNION ALL
        |SELECT b.doc_id, b.lang, b.n_chars FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.doc_id = b.doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.sources.UpsertStore
      val out = tempOutput("q83", dir) { o =>
        val docs = Tables.load(s, dir, "documents")
        UpsertStore.writeKeyed(
          docs.where(col("doc_id") % 7 =!= 0)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          o, "doc_id", 8)
        UpsertStore.upsert(s, o,
          docs.where(col("doc_id") % 3 === 0)
            .select(col("doc_id"), col("lang"),
              (col("n_chars") + 100000L).as("n_chars")),
          "doc_id", 8)
      }
      graft.sources.UpsertStore.read(s, out).orderBy("doc_id")
    }
  )
}
