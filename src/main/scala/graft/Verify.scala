package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    // testdata-change tripwire: round 6 lost six green queries to a
    // silent canon regeneration — make the next one loud and immediate
    val fp = Tables.canonFingerprint(sfDir)
    val pinned = graft.queries.PipelineCatalog.pinnedCanonFp
    if (sfDir.replaceAll("/+$", "").endsWith("sf0.01") && fp != pinned) {
      System.err.println(s"[canon] WARNING: $sfDir fingerprint $fp != pinned " +
        s"$pinned — the driver regenerated the testdata; golden-pinned " +
        "queries (q60-q64, q74) will report matches_golden=false until " +
        "re-pinned via GRAFT_GOLDEN_RECORD=true")
      Tables.names.foreach { n =>
        val df = Tables.load(spark, sfDir, n)
        System.err.println(s"[canon]   $n: ${df.schema.simpleString.take(200)}")
      }
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist() shared intermediates (contamination,
      // repetition, IVF) hand cache-lifecycle ownership to the session —
      // drop them so 60 queries don't stack cached corpora
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
