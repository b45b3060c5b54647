package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Headliners cover every operator family at its
  * intended scale path (scan/filter/join/agg, stats collection, dedup via
  * LSH banding, simhash, ANN top-k via broadcast, text analysis, windowed
  * events) — the quadratic verification-only paths (all-pairs cosine /
  * hamming) are exercised by the correctness gate instead, where data is
  * small by design.
  */
object Bench {

  /** Argv tokens whose presence in a `ps -eo args` listing invalidates
    * a bench capture. The campaign fleet's JVMs carry ~146 GB of
    * nominal Xmx and load ~36 on this box — round 15's driver capture
    * ran against that and was kernel-OOM-killed (exit 137), leaving the
    * round with no bench artifact at all. The babysitter counts too:
    * even if no worker is resident at scan time, a live babysitter
    * relaunches streams INTO the capture window (exactly how the r15
    * capture died — streams launched at 23:37/23:43 around a 23:36
    * capture start). Matching is exact-argv-token (split on
    * whitespace), as the fleet's own disk guard matched, so a
    * coincidental `grep -E 'TailCampaign|FailedRetry'` in some shell's
    * argv can not false-positive.
    */
  private val contaminantClasses = Seq(
    "graft.lab.TailCampaign", "graft.lab.FailedRetry", "graft.estimate.Evaluate")

  /** Names of resident campaign processes found in `psOutput`, empty
    * when the box is clean. Pure function of the listing (spec-tested).
    */
  private[graft] def contaminants(psOutput: String): Seq[String] =
    psOutput.linesIterator.flatMap { line =>
      val toks = line.trim.split("\\s+")
      contaminantClasses.find(toks.contains).orElse(
        if (toks.exists(_.endsWith("fleet_babysit.sh"))) Some("fleet_babysit.sh")
        else None)
    }.toSeq.distinct

  /** Campaign processes resident on THIS box right now (empty if `ps`
    * itself is unavailable — never fails the bench over introspection).
    */
  private def residentCampaign(): Seq[String] =
    scala.util.Try(
      contaminants(scala.sys.process.Process(Seq("ps", "-eo", "args")).!!)
    ).getOrElse(Nil)

  val headline: Seq[String] = Seq(
    "q01_agg_min_join", "q02_scan_project", "q03_filter_cmp", "q09_join_inner",
    "q10_join_chain", "q13_groupby_having", "q15_count_distinct",
    "q16_stats_numeric", "q21_log2_bucket", "q22_topk_window",
    "q30_dedup_exact", "q31_minhash_sig", "q32_lsh_candidates",
    "q33_ngram_jaccard", "q34_simhash", "q36_text_analyze", "q38_ann_topk",
    "q40_srp_ann", "q42_embed_neardup", "q43_ivf_ann", "q44_kmeans_step",
    "q47_srp_multiprobe", "q48_curation", "q49_dedup_clusters",
    "q51_contamination", "q52_pack_sequences", "q53_repetition",
    "q54_sessionize", "q55_asof_join", "q56_shuffle_shards", "q57_vocab",
    "q58_top_terms", "q59_clean_text",
    "q41_window_events", "q50_stats_model", "q65_partition_prune",
    "q66_bloom_contamination", "q67_hll_cardinality", "q68_cms_heavy_hitters",
    "q71_profile", "q72_bloom_join", "q73_bloom_anti_join",
    "q75_image_decode", "q76_mixture_sample", "q77_zorder_box",
    "q78_pq_adc", "q79_chunk_dedup", "q80_bigram_lm", "q81_orc_roundtrip",
    "q82_exact_quantiles", "q83_upsert", "q84_incremental_stats",
    "q85_ivf_pq", "q86_range_join", "q87_interval_join", "q88_json_extract",
    "q89_bm25_search", "q90_groupaware_split", "q91_training_order",
    "q92_pii_redact", "q93_domain_cap", "q94_token_budget", "q95_nb_quality",
    "q96_audio_decode", "q97_video_decode", "q98_schema_evolution",
    "q99_corpus_diff", "q100_semantic_dedup", "q101_temperature_sample",
    "q102_image_resize", "q103_containment", "q104_pivot", "q105_cube",
    "q106_inverted_index", "q107_weighted_sample", "q108_context_windows",
    "q109_edit_distance", "q110_dup_spans", "q111_funnel", "q112_retention",
    "q113_rolling_active", "q114_transitions", "q115_bpe_merges",
    "q116_image_flip", "q117_grouped_quantiles")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // contamination guard (round-15 verdict #1): a capture on a
    // fleet-loaded box is not a measurement. Scan at start AND again
    // after the timed runs (below) — r15's contamination arrived
    // mid-window — and stamp the verdict into the artifact rather than
    // aborting, so the driver still gets a parseable JSON whose
    // invalidity is self-declared instead of a missing round artifact.
    val contaminatedAtStart = residentCampaign()
    if (contaminatedAtStart.nonEmpty)
      System.err.println("[bench] WARNING: campaign processes resident at " +
        s"start — capture will be stamped contaminated: " +
        contaminatedAtStart.mkString(", "))
    val spark = Session.local()
    val all = SparkEntry.queries
    // warm the JVM/codegen once so per-query numbers measure the engine,
    // not first-call class loading (same protocol as the reference's
    // run-twice-keep-2nd, dqo/lab/query_executor.py:79-103)
    all("q01_agg_min_join")(spark, sfDir).count()
    // timing protocol: one untimed warm run (plan compile + codegen +
    // class loading, the reference's run-twice-keep-2nd idea,
    // dqo/lab/query_executor.py:79-103), then median-of-3 timed runs.
    // A single kept run proved unable to gate regressions: identical
    // binaries in rounds 3/4 swung individual queries 2-4x run-to-run.
    // The per-query relative spread (max-min)/median is emitted so the
    // reader can tell signal from scheduler noise.
    val results = headline.filter(all.contains).map { name =>
      // a failing query must surface as -1, never as a plausible timing
      def once(): Double = {
        val t0 = System.nanoTime()
        try { all(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
      }
      val warm = once()
      val (kept, spread) = if (warm < 0) (-1.0, -1.0) else {
        // sub-second queries sit at the scheduler/GC noise floor where a
        // single stray run can triple the reported spread (round-5 judge
        // re-run: q22 spread 3.57 on a 0.51 s median) — give them 5
        // samples instead of 3 so one outlier can't own the median.
        // The shuffle-heavy LSH family gets 5 too: its many small
        // shuffle stages make it the most contention-sensitive group in
        // the suite (both the r6 and r8 "regressions" that clean re-runs
        // discharged as session noise were concentrated here).
        // The real-codec multimodal family likewise: per-image/per-frame
        // decode inside mapPartitions is JIT/GC-sensitive enough that a
        // same-HEAD idle double re-run (round 10) moved q75 1.66<->3.17 s
        // and q97 3.08<->4.48 s between runs with within-run spreads of
        // the same size — 3 samples let one outlier own the median.
        val noisy = Set("q31_minhash_sig", "q32_lsh_candidates",
          "q33_ngram_jaccard", "q109_edit_distance",
          "q75_image_decode", "q96_audio_decode", "q97_video_decode",
          "q102_image_resize", "q116_image_flip")
        val samples = if (warm < 1.0 || noisy(name)) 5 else 3
        val runs = Seq.fill(samples)(once())
        if (runs.exists(_ < 0)) (-1.0, -1.0)
        else {
          val sorted = runs.sorted
          (sorted(samples / 2), (sorted.last - sorted.head) / sorted(samples / 2))
        }
      }
      // free operator-persisted intermediates between queries (cache
      // lifecycle is session-owned; see Verify for the same rule), then
      // collect the evicted blocks NOW — otherwise the old generation
      // fills during the NEXT query's first timed run and that query
      // pays our cleanup as a one-time spike
      spark.catalog.clearCache()
      System.gc()
      (name, kept, spread)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Double.toString, not the f-interpolator: %f is default-locale
    // dependent and a comma decimal separator would corrupt the JSON
    val sp = results.map { case (k, _, s) =>
      "\"" + k + "\":" + (math.rint(s * 1000) / 1000).toString }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // BASELINE.md engine-side throughputs: SQL parse+IR-build and full
    // feature-encode rates over a generated workload (cf. the reference's
    // dqo/encode.py and dqo/test_parser.py probes)
    val db = graft.model.StatsCollector.collect(spark, sfDir,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    val workload = (1 to 200).map(s => new graft.gen.RandomQueryGen(db, s).randomize())
      .filter(_.valid).map(_.toSql(pretty = false))
    // same warm-then-measure protocol as the queries above: one untimed
    // pass JIT-compiles the parse/encode paths, then the timed pass
    // measures steady-state throughput. A single cold pass mostly
    // measures C2 compilation, whose cost moves with how much unrelated
    // code the session loaded first — round 6's parse/encode "collapse"
    // (833→312 / 512→110 q/s) tracked the grown catalog, not the code.
    workload.foreach(sql => graft.ir.Frontend.parseSql(sql, Some(db)))
    workload.foreach(sql =>
      scala.util.Try(graft.encode.Encoder.encodeQuery(db, sql)))
    val tp0 = System.nanoTime()
    workload.foreach(sql => graft.ir.Frontend.parseSql(sql, Some(db)))
    val parseQps = workload.size / ((System.nanoTime() - tp0) / 1e9)
    val te0 = System.nanoTime()
    val encoded = workload.flatMap(sql =>
      scala.util.Try(graft.encode.Encoder.encodeQuery(db, sql)).toOption)
    val encodeQps = encoded.size / ((System.nanoTime() - te0) / 1e9)

    // cpus is stamped so a capture at the local[4] default can never be
    // mistaken for a local[32] one (the round-8 "q42 regression" was
    // exactly that mixup)
    val cpus = Session.cpus
    // second contamination scan: the fleet can arrive mid-capture (r15:
    // babysitter launched streams one minute after the capture started)
    val contaminated = (contaminatedAtStart ++ residentCampaign()).distinct
    if (contaminated.nonEmpty)
      System.err.println("[bench] WARNING: capture contaminated by resident " +
        "campaign processes: " + contaminated.mkString(", "))
    val contamJson =
      if (contaminated.isEmpty) "false"
      else "true,\"contaminants\":" +
        contaminated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,"sf":"$sfDir","cpus":$cpus,"contaminated":$contamJson,"parse_qps":$parseQps,"encode_qps":$encodeQps}"""
    // The driver captures a bounded TAIL of stdout (~2 KB) and parses the
    // last line into BENCH_r*.json; the full-name queries+spread line is
    // ~5 KB, so the round artifact used to end up truncated mid-map with
    // parsed:null (round-11 verdict). stdout therefore gets a COMPACT but
    // complete line — per-query keys shortened to their canonical qNN id,
    // values at millisecond precision, the spread map summarized to its
    // max — while the full-fidelity record (full names + per-query
    // spreads) persists in a JSON file. BENCH_LOCAL.json is the
    // COMMITTED idle anchor (drained box, captured last, committed
    // immediately); the driver's own post-snapshot run lands on a warm
    // box and must not clobber it (round-14 verdict #4), so the full
    // record goes to /tmp by default and to BENCH_LOCAL.json only when
    // GRAFT_BENCH_LOCAL=1 is set by the idle-capture protocol.
    val qsShort = results.map { case (k, v, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" +
        (math.rint(v * 1000) / 1000).toString }.mkString("{", ",", "}")
    val spreadMax = (math.rint(results.map(_._3).foldLeft(0.0)(math.max)
      * 1000) / 1000).toString
    val totalR = (math.rint(total * 1000) / 1000).toString
    val parseR = (math.rint(parseQps * 10) / 10).toString
    val encodeR = (math.rint(encodeQps * 10) / 10).toString
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","queries":$qsShort,"spread_max":$spreadMax,"sf":"$sfDir","cpus":$cpus,"contaminated":$contamJson,"parse_qps":$parseR,"encode_qps":$encodeR}""")
    val benchOut =
      if (sys.env.get("GRAFT_BENCH_LOCAL").contains("1")) "BENCH_LOCAL.json"
      else "/tmp/graft_bench_last.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOut), json + "\n")
    spark.stop()
  }
}
