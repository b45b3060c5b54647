package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The catalog's name registry: every query is defined once, the key
  * sets `graft.Verify` and `graft.Bench` read are exactly the known ones,
  * and no headline name can drop silently out of the bench total.
  */
class RegistrySpec extends AnyFunSuite {

  /** The 117 catalog queries. */
  private val names: Set[String] = Set(
    "q01_agg_min_join", "q02_scan_project", "q03_filter_cmp", "q04_filter_like",
    "q05_filter_between", "q06_filter_in", "q07_filter_null", "q08_filter_or",
    "q09_join_inner", "q10_join_chain", "q11_join_theta", "q12_agg_global",
    "q13_groupby_having", "q14_orderby_limit", "q15_count_distinct",
    "q16_stats_numeric", "q17_stats_strlen", "q18_stats_words", "q19_time_epoch",
    "q20_hist_equiwidth", "q21_log2_bucket", "q22_topk_window", "q23_union_all",
    "q24_left_join", "q25_semi_join", "q26_anti_join", "q27_rollup",
    "q28_window_rank", "q29_intersect", "q30_dedup_exact", "q31_minhash_sig",
    "q32_lsh_candidates", "q33_ngram_jaccard", "q34_simhash", "q35_simhash_pairs",
    "q36_text_analyze", "q37_multimodal_features", "q38_ann_topk",
    "q39_cosine_pairs", "q40_srp_ann", "q41_window_events", "q42_embed_neardup",
    "q43_ivf_ann", "q44_kmeans_step", "q45_split", "q46_stratified_sample",
    "q47_srp_multiprobe", "q48_curation", "q49_dedup_clusters", "q50_stats_model",
    "q51_contamination", "q52_pack_sequences", "q53_repetition", "q54_sessionize",
    "q55_asof_join", "q56_shuffle_shards", "q57_vocab", "q58_top_terms",
    "q59_clean_text", "q60_generate", "q61_plan_ops", "q62_encode", "q63_estimate",
    "q64_set_encoders", "q65_partition_prune", "q66_bloom_contamination",
    "q67_hll_cardinality", "q68_cms_heavy_hitters", "q69_jsonl_roundtrip",
    "q70_canonical_corpus", "q71_profile", "q72_bloom_join", "q73_bloom_anti_join",
    "q74_plan_merged_encode", "q75_image_decode", "q76_mixture_sample",
    "q77_zorder_box", "q78_pq_adc", "q79_chunk_dedup", "q80_bigram_lm",
    "q81_orc_roundtrip", "q82_exact_quantiles", "q83_upsert",
    "q84_incremental_stats", "q85_ivf_pq", "q86_range_join", "q87_interval_join",
    "q88_json_extract", "q89_bm25_search", "q90_groupaware_split",
    "q91_training_order", "q92_pii_redact", "q93_domain_cap", "q94_token_budget",
    "q95_nb_quality", "q96_audio_decode", "q97_video_decode", "q98_schema_evolution",
    "q99_corpus_diff", "q100_semantic_dedup", "q101_temperature_sample",
    "q102_image_resize", "q103_containment", "q104_pivot", "q105_cube",
    "q106_inverted_index", "q107_weighted_sample", "q108_context_windows",
    "q109_edit_distance", "q110_dup_spans", "q111_funnel", "q112_retention",
    "q113_rolling_active", "q114_transitions", "q115_bpe_merges", "q116_image_flip",
    "q117_grouped_quantiles")

  /** Rows-only queries: no SQL-expressible oracle (checked by golden
    * CRCs, or by BpeSpec for q115). */
  private val rowsOnly: Set[String] = Set("q60_generate", "q61_plan_ops", "q62_encode",
    "q63_estimate", "q64_set_encoders", "q74_plan_merged_encode", "q115_bpe_merges")

  test("SparkEntry.queries holds exactly the 117 catalog names, each defined once") {
    assert(names.size == 117)
    assert(SparkEntry.all.size == 117)
    assert(SparkEntry.queries.keySet == names)
  }

  test("SparkEntry.oracleSql holds exactly the 110 oracle-checked names") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet == names -- rowsOnly)
    assert(oracles.size == 110)
    assert(oracles.values.forall(_.trim.nonEmpty))
  }

  test("every Bench headline name resolves in SparkEntry.queries") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names missing from the catalog: ${missing.mkString(", ")}")
    assert(Bench.headline.distinct.size == Bench.headline.size)
  }
}
