package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry without a Spark session: every [[QuerySpec]] is
 * named, unique and carries oracle SQL, and the derived driver maps
 * agree on the same, fixed name set. */
class QueryRegistrySpec extends AnyFunSuite {

  private val specs = ReferenceQueries.specs ++ AnalyticsQueries.specs ++
    CorpusQueries.specs ++ StreamingQueries.specs

  test("338 specs with unique q_ names") {
    assert(specs.size == 338)
    assert(specs.map(_.name).distinct.size == specs.size)
    val bad = specs.map(_.name).filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, bad)
  }

  test("every spec has non-blank oracle SQL") {
    val blank = specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }

  test("queries and oracleSql are keyed by the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == specs.map(_.name).toSet)
  }

  test("the name set is the fixed driver contract") {
    assert(SparkEntry.queries.keySet == Golden)
  }

  private val Golden = Set(
    "q_adaptive_salt", "q_agg_pricing", "q_ann_bruteforce", "q_ann_ivf",
    "q_ann_ivf_append", "q_ann_ivf_delete", "q_ann_ivf_indexed", "q_ann_ivfpq",
    "q_ann_ivfpq_indexed", "q_ann_lsh", "q_ann_pca", "q_ann_pq", "q_ann_recall",
    "q_anomaly", "q_anti_join", "q_append_sink", "q_approx_distinct",
    "q_approx_percentile", "q_array_funcs", "q_asof_forward", "q_asof_join",
    "q_asof_nearest", "q_attribution", "q_band_lookup", "q_basket_lift", "q_benford",
    "q_bfs", "q_big_orders", "q_bigram_surprisal", "q_bitemporal_join",
    "q_bitmap_distinct", "q_blamed_supplier", "q_blocklist", "q_bloom_semi_join",
    "q_bm25", "q_boilerplate", "q_bom_explode", "q_bpe_apply", "q_bpe_merges",
    "q_bpe_merges_batched", "q_branch_gc", "q_branch_merge", "q_budget_materialize",
    "q_business_days", "q_calibration", "q_cc_sessions", "q_cdc_apply", "q_cdc_sink",
    "q_centroid_outliers", "q_change_apply", "q_chi_square", "q_chunk_dedup",
    "q_clamped_balance", "q_clamped_balance_stream", "q_cli_mask", "q_cli_replicate",
    "q_cli_run", "q_cli_storage", "q_cluster_assign", "q_cms_topk", "q_code_switch",
    "q_compact_partitioned", "q_concentration", "q_concurrency_live", "q_cond_agg",
    "q_conform", "q_constraint_audit", "q_context_chunks", "q_cooccurrence",
    "q_corpus_pipeline", "q_corpus_shuffle", "q_corr_matrix", "q_critical_path",
    "q_csv_quarantine", "q_cube", "q_cust_dist", "q_cusum_drift", "q_cycle_census",
    "q_dataset_card", "q_date_funcs", "q_date_spine", "q_decimal_conformance",
    "q_decontaminate", "q_decontaminate_bloom", "q_decontaminate_semantic",
    "q_decontaminate_spans", "q_dedup_clusters", "q_dedup_clusters_exact",
    "q_dedup_clusters_sound", "q_dedup_containment", "q_dedup_containment_exact",
    "q_dedup_containment_sound", "q_dedup_embed", "q_dedup_embed_exact",
    "q_dedup_embed_sound", "q_dedup_exact", "q_dedup_impact", "q_dedup_incremental",
    "q_dedup_jaccard", "q_dedup_jaccard_exact", "q_dedup_keep_best", "q_dedup_minhash",
    "q_dedup_minhash_sound", "q_dedup_simhash", "q_dedup_simhash_sound",
    "q_disjunctive_rev", "q_domain_stats", "q_drift", "q_dup_alarm", "q_dup_spans",
    "q_duplicate_payments", "q_effective_config", "q_embedding_stats", "q_erase_history",
    "q_excess_suppliers", "q_fair_allocation", "q_fd_audit", "q_fifo_cogs",
    "q_filter_chain", "q_fingerprint", "q_flat_denorm", "q_forecast_rev", "q_fsck",
    "q_fsck_repair", "q_fsck_restore", "q_funnel", "q_funnel_live", "q_funnel_windowed",
    "q_fuzzy_match", "q_gini_nation", "q_global_cust", "q_gopher_filter",
    "q_governed_release", "q_group_mode", "q_group_ols", "q_group_topk",
    "q_grouping_sets", "q_hard_negatives", "q_hash_split", "q_hourly_events",
    "q_hybrid_retrieval", "q_important_parts", "q_incremental_agg", "q_incremental_join",
    "q_incremental_quantile", "q_ingest", "q_interpolate", "q_interval_anti",
    "q_interval_coverage", "q_interval_join", "q_interval_join_outer",
    "q_interval_merge", "q_interval_relations", "q_inventory_aging", "q_inverted_index",
    "q_islands", "q_jl_project", "q_join_agg3", "q_join_estimate", "q_join_explosion",
    "q_join_merge", "q_join_profile", "q_json_extract", "q_json_roundtrip",
    "q_k_anonymity", "q_k_anonymity_summary", "q_kendall_trend", "q_lang_id",
    "q_late_events", "q_leakage_split", "q_length_buckets", "q_length_hist",
    "q_linkage_clusters", "q_linked_publish", "q_local_supplier", "q_lookup_replace",
    "q_mad_outliers", "q_market_share", "q_mask_policy", "q_max_bal_nation",
    "q_media_clusters", "q_media_dedup", "q_media_features", "q_media_frames",
    "q_media_headers", "q_media_neardup", "q_mixture_resample", "q_mixture_temperature",
    "q_mmr_rerank", "q_mv_refresh", "q_nest", "q_nest_chunked", "q_nested_denorm",
    "q_next_purchase", "q_normalize_text", "q_not_in", "q_novelty", "q_null_semantics",
    "q_oov_rate", "q_orc_roundtrip", "q_pack_materialize", "q_pack_sequences",
    "q_pagerank", "q_part_stats", "q_partition_prune", "q_passage_overlap",
    "q_path_count", "q_pattern_sessions", "q_pca_gram", "q_pca_project",
    "q_peak_concurrency", "q_percentile", "q_period_over_period", "q_pii_luhn",
    "q_pii_redact", "q_pit_join", "q_pivot", "q_prefix_sharing", "q_priority_count",
    "q_pro_rata", "q_product_profit", "q_profile", "q_promo_share", "q_publish_gate",
    "q_pvm_bridge", "q_quality_classifier", "q_quantize_int8", "q_quota_sample",
    "q_rag_topk", "q_range_pairs", "q_rank_movers", "q_ranking_auc", "q_rate_cap",
    "q_reconcile", "q_reconcile_live", "q_record_linkage", "q_record_linkage_del",
    "q_record_linkage_del2", "q_ref_gc", "q_reference_fidelity", "q_regex_conformance",
    "q_repetition", "q_replicate", "q_retention", "q_returned_items", "q_rfm",
    "q_rolling_distinct", "q_rolling_distinct_approx", "q_rollup", "q_row_merge",
    "q_rrf_fusion", "q_running_balance", "q_running_sum", "q_salted_join",
    "q_sample_estimate", "q_scan_filter", "q_scd2", "q_schema_drift", "q_schema_guard",
    "q_segment_dedup", "q_semdedup", "q_semi_join", "q_sequence_pattern",
    "q_session_paths", "q_session_transitions", "q_session_window", "q_sessionize",
    "q_setops", "q_shard_assign", "q_simjoin", "q_sketch_merge", "q_skyline",
    "q_sliding_window", "q_small_qty_rev", "q_snapshot_branch", "q_snapshot_catalog",
    "q_snapshot_changes", "q_snapshot_diff", "q_snapshot_enrich_stream",
    "q_snapshot_history", "q_snapshot_publish", "q_snapshot_read_all", "q_snapshot_tag",
    "q_snapshot_vacuum", "q_source_overlap", "q_source_quality", "q_storage_report",
    "q_stratified_sample", "q_stream_ann_delete", "q_stream_asof",
    "q_stream_branch_publish", "q_stream_dedup", "q_stream_drift", "q_stream_enrich",
    "q_stream_media_route", "q_stream_neardup_gate", "q_stream_quality_gate",
    "q_stream_quantile", "q_stream_sessionize", "q_stream_snapshot_publish",
    "q_stream_topk", "q_stream_topk_weighted", "q_string_funcs", "q_subtree_rollup",
    "q_surprisal", "q_survival", "q_table_checksum", "q_tail_attribution",
    "q_targeted_delete", "q_text_quality", "q_tfidf", "q_theil_sen", "q_time_weighted",
    "q_token_budget", "q_token_count", "q_top_ngrams", "q_top_supplier", "q_topk_others",
    "q_triangles", "q_try_cast", "q_unpivot", "q_upsert", "q_upsert_versioned",
    "q_upsert_versioned_stream", "q_url_dedup", "q_vector_search_sink",
    "q_vocab_coverage", "q_volume_ship", "q_warehouse_pipeline", "q_weak_label",
    "q_weighted_quantile", "q_weighted_sample", "q_window_conformance",
    "q_window_frames", "q_window_topn", "q_windowed_approx_distinct", "q_winsorize",
    "q_zorder_key")
}
