"""Scale-curve proxy registry (r10 VERDICT #5).

SCALE_CHECKPOINT.json measures 1x/3x/9x (and for the frontier tier
27x) growth curves for 65 + 9 representative queries — one heavy per
plan-shape family.  Every OTHER registered query names here the
measured sibling whose physical plan shape it shares (same scan /
shuffle / join / window / pandas-boundary skeleton, so the measured
growth curve transfers), making the curve inheritance EXPLICIT instead
of implicit.  Queries with no plausible measured sibling went into
TIER7_QUERIES and were measured directly at 1x/3x/9x this round —
after which they are curve representatives like any other.

This is a claim map, not a perf guarantee: a proxy says "same shape,
same asymptotics", not "same constant".  When an operator's plan shape
changes (e.g. a join strategy rewrite), move it onto the curve or
re-point its proxy in the same commit.

tests/test_scale_proxies.py enforces totality (every registered query
is measured, tier-7, or proxied), target validity (every proxy target
is itself measured), and acyclicity (no proxy chains: targets may not
be proxied keys).

Shape-class legend used in the comments:
  SCAN      pure whole-stage-codegen scan + narrow agg (no/1-row shuffle)
  AGG       scan -> shuffle groupBy/distinct agg (partial agg map-side)
  WINDOW    shuffle-sort + window functions (rank/frame/lag family)
  JOIN      shuffle or broadcast equi-join pipeline (TPC-H shapes)
  RANGEJOIN binned/banded non-equi join
  SIMJOIN   blocked/banded similarity self-join (dedup family)
  EXPLODE   token/ngram explode -> shuffle agg
  DOCSCAN   per-document higher-order-fn scan over documents
  PANDAS    Arrow/pandas-boundary kernel (mapInPandas/applyInPandas)
  SOLVER    grouped numeric solver via pandas kernel
  STREAM    micro-batch streaming (state or join)
  SEQ       per-user ordered event-sequence windows over events
"""

from __future__ import annotations

# Queries with NO plausible measured sibling — measured directly at
# 1x/3x/9x in r11 (scale_checkpoint.py tier7 selector); each is the
# shape representative its family's proxies point at.
TIER7_QUERIES: list[str] = [
    "q_window_ranking",       # WINDOW representative (shuffle-sort + rank)
    "q_text_quality",         # DOCSCAN representative
    "q_events_funnel",        # SEQ representative
    "q_bm25_search",          # inverted-index EXPLODE+JOIN+topk representative
    "q_heavy_hitters",        # batch Python-sketch PANDAS representative
    "q_lakehouse_changefeed", # manifest/commit-log read-path representative
    "q_pca_project",          # wide Gram-aggregate linear-algebra representative
    "q_upsert_merge",         # MERGE join+rewrite write-path representative
    "q_timeseries_gapfill",   # spine-generation + outer-join representative
    # r12: plan shape changed (cents pre-bin + target-bin refinement
    # replaced the distinct-value histogram window — r11 VERDICT #4),
    # so per the registry rule it moves onto the curve in the same
    # round instead of proxying to q_equidepth_histogram.
    "q_agg_approx_quantile",
]

SCALE_PROXIES: dict[str, str] = {
    # --- aggregates: AGG over lineitem/orders, low-card keys ---
    "q_agg_pricing_summary": "q_agg_rollup",
    "q_agg_distinct": "q_agg_rollup",
    "q_agg_approx_distinct": "q_agg_rollup",
    "q_agg_cube_sets": "q_agg_rollup",
    "q_agg_having_stats": "q_agg_rollup",
    "q_agg_collect_sorted": "q_agg_rollup",
    "q_agg_string_concat": "q_agg_rollup",
    "q_reagg_partial": "q_agg_rollup",
    "q_reagg_hll_sketch": "q_agg_rollup",
    # rank-target windows per group (WINDOW over lineitem)
    "q_agg_exact_median_mode": "q_equidepth_histogram",
    # --- als: MLlib ALS fits dominate ---
    "q_als_rmse_gate": "q_als_train_predict",
    "q_als_recommend_topk": "q_als_recommend_ann",
    # --- antidote: driver-local numpy algebra into a LocalRelation; the
    # loop runs the same algebra after one Arrow fetch of its cohort,
    # the step keys on a fixed k×m block (their curve is flat) ---
    "q_antidote_step": "q_antidote_loop",
    "q_antidote_step_fairness": "q_antidote_loop",
    # --- bloom / bucketing ---
    "q_bloom_join_prune": "q_decontaminate_bloom",
    "q_cbo_stats_broadcast": "q_bucketed_join_noshuffle",
    # --- corpus_lm: EXPLODE token distributions ---
    "q_corpus_kl_divergence": "q_corpus_boilerplate_ngrams",
    "q_bigram_lm_heldout": "q_corpus_boilerplate_ngrams",
    "q_doc_entropy": "q_text_quality",
    # --- curation ---
    "q_pii_redact": "q_text_quality",              # DOCSCAN regex
    "q_stratified_sample": "q_negative_sampling",  # hash-sample
    "q_bigram_pmi": "q_corpus_boilerplate_ngrams", # EXPLODE pair agg
    "q_vocab_richness_filter": "q_text_quality",
    "q_doc_lm_score": "q_corpus_boilerplate_ngrams",
    "q_sample_weighted": "q_negative_sampling",
    "q_pack_sequences": "q_window_ranking",        # cumsum bin packing
    "q_vocab_coverage": "q_corpus_boilerplate_ngrams",
    "q_curriculum_bands": "q_window_ranking",      # ntile banding
    "q_shard_packing": "q_window_ranking",
    "q_compression_ratio": "q_multimodal_features",  # PANDAS doc scan
    # --- dedup_scale: banded similarity self-joins ---
    "q_embed_neardup": "q_simhash_neardup",
    "q_semantic_dedup": "q_simhash_neardup",
    # --- eventtime: time-bucket AGG over events ---
    "q_window_tumbling": "q_agg_rollup",
    "q_window_sliding": "q_agg_rollup",
    "q_window_session": "q_stream_session_window",  # same session merge
    "q_events_anomaly_zscore": "q_window_ranking",
    # --- experiments ---
    "q_logrank_test": "q_agg_rollup",
    "q_shapley_attribution": "q_events_funnel",
    "q_cuped_adjustment": "q_agg_rollup",
    # --- features ---
    "q_target_encoding": "q_mi_feature_ranking",
    "q_feature_scaling": "q_mi_feature_ranking",
    "q_feature_hashing": "q_embed_quantize",       # SCAN codegen
    "q_dsir_importance": "q_corpus_boilerplate_ngrams",
    "q_dedup_survivorship": "q_dedup_components",
    "q_prob_calibration": "q_equidepth_histogram",
    "q_isotonic_pav": "q_glm_logreg_irls",         # SOLVER
    # --- funnels: SEQ over events ---
    "q_retention_cohort": "q_events_funnel",
    "q_scd2_intervals": "q_events_funnel",
    "q_path_transitions": "q_events_funnel",
    "q_attribution_touch": "q_events_funnel",
    "q_scd2_asof_join": "q_join_asof",
    "q_rfm_segments": "q_events_funnel",
    "q_gaps_islands_streaks": "q_events_funnel",
    "q_time_to_convert": "q_events_funnel",
    # --- geo / graph ---
    "q_geo_grid_knn": "q_join_range_binned",       # grid-bucketed RANGEJOIN
    "q_zorder_layout": "q_window_ranking",         # global interleave sort
    "q_length_histogram": "q_agg_rollup",
    "q_link_prediction_adamic": "q_graph_triangles",
    # --- joins: JOIN pipelines over TPC-H tables ---
    # q_tpch_q21_waiting is one fact scan joined to a dimension, one
    # shuffle of the joined rows, then per-key aggregation: the growth
    # shape of every equi-join pipeline here, not each one's operators.
    "q_join_inner": "q_tpch_q21_waiting",
    "q_join_broadcast": "q_tpch_q21_waiting",
    "q_join_5way_star": "q_tpch_q21_waiting",
    "q_join_outer": "q_tpch_q21_waiting",
    "q_join_semi": "q_tpch_q21_waiting",
    "q_join_anti": "q_tpch_q21_waiting",
    "q_join_cross": "q_scalar_math_cond",  # fixed-size dims (5x25 at ANY SF)
    "q_join_theta_range": "q_join_range_binned",
    "q_join_asof_nearest": "q_join_asof",
    "q_join_lateral_topk": "q_tpch_q21_waiting",
    "q_join_strategy_hints": "q_tpch_q21_waiting",
    "q_map_literal_lookup": "q_scalar_math_cond",
    # --- lakehouse: manifest/commit-log read paths ---
    "q_lakehouse_timetravel": "q_lakehouse_changefeed",
    "q_lakehouse_incremental_agg": "q_lakehouse_changefeed",
    "q_lakehouse_zonemap_skip": "q_lakehouse_changefeed",
    "q_lakehouse_vacuum": "q_lakehouse_changefeed",
    "q_lakehouse_delete_vectors": "q_lakehouse_changefeed",
    # --- linkage / lsh / multimodal / neighbors ---
    "q_fuzzy_join_names": "q_jaccard_block",       # blocked SIMJOIN
    "q_knn_lsh": "q_ivf_cosine_topk",
    "q_video_framesample": "q_multimodal_framesample",
    "q_item_item_recommend": "q_item_item_cosine",
    # --- patterns ---
    "q_event_pattern_match": "q_events_funnel",
    "q_interval_overlap_join": "q_join_range_binned",
    "q_mad_outliers": "q_equidepth_histogram",
    "q_event_diversity_gini": "q_agg_rollup",
    "q_period_over_period": "q_agg_rollup",
    # --- pca ---
    "q_embed_gram_sql": "q_pca_project",
    "q_embed_gram": "q_pca_project",
    # --- profiling: wide AGG scans & binned stats ---
    "q_profile_table": "q_agg_rollup",
    "q_constraint_audit": "q_agg_rollup",
    "q_grouped_linreg": "q_glm_logreg_irls",
    "q_observe_inflight_metrics": "q_scalar_math_cond",
    "q_chisq_independence": "q_mi_feature_ranking",
    "q_ab_welch_ttest": "q_agg_rollup",
    "q_k_anonymity": "q_agg_rollup",
    "q_psi_drift": "q_equidepth_histogram",
    "q_benford_audit": "q_agg_rollup",
    "q_corr_matrix": "q_agg_rollup",
    "q_l_diversity": "q_agg_rollup",
    "q_t_closeness": "q_equidepth_histogram",
    "q_grouped_ols_multivar": "q_glm_logreg_irls",
    "q_anova_oneway": "q_agg_rollup",
    "q_poisson_bootstrap_ci": "q_agg_rollup",      # replicated AGG
    "q_join_skew_report": "q_agg_rollup",
    "q_plan_self_audit": "q_scalar_math_cond",     # plan introspection panel
    "q_dp_noisy_counts": "q_agg_rollup",
    # --- ranking / recsys ---
    "q_rec_eval_ranking": "q_als_recommend_ann",
    "q_ratings_from_lineitem": "q_agg_rollup",
    "q_ratings_pivot": "q_agg_rollup",
    "q_split_train_test": "q_negative_sampling",
    "q_fairness_value": "q_bias_baseline_rmse",
    "q_fairness_absolute": "q_bias_baseline_rmse",
    "q_fairness_under_over": "q_bias_baseline_rmse",
    "q_fairness_parity": "q_bias_baseline_rmse",
    "q_topk_recommendations": "q_als_recommend_ann",
    "q_bias_shrinkage_rmse": "q_bias_baseline_rmse",
    "q_split_by_group": "q_negative_sampling",
    "q_cold_start_fallback": "q_bias_baseline_rmse",
    # --- reshape ---
    "q_unpivot_stack": "q_scalar_math_cond",
    "q_sample_deterministic": "q_negative_sampling",
    "q_sql_api_q3": "q_tpch_q21_waiting",
    "q_subquery_correlated": "q_tpch_q21_waiting",
    "q_skew_salted_join": "q_tpch_q21_waiting",
    "q_agg_grouping_sets": "q_agg_rollup",
    "q_tpch_q6_forecast": "q_scalar_math_cond",    # filter-agg SCAN
    "q_tpch_q12_shipmode": "q_tpch_q21_waiting",
    "q_tpch_q14_promo": "q_tpch_q21_waiting",
    # --- retrieval ---
    "q_tfidf_topterms": "q_bm25_search",
    "q_rrf_hybrid_search": "q_bm25_search",
    # --- robust ---
    "q_theilsen_trend": "q_market_basket_lift",    # pair self-join + agg
    "q_ar1_forecast": "q_window_ranking",
    "q_huber_mean": "q_glm_logreg_irls",           # IRLS SOLVER
    # --- scalars: SCAN codegen ---
    "q_scalar_string": "q_scalar_math_cond",
    "q_scalar_datetime": "q_scalar_math_cond",
    "q_json_extract": "q_scalar_math_cond",
    "q_array_ops": "q_scalar_math_cond",
    "q_map_from_json": "q_scalar_math_cond",
    "q_null_semantics": "q_scalar_math_cond",
    "q_json_variant": "q_scalar_math_cond",
    # --- scans / sources / sinks ---
    "q_scan_project_filter": "q_scalar_math_cond",
    "q_sink_partitioned_parquet": "q_sink_compaction",
    "q_source_orc_roundtrip": "q_source_csv_json_roundtrip",
    "q_source_custom_pyds": "q_source_csv_json_roundtrip",
    "q_source_schema_evolution": "q_source_csv_json_roundtrip",
    "q_source_binaryfile": "q_source_csv_json_roundtrip",
    "q_source_quarantine_corrupt": "q_source_csv_json_roundtrip",
    "q_source_xml_roundtrip": "q_source_csv_json_roundtrip",
    "q_source_avro_roundtrip": "q_source_csv_json_roundtrip",
    "q_dpp_partition_pruned_join": "q_bucketed_join_noshuffle",
    # --- setops: shuffle distinct/AGG ---
    "q_set_union": "q_agg_rollup",
    "q_set_intersect_except": "q_agg_rollup",
    "q_set_bag_ops": "q_agg_rollup",
    "q_bitmap_membership": "q_agg_rollup",
    # --- sketches: batch PANDAS sketch scans ---
    "q_countmin_sketch": "q_heavy_hitters",
    "q_kmv_distinct_sketch": "q_heavy_hitters",
    # --- stats_nonparam: rank WINDOW shapes ---
    "q_mann_whitney_u": "q_window_ranking",
    "q_ks_two_sample": "q_window_ranking",
    "q_bh_fdr_discoveries": "q_window_ranking",
    "q_cusum_changepoint": "q_window_ranking",
    "q_autocorr_acf": "q_window_ranking",
    "q_wilcoxon_signed_rank": "q_window_ranking",
    # --- streaming ---
    "q_stream_custom_stateful": "q_stream_ewma_stateful",
    "q_stream_static_join": "q_stream_stream_join",
    # --- survival ---
    "q_kaplan_meier": "q_window_ranking",
    "q_markov_attribution": "q_events_funnel",
    "q_rolling_median": "q_window_ranking",
    # --- text / dedup ---
    "q_text_wordcount": "q_corpus_boilerplate_ngrams",
    "q_text_ngrams": "q_corpus_boilerplate_ngrams",
    "q_dedup_exact": "q_corpus_boilerplate_ngrams",
    "q_dedup_threshold_curve": "q_dedup_ngram_jaccard",
    "q_dedup_canonical": "q_dedup_components",
    "q_dedup_cluster_stats": "q_dedup_components",
    "q_dedup_chunk_prune": "q_winnow_neardup",
    "q_dedup_chunk_rewrite": "q_winnow_neardup",
    "q_setsim_prefix_join": "q_dedup_ngram_jaccard",
    "q_source_overlap_matrix": "q_text_containment",
    # --- textstats ---
    "q_text_langid": "q_text_quality",
    "q_text_tokens": "q_text_quality",
    "q_tokenizer_fertility": "q_text_quality",
    "q_ngram_novelty": "q_corpus_boilerplate_ngrams",
    "q_doc_fingerprint": "q_text_quality",
    "q_corpus_curation": "q_text_quality",
    "q_text_repetition": "q_text_quality",
    "q_decontaminate_overlap": "q_winnow_neardup",
    "q_text_chunk": "q_text_quality",
    "q_corpus_mixture": "q_agg_rollup",
    "q_mixture_temperature": "q_agg_rollup",
    "q_doc_winnowing": "q_winnow_neardup",
    "q_corpus_token_budget": "q_window_ranking",
    # --- timeseries ---
    "q_time_weighted_avg": "q_window_ranking",
    "q_feature_store_pit": "q_join_asof",
    "q_ewma_smooth": "q_window_ranking",
    "q_seasonal_baseline": "q_agg_rollup",
    "q_holt_linear": "q_window_ranking",
    "q_holt_linear_chunked": "q_glm_logreg_irls",      # grouped PANDAS fold
    "q_ewma_recurrence_chunked": "q_glm_logreg_irls",  # grouped PANDAS fold
    # --- tokenizer ---
    "q_bpe_merges": "q_corpus_boilerplate_ngrams",  # iterated pair-count AGG
    "q_bpe_encode": "q_text_quality",
    # --- tpch_full / tpch_more: JOIN pipelines ---
    "q_tpch_q2_min_cost": "q_tpch_q21_waiting",
    "q_tpch_q5_local_supplier": "q_tpch_q21_waiting",
    "q_tpch_q11_important_parts": "q_tpch_q21_waiting",
    "q_tpch_q16_supplier_cnt": "q_tpch_q21_waiting",
    "q_tpch_q17_small_qty": "q_tpch_q21_waiting",
    "q_tpch_q20_excess_suppliers": "q_tpch_q21_waiting",
    "q_tpch_q4_priority": "q_tpch_q21_waiting",
    "q_tpch_q10_returns": "q_tpch_q21_waiting",
    "q_tpch_q13_custdist": "q_tpch_q21_waiting",
    "q_tpch_q15_top_supplier": "q_tpch_q21_waiting",
    "q_tpch_q18_big_orders": "q_tpch_q21_waiting",
    "q_tpch_q19_disjunctive": "q_tpch_q21_waiting",
    "q_tpch_q22_idle_custs": "q_tpch_q21_waiting",
    "q_tpch_q7_volume": "q_tpch_q21_waiting",
    "q_tpch_q8_market_share": "q_tpch_q21_waiting",
    "q_tpch_q9_profit": "q_tpch_q21_waiting",
    # --- udfs ---
    "q_cogroup_align": "q_glm_logreg_irls",        # cogrouped PANDAS kernel
    "q_udtf_chunker": "q_multimodal_features",     # Python explode over docs
    "q_sql_function_macro": "q_scalar_math_cond",
    "q_maparrow_norms": "q_embed_quantize",
    # --- vectors ---
    "q_cosine_topk": "q_ann_recall_curve",         # panel x corpus scoring
    "q_embed_centroids": "q_kmeans_labels",
    "q_random_projection": "q_embed_quantize",
    "q_retrieval_mmr": "q_ann_recall_curve",
    # --- windows: WINDOW shapes ---
    "q_window_running_frame": "q_window_ranking",
    "q_window_lead_lag": "q_window_ranking",
    "q_window_range_frame": "q_window_ranking",
    "q_topk_per_group": "q_window_ranking",
    "q_orderby_limit": "q_window_ranking",
    "q_window_first_last_nth": "q_window_ranking",
    "q_window_distribution": "q_window_ranking",
    "q_skyline_pareto": "q_window_ranking",        # dominance via sort+scan
    "q_global_sort_range": "q_window_ranking",
    "q_window_time_range_frame": "q_window_ranking",
    "q_stable_row_ids": "q_window_ranking",
}
