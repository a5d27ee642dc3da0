"""Query catalog — importing this package populates the registry.

Registration order matters: the correctness driver walks ``queries()``
in dict order under a per-round budget (~50 names/round). Scheduling
policy: names with NO driver row ever come first, then the *stalest*
verified set (so rounds of refactoring on shared operators get
re-checked — stale green is the main correctness risk), then the most
recently verified set last. Round 3 therefore re-runs the round-1-era
names, which were last verified against round-1 code.
"""

from . import (  # noqa: F401
    relational,
    simplans,
    sqlplans,
    statplans,
    streamplans,
    temporal,
    textplans,
    weatherplans,
    bucketplans,
    tpchplans,
    curationplans,
    bpeplans,
    pqplans,
    kmeansplans,
    unigramplans,
    classifierplans,
    pcaplans,
    bloomplans,
    sketchplans,
    retrievalplans,
)
from .registry import REGISTRY, oracles, queries  # noqa: F401

# Names with a green (or rows-only-by-design) row per round, oldest
# first. A name absent from every set is scheduled ahead of all of
# them; among verified sets, the oldest (stalest) re-runs first.
_VERIFIED_R1: frozenset[str] = frozenset(
    {
        "anti_join_no_pending",
        "array_agg_order_ids",
        "cosine_topk_bruteforce",
        "cube_orders_status_priority",
        "date_arithmetic_shipping",
        "distinct_customers_per_priority",
        "embedding_near_dup_pairs",
        "embedding_norms",
        "events_daily_rollup",
        "from_json_typed_props",
        "full_outer_nation_activity",
        "grouped_centroids_pandas",
        "ivf_ann_topk",
        "json_props_extract",
        "label_centroids",
        "null_semantics",
        "pairwise_topk_per_label",
        "percentile_price_quartiles",
        "pivot_daily_event_values",
        "q10_returned_revenue",
        "q18_large_volume_customers",
        "q19_disjunctive_predicates",
        "q1_pricing_summary",
        "q2_min_per_group_joinback",
        "q3_top_unshipped_orders",
        "q5_nation_revenue",
        "q7_volume_shipping",
        "rollup_pricing_by_flag_status",
        "scalar_date_order_months",
        "scalar_math_order_buckets",
        "scalar_string_part_catalog",
        "semi_join_big_spenders",
        "session_window_native",
        "sessionize_user_events",
        "setop_cust_fulfilled_and_open",
        "setop_cust_fulfilled_only",
        "setop_union_segments",
        "sliding_window_event_stats",
        "sql_above_nation_avg",
        "sql_grouping_sets_orders",
        "sql_lateral_top_customer",
        "sql_ntile_price_quartiles",
        "sql_q4_late_orders",
        "srp_ann_topk",
        "topk_orders_by_price",
        "unpivot_part_metrics",
        "window_order_value_delta",
        "window_rank_distribution",
        "window_running_customer_total",
        "window_top_orders_per_customer",
    }
)


# CORRECTNESS_r02.json rows (round-2 code, freshest — scheduled last).
_VERIFIED_R2: frozenset[str] = frozenset(
    {
        "approx_distinct_users",
        "approx_percentile_prices",
        "array_functions_tokens",
        "asof_purchase_prior_view",
        "correlation_stats",
        "dedup_clusters_jaccard",
        "dedup_exact_documents",
        "deterministic_sample_orders",
        "doc_fingerprints",
        "embedding_near_dup_blocked",
        "histogram_order_values",
        "ivf_ann_topk_at_rest",
        "lang_id_documents",
        "lang_source_rollup",
        "linear_regression_aggs",
        "merge_upsert_daily",
        "minhash_near_dup_pairs",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_resize",
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_capped",
        "pii_scrub",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q18_bucketed_layout",
        "q1_pricing_summary",
        "q3_bucketed_layout",
        "q3_top_unshipped_orders",
        "q6_forecast_revenue",
        "q9_profit_by_nation_year",
        "range_join_views_before_purchase",
        "regex_token_stats",
        "salted_join_identity",
        "simhash_documents",
        "sql_recursive_calendar",
        "srp_ann_topk_at_rest",
        "stream_stream_join_view_purchase",
        "streaming_daily_rollup",
        "text_normalize",
        "text_quality_features",
        "tfidf_top_terms",
        "token_frequency",
        "two_phase_skew_agg",
        "udtf_token_positions",
        "variant_props_extract",
        "weather_daily_rollup",
        "weather_flatten_hourly",
        "winnowing_fingerprints",
    }
)


# Names the driver actually verified in rounds 3–5 (the keys of
# CORRECTNESS_r0{3,4,5}.json — identical set all three rounds because
# this scheduler kept emitting the same head). Freshest evidence →
# scheduled LAST so round 6's ~50-name budget lands on the 58 catalog
# entries whose last driver row predates the r3 refactors of
# dedup.py / similarity.py / session.py.
_VERIFIED_R5: frozenset[str] = frozenset(
    {
        "anti_join_no_pending",
        "array_agg_order_ids",
        "chunk_documents_fixed",
        "cosine_topk_bruteforce",
        "cube_orders_status_priority",
        "date_arithmetic_shipping",
        "decontaminate_documents",
        "dedup_keep_best_quality",
        "distinct_customers_per_priority",
        "doc_repetition_stats",
        "embedding_near_dup_pairs",
        "embedding_norms",
        "events_daily_rollup",
        "from_json_typed_props",
        "full_outer_nation_activity",
        "ivf_ann_topk",
        "json_props_extract",
        "label_centroids",
        "minhash_lsh_portable_pairs",
        "null_semantics",
        "pivot_daily_event_values",
        "profile_orders_columns",
        "q10_returned_revenue",
        "q18_large_volume_customers",
        "q19_disjunctive_predicates",
        "q2_min_per_group_joinback",
        "q5_nation_revenue",
        "q7_volume_shipping",
        "rollup_pricing_by_flag_status",
        "scalar_date_order_months",
        "scalar_math_order_buckets",
        "scalar_string_part_catalog",
        "semi_join_big_spenders",
        "session_window_native",
        "sessionize_user_events",
        "setop_cust_fulfilled_and_open",
        "setop_cust_fulfilled_only",
        "setop_union_segments",
        "sliding_window_event_stats",
        "srp_ann_topk",
        "stratified_sample_documents",
        "stream_static_enrichment",
        "streaming_dedup_rollup",
        "takedown_documents",
        "topk_orders_by_price",
        "unpivot_part_metrics",
        "window_order_value_delta",
        "window_rank_distribution",
        "window_running_customer_total",
        "window_top_orders_per_customer",
    }
)


# CORRECTNESS_r06.json rows (round-6 code, freshest tier).
_VERIFIED_R6: frozenset[str] = frozenset(
    {
        "approx_distinct_users",
        "approx_percentile_prices",
        "array_functions_tokens",
        "asof_purchase_prior_view",
        "correlation_stats",
        "dedup_clusters_jaccard",
        "dedup_exact_documents",
        "deterministic_sample_orders",
        "doc_fingerprints",
        "embedding_near_dup_blocked",
        "grouped_centroids_pandas",
        "histogram_order_values",
        "ivf_ann_topk_at_rest",
        "lang_id_documents",
        "lang_source_rollup",
        "linear_regression_aggs",
        "minhash_near_dup_pairs",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_resize",
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_capped",
        "pairwise_topk_per_label",
        "percentile_price_quartiles",
        "pii_scrub",
        "q1_pricing_summary",
        "q3_top_unshipped_orders",
        "range_join_views_before_purchase",
        "regex_token_stats",
        "salted_join_identity",
        "simhash_documents",
        "sql_above_nation_avg",
        "sql_grouping_sets_orders",
        "sql_lateral_top_customer",
        "sql_ntile_price_quartiles",
        "sql_q4_late_orders",
        "sql_recursive_calendar",
        "srp_ann_topk_at_rest",
        "stream_stream_join_view_purchase",
        "streaming_daily_rollup",
        "text_normalize",
        "text_quality_features",
        "tfidf_top_terms",
        "token_frequency",
        "two_phase_skew_agg",
        "udtf_token_positions",
        "variant_props_extract",
        "weather_daily_rollup",
        "weather_flatten_hourly",
        "winnowing_fingerprints",
    }
)


# CORRECTNESS_r07.json rows that came back green (or rows-only by
# design) — all 15 _PRIORITY_R7 names regreened, so that tier retires
# into this freshest set.
_VERIFIED_R7: frozenset[str] = frozenset(
    {
        "anti_join_no_pending",
        "array_agg_order_ids",
        "cross_corpus_near_dup_blocked",
        "cross_corpus_near_dup_exact",
        "cube_orders_status_priority",
        "date_arithmetic_shipping",
        "distinct_customers_per_priority",
        "events_daily_rollup",
        "from_json_typed_props",
        "full_outer_nation_activity",
        "json_props_extract",
        "merge_upsert_daily",
        "null_semantics",
        "pack_sequences_documents",
        "pairwise_topk_per_label_hot",
        "pivot_daily_event_values",
        "q10_returned_revenue",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q18_bucketed_layout",
        "q18_large_volume_customers",
        "q19_disjunctive_predicates",
        "q2_min_per_group_joinback",
        "q3_bucketed_layout",
        "q5_nation_revenue",
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q9_profit_by_nation_year",
        "rollup_pricing_by_flag_status",
        "scalar_date_order_months",
        "scalar_math_order_buckets",
        "scalar_string_part_catalog",
        "semi_join_big_spenders",
        "session_window_native",
        "sessionize_user_events",
        "setop_cust_fulfilled_and_open",
        "setop_cust_fulfilled_only",
        "setop_union_segments",
        "sliding_window_event_stats",
        "stratified_sample_documents",
        "streaming_dedup_rollup",
        "temperature_mix_documents",
        "topk_orders_by_price",
        "unpivot_part_metrics",
        "window_order_value_delta",
        "window_rank_distribution",
        "window_running_customer_total",
        "window_top_orders_per_customer",
    }
)


# CORRECTNESS_r08.json rows — all 50 green (43 hash-exact, 7 rows-only
# by design), including pack_bins_documents (the r7 red row, regreened
# first in rotation), so _PRIORITY_R8 retires into this freshest set.
_VERIFIED_R8: frozenset[str] = frozenset(
    {
        "build_vocab_documents",
        "cap_documents_per_source",
        "chunk_documents_fixed",
        "cosine_topk_bruteforce",
        "decontaminate_documents",
        "dedup_keep_best_quality",
        "dedup_passages_documents",
        "doc_repetition_stats",
        "embedding_near_dup_blocked",
        "embedding_near_dup_pairs",
        "embedding_norms",
        "encode_documents_vocab",
        "feature_hash_embed_documents",
        "global_shuffle_documents",
        "grouped_centroids_pandas",
        "interleave_sources_documents",
        "ivf_ann_topk",
        "ivf_ann_topk_at_rest",
        "label_centroids",
        "minhash_dedup_incremental",
        "minhash_dedup_incremental_bucketed",
        "minhash_lsh_portable_pairs",
        "pack_bins_documents",
        "pairwise_topk_per_label",
        "profile_orders_columns",
        "q11_part_value_concentration",
        "q12_shipping_delay_classes",
        "q13_customer_order_distribution",
        "q16_supplier_count_by_part",
        "q1_pricing_summary",
        "q20_excess_inventory_suppliers",
        "q21_waiting_suppliers",
        "q22_dormant_customer_balances",
        "q3_top_unshipped_orders",
        "q8_nation_market_share",
        "quality_prune_documents",
        "semantic_dedup_embeddings",
        "semantic_dedup_embeddings_hot",
        "semantic_dedup_fixed_cells",
        "snapshot_diff_documents",
        "sql_above_nation_avg",
        "sql_grouping_sets_orders",
        "sql_q4_late_orders",
        "srp_ann_topk",
        "srp_ann_topk_at_rest",
        "stream_static_enrichment",
        "streaming_incremental_dedup",
        "streaming_quality_monitor",
        "takedown_documents",
        "token_budget_select_documents",
    }
)


# CORRECTNESS_r09.json rows — all 50 green (38 hash-exact, 12
# rows-only by design), so this becomes the freshest tier.
_VERIFIED_R9: frozenset[str] = frozenset(
    {
        "approx_distinct_users",
        "approx_percentile_prices",
        "bpe_encode_documents",
        "bpe_merges_documents",
        "bpe_pair_counts_documents",
        "corpus_ngram_diversity",
        "correlation_stats",
        "decontaminate_fraction_documents",
        "dedup_substrings_documents",
        "deterministic_sample_orders",
        "diversity_sample_embeddings",
        "dsir_gumbel_sample_documents",
        "dsir_logweights_documents",
        "dsir_select_documents",
        "gopher_quality_filter",
        "histogram_order_values",
        "ivfpq_ann_topk_at_rest",
        "kmeans_cluster_fixed_embeddings",
        "linear_regression_aggs",
        "lm_bigram_score_documents",
        "opq_ann_topk_adc",
        "percentile_price_quartiles",
        "pq_adc_topk_fixed",
        "pq_ann_topk_adc",
        "pq_encode_fixed_embeddings",
        "pseudonymize_events",
        "salted_join_identity",
        "scd2_event_state_history",
        "scd2_point_in_time_lookup",
        "semantic_dedup_embeddings_nprobe",
        "semantic_dedup_incremental_cells",
        "semantic_dedup_incremental_embeddings",
        "sql_lateral_top_customer",
        "sql_ntile_price_quartiles",
        "sql_recursive_calendar",
        "stream_stream_join_view_purchase",
        "streaming_daily_rollup",
        "streaming_decontaminate_documents",
        "streaming_encode_documents",
        "streaming_pseudonymize_events",
        "streaming_scd2_history",
        "streaming_scd2_sealed_store",
        "streaming_semantic_dedup",
        "token_freq_spectrum",
        "training_shard_manifest",
        "two_phase_skew_agg",
        "unigram_encode_documents",
        "unigram_seed_vocab_documents",
        "unigram_vocab_documents",
        "unigram_vocab_em_documents",
    }
)


# CORRECTNESS_r10.json rows — all 50 green (44 hash-exact, 6
# declared rows-only classifier/PCA float paths), freshest tier.
_VERIFIED_R10: frozenset[str] = frozenset(
    {
        "bloom_decontaminate_documents",
        "bloom_membership_documents",
        "bm25_hard_negatives",
        "bm25_topk_at_rest",
        "bm25_topk_documents",
        "bm25_topk_incremental",
        "cdc_chunks_documents",
        "cdc_dedup_ratio",
        "chunk_documents_strided",
        "classifier_score_fixed_weights",
        "cms_heavy_hitter_tokens",
        "cms_token_counts",
        "corpus_datasheet_by_source",
        "corpus_split_documents",
        "documents_csv_roundtrip",
        "documents_jsonl_roundtrip",
        "documents_orc_roundtrip",
        "events_daily_anomalies",
        "exact_quantiles_by_status",
        "exact_quantiles_orders",
        "funnel_view_click_purchase",
        "hll_distinct_ngrams",
        "hll_registers_ngrams",
        "kanon_suppress_events",
        "kwic_snippets_documents",
        "lm_reference_score_documents",
        "ngram_containment_pairs",
        "oversample_mix_documents",
        "pca_project_embeddings",
        "pca_reduced_ann_topk",
        "perplexity_buckets_documents",
        "phrase_match_at_rest",
        "phrase_match_documents",
        "proximity_match_documents",
        "quality_classifier_scores",
        "quality_classifier_select",
        "remove_frequent_passages",
        "retention_cohorts_events",
        "span_corruption_documents",
        "split_leakage_audit",
        "streaming_bloom_membership",
        "streaming_bm25_index_topk",
        "streaming_cdc_chunk_store",
        "streaming_classifier_scores",
        "streaming_cms_token_counts",
        "streaming_lm_score_documents",
        "streaming_pca_project_embeddings",
        "streaming_span_corruption",
        "token_burstiness_corpus",
        "token_entropy_documents",
    }
)


# CORRECTNESS_r11.json rows — all 50 green (48 hash-exact, 2 in the
# declared rows-only set), freshest tier.
_VERIFIED_R11: frozenset[str] = frozenset(
    {
        "anti_join_no_pending",
        "array_functions_tokens",
        "asof_purchase_prior_view",
        "bm25_prf_expanded_at_rest",
        "bm25_prf_expanded_topk",
        "bm25_topk_compacted",
        "dedup_clusters_jaccard",
        "dedup_exact_documents",
        "doc_fingerprints",
        "hybrid_rrf_dense_sparse",
        "lang_id_documents",
        "lang_source_rollup",
        "minhash_near_dup_pairs",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_resize",
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_capped",
        "null_semantics",
        "pca_project_fixed_embeddings",
        "phrase_match_incremental",
        "pii_scrub",
        "q10_returned_revenue",
        "q18_large_volume_customers",
        "q19_disjunctive_predicates",
        "q2_min_per_group_joinback",
        "q5_nation_revenue",
        "q7_volume_shipping",
        "range_join_views_before_purchase",
        "regex_token_stats",
        "retrieval_metrics_bm25",
        "semi_join_big_spenders",
        "setop_cust_fulfilled_and_open",
        "simhash_documents",
        "simhash_portable_documents",
        "text_normalize",
        "text_quality_features",
        "tfidf_top_terms",
        "token_frequency",
        "topk_orders_by_price",
        "udtf_token_positions",
        "unigram_vocab_em_fixed",
        "variant_props_extract",
        "weather_daily_rollup",
        "weather_flatten_hourly",
        "window_order_value_delta",
        "window_rank_distribution",
        "window_running_customer_total",
        "window_top_orders_per_customer",
        "winnowing_fingerprints",
    }
)


# Names whose catalog ORACLE is newer than their latest driver row —
# the only state where "green" is stale by construction, so they jump
# the whole rotation (right after never-sampled names). The four
# tokenizer entries gained unrolled recursive-CTE oracles in round 11
# AFTER their last (r9) driver sample (the r11 judge re-ran all four
# hash-exact locally; this head makes the official r12 record say the
# same). The two multimodal entries were re-pinned in round 12 from
# truncation stand-ins to REAL decoded-pixel semantics (box
# downsample / netpbm demux), so their r11 greens certify a contract
# that no longer exists.
_PRIORITY_R12: frozenset[str] = frozenset(
    {
        "bpe_merges_documents",
        "bpe_encode_documents",
        "unigram_vocab_documents",
        "unigram_encode_documents",
        "multimodal_resize",
        "multimodal_frame_sample",
    }
)


# CORRECTNESS_r12.json rows — all 50 green (47 hash-exact, 3 in the
# declared rows-only set), freshest tier.
_VERIFIED_R12: frozenset[str] = frozenset(
    {
        "array_agg_order_ids",
        "bpe_encode_documents",
        "bpe_merges_documents",
        "cosine_topk_bruteforce",
        "cross_corpus_near_dup_blocked",
        "cross_corpus_near_dup_exact",
        "cube_orders_status_priority",
        "date_arithmetic_shipping",
        "distinct_customers_per_priority",
        "events_daily_rollup",
        "from_json_typed_props",
        "full_outer_nation_activity",
        "json_props_extract",
        "merge_upsert_daily",
        "multimodal_frame_sample",
        "multimodal_resize",
        "pack_sequences_documents",
        "pairwise_topk_per_label_hot",
        "pca_reduced_ann_topk_fixed",
        "phrase_match_compacted",
        "pivot_daily_event_values",
        "proximity_match_at_rest",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q18_bucketed_layout",
        "q1_pricing_summary",
        "q3_bucketed_layout",
        "q3_top_unshipped_orders",
        "q6_forecast_revenue",
        "q9_profit_by_nation_year",
        "rollup_pricing_by_flag_status",
        "scalar_date_order_months",
        "scalar_math_order_buckets",
        "scalar_string_part_catalog",
        "session_window_native",
        "sessionize_user_events",
        "setop_cust_fulfilled_only",
        "setop_union_segments",
        "sliding_window_event_stats",
        "sq8_ann_topk",
        "sq8_ann_topk_at_rest",
        "srp_ann_topk",
        "stratified_sample_documents",
        "streaming_dedup_rollup",
        "streaming_phrase_index_match",
        "temperature_mix_documents",
        "unigram_encode_documents",
        "unigram_vocab_documents",
        "unpivot_part_metrics",
    }
)


# Round-13 priority head: entries whose ENGINE CODE changed this round
# after their latest driver row, so their standing green certifies a
# path that no longer exists — duplicate-posting dedup in the
# phrase/NEAR at-rest probes, the natural-schema SQ8 index read +
# batch-partitioned writer layout, the driver-dict incremental BPE
# pair recount (now the default), and the self-loop node-universe fix
# in star-contraction components.
_PRIORITY_R13: frozenset[str] = frozenset(
    {
        "phrase_match_at_rest",
        "phrase_match_incremental",
        "phrase_match_compacted",
        "proximity_match_at_rest",
        "streaming_phrase_index_match",
        "sq8_ann_topk_at_rest",
        "bpe_merges_documents",
        "bpe_encode_documents",
        "dedup_clusters_jaccard",
    }
)


# CORRECTNESS_r13.json rows — all 50 green (44 hash-exact, 6 in the
# declared rows-only set), freshest tier.
_VERIFIED_R13: frozenset[str] = frozenset(
    {
        "bpe_encode_documents",
        "bpe_merges_documents",
        "build_vocab_documents",
        "cap_documents_per_source",
        "chunk_documents_fixed",
        "decontaminate_documents",
        "dedup_clusters_jaccard",
        "dedup_keep_best_quality",
        "dedup_passages_documents",
        "doc_repetition_stats",
        "embedding_near_dup_blocked",
        "embedding_near_dup_pairs",
        "embedding_norms",
        "encode_documents_vocab",
        "feature_hash_embed_documents",
        "global_shuffle_documents",
        "grouped_centroids_pandas",
        "ivf_ann_topk",
        "ivf_ann_topk_at_rest",
        "label_centroids",
        "minhash_dedup_incremental",
        "minhash_dedup_incremental_bucketed",
        "minhash_lsh_portable_pairs",
        "multimodal_audio_features",
        "multimodal_audio_resample",
        "pack_bins_documents",
        "pairwise_topk_per_label",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_compacted",
        "phrase_match_incremental",
        "profile_orders_columns",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "semantic_dedup_embeddings",
        "semantic_dedup_embeddings_hot",
        "semantic_dedup_fixed_cells",
        "sq8_ann_topk_at_rest",
        "sq8_ann_topk_incremental",
        "sql_above_nation_avg",
        "sql_grouping_sets_orders",
        "sql_q4_late_orders",
        "srp_ann_topk_at_rest",
        "stream_static_enrichment",
        "streaming_incremental_dedup",
        "streaming_phrase_index_match",
        "streaming_quality_monitor",
        "streaming_sq8_index_topk",
        "takedown_documents",
        "token_budget_select_documents",
    }
)


# CORRECTNESS_r14.json rows — all 50 green (46 hash-exact, 4 in the
# declared rows-only set), freshest tier.
_VERIFIED_R14: frozenset[str] = frozenset(
    {
        "approx_distinct_users",
        "approx_percentile_prices",
        "bpe_encode_documents",
        "bpe_merges_documents",
        "corpus_ngram_diversity",
        "correlation_stats",
        "decontaminate_fraction_documents",
        "dedup_substrings_documents",
        "deterministic_sample_orders",
        "gopher_quality_filter",
        "histogram_order_values",
        "interleave_sources_documents",
        "ivf_ann_topk_incremental",
        "linear_regression_aggs",
        "lm_bigram_score_documents",
        "multimodal_audio_features",
        "multimodal_audio_features_24bit",
        "multimodal_audio_resample",
        "percentile_price_quartiles",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_compacted",
        "phrase_match_incremental",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "pseudonymize_events",
        "q11_part_value_concentration",
        "q12_shipping_delay_classes",
        "q13_customer_order_distribution",
        "q16_supplier_count_by_part",
        "q20_excess_inventory_suppliers",
        "q21_waiting_suppliers",
        "q22_dormant_customer_balances",
        "q8_nation_market_share",
        "quality_prune_documents",
        "salted_join_identity",
        "semantic_dedup_incremental_cells",
        "semantic_dedup_incremental_embeddings",
        "snapshot_diff_documents",
        "sq8_ann_topk_at_rest",
        "sq8_ann_topk_incremental",
        "sq8_ann_topk_incremental_disjoint",
        "sql_lateral_top_customer",
        "sql_ntile_price_quartiles",
        "sql_recursive_calendar",
        "stream_stream_join_view_purchase",
        "streaming_daily_rollup",
        "streaming_sq8_index_topk",
        "token_freq_spectrum",
        "two_phase_skew_agg",
    }
)


# Round-15 priority head: NEW entries plus names whose engine path
# changed this round after their latest driver row — the BM25
# probe-side overlap guard (every entry probing an at-rest bm25
# tree), the fail-closed manifest-row-first ordering (now owned by
# sources/indexstore.append) in the
# sq8/ivf/positional/bm25/srp appends (every entry building a
# batch-keyed tree), the ivf_index_compact manifest fix, and the
# unigram _em_word_state dispatch refactor.
_PRIORITY_R15: frozenset[str] = frozenset(
    {
        "srp_ann_topk_incremental",  # new this round
        "ivf_ann_topk_incremental_fixed",  # new this round
        "srp_ann_topk_incremental_fixed",  # new this round
        "bm25_topk_at_rest",
        "bm25_topk_incremental",
        "bm25_topk_compacted",
        "bm25_prf_expanded_at_rest",
        "streaming_bm25_index_topk",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_incremental",
        "phrase_match_compacted",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "sq8_ann_topk_incremental",
        "sq8_ann_topk_incremental_disjoint",
        "streaming_sq8_index_topk",
        "ivf_ann_topk_incremental",
        "unigram_seed_vocab_documents",
        "unigram_vocab_documents",
        "unigram_encode_documents",
        "unigram_vocab_em_documents",
        "unigram_vocab_em_fixed",
    }
)


# CORRECTNESS_r15.json rows — all 50 green (43 hash-exact, 7 in the
# declared rows-only set), freshest tier.
_VERIFIED_R15: frozenset[str] = frozenset(
    {
        "bm25_prf_expanded_at_rest",
        "bm25_topk_at_rest",
        "bm25_topk_compacted",
        "bm25_topk_incremental",
        "bpe_pair_counts_documents",
        "diversity_sample_embeddings",
        "documents_jsonl_roundtrip",
        "dsir_gumbel_sample_documents",
        "dsir_logweights_documents",
        "dsir_select_documents",
        "exact_quantiles_by_status",
        "exact_quantiles_orders",
        "ivf_ann_topk_incremental",
        "ivf_ann_topk_incremental_fixed",
        "ivfpq_ann_topk_at_rest",
        "kmeans_cluster_fixed_embeddings",
        "lm_reference_score_documents",
        "opq_ann_topk_adc",
        "perplexity_buckets_documents",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_compacted",
        "phrase_match_incremental",
        "pq_adc_topk_fixed",
        "pq_ann_topk_adc",
        "pq_encode_fixed_embeddings",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "remove_frequent_passages",
        "scd2_event_state_history",
        "scd2_point_in_time_lookup",
        "semantic_dedup_embeddings_nprobe",
        "sq8_ann_topk_incremental",
        "sq8_ann_topk_incremental_disjoint",
        "srp_ann_topk_incremental",
        "srp_ann_topk_incremental_fixed",
        "streaming_bm25_index_topk",
        "streaming_decontaminate_documents",
        "streaming_encode_documents",
        "streaming_pseudonymize_events",
        "streaming_scd2_history",
        "streaming_scd2_sealed_store",
        "streaming_semantic_dedup",
        "streaming_sq8_index_topk",
        "training_shard_manifest",
        "unigram_encode_documents",
        "unigram_seed_vocab_documents",
        "unigram_vocab_documents",
        "unigram_vocab_em_documents",
        "unigram_vocab_em_fixed",
    }
)


# Round-16 priority head: NEW entries plus names whose engine path
# changed this round after their latest driver row — the SRP
# plane-packing / rows-without-meta guards and the compact
# struct-fold (every srp entry), the PRF docterms-coverage check
# (bm25_prf_expanded_at_rest), the bm25 compact repair-pin round
# (bm25_topk_compacted), and the pq fixed-twin refactor
# (_encode_from_sub/_adc_scored_from_sub under both pq fixed
# entries).
_PRIORITY_R16: frozenset[str] = frozenset(
    {
        "opq_ann_topk_fixed",  # new this round
        "ivfpq_ann_topk_fixed",  # new this round
        "ivfpq_ann_topk_incremental",  # new this round
        "curate_corpus_documents",  # new this round
        "streaming_ivfpq_index_topk",  # new this round
        "opq_ann_topk_incremental",  # new this round
        "opq_ann_topk_at_rest",  # new this round
        "srp_ann_topk",
        "srp_ann_topk_at_rest",
        "srp_ann_topk_incremental",
        "srp_ann_topk_incremental_fixed",
        "bm25_prf_expanded_at_rest",
        "bm25_topk_compacted",
        "pq_encode_fixed_embeddings",
        "pq_adc_topk_fixed",
        "opq_ann_topk_adc",
        "ivfpq_ann_topk_at_rest",
    }
)


# Round-14 priority head: NEW entries plus names whose engine path
# changed this round after their latest driver row — the driver-side
# BPE trainer (now the auto default), the disjoint-manifest dedup
# skip in the positional probes + the incremental plan's contiguous
# batches, the SQ8 duplicate-id fold in probe/compact/refit, the
# degenerate-dimension drift sentinel, and the multi-depth WAV decode
# under the audio entries.
_PRIORITY_R14: frozenset[str] = frozenset(
    {
        "multimodal_audio_features_24bit",  # new this round
        "sq8_ann_topk_incremental_disjoint",  # new this round
        "ivf_ann_topk_incremental",  # new this round
        "bpe_merges_documents",
        "bpe_encode_documents",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_incremental",
        "phrase_match_compacted",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "sq8_ann_topk_at_rest",
        "sq8_ann_topk_incremental",
        "streaming_sq8_index_topk",
        "multimodal_audio_features",
        "multimodal_audio_resample",
    }
)


def _schedule_registry() -> None:
    """Reorder REGISTRY: never-verified names first, then this
    round's changed-path head (_PRIORITY_R16), then the stalest
    round's names, then the freshest round's. A name in several
    rounds' sets is scheduled by its freshest row (later tiers
    win)."""
    rounds = [
        _VERIFIED_R1,
        _VERIFIED_R2,
        _VERIFIED_R5,
        _VERIFIED_R6,
        _VERIFIED_R7,
        _VERIFIED_R8,
        _VERIFIED_R9,
        _VERIFIED_R10,
        _VERIFIED_R11,
        _VERIFIED_R12,
        _VERIFIED_R13,
        _VERIFIED_R14,
        _VERIFIED_R15,
    ]
    tiers = [
        rounds[i] - frozenset().union(*rounds[i + 1 :])
        for i in range(len(rounds) - 1)
    ] + [rounds[-1]]
    head = _PRIORITY_R16 | (_PRIORITY_R12 - frozenset().union(*rounds))
    tiers = [head] + [t - head for t in tiers]
    entries = dict(REGISTRY)
    REGISTRY.clear()
    in_any = frozenset().union(*tiers)
    REGISTRY.update({n: q for n, q in entries.items() if n not in in_any})
    for tier in tiers:
        REGISTRY.update({n: q for n, q in entries.items() if n in tier})


_schedule_registry()
