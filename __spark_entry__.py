"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship related-items pipeline on sf0.001.
``queries()`` exposes one named PySpark callable per implemented
operator (SURVEY.md §2) and ``oracle_sql()`` the matching DuckDB SQL.
All oracle-checked queries return FLAT primitive columns (the driver
hash-compares values column-name-sorted); nested results are flattened
or summarized (size/first/last) before returning.

Fixture derivations (both sides) live in
``amazon_personalize_connectors_spark/sources/synthetic.py`` — the SQL
CTE constants there are the single source of truth for the oracle side.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# All query builders + shared fixtures/constants live in the library
# package (VERDICT r8 item 7 — split out of this file in round 9);
# the star import keeps every historical ``entry.q_*`` /
# ``entry._helper`` reference working unchanged.
from amazon_personalize_connectors_spark.queries import *  # noqa: F401,F403,E402
from amazon_personalize_connectors_spark.queries import (  # noqa: E402
    sql01 as _sql01,
    sql02 as _sql02,
    sql03 as _sql03,
    sql04 as _sql04,
)



def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full related-items pipeline (scan → split → attribution
    join → explode → decorate → ordered re-nest → stamp) on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    res = related_items_pipeline(
        synthetic.related_items_batch_inference(spark, sf_dir),
        synthetic.user_item_mapping(spark, sf_dir),
        synthetic.item_metadata(spark, sf_dir),
        _CONNECTOR,
        _CONFIG,
    )
    return res.decorated


# Driver verification window: the driver oracle-checks the FIRST 50
# entries of queries() in dict order; queries() reorders the full
# registry so this list comes first. Round-14 rotation (ledger:
# VERIFIED.md; generated AND applied by `tools/rotate_window.py
# --apply`, which rewrites this block): the 3 sentinels, then the 13
# queries whose registered form is newer than their latest driver row
# (PLAN_FP.json `since` above that row's round, ranked just below
# red): state_digest_update (flat digest store, since r14) and,
# since r13, the 12 paths whose code changed during round 13 but
# whose store- or checkpoint-backed plan fingerprints cannot drift
# (stream_hnsw_edges, hnsw_stream_index_probe, hnsw_compact,
# stream_model_refresh, covisitation_incremental, neardup_components,
# dedup_canonical, er_clusters, leakage_safe_split, ivm_join_rollup,
# graph_walks, part_reach_bfs); then the oldest greens (all r7, then
# r8) up to 50 slots. No red rows and no never-verified queries at
# rotation time.
# tests/test_window_rotation.py pins the invariants AS OF
# THIS WINDOW'S ROUND (evidence < r14), so landing
# CORRECTNESS_r14.json does not re-redden the suite.
_R14_WINDOW = [
    "flagship_related_flat",
    "attribution_join",
    "delta_except",
    "state_digest_update",
    "ivm_join_rollup",
    "graph_walks",
    "part_reach_bfs",
    "neardup_components",
    "dedup_canonical",
    "leakage_safe_split",
    "stream_hnsw_edges",
    "hnsw_compact",
    "hnsw_stream_index_probe",
    "er_clusters",
    "covisitation_incremental",
    "stream_model_refresh",
    "weighted_median_price",
    "basket_triples",
    "revenue_share_hierarchy",
    "did_purchase_value",
    "isotonic_calibration",
    "js_drift",
    "conformal_threshold",
    "bpe_train",
    "als_user_step",
    "stream_js_drift",
    "oof_target_encoding",
    "cuped_purchase",
    "rolling_ols_slope",
    "growth_accounting",
    "woe_iv_priority",
    "bootstrap_ci",
    "eb_shrunk_ctr",
    "bpe_vocab",
    "stream_conformal",
    "shapley_attribution",
    "stock_balance_floor",
    "stream_capped_balance",
    "price_interpolate_daily",
    "t_closeness",
    "mi_priority_status",
    "user_pers_flat",
    "payload_pivot",
    "topk_slice",
    "image_resize_pixels",
    "stamp_literals",
    "text_tokens",
    "text_quality",
    "lang_profile",
    "doc_fingerprint",
]

# Staging discipline (VERDICT r6 item 3 / r7 item 6): queries added
# DURING the current round are listed here instead of competing for
# window slots; tools/rotate_window.py drains them (never-verified
# priority) into the NEXT round's window, and
# tests/test_window_rotation.py exempts exactly this list from the
# staleness invariant.
_STAGED: list[str] = [
    # (r12's six corpus-analytics additions drained into the r13
    # window at rotation time — never-verified priority.)
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q = {
        "flagship_related_flat": q_flagship_related_flat,
        "attribution_join": q_attribution_join,
        "delta_except": q_delta_except,
        "revenue_anomalies": q_revenue_anomalies,
        "ab_test_purchase": q_ab_test_purchase,
        "markov_backtest": q_markov_backtest,
        "ipw_hitrate": q_ipw_hitrate,
        "stream_calibration": q_stream_calibration,
        "price_qty_corr": q_price_qty_corr,
        "qty_price_spearman": q_qty_price_spearman,
        "tv_drift": q_tv_drift,
        "fk_discovery": q_fk_discovery,
        "fd_discovery": q_fd_discovery,
        "stream_quantiles": q_stream_quantiles,
        "tpch_q2": q_tpch_q2,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "price_qty_ols": q_price_qty_ols,
        "chi2_flag_status": q_chi2_flag_status,
        "mi_priority_status": q_mi_priority_status,
        "benford_audit": q_benford_audit,
        "revenue_acf": q_revenue_acf,
        "ivm_join_rollup": q_ivm_join_rollup,
        "merge_upsert": q_merge_upsert,
        "variant_drift_scan": q_variant_drift_scan,
        "stream_running_stats": q_stream_running_stats,
        "linkage_fs": q_linkage_fs,
        "kfold_report": q_kfold_report,
        "annotator_kappa": q_annotator_kappa,
        "score_ece": q_score_ece,
        "revenue_changepoint": q_revenue_changepoint,
        "stream_minhash_lsh": q_stream_minhash_lsh,
        "sorted_neighborhood": q_sorted_neighborhood,
        "linear_attribution": q_linear_attribution,
        "stream_ivm_rollup": q_stream_ivm_rollup,
        "bitemporal_report": q_bitemporal_report,
        "psi_drift": q_psi_drift,
        "pareto_skyline": q_pareto_skyline,
        "renest_legacy_window": q_renest_legacy_window,
        "error_split_ok": q_error_split_ok,
        "error_split_errors": q_error_split_errors,
        "explode_outer": q_explode_outer,
        "decorate_flat": q_decorate_flat,
        "renest_ordered": q_renest_ordered,
        "user_pers_flat": q_user_pers_flat,
        "payload_pivot": q_payload_pivot,
        "topk_slice": q_topk_slice,
        "mannwhitney_value": q_mannwhitney_value,
        "seasonal_decompose": q_seasonal_decompose,
        "theilsen_revenue": q_theilsen_revenue,
        "quota_allocation": q_quota_allocation,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "ams_f2": q_ams_f2,
        "open_orders_sweep": q_open_orders_sweep,
        "compaction_plan": q_compaction_plan,
        "revenue_matrix_profile": q_revenue_matrix_profile,
        "priority_revenue_ewma": q_priority_revenue_ewma,
        "anova_price_flag": q_anova_price_flag,
        "caliper_match_att": q_caliper_match_att,
        "stream_cms_topk": q_stream_cms_topk,
        "audio_frame_energy": q_audio_frame_energy,
        "image_ahash": q_image_ahash,
        "image_resize_pixels": q_image_resize_pixels,
        "image_palette_resize": q_image_palette_resize,
        "kcore_parts": q_kcore_parts,
        "stream_distinct_users": q_stream_distinct_users,
        "trimmed_mean_price": q_trimmed_mean_price,
        "lineitem_corr_matrix": q_lineitem_corr_matrix,
        "weighted_median_price": q_weighted_median_price,
        "basket_triples": q_basket_triples,
        "revenue_share_hierarchy": q_revenue_share_hierarchy,
        "dbscan_embeddings": q_dbscan_embeddings,
        "mmr_rerank": q_mmr_rerank,
        "did_purchase_value": q_did_purchase_value,
        "graph_walks": q_graph_walks,
        "isotonic_calibration": q_isotonic_calibration,
        "js_drift": q_js_drift,
        "conformal_threshold": q_conformal_threshold,
        "bpe_train": q_bpe_train,
        "als_user_step": q_als_user_step,
        "stream_js_drift": q_stream_js_drift,
        "oof_target_encoding": q_oof_target_encoding,
        "cuped_purchase": q_cuped_purchase,
        "rolling_ols_slope": q_rolling_ols_slope,
        "growth_accounting": q_growth_accounting,
        "woe_iv_priority": q_woe_iv_priority,
        "bootstrap_ci": q_bootstrap_ci,
        "eb_shrunk_ctr": q_eb_shrunk_ctr,
        "winnowing_dedup": q_winnowing_dedup,
        "bpe_vocab": q_bpe_vocab,
        "stream_conformal": q_stream_conformal,
        "shapley_attribution": q_shapley_attribution,
        "stock_balance_floor": q_stock_balance_floor,
        "stream_capped_balance": q_stream_capped_balance,
        "part_reach_bfs": q_part_reach_bfs,
        "price_interpolate_daily": q_price_interpolate_daily,
        "stamp_literals": q_stamp_literals,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "lang_profile": q_lang_profile,
        "doc_fingerprint": q_doc_fingerprint,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ngram_jaccard_materialized": q_ngram_jaccard_materialized,
        "neardup_components": q_neardup_components,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_props": q_events_props,
        "asof_join": q_asof_join,
        "band_join_bucketed": q_band_join_bucketed,
        "stream_interval_join": q_stream_interval_join,
        "running_revenue": q_running_revenue,
        "stratified_sample": q_stratified_sample,
        "event_funnel": q_event_funnel,
        "multimodal_decode": q_multimodal_decode,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "rp_lsh_pairs": q_rp_lsh_pairs,
        "lang_mixture": q_lang_mixture,
        "stream_dedup": q_stream_dedup,
        "ntile_quartiles": q_ntile_quartiles,
        "sample_k_per_group": q_sample_k_per_group,
        "approx_median_check": q_approx_median_check,
        "corpus_prep_pipeline": q_corpus_prep_pipeline,
        "session_window_native": q_session_window_native,
        "variant_props": q_variant_props,
        "line_dedup": q_line_dedup,
        "line_dedup_materialized": q_line_dedup_materialized,
        "neardup_pagerank": q_neardup_pagerank,
        "bigram_stats": q_bigram_stats,
        "lm_coverage": q_lm_coverage,
        "bpe_pair_stats": q_bpe_pair_stats,
        "zorder_layout": q_zorder_layout,
        "substring_dedup": q_substring_dedup,
        "cumulative_uniques": q_cumulative_uniques,
        "ann_recall": q_ann_recall,
        "dedup_canonical": q_dedup_canonical,
        "temporal_split": q_temporal_split,
        "rolling_distinct_users": q_rolling_distinct_users,
        "markov_transitions": q_markov_transitions,
        "rfm_features": q_rfm_features,
        "rolling_revenue_28d": q_rolling_revenue_28d,
        "gap_fill_daily": q_gap_fill_daily,
        "cohort_retention": q_cohort_retention,
        "orders_islands": q_orders_islands,
        "basket_lift": q_basket_lift,
        "priority_sample": q_priority_sample,
        "column_profile": q_column_profile,
        "stream_static_join": q_stream_static_join,
        "expectations_audit": q_expectations_audit,
        "neardup_triangles": q_neardup_triangles,
        "leakage_safe_split": q_leakage_safe_split,
        "ivf_index_probe": q_ivf_index_probe,
        "renest_capped": q_renest_capped,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash64": q_simhash64,
        "state_digest_update": q_state_digest_update,
        "ann_topk": q_ann_topk,
        "ivf_multiprobe": q_ivf_multiprobe,
        "embedding_decontaminate": q_embedding_decontaminate,
        "embedding_decontaminate_lsh": q_embedding_decontaminate_lsh,
        "stream_hnsw_edges": q_stream_hnsw_edges,
        "hnsw_compact": q_hnsw_compact,
        "hnsw_topk": q_hnsw_topk,
        "hnsw_recall": q_hnsw_recall,
        "ann_topk_partial": q_ann_topk_partial,
        "ann_quantized": q_ann_quantized,
        "sq8_cosine_topk": q_sq8_cosine_topk,
        "maxsim_multivector": q_maxsim_multivector,
        "maxsim_rerank": q_maxsim_rerank,
        "ivf_refined_probe": q_ivf_refined_probe,
        "maxsim_ann_pipeline": q_maxsim_ann_pipeline,
        "maxsim_neardup": q_maxsim_neardup,
        "maxsim_neardup_clustered": q_maxsim_neardup_clustered,
        "ivf_refined_index_probe": q_ivf_refined_index_probe,
        "hnsw_stream_index_probe": q_hnsw_stream_index_probe,
        "rrf_fusion": q_rrf_fusion,
        "pq_adc": q_pq_adc,
        "simhash_neardup": q_simhash_neardup,
        "quality_filter": q_quality_filter,
        "llm_corpus_survivors": q_llm_corpus_survivors,
        "repetition_signals": q_repetition_signals,
        "kmeans_refine": q_kmeans_refine,
        "hybrid_filtered_ann": q_hybrid_filtered_ann,
        "chunk_documents": q_chunk_documents,
        "embedding_neardup": q_embedding_neardup,
        "ivf_centroids": q_ivf_centroids,
        "ivf_assign": q_ivf_assign,
        "lineitem_pricing": q_lineitem_pricing,
        "band_join_features": q_band_join_features,
        "window_analytics": q_window_analytics,
        "rollup_revenue": q_rollup_revenue,
        "cube_revenue": q_cube_revenue,
        "sliding_windows": q_sliding_windows,
        "semi_anti_join": q_semi_anti_join,
        "pivot_events": q_pivot_events,
        "percentiles": q_percentiles,
        "stream_windowed_counts": q_stream_windowed_counts,
        "salted_attribution": q_salted_attribution,
        "tfidf_top_terms": q_tfidf_top_terms,
        "contiguous_ids": q_contiguous_ids,
        "hash_split": q_hash_split,
        "intersect_items": q_intersect_items,
        "approx_distinct": q_approx_distinct,
        "topk_per_group": q_topk_per_group,
        "delta_anti_hash": q_delta_anti_hash,
        "scd2_dimension": q_scd2_dimension,
        "incremental_rollup_merge": q_incremental_rollup_merge,
        "distinct_rollup_bitmap": q_distinct_rollup_bitmap,
        "bloom_prune_semi": q_bloom_prune_semi,
        "hll_user_rollup": q_hll_user_rollup,
        "snapshot_cdc": q_snapshot_cdc,
        "cdc_roundtrip": q_cdc_roundtrip,
        "editdist_join": q_editdist_join,
        "interval_overlap": q_interval_overlap,
        "histogram_quantiles": q_histogram_quantiles,
        "er_clusters": q_er_clusters,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "covisitation_topk": q_covisitation_topk,
        "rec_coverage": q_rec_coverage,
        "rec_hitrate": q_rec_hitrate,
        "negative_sampling": q_negative_sampling,
        "user_profile_vectors": q_user_profile_vectors,
        "funnel_windows": q_funnel_windows,
        "gap_fill_locf": q_gap_fill_locf,
        "price_outliers": q_price_outliers,
        "revenue_trend": q_revenue_trend,
        "bm25_search": q_bm25_search,
        "scd2_durations": q_scd2_durations,
        "hashed_features": q_hashed_features,
        "price_percentile_rank": q_price_percentile_rank,
        "skew_report": q_skew_report,
        "session_paths": q_session_paths,
        "revenue_contribution": q_revenue_contribution,
        "skipgram_pairs": q_skipgram_pairs,
        "vocab_coverage": q_vocab_coverage,
        "trending_items": q_trending_items,
        "cohort_revenue": q_cohort_revenue,
        "covisitation_mrr": q_covisitation_mrr,
        "decayed_popularity": q_decayed_popularity,
        "asof_nearest": q_asof_nearest,
        "target_encoding": q_target_encoding,
        "winsorize_prices": q_winsorize_prices,
        "next_item_examples": q_next_item_examples,
        "frequent_tokens": q_frequent_tokens,
        "ks_drift": q_ks_drift,
        "containment_pairs": q_containment_pairs,
        "covisitation_incremental": q_covisitation_incremental,
        "stream_sessionize_stateful": q_stream_sessionize_stateful,
        "tpch_q10": q_tpch_q10,
        "tpch_q18": q_tpch_q18,
        "tpch_q4": q_tpch_q4,
        "tpch_q6": q_tpch_q6,
        "tpch_q14": q_tpch_q14,
        "tpch_q17": q_tpch_q17,
        "last_touch_attribution": q_last_touch_attribution,
        "audience_overlap": q_audience_overlap,
        "rec_ndcg": q_rec_ndcg,
        "k_anonymity": q_k_anonymity,
        "privacy_gate": q_privacy_gate,
        "t_closeness": q_t_closeness,
        "retractable_rollup": q_retractable_rollup,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q13": q_tpch_q13,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "embedding_drift": q_embedding_drift,
        "stream_ks_drift": q_stream_ks_drift,
        "survival_repurchase": q_survival_repurchase,
        "rec_diversity_ils": q_rec_diversity_ils,
        "tpch_q1": q_tpch_q1,
        "scd2_pit_revenue": q_scd2_pit_revenue,
        "source_quality": q_source_quality,
        "tpch_q19": q_tpch_q19,
        "except_all_returns": q_except_all_returns,
        "unpivot_metrics": q_unpivot_metrics,
        "tpch_q15": q_tpch_q15,
        "tpch_q22": q_tpch_q22,
        "forecast_mase": q_forecast_mase,
        "stream_model_refresh": q_stream_model_refresh,
        "mad_outliers": q_mad_outliers,
        "rec_auc_segments": q_rec_auc_segments,
        "score_calibration": q_score_calibration,
        "wilson_ctr": q_wilson_ctr,
        "revenue_gini": q_revenue_gini,
        "user_similarity": q_user_similarity,
        "stream_auc_monitor": q_stream_auc_monitor,
        # round-12 corpus-analytics wave (queries/q07.py; staged for
        # the r13 window). Registering these six displaced
        # ivf_probe_topk under the 300-query debt cap -- the FIRST
        # exercised retirement (policy: VERIFIED.md; it was the
        # eligible-queue head: ivf_refined_index_probe carries the
        # serving path's evidence and ivf_index_probe the unrefined
        # in-plan probe's).
        "dup_ngram_fraction": q_dup_ngram_fraction,
        "token_pmi": q_token_pmi,
        "doc_entropy": q_doc_entropy,
        "zipf_alpha": q_zipf_alpha,
        "source_overlap": q_source_overlap,
        "bigram_perplexity": q_bigram_perplexity,
    }
    out = {name: all_q[name] for name in _R14_WINDOW}
    out.update((k, v) for k, v in all_q.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per queries() entry — assembled from the
    split registry modules in order (sql01 creates, the rest add;
    order matters for the alias entries that copy earlier keys)."""
    sqls = _sql01.build()
    _sql02.add(sqls)
    _sql03.add(sqls)
    _sql04.add(sqls)
    # ivf_probe_topk retired r12 (displaced by the q07 wave under the
    # 300-query cap); its SQL text stays above because the
    # ivf_index_probe / ivf_multiprobe aliases copy it.
    sqls.pop("ivf_probe_topk", None)
    return sqls
