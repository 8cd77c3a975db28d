"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship slice at sf0.001; ``queries()`` /
``oracle_sql()`` — the declared operator inventory (SURVEY.md §2) with
DuckDB oracles. Implementations live in ``etlutils_spark.entry_queries``
(and the extension modules it imports); this file is the thin, stable
driver-facing shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from etlutils_spark.entry_queries import REGISTRY  # noqa: E402
import etlutils_spark.relational_queries  # noqa: E402,F401  (registers into REGISTRY)
import etlutils_spark.extension_queries  # noqa: E402,F401  (registers into REGISTRY)
import etlutils_spark.event_queries  # noqa: E402,F401  (registers into REGISTRY)
import etlutils_spark.udf_queries  # noqa: E402,F401  (registers into REGISTRY)
import etlutils_spark.pipeline_queries  # noqa: E402,F401  (registers into REGISTRY)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: chunked ingest -> broadcast lookup join (matchmerge) ->
    decimal-exact revenue rollup per brand. Mirrors the reference's
    flagship read.dbi.ffdf + matchmerge flow (R/ffsql.R:53-65,
    R/matchmerge.R:81-94) on the sf0.001 star."""
    from pyspark.sql import functions as F

    from etlutils_spark.operators.matchmerge import matchmerge
    from etlutils_spark.sources.files import read_table

    sf_dir = "/root/testdata/sf0.001"
    li = read_table(spark, "lineitem", sf_dir)
    part = read_table(spark, "part", sf_dir)
    joined = matchmerge(li, part, by_x="l_partkey", by_y="p_partkey",
                        add_columns=["p_brand"])
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    return (
        joined.groupBy("p_brand")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


# Driver-verification freshness ledger. The driver checks a fixed-size
# (~50) prefix of the registry in order, so the ordering policy below
# decides what gets re-verified each round (VERDICT.md r5 "Next round"
# #3): queries never driver-checked, or whose REGISTERED BEHAVIOR
# changed this round, sort first; everything else sorts by staleness —
# oldest green driver row first — so cumulative verification never goes
# stale. _LAST_DRIVER_CHECK maps each query to the latest round whose
# CORRECTNESS_r0N.json holds a fully-green row for it (rows+schema+hash
# all matching); regenerate after each round by folding in the new
# green rows.

_LAST_DRIVER_CHECK = {
    # --- last green driver row: CORRECTNESS_r09.json ---
    "profile_drift_documents": 9,
    # --- last green driver row: CORRECTNESS_r10.json ---
    "collect_sorted_sizes": 10, "correlated_subquery": 10,
    "curation_pipeline_tokens": 10, "dedup_exact": 10,
    "dedup_exact_survivors": 10, "delegated_sql": 10,
    "embedding_covariance": 10, "explode_token_freq": 10,
    "gopher_quality_docs": 10, "grouping_sets_sql": 10, "having_filter": 10,
    "histogram_price_buckets": 10, "json_extract_props": 10,
    "json_map_explode": 10, "lateral_topk_per_nation": 10,
    "line_boilerplate_docs": 10, "multimodal_png_roundtrip": 10,
    "next_event_training_pairs": 10, "pack_ids_export": 10,
    "percentile_quantity": 10, "q10_returned_items": 10,
    "q12_late_shipment_priority": 10, "q13_customer_order_distribution": 10,
    "q14_promo_share": 10, "q15_top_supplier": 10,
    "q19_disjunctive_filter": 10, "q22_idle_rich_customers": 10,
    "q4_priority_returns": 10, "q6_revenue_forecast": 10,
    "q7_volume_shipping": 10, "q8_market_share": 10,
    "q9_product_type_profit": 10, "stats_moments": 10,
    "streaming_window_counts": 10, "temporal_split_events": 10,
    "text_lang_id": 10, "text_stats": 10, "tokenize_to_ids": 10,
    "tokenize_to_ids_bigvocab": 10, "union_distinct_nations": 10,
    # --- last green driver row: CORRECTNESS_r11.json ---
    "asof_last_purchase": 11, "c4_quality_docs": 11,
    "chunk_documents_windows": 11, "cogroup_asof_enrich": 11,
    "format_roundtrip_csv": 11, "format_roundtrip_json": 11,
    "full_outer_reconcile": 11, "grouped_apply_rank": 11,
    "multimodal_audio_chunks": 11, "multimodal_meta": 11,
    "outlier_flags_events": 11, "pack_sequences_source": 11,
    "pandas_udf_normalize": 11, "pca_variance_contract": 11,
    "profile_documents": 11, "q11_important_stock": 11,
    "q16_supplier_part_counts": 11, "q17_small_quantity_revenue": 11,
    "q20_excess_stock_suppliers": 11, "q2_min_cost_supplier": 11,
    "quality_filter_flags": 11, "range_join_purchase_window": 11,
    "sample_hash_10pct": 11, "sample_stratified_lang": 11,
    "sessionize_events": 11, "sessionize_native_window": 11,
    "shard_manifest": 11, "streaming_curation_pipeline": 11,
    "text_fingerprint": 11, "text_redact_pii": 11, "text_repetition": 11,
    "text_token_counts": 11, "time_rollup_multigrain": 11,
    "unpivot_order_metrics": 11, "window_rolling_7d": 11,
    "write_roundtrip": 11,
    # --- last green driver row: CORRECTNESS_r12.json ---
    "ann_arrow_topk": 12, "approx_distinct_contract": 12,
    "approx_quantiles_contract": 12, "asof_next_purchase": 12,
    "bm25_topk_search": 12, "cohort_retention": 12, "constraint_audit": 12,
    "dedup_cluster_size_histogram": 12, "dedup_rate_report_by_source": 12,
    "dedup_simhash": 12, "dedup_window_rewrite": 12,
    "dedup_window_spans": 12, "dedup_window_spans_shifted": 12,
    "funnel_stages_user": 12, "heavy_hitters_contract": 12,
    "ingest_limit": 12, "lang_cap_approx": 12, "leakage_safe_split": 12,
    "multimodal_features": 12, "multimodal_probe": 12,
    "nb_classifier_hashed": 12, "nb_quality_classifier": 12,
    "percentile_prune_approx_contract": 12, "profile_embeddings": 12,
    "quality_percentile_prune": 12, "salted_agg_event_types": 12,
    "salted_join_hotkey": 12, "scd2_history": 12,
    "streaming_interval_join": 12, "streaming_nb_scoring": 12,
    "train_val_test_split": 12, "triplet_mining_pairs": 12,
    "vocab_oov_rate": 12, "vocab_top_tokens": 12, "winnow_fingerprints": 12,
    "zorder_pruning_stats": 12,
    # --- last green driver row: CORRECTNESS_r13.json ---
    "agg_cube": 13, "agg_rollup": 13, "ann_lsh_topk": 13,
    "append_union": 13, "bpe_encode_docs_bigvocab": 13,
    "decontaminate_semantic_embeddings": 13, "dedup_embedding_cosine": 13,
    "embedding_cluster_assign": 13, "factor_levels_brand": 13,
    "format_roundtrip_orc": 13, "fuzzy_matchmerge_segments": 13,
    "hilbert_curve_order2": 13, "locf_events": 13,
    "matchmerge_composite_key": 13, "matchmerge_expr_key": 13,
    "matchmerge_inner": 13, "matchmerge_left": 13,
    "matchmerge_paste_key": 13, "matchmerge_vector_y": 13,
    "q18_large_volume_orders": 13, "q21_waiting_supplier": 13,
    "q3_top_revenue_orders": 13, "recode_mktsegment": 13,
    "rename_project": 13, "semantic_dedup_survivors": 13,
    "sessionize_stateful_evicted": 13, "set_except": 13,
    "set_intersect": 13, "streaming_funnel": 13, "token_budget_sample": 13,
    "transfun_derived_date": 13, "upsert_scd1": 13,
    "user_cadence_stats": 13, "window_multi_horizon": 13,
    "window_running_spend": 13, "window_topk_per_customer": 13,
    # --- last green driver row: CORRECTNESS_r14.json ---
    "ann_cosine_topk": 14, "ann_index_streaming": 14, "ann_index_topk": 14,
    "ann_ivf_topk": 14, "ann_pq_recall_contract": 14,
    "anti_join_customers": 14, "bigram_lm_quality": 14,
    "bpe_encode_docs": 14, "bpe_roundtrip_docs": 14,
    "ccnet_lm_approx_contract": 14, "ccnet_lm_buckets": 14,
    "corpus_diff_releases": 14, "corpus_rarity": 14,
    "curation_pipeline_batch": 14, "decontaminate_attribution": 14,
    "decontaminate_overlap": 14, "decontaminate_rewrite_docs": 14,
    "dedup_cluster_survivors": 14, "dedup_clusters_incremental": 14,
    "dedup_clusters_star": 14, "dedup_clusters_streaming": 14,
    "dedup_containment": 14, "dedup_minhash_clusters": 14,
    "dedup_minhash_lsh": 14, "dedup_ngram_jaccard": 14,
    "dedup_ngram_jaccard_guarded": 14, "distinct_agg_segments": 14,
    "embedding_quantize_int8": 14, "embedding_standardize": 14,
    "format_roundtrip_text": 14, "hard_negative_mining": 14,
    "incremental_lsh_pairs": 14, "incremental_span_dedup": 14,
    "knn_label_consistency": 14, "mixture_resample_lang": 14,
    "mixture_temperature_lang": 14, "multimodal_frame_sample": 14,
    "multimodal_resize": 14, "pivot_status_counts": 14,
    "q1_pricing_summary": 14, "q5_nation_revenue": 14,
    "quality_rank_blend": 14, "rank_blend_approx_contract": 14,
    "scalar_funcs_projection": 14, "semi_join_customers": 14,
    "source_cap_sample": 14, "text_token_gini": 14,
    "window_rank_functions": 14, "winnow_overlap_pairs": 14,
    "winsorize_order_totals": 14,
}


# Queries whose registered form changed this round (new plan, new
# consumer wiring, or a semantics-relevant operator edit) — they must
# re-verify in the new form regardless of a prior green row.
_CHANGED_THIS_ROUND: frozenset[str] = frozenset({
    # connected_components became one entry point (driver union-find up
    # to 65,536 edges, star rounds beyond; min-label propagation
    # deleted): both queries moved from min-label rounds to the driver
    # path — component-minimum labels unchanged, plans changed
    # (operators/dedup.py).
    "dedup_minhash_clusters",
    "dedup_cluster_survivors",
    # IVF/PQ moved onto the artifact's quantizer primitives
    # (operators/similarity.py): ivf_topk trains the seeded numpy
    # k-means on the orderBy(id) sample instead of Spark ML KMeans (plan
    # changed), and the PQ codebooks now train with k-means++ seeding,
    # so the codes behind the PQ and artifact queries moved.
    "ann_ivf_topk",
    "ann_pq_recall_contract",
    "ann_index_topk",
    "ann_index_streaming",
})

# Derived view kept for the smoke-test invariant and round tooling: a
# query counts as "verified in a prior round" only if it has a green
# row AND its registration didn't change this round.
_DRIVER_VERIFIED_PRIOR_ROUNDS = frozenset(
    n for n in _LAST_DRIVER_CHECK if n not in _CHANGED_THIS_ROUND
)


def _ordered_names() -> list[str]:
    """Never-checked / changed-this-round first (tier 0), then by
    ascending last-green-driver-round (stalest first); registration
    order within each tier. The driver's ~50-query window therefore
    always covers every new or edited query and spends the remainder
    refreshing the oldest rows."""
    names = list(REGISTRY)
    order = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            0 if n not in _DRIVER_VERIFIED_PRIOR_ROUNDS
            else _LAST_DRIVER_CHECK[n],
            order[n],
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _ordered_names()
        if REGISTRY[name][1] is not None
    }
