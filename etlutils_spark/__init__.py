"""etlutils_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference R package jwijffels/ETLUtils
(chunked SQL ingest/export into out-of-core columnar frames, a hash lookup
join, and scalar recode/LOCF utilities), re-expressed Spark-first and
extended with the relational surface the reference delegates to backend
SQL plus large-scale training-data pipeline operators.

Public API re-exports the stable surface; see each module for the
reference citations (file:line into /root/reference).
"""

from etlutils_spark.session import get_session
from etlutils_spark.operators.matchmerge import matchmerge
from etlutils_spark.operators.recode import (
    corpus_diff,
    factorise,
    profile_drift,
    recoder,
    rename_columns,
)
from etlutils_spark.operators.locf import na_locf_plus_one
from etlutils_spark.operators.transfun import trans_fun
from etlutils_spark.sources.sql import read_sql, write_sql
from etlutils_spark.sources.files import (
    compact_parquet_inplace,
    compact_partitioned_parquet,
    load_star,
    read_binary_dir,
    read_table,
    read_text_corpus,
)
from etlutils_spark.sources.sidecar import set_lease_lock_provider
from etlutils_spark.sources.lease_providers import (
    ConditionalPutLeaseProvider,
    InMemoryConditionalStore,
)
from etlutils_spark.sources.merge import merge_upsert, scd2_apply
from etlutils_spark.operators.curation import curate_documents, curate_to_sequences
from etlutils_spark.operators.dedup import (
    build_dedup_clusters,
    build_dedup_index,
    compact_dedup_index,
    extend_dedup_index,
    lsh_candidate_probability,
    pick_lsh_bands,
    cluster_size_histogram,
    decontaminate_attribution,
    decontaminate_rewrite,
    dedup_rate_report,
    triplet_mining,
    window_dedup_rewrite,
    window_dedup_stats,
    winnow_overlap_pairs,
)
from etlutils_spark.operators.similarity import (
    ann_index_drift,
    ann_index_health,
    ann_index_stats,
    ann_index_topk,
    build_ann_index,
    centroid_assign,
    compact_ann_index,
    extend_ann_index,
    decontaminate_semantic,
    embedding_covariance,
    pca_model,
    pca_project,
    hard_negative_mining,
    knn_label_consistency,
    pq_topk,
    pq_train,
    quantize_embeddings_int8,
    semantic_dedup,
    standardize_embeddings,
)
from etlutils_spark.operators.sampling import (
    cap_per_group,
    leakage_safe_split,
    pack_ids_export,
    temperature_resample,
    token_budget_sample,
)
from etlutils_spark.operators.search import (
    bigram_lm_scores,
    bm25_topk,
    ccnet_lm_buckets,
)
from etlutils_spark.operators.text import (
    bpe_decode,
    bpe_encode,
    bpe_train,
    bpe_train_corpus,
    build_vocab,
    line_boilerplate_removal,
    oov_stats,
    token_gini_stats,
    tokens_to_ids,
)
from etlutils_spark.operators.quality import (
    c4_quality_flags,
    gopher_quality_flags,
    nb_classifier_scores,
    nb_token_weights,
    percentile_prune,
    rank_blend,
    winsorize,
)
from etlutils_spark.event_queries import next_event_pairs, temporal_split
from etlutils_spark.plans.checks import check_constraints

__all__ = [
    "get_session",
    "matchmerge",
    "recoder",
    "rename_columns",
    "factorise",
    "na_locf_plus_one",
    "trans_fun",
    "read_sql",
    "write_sql",
    "read_table",
    "load_star",
    "merge_upsert",
    "scd2_apply",
    "curate_documents",
    "curate_to_sequences",
    "check_constraints",
    "build_vocab",
    "oov_stats",
    "window_dedup_stats",
    "window_dedup_rewrite",
    "winnow_overlap_pairs",
    "cluster_size_histogram",
    "centroid_assign",
    "semantic_dedup",
    "bpe_decode",
    "bpe_encode",
    "bpe_train",
    "bpe_train_corpus",
    "cap_per_group",
    "corpus_diff",
    "dedup_rate_report",
    "quantize_embeddings_int8",
    "read_binary_dir",
    "read_text_corpus",
    "standardize_embeddings",
    "winsorize",
    "gopher_quality_flags",
    "c4_quality_flags",
    "triplet_mining",
    "build_dedup_clusters",
    "build_dedup_index",
    "compact_dedup_index",
    "compact_parquet_inplace",
    "compact_partitioned_parquet",
    "extend_dedup_index",
    "lsh_candidate_probability",
    "pick_lsh_bands",
    "leakage_safe_split",
    "line_boilerplate_removal",
    "pack_ids_export",
    "token_budget_sample",
    "tokens_to_ids",
    "nb_classifier_scores",
    "nb_token_weights",
    "percentile_prune",
    "rank_blend",
    "knn_label_consistency",
    "token_gini_stats",
    "decontaminate_attribution",
    "decontaminate_rewrite",
    "decontaminate_semantic",
    "embedding_covariance",
    "pca_model",
    "pca_project",
    "hard_negative_mining",
    "profile_drift",
    "pq_train",
    "pq_topk",
    "build_ann_index",
    "compact_ann_index",
    "set_lease_lock_provider",
    "ConditionalPutLeaseProvider",
    "InMemoryConditionalStore",
    "extend_ann_index",
    "ann_index_topk",
    "ann_index_drift",
    "ann_index_health",
    "ann_index_stats",
    "temperature_resample",
    "bm25_topk",
    "bigram_lm_scores",
    "ccnet_lm_buckets",
    "next_event_pairs",
    "temporal_split",
]

__version__ = "0.1.0"
