from fastdup_spark.operators.cascade import dedup_cascade
from fastdup_spark.operators.cc import connected_components
from fastdup_spark.operators.crossset import embedding_near_dup, restrict_cross_set
from fastdup_spark.operators.dedup import (
    duplicates_to_drop, exact_dup_groups, keep_first_policy, majority_label_policy,
)
from fastdup_spark.operators.knn import (
    best_nn_per_query, cosine_topk_bruteforce, cosine_topk_lsh,
    query_probe_buckets,
    hyperplane_buckets, knn_truncate,
)
from fastdup_spark.operators.kmeans import kmeans_fit
from fastdup_spark.operators.labels import (
    classification_report, diff_label_pairs, enrich_pairs_with_labels,
    expand_with_annotations, label_score, top_k_label,
)
from fastdup_spark.operators.lsh import (
    band_buckets, bucket_stats, candidate_pairs, salt_buckets,
)
from fastdup_spark.operators.outliers import (
    best_neighbor, exact_rank_head, outliers_by_percentile,
)
from fastdup_spark.operators.pagerank import pagerank
from fastdup_spark.operators.passages import (
    passage_chunks, remove_repeated_passages,
)
from fastdup_spark.operators.semdedup import (
    semdedup, semdedup_decisions, semdedup_edges, split_oversized_clusters,
)
from fastdup_spark.operators.simhash_dedup import simhash_blocks, simhash_near_dup
from fastdup_spark.operators.stats import doc_stats, summary_stats
from fastdup_spark.operators.textql import (
    content_fingerprint_expr, lang_id_expr, quality_score_expr,
    token_count_bpe_expr, token_count_ws_expr, winnow_fingerprints_expr,
)
from fastdup_spark.operators.urls import (
    canonical_url_expr, cap_per_host, host_expr, url_revisit_dedup,
    with_canonical_url,
)

__all__ = [
    "dedup_cascade",
    "connected_components", "embedding_near_dup", "restrict_cross_set",
    "duplicates_to_drop", "exact_dup_groups", "keep_first_policy",
    "majority_label_policy", "best_nn_per_query", "cosine_topk_bruteforce",
    "cosine_topk_lsh", "hyperplane_buckets", "knn_truncate", "query_probe_buckets",
    "classification_report", "diff_label_pairs", "enrich_pairs_with_labels",
    "expand_with_annotations", "label_score", "top_k_label",
    "kmeans_fit",
    "band_buckets", "bucket_stats", "candidate_pairs", "salt_buckets",
    "best_neighbor", "exact_rank_head", "outliers_by_percentile",
    "pagerank", "passage_chunks", "remove_repeated_passages",
    "simhash_blocks", "simhash_near_dup",
    "doc_stats", "summary_stats", "content_fingerprint_expr", "lang_id_expr",
    "quality_score_expr", "token_count_bpe_expr", "token_count_ws_expr",
    "winnow_fingerprints_expr",
    "canonical_url_expr", "cap_per_host", "host_expr", "url_revisit_dedup",
    "with_canonical_url",
]
