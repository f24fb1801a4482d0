"""Layer-B analytic + LLM-pipeline operators [EXT] (SURVEY.md §2.3).

Not present in the reference (it has no joins/aggregations/windows anywhere —
verified by grep, SURVEY.md §2.2). Every operator here is reached from a
query, the bench or a tool (tests/test_reachability.py holds that).
Each is designed shuffle-first: broadcast the small side, partial-aggregate
before exchange, never collect to the driver.
"""

from hubverse_transform_spark.operators.asof import asof_join
from hubverse_transform_spark.operators.dedup import (
    content_hash_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_containment,
    ngram_jaccard_pairs,
    shingle_ngrams,
    simhash,
    winnow_fingerprint_arrays,
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from hubverse_transform_spark.operators.similarity import (
    cosine_brute_force_topk,
    cosine_lsh_topk,
    embedding_near_dup_pairs,
    ivf_cosine_topk,
    semantic_dedup_reps,
)
from hubverse_transform_spark.operators.clusters import dedup_clusters
from hubverse_transform_spark.operators.rangejoin import binned_interval_join
from hubverse_transform_spark.operators.sampling import (
    hash_split,
    proportional_allocation_sample,
    stratified_sample_exact,
)
from hubverse_transform_spark.operators.scd import build_scd2
from hubverse_transform_spark.operators.sessions import session_stats, sessionize
from hubverse_transform_spark.operators.diff import snapshot_diff
from hubverse_transform_spark.operators.graph import pagerank
from hubverse_transform_spark.operators.profiling import profile_columns
from hubverse_transform_spark.operators.quality import (
    referential_integrity_audit,
    with_expectations,
)
from hubverse_transform_spark.operators.textstats import (
    bm25_topk,
    pmi_bigrams,
    tfidf_top_terms,
)
from hubverse_transform_spark.operators.topk import top_k_per_group

__all__ = [
    "asof_join",
    "content_hash_dedup",
    "shingle_ngrams",
    "minhash_signature",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "cosine_brute_force_topk",
    "cosine_lsh_topk",
    "embedding_near_dup_pairs",
    "top_k_per_group",
    "pagerank",
    "snapshot_diff",
    "profile_columns",
    "with_expectations",
    "bm25_topk",
    "pmi_bigrams",
    "tfidf_top_terms",
    "ngram_containment",
    "winnow_fingerprint_arrays",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "ivf_cosine_topk",
    "semantic_dedup_reps",
    "dedup_clusters",
    "binned_interval_join",
    "hash_split",
    "proportional_allocation_sample",
    "stratified_sample_exact",
    "build_scd2",
    "sessionize",
    "session_stats",
    "referential_integrity_audit",
]
