"""DataFrame -> DataFrame operators (SURVEY §2.4-§2.7 + engine additions)."""

from .asof import asof_join, asof_join_auto
from .binning import minimiser_index, record_minimisers
from .counts import coverage_features, global_kmer_counts
from .dedup import (
    char_ngrams,
    dedup_clusters,
    dedup_keep,
    exact_dedup,
    jaccard_for_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_buckets,
)
from .rolling import (
    backfill_features_auto,
    backfill_features_stream,
)
from .packing import pack_documents
from .prep import prep_filter, training_prep
from .sampling import (
    deterministic_sample,
    sample_gate,
    sample_slice,
    stratified_sample,
)
from .sessionize import lag_lead_features, sessionize
from .similarity import (
    ann_topk_ivf,
    ann_topk_lsh,
    cosine_neardup_lsh,
    cosine_neardup_pairs,
    cosine_topk,
    embedding_dedup_keep,
    hyperplane_buckets_multi,
)
from .skew import salted_collect_list, salted_sum, with_salt

__all__ = [
    "asof_join",
    "asof_join_auto",
    "minimiser_index",
    "record_minimisers",
    "coverage_features",
    "global_kmer_counts",
    "char_ngrams",
    "dedup_clusters",
    "dedup_keep",
    "exact_dedup",
    "jaccard_for_pairs",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "simhash_buckets",
    "deterministic_sample",
    "pack_documents",
    "prep_filter",
    "training_prep",
    "sample_gate",
    "sample_slice",
    "stratified_sample",
    "backfill_features_auto",
    "backfill_features_stream",
    "lag_lead_features",
    "sessionize",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "cosine_neardup_lsh",
    "cosine_neardup_pairs",
    "embedding_dedup_keep",
    "cosine_topk",
    "hyperplane_buckets_multi",
    "salted_collect_list",
    "salted_sum",
    "with_salt",
]
