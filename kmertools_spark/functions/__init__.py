"""Vectorized UDF / column builders — the engine's scalar-function layer
(SURVEY §2.2/§2.10). Text kernels run as Arrow UDFs or mapInArrow: each
batch's text column is read in place (``oracle.codec.utf8_view``) and
results leave as Arrow arrays. Only the tokenizer keeps a pandas seam.
Pure column builders stay inside whole-stage codegen."""

from .cgr import cgr_points, cgr_points_with_error
from .composition import (
    composition_vector,
    coverage_vector,
    slot_kmer_pairs,
    vector_header,
)
from .hashing import doc_fingerprint, minhash_sig, simhash_value
from .kmers import exploded_kmers, kmer_count_pairs
from .minimizers import exploded_minimisers
from .tokenize import (
    batch_greedy_token_counts,
    greedy_token_count,
    hf_token_counts,
    vocab_token_counts,
    wordpiece_tokenizer_json,
)
from .text import (
    lang_guess,
    normalize_text,
    occurrences,
    quality_score,
    repetition_ratio,
    token_count,
)

__all__ = [
    "cgr_points",
    "cgr_points_with_error",
    "composition_vector",
    "coverage_vector",
    "slot_kmer_pairs",
    "vector_header",
    "doc_fingerprint",
    "minhash_sig",
    "simhash_value",
    "exploded_kmers",
    "kmer_count_pairs",
    "exploded_minimisers",
    "lang_guess",
    "normalize_text",
    "repetition_ratio",
    "occurrences",
    "quality_score",
    "token_count",
    "batch_greedy_token_counts",
    "greedy_token_count",
    "hf_token_counts",
    "vocab_token_counts",
    "wordpiece_tokenizer_json",
]
