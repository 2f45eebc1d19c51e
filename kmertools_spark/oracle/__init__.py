"""Pure-numpy oracle: ground-truth kernels re-deriving the reference
(anuradhawick/kmertools) semantics. No Spark imports here."""

from .codec import (
    SEQ_NT4,
    kmer_pos_maps,
    kmer_to_numeric,
    numeric_to_kmer,
    rev_comp,
    rev_comp_scalar,
    utf8_view,
)
from .kernels import (
    MINIMISER_SENTINEL,
    SortedCountLookup,
    cgr_trajectory,
    composition_matrix,
    concat_codes,
    coverage_matrix,
    kmer_windows,
    minimiser_runs,
    minimiser_runs_batch,
)

__all__ = [
    "SEQ_NT4",
    "utf8_view",
    "kmer_pos_maps",
    "kmer_to_numeric",
    "numeric_to_kmer",
    "rev_comp",
    "rev_comp_scalar",
    "MINIMISER_SENTINEL",
    "SortedCountLookup",
    "cgr_trajectory",
    "composition_matrix",
    "concat_codes",
    "coverage_matrix",
    "kmer_windows",
    "minimiser_runs",
    "minimiser_runs_batch",
]
