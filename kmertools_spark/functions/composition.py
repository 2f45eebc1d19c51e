"""Vectorized composition-vector and coverage UDF builders.

Each builder returns an Arrow UDF wrapping the numpy oracle kernels: a
batch of texts in, one list<double> array built on the kernel matrix's
flat buffer out (``vector_array``). A pandas UDF cannot do this: its
serializer converts every ArrayType value to a Python list, even from
an Arrow-backed Series. Executor-side constants (perfect-hash
pos maps) are built lazily per python worker and cached — they depend
only on k, so no broadcast traffic is needed.

Reference semantics: composition/src/oligo.rs:231-259 (A1/A2),
pybindings/src/oligo.rs:59-63 (A3 quirk), coverage/src/lib.rs:165-184 (A6).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, DoubleType

from ..oracle.codec import kmer_pos_maps
from ..oracle.kernels import SortedCountLookup, composition_matrix, coverage_matrix


@lru_cache(maxsize=8)
def _pos_map(k: int):
    return kmer_pos_maps(k)


# worker-process-level SortedCountLookup cache for coverage_vector:
# keyed by a build-time uuid, surviving across tasks (the whole point —
# a closure dict resets per task)
_LOOKUP_CACHE: dict[str, "SortedCountLookup"] = {}


def vector_array(mat: np.ndarray, null: np.ndarray | None = None) -> pa.ListArray:
    """(rows x width) matrix -> Arrow list array over the matrix's own
    flat buffer (list<double> for a float64 matrix), with no per-row
    Python object (the CGR column is built the same way,
    cgr._points_array). ``null`` marks rows that are NULL lists. Offsets
    are int32, as Spark's ArrayType expects; a batch past 2^31 values
    raises instead of wrapping."""
    n, w = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int64) * w, type=pa.int32())
    flat = np.ascontiguousarray(mat).reshape(-1)
    mask = None if null is None else pa.array(null)
    return pa.ListArray.from_arrays(offsets, pa.array(flat), mask=mask)


def vector_header(k: int, canonical: bool = True) -> list[str]:
    """Slot labels (ACGT strings) for the composition vector.

    Parity with OligoComputer.get_header (pybindings/src/oligo.rs:84-99):
    136 labels for k=4 canonical, 4^k for raw.
    """
    from ..oracle.codec import numeric_to_kmer

    if canonical:
        _, pos_to_kmer, _ = _pos_map(k)
        return [numeric_to_kmer(int(v), k) for v in pos_to_kmer]
    return [numeric_to_kmer(v, k) for v in range(4**k)]


def slot_kmer_pairs(k: int) -> list[tuple[int, int]]:
    """(slot, canonical_kmer) pairs — the join dimension for exploding
    vectors back to k-mer keyed rows."""
    _, pos_to_kmer, _ = _pos_map(k)
    return [(int(i), int(v)) for i, v in enumerate(pos_to_kmer)]


def composition_vector(
    k: int = 4,
    canonical: bool = True,
    norm: bool = True,
    binding_quirk: bool = False,
):
    """Arrow UDF: text column -> ArrayType(Double) composition vector."""

    @arrow_udf(ArrayType(DoubleType()))
    def _udf(texts: pa.Array) -> pa.Array:
        pos_map, _, kcount = _pos_map(k) if canonical else (None, None, None)
        mat = composition_matrix(
            texts,
            k,
            canonical=canonical,
            norm=norm,
            pos_map=pos_map,
            kcount=kcount,
            binding_quirk=binding_quirk,
        )
        return vector_array(mat)

    return _udf


def coverage_vector(
    k: int,
    count_kmers: np.ndarray,
    count_values: np.ndarray,
    bin_size: int = 16,
    bin_count: int = 16,
    norm: bool = True,
    spark=None,
):
    """Arrow UDF: text -> coverage histogram against a global count table.

    The count table ships to executors as a Spark broadcast when a
    session is given (J1/X10: broadcast hash lookup, the scale analog of
    the reference's driver-side HashMap, coverage/src/lib.rs:82-91);
    otherwise it is captured in the closure (fine for tests).
    """
    import uuid

    payload = (
        np.ascontiguousarray(count_kmers, dtype=np.int64),
        np.ascontiguousarray(count_values, dtype=np.int64),
    )
    bc = spark.sparkContext.broadcast(payload) if spark is not None else None
    if bc is not None:
        # drop the local ref: with a broadcast in play the closure must
        # NOT also capture the raw table, or cloudpickle ships the whole
        # count table inside every task command ON TOP of the broadcast
        # (measured 16 MB closure for a 1M-entry table — code-review r4)
        payload = None
    # cache key captured at BUILD time: a closure-local dict would be
    # re-deserialized empty for every task, re-argsorting the whole
    # count table per task instead of once per python worker process
    # (code-review r5 — the module docstring promised worker-level
    # caching the old closure never delivered)
    cache_key = uuid.uuid4().hex

    @arrow_udf(ArrayType(DoubleType()))
    def _udf(texts: pa.Array) -> pa.Array:
        lk = _LOOKUP_CACHE.get(cache_key)
        if lk is None:
            kk, vv = bc.value if bc is not None else payload
            lk = SortedCountLookup(kk, vv)
            while len(_LOOKUP_CACHE) >= 4:  # bound worker memory
                _LOOKUP_CACHE.pop(next(iter(_LOOKUP_CACHE)))
            _LOOKUP_CACHE[cache_key] = lk
        mat = coverage_matrix(texts, k, lk, bin_size, bin_count, norm=norm)
        return vector_array(mat)

    return _udf
