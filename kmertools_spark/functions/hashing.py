"""Shingle-hash UDF builders: MinHash signatures, SimHash, fingerprints.

Arrow UDFs around the batch-vectorized kernels in
kmertools_spark.oracle.hashing — the integer constants there are
mirrored verbatim into the DuckDB oracle SQL, so these UDFs are exactly
reproducible in plain SQL. Each batch's text column is read in place
(``codec.utf8_view``) and hashed in one numpy pass; the result leaves
as an Arrow array over the kernel's values and validity (no per-row
Python).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType

from ..oracle.hashing import N_PERMS, fingerprint_batch, minhash_batch, simhash_batch
from .composition import vector_array


def minhash_sig(width: int = 8):
    """Arrow UDF: text -> array<long> MinHash signature (null if no shingle).

    Marked non-deterministic (it is not — the kernel is a pure function;
    this is an optimizer fence): every consumer filters on the UDF
    column (``.where(sig.isNotNull())``), and Catalyst pushes that
    filter BELOW the projection by re-evaluating the UDF under it — the
    plan grows a second ArrowEvalPython node and every row pays the
    shingle/permutation kernel twice (measured: two ArrowEvalPython
    nodes in the r6 q16/q17 plans). asNondeterministic forbids the
    duplication, leaving one evaluation per row; results are unchanged
    (spark_optimization_guide §4.4). Caller contract (r7 code-review):
    nondeterministic expressions are only legal in Project / Filter /
    Aggregate / Window operators — using the raw column directly as a
    groupBy/orderBy/join key fails analysis. Project it into a named
    column first (every in-repo consumer does), e.g.
    ``df.withColumn("sig", minhash_sig()(col)).groupBy("sig")``."""

    @arrow_udf(ArrayType(LongType()))
    def _udf(texts: pa.Array) -> pa.Array:
        sigs, valid = minhash_batch(texts, width)
        return vector_array(sigs, ~valid)

    return _udf.asNondeterministic()


def _scalar_udf(kernel, width: int):
    """Arrow UDF: text -> long, NULL where ``kernel`` reports no value."""

    @arrow_udf(LongType())
    def _udf(texts: pa.Array) -> pa.Array:
        vals, valid = kernel(texts, width)
        return pa.array(vals, mask=~valid)

    return _udf.asNondeterministic()


def simhash_value(width: int = 8):
    """Arrow UDF: text -> long SimHash (null if no shingle).
    Non-deterministic marking: same single-evaluation fence — and the
    same project-before-grouping caller contract — as minhash_sig."""
    return _scalar_udf(simhash_batch, width)


def doc_fingerprint(width: int = 16):
    """Arrow UDF: text -> long min-window rolling-hash fingerprint.
    Non-deterministic marking: same single-evaluation fence — and the
    same project-before-grouping caller contract — as minhash_sig
    (q23 filters on the fingerprint column)."""
    return _scalar_udf(fingerprint_batch, width)


def band_key_struct(bands: int, r: int, sig_len: int = N_PERMS):
    """Exploded (band, key) structs over a ``sig`` column — the ONE
    band fold shared by batch lsh_candidate_pairs and
    streaming_lsh_candidates. Bit-identical buckets between the two are
    a documented contract (a batch replay must reproduce the streaming
    buckets), so the fold lives in exactly one place (code-review r4).

    ``bands * r`` must fit the signature (``sig_len``; both callers
    build N_PERMS-wide sigs): a band sliced past the end used to fold
    to the empty key '', silently turning that band into an all-pairs
    cross product over the whole corpus (code-review r5).
    """
    from pyspark.sql import functions as F

    if bands < 1 or r < 1 or bands * r > sig_len:
        raise ValueError(
            f"band_key_struct: bands={bands} x rows_per_band={r} must be "
            f">= 1x1 and fit the {sig_len}-element signature"
        )

    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.concat_ws(
                    "_", F.slice("sig", b * r + 1, r).cast("array<string>")
                ).alias("key"),
            ),
        )
    )
