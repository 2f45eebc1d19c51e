"""k-mer explosion and map-side-combined count pairs (mapInArrow).

The UDTF analog of the reference's KmerGenerator iterator
(kmer/src/kmer.rs:77-107 / pybindings/src/kmer.rs:15-42), Arrow-batched.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from ..oracle.kernels import concat_codes, kmer_windows


def _key_fields(df: DataFrame, keys: tuple[str, ...]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def _keyed_batch(
    rb: pa.RecordBatch, keys: tuple[str, ...], rows: np.ndarray, values: dict
) -> pa.RecordBatch:
    """Output batch: the input's key columns taken at ``rows`` (Arrow
    ``take`` — types, NULLs and 64-bit values pass through unchanged),
    then the kernel's ``values`` columns."""
    idx = pa.array(rows)
    return pa.RecordBatch.from_pydict({**{kk: rb.column(kk).take(idx) for kk in keys}, **values})


def exploded_kmers(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    cols: tuple[str, ...] = ("pos", "fwd", "rc", "canon"),
) -> DataFrame:
    """Rows (keys..., pos, fwd, rc, canon) for every valid k-mer window.

    Map-side only (no shuffle); OOV characters split runs exactly like
    the reference tokenizer (F1 gate, kmer/src/kmer.rs:91-99).

    ``cols`` selects which value columns are EMITTED: Catalyst cannot
    prune a mapInArrow output, so a consumer needing only ``canon``
    (the k>12 coverage join) would otherwise ship 24 dead bytes per
    k-mer occurrence across Arrow at the most voluminous stage of the
    scale path (code-review r5).
    """
    bad = set(cols) - {"pos", "fwd", "rc", "canon"}
    if bad or not cols:
        raise ValueError(f"cols must be non-empty from pos/fwd/rc/canon, got {cols}")
    schema = StructType(
        _key_fields(df, keys) + [StructField(c, LongType()) for c in cols]
    )

    def gen(batches):
        for rb in batches:
            codes, starts, _lens = concat_codes(rb.column(text_col))
            pos, f, r = kmer_windows(codes, k)
            rows = np.searchsorted(starts, pos, side="right") - 1
            out = {}
            if "pos" in cols:
                out["pos"] = pos - starts[rows]
            if "fwd" in cols:
                out["fwd"] = f.astype(np.int64)
            if "rc" in cols:
                out["rc"] = r.astype(np.int64)
            if "canon" in cols:
                # canonical min computed in the kernel's UNSIGNED dtype,
                # then cast: at k=32 a top-bit k-mer wraps negative in
                # int64, so a signed least(fwd, rc) downstream would pick
                # the wrong strand — while the count table
                # (kmer_count_pairs) takes the unsigned min, silently
                # missing the join (code-review r4)
                out["canon"] = np.minimum(f, r).astype(np.int64)
            yield _keyed_batch(rb, keys, rows, {c: out[c] for c in cols})

    # mapInArrow is a Catalyst black box: project explicitly so column
    # pruning reaches the scan (and upstream windows over unused
    # columns are dropped entirely)
    return df.select(*keys, text_col).mapInArrow(gen, schema)


def kmer_count_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    canonical: bool = True,
) -> DataFrame:
    """(kmer, cnt) partial counts, pre-aggregated per Arrow batch.

    This is the map phase of the reference's partition-parallel counting
    loop (counter/src/lib.rs:100-143): each batch collapses to its
    distinct k-mers before anything is shuffled, so the exchange carries
    at most |batch-distinct| rows instead of one row per k-mer
    occurrence. Finish with groupBy("kmer").sum("cnt").
    """
    schema = StructType(
        [StructField("kmer", LongType()), StructField("cnt", LongType())]
    )

    # dense-domain fast path: for k <= 10 the value domain (4^k) is
    # small, so a bincount replaces np.unique's O(n log n) SORT of every
    # batch's ~10^6 window values with one O(n) scatter; flatnonzero
    # yields the same ascending distinct order
    dense = 4**k <= (1 << 20)

    def gen(batches):
        for rb in batches:
            codes, _starts, _lens = concat_codes(rb.column(text_col))
            _pos, f, r = kmer_windows(codes, k)
            vals = np.minimum(f, r).astype(np.int64) if canonical else f.astype(np.int64)
            if dense:
                cnt = np.bincount(vals, minlength=4**k)
                kmers = np.flatnonzero(cnt)
                counts = cnt[kmers]
            else:
                kmers, counts = np.unique(vals, return_counts=True)
            yield pa.RecordBatch.from_pydict({"kmer": kmers, "cnt": counts.astype(np.int64)})

    # explicit projection: only the text column crosses the Arrow boundary
    return df.select(text_col).mapInArrow(gen, schema)
