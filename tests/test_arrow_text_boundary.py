"""Text enters every batch kernel through ``codec.utf8_view``.

The view must read an Arrow string column exactly as the kernels read a
Python list of the same texts — across NULLs (including a NULL slot
whose offsets span bytes), slices, ``large_string``, empty batches and
multi-byte UTF-8 — and every kernel must still equal its per-text
reference. The Spark surfaces over the view are Arrow UDFs /
mapInArrow, pinned here by eval type and plan shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kmertools_spark.oracle.codec import SEQ_NT4, kmer_to_numeric, utf8_view
from kmertools_spark.oracle.hashing import (
    batch_shingle_hashes,
    fingerprint,
    fingerprint_batch,
    minhash_batch,
    minhash_signature,
    shingle_hashes,
    simhash,
    simhash_batch,
)
from kmertools_spark.oracle.kernels import (
    SortedCountLookup,
    _round6_half_up,
    cgr_batch,
    cgr_trajectory,
    composition_matrix,
    concat_codes,
    coverage_matrix,
    kmer_windows,
    minimiser_runs,
    minimiser_runs_batch,
    repetition_batch,
)

# NUL and 0x01 (raw 2-bit codes), OOV letters, 2-, 3- and 4-byte UTF-8
_ALPHABET = list("ACGTacgtUN x") + ["\x00", "\x01", "é", "中", "😀"]
_TEXTS = st.lists(
    st.one_of(st.none(), st.text(alphabet=st.sampled_from(_ALPHABET), max_size=40)),
    max_size=12,
)


def _null_spanning(texts: list[str | None]) -> pa.Array:
    """The texts as an Arrow array whose NULL slots still span bytes."""
    filled = pa.array(
        [t if t is not None else "NULL-bytes ACGT" for t in texts], pa.string()
    )
    valid = np.array([t is not None for t in texts], dtype=bool)
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    _, offsets, data = filled.buffers()
    return pa.Array.from_buffers(pa.string(), len(texts), [bitmap, offsets, data])


def _variants(texts: list[str | None]):
    """Arrow forms of ``texts``: string, large_string, sliced to a
    non-zero offset, and NULL slots spanning bytes."""
    yield pa.array(texts, pa.string())
    yield pa.array(texts, pa.large_string())
    yield pa.array(["ACGT junk", None, *texts], pa.string()).slice(2)
    yield _null_spanning(texts)


def _same(a, b) -> bool:
    if isinstance(a, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return (
            isinstance(b, np.ndarray)
            and a.dtype == b.dtype
            and a.shape == b.shape
            and bool((a == b).all())
        )
    return a == b


_LOOKUP = SortedCountLookup(np.arange(0, 64, 3), np.arange(1, 23))


def _kernels(texts):
    return {
        "concat_codes": concat_codes(texts),
        "shingles": batch_shingle_hashes(texts, 4),
        "minhash": minhash_batch(texts, 4),
        "simhash": simhash_batch(texts, 4),
        "fingerprint": fingerprint_batch(texts, 6),
        "minimisers": minimiser_runs_batch(texts, 5, 3),
        "whole_record": minimiser_runs_batch(texts, 0, 3),
        "composition": composition_matrix(texts, 3),
        "coverage": coverage_matrix(texts, 3, _LOOKUP, 4, 5),
        "cgr": cgr_batch(texts, 2.0),
        "repetition4": repetition_batch(texts, 4),
        "repetition7": repetition_batch(texts, 7),
    }


def _repetition_ref(t: str | None, n: int) -> float | None:
    t = t or ""
    total = len(t) - n + 1
    if total <= 0:
        return None
    return _round6_half_up(len({t[j : j + n] for j in range(total)}) / total)


@settings(max_examples=80, deadline=None)
@given(_TEXTS)
def test_view_reads_arrow_like_a_list(texts):
    data, offsets = utf8_view(texts)
    assert data.dtype == np.uint8 and offsets.dtype == np.int64
    assert offsets.size == len(texts) + 1 and offsets[0] == 0
    for i, t in enumerate(texts):
        assert data[offsets[i] : offsets[i + 1]].tobytes() == (t or "").encode()
    want = _kernels(texts)
    for arr in _variants(texts):
        got_view = utf8_view(arr)
        assert _same(got_view, (data, offsets))
        got = _kernels(arr)
        for name in want:
            assert _same(got[name], want[name]), name


@settings(max_examples=80, deadline=None)
@given(_TEXTS)
def test_kernels_equal_per_text_references(texts):
    got = _kernels(texts)
    codes, starts, lens = got["concat_codes"]
    rows, h = got["shingles"]
    sigs, sig_ok = got["minhash"]
    sims, sim_ok = got["simhash"]
    fps, fp_ok = got["fingerprint"]
    rr, vv, ss, ee = got["minimisers"]
    for i, t in enumerate(texts):
        b = (t or "").encode()
        want = SEQ_NT4[np.frombuffer(b, dtype=np.uint8)]
        assert (codes[starts[i] : starts[i] + lens[i]] == want).all()
        assert (h[rows == i] == shingle_hashes(t or "", 4)).all()
        ref = minhash_signature(t or "", 4)
        assert sig_ok[i] == (ref is not None)
        if ref is not None:
            assert (sigs[i] == ref).all()
        ref = simhash(t or "", 4)
        assert (sims[i] if sim_ok[i] else None) == ref
        ref = fingerprint(t or "", 6)
        assert (fps[i] if fp_ok[i] else None) == ref
        mine = list(zip(vv[rr == i].tolist(), ss[rr == i].tolist(), ee[rr == i].tolist()))
        assert mine == minimiser_runs(b, 5, 3)
        ref = cgr_trajectory(t or "", 2.0)
        assert (got["cgr"][i] is None) == (ref is None)
        if ref is not None:
            assert got["cgr"][i].tobytes() == ref.tobytes()
        assert got["repetition4"][i] == _repetition_ref(t, 4)
        assert got["repetition7"][i] == _repetition_ref(t, 7)


def test_empty_batch():
    for texts in ([], pa.array([], pa.string()), pa.array([], pa.large_string())):
        data, offsets = utf8_view(texts)
        assert data.size == 0 and offsets.tolist() == [0]
        got = _kernels(texts)
        assert got["composition"].shape == (0, 32)
        assert got["cgr"] == [] and got["repetition4"] == []
        assert got["minhash"][0].shape == (0, 16)


def test_null_slot_spanning_bytes_reads_empty():
    arr = _null_spanning(["ACGT", None, "GG"])
    assert arr.buffers()[1] is not None and arr.null_count == 1
    data, offsets = utf8_view(arr)
    assert data.tobytes() == b"ACGTGG"
    assert offsets.tolist() == [0, 4, 4, 6]


def test_k32_canonical_top_bit_kmer():
    """At k=32 a k-mer whose forward and reverse complement both start
    with T/A has its top bit set on both strands: the canonical min
    must be the UNSIGNED min, identical for list and Arrow input."""
    kmer = "T" + "ACGT" * 7 + "GCA"
    f, r = kmer_to_numeric(kmer)
    assert f >> 63 and r >> 63
    want = np.array([min(f, r)], dtype=np.uint64).astype(np.int64)
    texts = ["N" + kmer, None, kmer]
    for src in (texts, *_variants(texts)):
        codes, starts, _ = concat_codes(src)
        pos, fw, rc = kmer_windows(codes, 32)
        rows = np.searchsorted(starts, pos, side="right") - 1
        assert rows.tolist() == [0, 2]
        assert (np.minimum(fw, rc).astype(np.int64) == want[0]).all()


def test_repetition_row_chunks_over_arrow():
    """n=6 packs (row, gram) into int64 only below 32,767 rows; a larger
    Arrow batch goes through the row chunks with the same values."""
    base = ["abcdefgh", "aaaaaaaaaa", "", "abcabcabcabc", "xyzé123456"]
    texts = [
        None if i % 11 == 3 else base[i % len(base)] + str(i % 97) * (i % 3)
        for i in range(33_000)
    ]
    want = [_repetition_ref(t, 6) for t in texts]
    assert repetition_batch(texts, 6) == want
    assert repetition_batch(pa.array(texts, pa.large_string()), 6) == want
    assert repetition_batch(pa.array(["pad", *texts]).slice(1), 6) == want


# ---------------------------------------------------------------- Spark


def _eval_type(spark, f) -> int:
    """evalType of a UDF or, for an applied Column, the one its
    ArrowEvalPython plan node reports."""
    import re

    from pyspark.sql import Column

    if not isinstance(f, Column):
        return f.evalType
    df = spark.createDataFrame([("ACGT",)], "text string").select(f.alias("v"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"ArrowEvalPython \[.*\], (\d+)", plan).group(1))


def test_text_udfs_are_arrow_udfs(spark):
    from pyspark.sql import functions as F
    from pyspark.util import PythonEvalType

    from kmertools_spark.functions import (
        cgr_points,
        cgr_points_with_error,
        composition_vector,
        coverage_vector,
        doc_fingerprint,
        minhash_sig,
        repetition_ratio,
        simhash_value,
    )

    udfs = {
        "minhash_sig": minhash_sig(),
        "simhash_value": simhash_value(),
        "doc_fingerprint": doc_fingerprint(),
        "repetition_ratio": repetition_ratio(F.col("text"), 4),
        "cgr_points": cgr_points(),
        "cgr_points_with_error": cgr_points_with_error(),
        "composition_vector": composition_vector(4),
        "coverage_vector": coverage_vector(4, np.array([0]), np.array([1])),
    }
    for name, f in udfs.items():
        assert _eval_type(spark, f) == PythonEvalType.SQL_SCALAR_ARROW_UDF, name


def test_explosions_are_map_in_arrow(spark):
    from kmertools_spark.functions import (
        exploded_kmers,
        exploded_minimisers,
        kmer_count_pairs,
    )

    df = spark.createDataFrame(
        [(1, 0, "ACGTACGT")], "conv_id long, turn_idx int, text string"
    )
    for out in (exploded_kmers(df), kmer_count_pairs(df), exploded_minimisers(df, m=3)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


@pytest.mark.parametrize("explode", ["exploded_kmers", "exploded_minimisers"])
def test_explosions_keep_bigint_keys_exact(spark, explode):
    """A 64-bit key above 2^53 beside a NULL key in one batch comes back
    exact. pandas turned such an int64 column into float64 (NULL ->
    NaN), rounding 2^53 + 1 to 2^53 on every row."""
    from kmertools_spark import functions

    big = 2**53 + 1
    df = spark.createDataFrame(
        [(big, "ACGTACGT"), (None, "ACGTACGT")], "id long, text string"
    ).coalesce(1)
    kw = {"k": 4} if explode == "exploded_kmers" else {"w": 0, "m": 4}
    out = getattr(functions, explode)(df, keys=("id",), **kw)
    rows = out.select("id").collect()
    assert len(rows) == 2 * (5 if explode == "exploded_kmers" else 1)
    assert sorted(rows, key=lambda r: (r.id is None, r.id))[0].id == big
    assert {r.id for r in rows} == {big, None}
