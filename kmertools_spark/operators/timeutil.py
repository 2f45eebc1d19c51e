"""Portable epoch-millis extraction.

Driver parquet carries TIMESTAMP_NTZ; synthesized frames carry
TIMESTAMP_LTZ. `unix_millis` only accepts LTZ, so cast first — sessions
run with spark.sql.session.timeZone=UTC, making the NTZ->LTZ cast a
pure reinterpretation that matches DuckDB's epoch_ms on naive
timestamps exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_ms(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def guard_null_ts(series, op: str) -> None:
    """Raise if a ts column — a pandas Series (datetime64 or epoch-ms
    float) or an Arrow array — has NULLs: numpy's int64 cast silently
    turns NaT/NaN into INT64_MIN, which wraps subtractions and breaks
    sorted preconditions — the windows come out silently wrong, not
    erroneous. ONE shared guard so every window kernel defends
    identically (code-review r5: the guard existed only in
    backfill_features_stream; the time-mode batch kernel and the
    stateful streaming kernel returned garbage)."""
    if series.null_count if hasattr(series, "null_count") else series.isna().any():
        raise ValueError(
            f"{op}: NULL ts encountered — an int64 cast would silently "
            "turn it into INT64_MIN and corrupt session/time windows; "
            "drop or impute NULL-ts rows upstream"
        )
