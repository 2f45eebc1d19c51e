"""Minimizer explosion (mapInArrow) — W1/W2 of the survey.

Emits one row per minimizer *run* (maximal span sharing one window
minimum), matching kmer/src/minimiser.rs:58-176; w=0 selects the
whole-record window mode (misc/src/minimisers.rs:44-48) which has a
fully vectorized batch kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from ..oracle.kernels import minimiser_runs_batch
from .kmers import _key_fields, _keyed_batch


def exploded_minimisers(
    df: DataFrame,
    text_col: str = "text",
    w: int = 0,
    m: int = 10,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Rows (keys..., mmer, win_start, win_end) per minimizer run.

    mmer == -1 is the sentinel for the reference's u64::MAX
    never-filled-window tail emission.
    """
    schema = StructType(
        _key_fields(df, keys)
        + [
            StructField("mmer", LongType()),
            StructField("win_start", LongType()),
            StructField("win_end", LongType()),
        ]
    )

    def gen(batches):
        for rb in batches:
            # minimiser_runs_batch owns the w==0 dispatch (kernels.py
            # delegates to whole_record_minimisers itself) — one code
            # path to keep in sync (code-review r4)
            rows, vals, ss, ee = minimiser_runs_batch(rb.column(text_col), w, m)
            yield _keyed_batch(
                rb, keys, rows, {"mmer": vals, "win_start": ss, "win_end": ee}
            )

    # explicit projection so pruning reaches the scan (mapInArrow is a
    # Catalyst black box)
    return df.select(*keys, text_col).mapInArrow(gen, schema)
