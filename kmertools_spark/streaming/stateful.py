"""Custom stateful streaming operator: incremental rolling composition
vectors per conversation via applyInPandasWithState.

The streaming twin of operators/rolling (turn-bounded windows): state
per conv_id holds the trailing (n_turns-1) per-turn count rows plus the
session carry (last ts, session seq), so each micro-batch emits exactly
the same (vec, roll_vec, session_seq) the batch engine would — features
stay point-in-time-correct as new turns arrive.

Constraints documented for scale: state size is O(n_turns * 4^k/2)
doubles per live conversation — bounded and small (136 slots at k=4).
Arrival contract: turns of a conversation must arrive in turn_idx order
ACROSS micro-batches (within a batch they are sorted); out-of-order
sources need an upstream reorder buffer (watermark + turn_idx gap
check) before this operator — the batch backfill path is the recovery
tool when the contract is violated. Idle-conversation state eviction:
switch timeoutConf to ProcessingTimeTimeout and drop state on timeout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.composition import _pos_map
from ..operators.timeutil import guard_null_ts
from ..oracle.kernels import composition_matrix

_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("session_seq", IntegerType()),
        StructField("vec", ArrayType(DoubleType())),
        StructField("roll_vec", ArrayType(DoubleType())),
    ]
)

# state: trailing counts flattened + bookkeeping (+ optional reorder buffer)
_PENDING = StructType(
    [
        StructField("turn_idx", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("text", StringType()),
    ]
)
_STATE = StructType(
    [
        StructField("tail", ArrayType(DoubleType())),  # (<=n_turns-1) * kcount
        StructField("last_ts", LongType()),
        StructField("last_seq", IntegerType()),
        StructField("seen", LongType()),
        StructField("expected_next", LongType()),
        StructField("pending", ArrayType(_PENDING)),
    ]
)


def rolling_vectors_stream(
    stream: DataFrame,
    k: int = 4,
    n_turns: int = 3,
    gap_seconds: float = 1800.0,
    norm: bool = True,
    reorder: bool = False,
    max_pending: int = 1024,
) -> DataFrame:
    """stream(conv_id, turn_idx, text, ts) -> incremental backfill rows.

    Input must carry event-time `ts`. With ``reorder=False`` rows must
    arrive in turn_idx order across micro-batches (the strict contract).
    With ``reorder=True`` a bounded per-conversation reorder buffer
    holds out-of-order turns in state and emits the maximal contiguous
    turn_idx prefix each batch; if the buffer exceeds ``max_pending``
    rows the oldest gap is abandoned (expected_next jumps to the
    smallest buffered turn) so memory stays bounded — the batch
    backfill remains the recovery tool for dropped gaps.

    The reorder contract REQUIRES 0-based dense per-conversation
    turn_idx (that is what lets the buffer distinguish "gap" from
    "done"); feeding a filtered/sparse subset stalls each conversation
    at its first missing index until max_pending evicts it. Pre-filtered
    streams should renumber with a row_number first (the batch router's
    hot branch does this internally via operators.rolling._carry_blocks,
    which blocks by row position, not turn_idx value).
    """
    gap_ms = int(gap_seconds * 1000)

    def fn(key, pdfs, state: GroupState):
        pos_map, _, kcount = _pos_map(k)
        if state.exists:
            tail_flat, last_ts, last_seq, seen, expected_next, pending = state.get
            tail = np.asarray(tail_flat, dtype=np.float64).reshape(-1, kcount)
            pending = list(pending or [])
        else:
            tail = np.zeros((0, kcount))
            last_ts, last_seq, seen = None, 0, 0
            expected_next, pending = -1, []
        frames = [p for p in pdfs if len(p)]
        if not frames:
            yield pd.DataFrame(columns=[f.name for f in _OUT.fields])
            return
        pdf = pd.concat(frames).sort_values("turn_idx").reset_index(drop=True)
        # NaT would silently become INT64_MIN in the epoch casts below,
        # wrapping the gap math AND poisoning persisted last_ts for
        # every later micro-batch (code-review r5)
        guard_null_ts(pdf["ts"], "rolling_vectors_stream")
        if reorder:
            incoming = list(
                zip(
                    pdf["turn_idx"].astype(int),
                    pdf["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64),
                    pdf["text"].fillna(""),
                )
            )
            pool = sorted(
                pending + [(int(a), int(b), str(c)) for a, b, c in incoming]
            )
            if expected_next < 0:
                # schema invariant: turn_idx is 0-based dense per conv
                expected_next = 0
            emit, hold = [], []
            nxt = expected_next
            prev_held = None
            for row in pool:
                if row[0] == nxt:
                    emit.append(row)
                    nxt += 1
                elif row[0] < nxt:
                    continue  # duplicate / already emitted: drop
                else:
                    # replays of a NOT-yet-emittable turn must not
                    # accumulate: an at-least-once source re-sending one
                    # held row each batch would inflate state toward
                    # max_pending and trigger premature gap abandonment
                    # (code-review r4); pool is sorted, so equal keys
                    # are adjacent — keep the first
                    if prev_held is not None and row[0] == prev_held:
                        continue
                    prev_held = row[0]
                    hold.append(row)
            if len(hold) > max_pending:
                # abandon the oldest gap: jump to the smallest buffered turn
                while hold and len(hold) > max_pending:
                    nxt = hold[0][0]
                    still = []
                    for row in hold:
                        if row[0] == nxt:
                            emit.append(row)
                            nxt += 1
                        else:
                            still.append(row)
                    hold = still
            expected_next = nxt
            if not emit:
                state.update(
                    (
                        tail.ravel().tolist(),
                        int(last_ts or 0),
                        int(last_seq),
                        int(seen),
                        int(expected_next),
                        hold,
                    )
                )
                yield pd.DataFrame(columns=[f.name for f in _OUT.fields])
                return
            pdf = pd.DataFrame(
                {
                    "turn_idx": [r[0] for r in emit],
                    "ts": pd.to_datetime([r[1] for r in emit], unit="ms"),
                    "text": [r[2] for r in emit],
                }
            )
            pending = hold
        counts = composition_matrix(
            pdf["text"].tolist(), k, canonical=True, norm=False,
            pos_map=pos_map, kcount=kcount,
        )
        m = tail.shape[0]
        full = np.vstack([tail, counts]) if m else counts
        prefix = np.vstack([np.zeros((1, kcount)), np.cumsum(full, axis=0)])
        B = len(pdf)
        idx = np.arange(B) + m
        lo = np.maximum(0, idx - (n_turns - 1))
        roll = prefix[idx + 1] - prefix[lo]
        per_turn = counts / np.maximum(1.0, counts.sum(1))[:, None] if norm else counts
        if norm:
            roll = roll / np.maximum(1.0, roll.sum(1))[:, None]
        # normalize to epoch millis regardless of pandas datetime unit
        ts = pdf["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        prev = np.empty(B, dtype=np.int64)
        prev[1:] = ts[:-1]
        prev[0] = last_ts if last_ts is not None and seen > 0 else ts[0]
        newsess = (ts - prev > gap_ms).astype(np.int64)
        if seen == 0:
            newsess[0] = 0
        seq = last_seq + np.cumsum(newsess)
        take = min(n_turns - 1, full.shape[0])
        state.update(
            (
                full[full.shape[0] - take :].ravel().tolist(),
                int(ts[-1]),
                int(seq[-1]),
                int(seen + B),
                int(expected_next),
                pending if reorder else [],
            )
        )
        yield pd.DataFrame(
            {
                "conv_id": key[0],
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "session_seq": seq.astype("int32"),
                "vec": list(per_turn),
                "roll_vec": list(roll),
            }
        )

    return (
        # select before the Python boundary: the stateful exchange and
        # per-batch Arrow transfer otherwise carry every extra input
        # column forever (CLAUDE.md pruning rule; code-review r4)
        stream.select("conv_id", "turn_idx", "text", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUT,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
