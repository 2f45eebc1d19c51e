"""Rolling / session-to-date composition-vector windows per conversation.

One kernel, a sorted stream: rows are hash-partitioned, sorted by
(conv_id, turn_idx) and walked by one ``mapInArrow`` generator over
Arrow record batches. Per-turn count vectors are prefix-summed once per
batch and each window is a difference of two prefix rows — the windowed
analog of the reference's incremental rolling encode (X6,
kmer/src/kmer.rs:93-95). The open conversation's window context is
carried between batches, so memory is O(batch) whatever the
conversation length. Output batches are built from Arrow arrays: the
input conv_id column passes through, and both vector columns are list
arrays over the kernel's flat float64 buffers (``vector_array``), with
no per-row Python object.

Skew handling (north rule): ``backfill_features_auto`` runs the same
kernel over ``_carry_blocks`` segments for hot conversations — fixed-
size turn blocks with the (n_turns-1) preceding rows replicated in as
context, keyed (conv_id, block), so a million-turn conversation spreads
over many tasks instead of one. This is the salted-repartition analog
of the reference's explicit `min_mer % n_parts` sharding (X2,
counter/src/lib.rs:127).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import hot_key_split
from .timeutil import epoch_ms, guard_null_ts
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.composition import _pos_map, vector_array
from ..oracle.kernels import composition_matrix

_MODES = ("turns", "time", "session")
_SLICE_ROWS = 4096


def _column_numpy(rb: pa.RecordBatch, name: str) -> np.ndarray:
    return rb.column(name).to_numpy(zero_copy_only=False)


def _carry_blocks(df: DataFrame, chunk: int, n_turns: int) -> DataFrame:
    """Assign position-based chunk blocks with an (n_turns-1)-row carry.

    Block id derives from a row_number over (conv_id ORDER BY turn_idx),
    NOT from raw turn_idx values, so filtered/sparse inputs (e.g. a
    user-turns-only subset) chunk correctly: the carry rows are the
    previous (n_turns-1) ROWS of the conversation regardless of
    turn_idx gaps (round-1 advice — value-derived blocks silently
    dropped boundary carries on sparse inputs). Carry rows are emitted
    into the next block too (emit=False there); explode() keeps this a
    single scan.
    """
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx")) - 1
    df = df.withColumn("__rn", rn)
    blk = F.expr(f"__rn div {chunk}")
    # row rn is needed by every block whose first row reaches back to it:
    # blocks blk .. (rn + n_turns - 1) div chunk. For n_turns - 1 <=
    # chunk this is the classic next-block carry; for windows WIDER than
    # a chunk it replicates as many blocks ahead as the window needs
    # (code-review r4: the two-block special case silently truncated
    # windows when n_turns - 1 > chunk)
    last_needed = F.expr(f"(__rn + {n_turns - 1}) div {chunk}")
    return (
        df.withColumn("__own", blk)
        .withColumn("__blk", F.explode(F.sequence(blk, last_needed)))
        .withColumn("__emit", F.col("__own") == F.col("__blk"))
        .drop("__own", "__rn")
    )


_BACKFILL_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("session_seq", IntegerType()),
        StructField("vec", ArrayType(DoubleType())),
        StructField("roll_vec", ArrayType(DoubleType())),
    ]
)


def backfill_features_stream(
    df: DataFrame,
    k: int = 4,
    n_turns: int = 3,
    gap_seconds: float = 1800.0,
    norm: bool = True,
    n_partitions: int | None = None,
    mode: str = "turns",
    time_seconds: float = 600.0,
    max_carry: int = 100_000,
) -> DataFrame:
    """Sorted-stream backfill: per-turn + rolling vectors in ONE pass.

    repartition(conv_id) + sortWithinPartitions(conv_id, turn_idx) +
    mapInArrow with cross-batch carry. This never materializes one
    frame per conversation — Arrow batches of
    ~maxRecordsPerBatch rows stream through one vectorized kernel, with
    the open conversation's window context carried between batches: a
    bounded memory footprint regardless of conversation length (a
    10^6-turn conversation costs one task time-wise but never more than
    one batch memory-wise; ``backfill_features_auto`` spreads it).

    ``roll_vec`` windows, by ``mode``:
      'turns'    the last ``n_turns`` turns (current inclusive)
      'time'     turns with ts in [ts_i - time_seconds, ts_i], row-
                 bounded at the current turn
      'session'  session-to-date: from the current session's first turn

    Ordering contract (code-review r4): the kernel sorts by (conv_id,
    turn_idx) and computes session gaps in TURN order, while the SQL
    sessionize path orders by (ts, turn_idx) — identical whenever ts is
    non-decreasing in turn_idx within a conversation (guaranteed by the
    transcript derivation and asserted by the q38 oracle); out-of-order
    producer clocks are outside the contract and should be repaired
    upstream before backfill.
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    # sessionization happens IN-KERNEL over the same sorted stream (gap
    # cumsum with cross-batch carry) unless session_seq is already
    # present — saving a second full-data shuffle (the window pass)
    have_sess = "session_seq" in df.columns
    need_ts = (not have_sess) or mode == "time"
    cols = ["conv_id", "turn_idx", "text"]
    if have_sess:
        cols.append("session_seq")
    work = df.select(
        *cols, *([epoch_ms("ts").alias("__ts_ms")] if need_ts else [])
    )
    parts = n_partitions or work.sparkSession.sparkContext.defaultParallelism
    work = work.repartition(parts, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    return _rolling_stream(
        work, k, n_turns, gap_seconds, norm, mode, time_seconds, max_carry
    )


def _rolling_stream(
    work: DataFrame,
    k: int,
    n_turns: int,
    gap_seconds: float,
    norm: bool,
    mode: str,
    time_seconds: float,
    max_carry: int,
) -> DataFrame:
    """The one rolling kernel, over a frame already partitioned and
    sorted so each segment's rows arrive contiguous and in turn order.

    A segment is a run of equal conv_id — or of equal (conv_id, __blk)
    when ``_carry_blocks`` columns are present, in which case rows with
    ``__emit`` false are window context only and are not output.
    ``session_seq`` is read when present, else derived in-kernel from
    ``__ts_ms``.

    Carry between Arrow batches, per mode: 'turns' the open segment's
    last (n_turns-1) count rows; 'session' ONE running count row (the
    open session's sum so far); 'time' the open segment's rows within
    the horizon of its last ts, bounded by max_carry — a conversation
    denser than that within one horizon gets a truncated window and a
    RuntimeWarning on the executor (see the clamp below).
    """
    have_sess = "session_seq" in work.columns
    need_ts = "__ts_ms" in work.columns
    blocked = "__blk" in work.columns
    gap_ms = int(gap_seconds * 1000)
    horizon_ms = int(time_seconds * 1000)

    _NO_CARRY = object()  # distinguishes "no carry yet" from a carry
    # for the NULL conv_id group (str(None) == 'None' used to collide
    # with both, restarting NULL-group windows at every batch boundary
    # and colliding with a literal 'None' key — code-review r4)

    def gen(batches):
        pos_map, _, kcount = _pos_map(k)
        carry_key = _NO_CARRY
        carry_counts = np.zeros((0, kcount))
        carry_ts_arr = np.zeros(0, dtype=np.int64)  # time mode: ts of carried rows
        carry_ts: int = 0
        carry_seq = 0
        # the kernel's (rows x kcount) temporaries are fresh allocations;
        # at k=4, 4096-row slices of the Arrow batch measured ~5 % cheaper
        # per row than whole 10k-row batches (the carry spans the slices)
        for rb in (
            b.slice(i, _SLICE_ROWS)
            for b in batches
            for i in range(0, b.num_rows, _SLICE_ROWS)
        ):
            B = rb.num_rows
            if B == 0:
                continue
            col = partial(_column_numpy, rb)
            conv = col("conv_id")
            counts = composition_matrix(
                rb.column("text"), k, canonical=True, norm=False,
                pos_map=pos_map, kcount=kcount,
            )
            brk = conv[1:] != conv[:-1]
            if blocked:
                blk = col("__blk")
                brk |= blk[1:] != blk[:-1]
                first_key, last_key = (conv[0], blk[0]), (conv[-1], blk[-1])
            else:
                first_key, last_key = conv[0], conv[-1]
            carried = carry_key is not _NO_CARRY and first_key == carry_key
            cc = carry_counts if carried else np.zeros((0, kcount))
            m = cc.shape[0]
            full = np.vstack([cc, counts]) if m else counts
            prefix = np.empty((full.shape[0] + 1, kcount))
            prefix[0] = 0.0
            np.cumsum(full, axis=0, out=prefix[1:])
            newseg = np.flatnonzero(brk) + 1  # batch idx
            seg_starts_batch = np.concatenate(([0], newseg))
            # in full (carry-prefixed) index space the first segment
            # starts at 0 (its carry rows included), later ones at +m
            seg_starts_full = seg_starts_batch + m
            seg_starts_full[0] = 0
            seg_of_row = np.zeros(B, dtype=np.int64)
            seg_of_row[newseg] = 1
            np.cumsum(seg_of_row, out=seg_of_row)
            idx = np.arange(B) + m
            if need_ts:
                guard_null_ts(rb.column("__ts_ms"), "backfill_features_stream")
                ts = col("__ts_ms").astype(np.int64, copy=False)

            if have_sess:
                sess = col("session_seq")
            else:
                prev = np.empty(B, dtype=np.int64)
                prev[1:] = ts[:-1]
                prev[0] = carry_ts if carried else ts[0]
                is_first = np.zeros(B, dtype=bool)
                is_first[seg_starts_batch] = True
                if carried:
                    is_first[0] = False
                newsess = ((ts - prev > gap_ms) & ~is_first).astype(np.int64)
                # per-conv cumulative sum: subtract the running total at
                # each segment start (vectorized cumsum reset)
                cum = np.cumsum(newsess)
                seg_base = np.zeros(B, dtype=np.int64)
                seg_base[:] = (cum - newsess)[seg_starts_batch][seg_of_row]
                sess = cum - seg_base
                if carried:
                    first_len = int(
                        (newseg[0] if newseg.size else B)
                    )
                    sess[:first_len] += carry_seq
                carry_ts = int(ts[-1])

            if mode == "turns":
                lo = np.maximum(seg_starts_full[seg_of_row], idx - (n_turns - 1))
            elif mode == "session":
                # a row opens a session at a segment start or where
                # session_seq changes; the carried row (full index 0)
                # stands for the open session's earlier turns
                opens = np.zeros(B, dtype=bool)
                opens[seg_starts_batch] = True
                opens[1:] |= sess[1:] != sess[:-1]
                if carried:
                    opens[0] = sess[0] != carry_seq
                lo = np.maximum.accumulate(np.where(opens, idx, 0))
            else:
                # window = rows of the same conversation with
                # ts in [ts_i - horizon, ts_i]; per-segment searchsorted
                # over the carry-prefixed ts array (ts sorted per conv)
                ts_full = np.concatenate([carry_ts_arr, ts]) if m else ts
                lo = np.empty(B, dtype=np.int64)
                seg_ends = np.concatenate((seg_starts_batch[1:], [B]))
                for si, (sb, se) in enumerate(zip(seg_starts_batch, seg_ends)):
                    fs = int(seg_starts_full[si])  # segment start, full space
                    fe = int(se) + m  # segment end (exclusive), full space
                    seg_ts = ts_full[fs:fe]
                    probes_ts = ts[sb:se] - horizon_ms
                    lo[sb:se] = fs + np.searchsorted(seg_ts, probes_ts, side="left")
            roll = prefix[m + 1 :] - prefix[lo]
            per_turn = (
                counts / np.maximum(1.0, counts.sum(axis=1))[:, None]
                if norm
                else counts
            )
            if norm:
                roll /= np.maximum(1.0, roll.sum(axis=1))[:, None]

            # carry: last segment's trailing window context
            carry_key = last_key
            carry_seq = sess[-1]
            last_rows = full.shape[0] - int(seg_starts_full[-1])
            if mode == "turns":
                take = min(n_turns - 1, last_rows)
                carry_counts = full[full.shape[0] - take :] if take else np.zeros((0, kcount))
            elif mode == "session":
                carry_counts = (prefix[-1] - prefix[lo[-1]])[None, :]
            else:
                # rows of the open conv within the horizon of its last ts
                ts_tail = ts_full[seg_starts_full[-1] :]
                within = int(
                    ts_tail.size
                    - np.searchsorted(ts_tail, ts_tail[-1] - horizon_ms, "left")
                )
                take = min(within, last_rows)
                if take > max_carry:
                    import warnings

                    warnings.warn(
                        f"backfill_features_stream: conversation {carry_key!r} "
                        f"has {take} rows inside one {horizon_ms}ms horizon; "
                        f"carry clamped to max_carry={max_carry} — windows "
                        "crossing the next batch boundary will be truncated",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    take = max_carry
                carry_counts = full[full.shape[0] - take :] if take else np.zeros((0, kcount))
                carry_ts_arr = (
                    ts_full[ts_full.size - take :] if take else np.zeros(0, np.int64)
                )
            conv_out, turn = rb.column("conv_id"), col("turn_idx")
            if blocked:
                emit = rb.column("__emit")
                keep = emit.to_numpy(zero_copy_only=False)
                conv_out, turn, sess = conv_out.filter(emit), turn[keep], sess[keep]
                per_turn, roll = per_turn[keep], roll[keep]
            yield pa.RecordBatch.from_arrays(
                [
                    conv_out,
                    pa.array(turn.astype(np.int32)),
                    pa.array(np.asarray(sess, dtype=np.int32)),
                    vector_array(per_turn),
                    vector_array(roll),
                ],
                names=_BACKFILL_SCHEMA.names,
            )

    return work.mapInArrow(gen, _BACKFILL_SCHEMA)


def backfill_features_auto(
    df: DataFrame,
    k: int = 4,
    n_turns: int = 3,
    gap_seconds: float = 1800.0,
    norm: bool = True,
    hot_threshold: int = 65536,
    chunk: int = 4096,
) -> DataFrame:
    """Skew-routing backfill: the measured answer to docs/SCALE.md
    playbook item 1 (bench_skew.py holds the numbers).

    The plain stream plan serializes a 10^6-turn conversation onto one
    task. This router keeps one kernel and changes only how rows reach
    it:

      cold (<= hot_threshold turns)  backfill_features_stream — one
           exchange on conv_id
      hot  (> hot_threshold turns)   sessionize, then ``_carry_blocks``
           (conv_id, block) segments of ``chunk`` turns plus an
           (n_turns-1)-row carry, repartitioned and sorted on
           (conv_id, block, turn_idx) — a hot conversation of T turns
           becomes ceil(T/chunk) segments spread over every task

    The hot/cold split is ``skew.hot_key_split`` (NULL conv_id routes
    cold).
    """
    is_hot = hot_key_split(df, "conv_id", hot_threshold)
    if is_hot is None:
        return backfill_features_stream(
            df, k=k, n_turns=n_turns, gap_seconds=gap_seconds, norm=norm
        )
    cold = backfill_features_stream(
        df.where(~is_hot), k=k, n_turns=n_turns, gap_seconds=gap_seconds, norm=norm
    )
    # hot: sessionization stays a scalar window (exact across block
    # boundaries); the explicit exchange on (conv_id, __blk) spreads one
    # conversation's blocks over all tasks
    from .sessionize import sessionize

    hot = df.where(is_hot)
    hot = hot if "session_seq" in hot.columns else sessionize(hot, gap_seconds)
    hot = _carry_blocks(
        hot.select("conv_id", "turn_idx", "session_seq", "text"), chunk, n_turns
    )
    hot = hot.repartition(
        hot.sparkSession.sparkContext.defaultParallelism, "conv_id", "__blk"
    ).sortWithinPartitions("conv_id", "__blk", "turn_idx")
    return cold.unionByName(
        _rolling_stream(hot, k, n_turns, gap_seconds, norm, "turns", 0.0, 0)
    )

