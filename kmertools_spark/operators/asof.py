"""Point-in-time (as-of) join with strict zero-leakage semantics.

Not present in the reference (SURVEY §2.4) — required by the engine's
north rule. Implemented with the union-marker pattern: probes and
feature rows are unioned, sorted (ts, is_event) within each entity, and
each probe picks up the last non-null feature strictly before it.

Leakage guarantee (structural): a probe at ``probe_ts`` sees only rows
with ``ts < probe_ts`` — at equal timestamps the probe sorts BEFORE the
feature row, so same-instant features are excluded (strict <).

One plan shape. ``asof_join`` runs the window partitioned by the entity
key (one shuffle; AQE handles mild skew). The skew router
``asof_join_auto`` runs the same window partitioned by (entity, time
bucket): cold entities all sit in bucket 0, a hot entity's rows spread
over ``n_buckets`` analytic time buckets, and each bucket's carry-in
(the latest event of the entity's earlier buckets) is joined back to
its probes by broadcast.

Evaluations of ``features``: ``asof_join`` reads it once.
``asof_join_auto`` reads it more than once (the sizing pass, then the
window input and the carry aggregate when a key is hot, or the plain
window when none is), and Spark does not reuse an exchange above a
mapInArrow/mapInPandas, so each read would recompute the caller's
frame. It therefore narrows ``features`` to the columns it reads and
pins them with a lazy DISK_ONLY ``localCheckpoint``: the sizing pass
evaluates the caller's frame once and fills the pin, and every later
read takes the stored blocks, so the caller's frame is evaluated once.
The pin is skipped when the caller passes a ``.cache()``d frame
(``DataFrame.is_cached``), whose re-reads measured cheaper than the
write (BENCH/BASELINE.md, "As-of skew routing"): such an input is read
3 times with a hot key, 2 without. The pin holds one row of the
narrowed columns per feature row, on executor disk only, and is
released when the result DataFrame is garbage-collected. Like
``pack_documents``' local checkpoint it does not survive executor
loss: a lost block fails the query instead of being recomputed.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .skew import hot_keys
from .timeutil import epoch_ms

_EV = "__is_event"


def _union_marker(
    features: DataFrame,
    probes: DataFrame,
    on: str,
    ts_col: str,
    probe_ts_col: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """Probe/feature union: one struct payload per feature row (atomic
    pick), probes carry a NULL payload and sort before same-ts events
    (strict '<')."""
    ord_col = (
        F.col("turn_idx").cast("long")
        if "turn_idx" in features.columns
        else F.lit(0).cast("long")
    )
    payload = F.struct(*[F.col(c).alias(f"asof_{c}") for c in value_cols])
    features = features.where(F.col(on).isNotNull() & F.col(ts_col).isNotNull())
    ev = features.select(
        F.col(on),
        F.col(ts_col).alias("__t"),
        F.lit(1).alias(_EV),
        ord_col.alias("__ord"),
        payload.alias("__payload"),
    )
    pr = probes.select(
        F.col(on),
        F.col(probe_ts_col).alias("__t"),
        F.lit(0).alias(_EV),
        F.lit(-1).cast("long").alias("__ord"),
        F.lit(None).cast(ev.schema["__payload"].dataType).alias("__payload"),
    )
    return ev.unionByName(pr)


def _probe_output(
    u: DataFrame,
    w: Window,
    on: str,
    probe_ts_col: str,
    value_cols: tuple[str, ...],
    tolerance_ms: int | None,
    carry: DataFrame | None = None,
) -> DataFrame:
    """Pick + projection: last non-null payload strictly before the probe
    in its window partition (the frame excludes the current row), else
    the partition's ``carry`` row (joined on (on, __b)); optional
    staleness nulling via the picked row's own event time."""
    tms = epoch_ms("__t")
    picks = [F.last("__payload", ignorenulls=True).over(w).alias("__picked")]
    if tolerance_ms is not None:
        picks.append(
            F.last(F.when(F.col(_EV) == 1, tms), ignorenulls=True)
            .over(w)
            .alias("__picked_tms")
        )
    part = [on, "__t"] if carry is None else [on, "__t", "__b"]
    out = u.select(*part, _EV, *picks).where(F.col(_EV) == 0)
    picked = F.col("__picked")
    picked_tms = F.col("__picked_tms")
    if carry is not None:
        out = out.join(F.broadcast(carry), [on, "__b"], "left")
        picked = F.coalesce(picked, F.col("__c.__payload"))
        picked_tms = F.coalesce(picked_tms, F.col("__c.__tms"))
    vals = [picked[f"asof_{c}"] for c in value_cols]
    if tolerance_ms is not None:
        fresh = picked_tms >= tms - F.lit(tolerance_ms)
        vals = [F.when(fresh, v) for v in vals]
    return out.select(
        on,
        F.col("__t").alias(probe_ts_col),
        *[v.alias(f"asof_{c}") for v, c in zip(vals, value_cols)],
    )


def asof_join(
    features: DataFrame,
    probes: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    probe_ts_col: str = "probe_ts",
    value_cols: tuple[str, ...] = ("turn_idx",),
    tolerance_ms: int | None = None,
) -> DataFrame:
    """Attach the latest strictly-earlier feature row to each probe.

    Returns one row per probe: (on, probe_ts, asof_<value_col>...),
    null-valued when no feature row precedes the probe.

    ``tolerance_ms`` bounds staleness (pandas merge_asof semantics): a
    probe whose latest preceding feature is older than the tolerance
    gets nulls instead — the guard real feature stores need so a
    decommissioned entity's years-old row is not served as "current".
    Because tolerance is a lower bound on ts, nulling the picked row is
    equivalent to filtering candidates before the pick.
    """
    # the whole candidate row travels as ONE struct so the probe picks a
    # consistent latest row (no torn columns when a value is null), and
    # ties at equal ts break deterministically by turn_idx (largest wins
    # — matching ORDER BY ts DESC, turn_idx DESC semantics). NULL-key /
    # NULL-ts feature rows are dropped inside _union_marker so the
    # window plan cannot pick them through NULL-grouping partitions.
    u = _union_marker(features, probes, on, ts_col, probe_ts_col, value_cols)
    # probes (0) sort before events (1) at equal ts -> strict '<'
    w = (
        Window.partitionBy(on)
        .orderBy("__t", _EV, "__ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return _probe_output(u, w, on, probe_ts_col, value_cols, tolerance_ms)


def asof_join_auto(
    features: DataFrame,
    probes: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    probe_ts_col: str = "probe_ts",
    value_cols: tuple[str, ...] = ("turn_idx",),
    tolerance_ms: int | None = None,
    hot_threshold: int = 65536,
    n_buckets: int = 256,
) -> DataFrame:
    """Skew-routing as-of join, mirroring backfill_features_auto: no
    single task sorts a whale entity. An entity is hot when it has more
    than ``hot_threshold`` feature rows; with no hot entity this is
    ``asof_join``. Otherwise every row goes through ONE window
    partitioned by (on, __b):

      1. the sizing pass (``skew.hot_keys``) also returns each hot
         key's event-time range [lo, hi] in epoch ms, broadcast-joined
         to the union as a driver-local frame (NULL keys stay cold);
      2. a hot row's bucket is (clamp(tms, lo, hi) - lo) div
         ((hi - lo) div n_buckets + 1): monotone in ts, so an instant
         never splits; probes outside [lo, hi] land in the first or
         last bucket; no product, so no int64 overflow. Cold rows and
         NULL-ts probes sit in bucket 0;
      3. one exchange on (on, __b) feeds both the window and the carry
         aggregate: each bucket's latest hot event (max_by over
         (ts, turn_idx), the window's tie order, keeping its ORIGINAL
         event ms so staleness measures real age). A tiny window over
         the buckets turns them into an exclusive prefix, the carry-in;
      4. a probe takes its in-bucket pick, else its bucket's carry-in.

    The caller's ``features`` is evaluated once: its columns ``on``,
    ``ts_col``, ``value_cols`` (and ``turn_idx`` when present) are
    pinned with a lazy DISK_ONLY localCheckpoint that the sizing pass
    fills. A ``.cache()``d input (``features.is_cached``) is not pinned
    and is read 3 times with a hot key, 2 without. The pin is one row of
    the narrowed columns per feature row on executor disk, released when
    the result DataFrame is garbage-collected; it does not survive
    executor loss (a lost block fails the query; cache ``features``
    first to keep recomputation on loss). BENCH/BASELINE.md holds the
    measured crossover (bench_skew_asof.py)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pin = not features.is_cached
    cols = [on, ts_col, *value_cols]
    if "turn_idx" in features.columns:
        cols.append("turn_idx")
    features = features.select(*dict.fromkeys(cols))
    if pin:
        features = features.localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    tms = epoch_ms(ts_col)
    hot = hot_keys(features, on, hot_threshold, __lo=F.min(tms), __hi=F.max(tms))
    if not hot:
        return asof_join(
            features, probes, on, ts_col, probe_ts_col, value_cols, tolerance_ms
        )
    spark = features.sparkSession
    ranges = spark.createDataFrame(
        hot,
        StructType(
            [
                StructField(on, features.schema[on].dataType),
                StructField("__lo", LongType()),
                StructField("__hi", LongType()),
            ]
        ),
    )
    u = (
        _union_marker(features, probes, on, ts_col, probe_ts_col, value_cols)
        .withColumn("__tms", epoch_ms("__t"))
        .join(F.broadcast(ranges), on, "left")
    )
    # greatest/least skip NULLs: a NULL-ts probe clamps to lo (bucket
    # 0), and a cold row's NULL range makes the bucket NULL, then 0
    bucket = F.expr(
        "(least(greatest(__tms, __lo), __hi) - __lo)"
        f" div ((__hi - __lo) div {int(n_buckets)} + 1)"
    )
    x = u.select(
        on,
        "__t",
        "__tms",
        _EV,
        "__ord",
        "__payload",
        F.coalesce(bucket, F.lit(0)).alias("__b"),
        F.col("__lo").isNotNull().alias("__hot"),
    ).repartition(spark.sparkContext.defaultParallelism, on, "__b")
    # a cold entity contributes one NULL row to the carry, not its
    # payload; max_by keeps __payload out of the comparison key
    last_ev = F.max_by(
        F.struct("__tms", "__payload"),
        F.when((F.col(_EV) == 1) & F.col("__hot"), F.struct("__t", "__ord")),
    )
    wcarry = (
        Window.partitionBy(on)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        x.groupBy(on, "__b")
        .agg(last_ev.alias("__last"))
        .select(on, "__b", F.last("__last", ignorenulls=True).over(wcarry).alias("__c"))
        .where(F.col("__c").isNotNull())
    )
    w = (
        Window.partitionBy(on, "__b")
        .orderBy("__t", _EV, "__ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return _probe_output(x, w, on, probe_ts_col, value_cols, tolerance_ms, carry)
