"""Point-in-time (as-of) join with strict zero-leakage semantics.

Not present in the reference (SURVEY §2.4) — required by the engine's
north rule. Implemented with the union-marker pattern: probes and
feature rows are unioned, sorted (ts, is_event) within each entity, and
each probe picks up the last non-null feature strictly before it.

Leakage guarantee (structural): a probe at ``probe_ts`` sees only rows
with ``ts < probe_ts`` — at equal timestamps the probe sorts BEFORE the
feature row, so same-instant features are excluded (strict <).

Two public plans: ``asof_join`` (one shuffle on the entity key
co-partitions probes and features; AQE handles mild skew) and the skew
router ``asof_join_auto``, whose hot branch ``_asof_bucketed`` splits a
whale entity into analytic time buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .skew import hot_key_split

_EV = "__is_event"


def _union_marker(
    features: DataFrame,
    probes: DataFrame,
    on: str,
    ts_col: str,
    probe_ts_col: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """Shared probe/feature union for the window and bucketed plans:
    one struct payload per feature row (atomic pick), probes carry a
    NULL payload and sort before same-ts events (strict '<')."""
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
    tms: Column | None = None,
) -> DataFrame:
    """Shared pick + projection: last non-null payload strictly before
    the probe (the window already excludes the current row), optional
    staleness nulling via the picked row's own event time."""
    picked = F.last("__payload", ignorenulls=True).over(w).alias("__picked")
    if tolerance_ms is not None:
        from .timeutil import epoch_ms

        if tms is None:
            tms = epoch_ms("__t")
        picked_tms = F.last(
            F.when(F.col(_EV) == 1, tms), ignorenulls=True
        ).over(w)
        out = (
            u.select(on, "__t", _EV, picked, picked_tms.alias("__picked_tms"))
            .where(F.col(_EV) == 0)
            .withColumn(
                "__fresh",
                F.col("__picked_tms") >= epoch_ms("__t") - F.lit(tolerance_ms),
            )
        )
        return out.select(
            on,
            F.col("__t").alias(probe_ts_col),
            *[
                F.when(F.col("__fresh"), F.col(f"__picked.asof_{c}")).alias(
                    f"asof_{c}"
                )
                for c in value_cols
            ],
        )
    out = u.select(on, "__t", _EV, picked).where(F.col(_EV) == 0)
    return out.select(
        on,
        F.col("__t").alias(probe_ts_col),
        *[F.col(f"__picked.asof_{c}").alias(f"asof_{c}") for c in value_cols],
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


def _asof_bucketed(
    features: DataFrame,
    probes: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    probe_ts_col: str = "probe_ts",
    value_cols: tuple[str, ...] = ("turn_idx",),
    tolerance_ms: int | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Hot-entity as-of plan: parallelize WITHIN an entity (r3 VERDICT
    item 3). asof_join's window partitions by entity only, so a
    10^6-event entity serializes onto a single task's sort — the same
    straggler shape backfill_features_auto routes around.

    Plan (the distributed-prefix shape of operators/rolling and
    packing):
      1. one tiny agg per entity: (min, max) event/probe time;
      2. every row gets a time bucket computed ANALYTICALLY from its
         timestamp — floor((tms - lo) * B / span) — monotone in ts, so
         bucket boundaries never split an instant and no sampled range
         partitioner is involved;
      3. per-(entity, bucket) agg picks the bucket's LAST event (max
         (tms, ord) struct — the same tie order as the window plan);
      4. a per-entity window over the <=B per-bucket aggregates (tiny:
         B rows per entity) turns them into an exclusive prefix —
         bucket k's carry-in is the latest event of buckets < k,
         keeping its ORIGINAL event time (so staleness still measures
         against real event age);
      5. the carry-in is unioned into its bucket as a pseudo-event that
         sorts first (its ms is strictly below the bucket's — equal ms
         implies equal bucket), and the usual union-marker window runs
         partitioned by (entity, bucket): O(n/B log n/B) per task.

    Equality with asof_join is property-tested (ties, tolerance, NULL
    probes). The per-entity (lo, hi) row is broadcast-joined: the router
    sends only a handful of hot entities here.
    """
    from .timeutil import epoch_ms

    u = _union_marker(features, probes, on, ts_col, probe_ts_col, value_cols)
    u = u.withColumn("__tms", epoch_ms("__t"))
    B = int(n_buckets)
    stats = F.broadcast(
        u.groupBy(on).agg(F.min("__tms").alias("__lo"), F.max("__tms").alias("__hi"))
    )
    u2 = u.join(stats, on, "left").withColumn(
        "__b",
        F.expr(f"(__tms - __lo) * {B} div (__hi - __lo + 1)"),
    )
    # order by FULL-precision __t (then ord) — the window plan's event
    # order; ms-truncated __tms alone would mis-pick between two events
    # inside one millisecond (code-review r4 finding 3). __tms rides
    # along for the tolerance check. max_by keeps __payload OUT of the
    # comparison key (r4 ADVICE): a full (ts, ord) tie is unspecified in
    # BOTH plans (the window plan takes whichever sorted last), but the
    # payload must not bias which row this plan picks.
    last_ev = F.max_by(
        F.struct("__t", "__ord", "__tms", "__payload"),
        F.when(F.col(_EV) == 1, F.struct("__t", "__ord")),
    ).alias("__lastev")
    bstats = u2.groupBy(on, "__b").agg(last_ev)
    wcarry = (
        Window.partitionBy(on)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        bstats.select(
            on,
            "__b",
            F.last("__lastev", ignorenulls=True).over(wcarry).alias("__c"),
        )
        .where(F.col("__c").isNotNull())
        .select(
            F.col(on),
            F.col("__b"),
            F.col("__c.__t").alias("__t"),
            F.col("__c.__tms").alias("__tms"),
            F.lit(1).alias(_EV),
            F.col("__c.__ord").alias("__ord"),
            F.col("__c.__payload").alias("__payload"),
        )
    )
    u3 = u2.select(
        on, "__b", "__t", "__tms", _EV, "__ord", "__payload"
    ).unionByName(carry)
    # __t after __tms keeps sub-ms event order identical to the window
    # plan (epoch ms truncates microseconds); the carry pseudo-event
    # keeps its ORIGINAL full-precision __t and can never tie a real
    # row on __tms (equal ms => same bucket), so it always sorts first
    w = (
        Window.partitionBy(on, "__b")
        .orderBy("__tms", "__t", _EV, "__ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return _probe_output(
        u3, w, on, probe_ts_col, value_cols, tolerance_ms, tms=F.col("__tms")
    )


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
    """Skew-routing as-of join, mirroring backfill_features_auto: cold
    entities (<= hot_threshold feature rows) take the one-window
    asof_join; hot entities take the bucketed within-entity plan, so no
    single task ever sorts a whale conversation. The hot/cold split is
    ``skew.hot_key_split`` over the feature rows (NULL keys route cold).
    BENCH/BASELINE.md holds the measured crossover (bench_skew_asof.py)."""
    is_hot = hot_key_split(features, on, hot_threshold)
    args = dict(
        on=on,
        ts_col=ts_col,
        probe_ts_col=probe_ts_col,
        value_cols=value_cols,
        tolerance_ms=tolerance_ms,
    )
    if is_hot is None:
        return asof_join(features, probes, **args)
    cold = asof_join(features.where(~is_hot), probes.where(~is_hot), **args)
    hot = _asof_bucketed(
        features.where(is_hot),
        probes.where(is_hot),
        n_buckets=n_buckets,
        **args,
    )
    return cold.unionByName(hot)

