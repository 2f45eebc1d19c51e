"""Skew crossover measurement for the as-of join tiers (r3 VERDICT
item 3, the asof analog of bench_skew.py).

Two synthetic inputs of the SAME row count (generated in Spark, never
on the driver):

  uniform  every entity has ~SMALL_EVENTS events
  skewed   one 10^6-class giant entity + the uniform tail

Three physical plans over each:

  window    asof_join — one exchange + per-entity window sort (a
            giant entity's sort serializes on one task)
  bucketed  asof_join_auto(hot_threshold=0) — every entity is hot:
            analytic time buckets + per-bucket last-event carry, so a
            giant entity spreads over n_buckets parallel sorts at the
            cost of one driver row per entity from the sizing pass
  auto      asof_join_auto — one window over (entity, time bucket):
            hot entities bucketed, the others in bucket 0; asof_join
            itself when no entity is hot

Probes are 1-per-50-events, derived JVM-side from the same id space.
Prints ONE JSON line; recorded in BENCH/BASELINE.md.

Env: SPARK_GRAFT_CPUS (default 8), SPARK_GRAFT_SKEW_GIANT (default
1_000_000 giant-entity events), SPARK_GRAFT_SKEW_TAIL (default 40_000
small entities x 10 events).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    giant_n = int(os.environ.get("SPARK_GRAFT_SKEW_GIANT", "1000000"))
    tail_convs = int(os.environ.get("SPARK_GRAFT_SKEW_TAIL", "40000"))
    small_events = 10
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from pyspark.sql import functions as F

    from kmertools_spark.operators import asof_join, asof_join_auto
    from kmertools_spark.session import get_spark

    spark = get_spark(
        "kmertools-skew-asof", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    def tail_df(n_convs: int):
        return spark.range(n_convs * small_events).select(
            F.concat(F.lit("c"), (F.col("id") / small_events).cast("long")).alias(
                "conv_id"
            ),
            (F.col("id") % small_events).cast("int").alias("turn_idx"),
            F.timestamp_seconds(
                1_700_000_000
                + (F.col("id") % small_events) * 60
                + F.pmod(F.col("id") * 2654435761, F.lit(7919))
            ).alias("ts"),
        )

    def giant_df(n: int):
        return spark.range(n).select(
            F.lit("giant").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.timestamp_seconds(
                1_700_000_000 + F.col("id") * 3
            ).alias("ts"),
        )

    uniform = tail_df(tail_convs + giant_n // small_events).cache()
    skewed = tail_df(tail_convs).unionByName(giant_df(giant_n)).cache()
    n_uniform, n_skewed = uniform.count(), skewed.count()

    def probes_of(df):
        # 1 probe per ~50 feature rows, nudged +30s so most probes match
        return (
            df.where(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(50)) == 0)
            .select(
                "conv_id",
                (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("probe_ts"),
            )
            .cache()
        )

    pr_uniform, pr_skewed = probes_of(uniform), probes_of(skewed)
    pr_uniform.count(), pr_skewed.count()

    plans = {
        "window": lambda f, p: asof_join(f, p, value_cols=("turn_idx",)),
        "bucketed": lambda f, p: asof_join_auto(
            f,
            p,
            value_cols=("turn_idx",),
            hot_threshold=0,
            n_buckets=max(64, 4 * cpus),
        ),
        "auto": lambda f, p: asof_join_auto(
            f,
            p,
            value_cols=("turn_idx",),
            hot_threshold=65536,
            n_buckets=max(64, 4 * cpus),
        ),
    }
    # count() would prune the window projection AND its sort — use the
    # ONE shared full-column forcing recipe (code-review r4 finding 6)
    from bench import force_cols

    # run both plan shapes once before timing, so no timed plan pays
    # their first execution: asof_join, and asof_join_auto with every
    # entity of a 1,024-row slice hot
    warm = uniform.limit(1024)
    warm_pr = warm.select(
        "conv_id", (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("probe_ts")
    )
    force_cols(asof_join(warm, warm_pr, value_cols=("turn_idx",)))
    force_cols(
        asof_join_auto(
            warm, warm_pr, value_cols=("turn_idx",), hot_threshold=0, n_buckets=4
        )
    )

    t_res: dict[str, float] = {}
    for in_name, f, p in (
        ("uniform", uniform, pr_uniform),
        ("skewed", skewed, pr_skewed),
    ):
        for p_name, plan in plans.items():
            # plan construction INSIDE the timer: the auto router's
            # sizing aggregation is part of its cost
            t0 = time.time()
            n = force_cols(plan(f, p))
            t_res[f"{in_name}_{p_name}"] = round(time.time() - t0, 3)
            print(
                f"{in_name}/{p_name}: {n} rows in {t_res[f'{in_name}_{p_name}']}s",
                file=sys.stderr,
                flush=True,
            )
    spark.stop()

    out = {
        "metric": "asof skew routing (sec per plan x input)",
        "value": t_res["skewed_window"] - t_res["skewed_auto"],
        "unit": "sec",
        "queries": t_res,
        "sf": f"giant={giant_n},tail={tail_convs}x{small_events}",
        "extras": {
            "cpus": cpus,
            "rows_uniform": n_uniform,
            "rows_skewed": n_skewed,
            "auto_beats_window_on_skew": bool(
                t_res["skewed_auto"] < t_res["skewed_window"]
            ),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
