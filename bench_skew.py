"""Skew crossover measurement for the backfill tiers (docs/SCALE.md
playbook item 1, made empirical).

Two synthetic inputs of the SAME row count (generated in Spark, never
on the driver):

  uniform  every conversation has ~SMALL_TURNS turns
  skewed   one 10^6-class giant conversation + the uniform tail

Two physical plans over each, both running the one stream kernel:

  stream   backfill_features_stream — one exchange, one sorted pass per
           conversation partition (the throughput winner on uniform
           data; a giant conversation serializes on one task)
  auto     backfill_features_auto — hot conversations run as (conv_id,
           block) segments with an (n_turns-1)-row carry, so a giant
           conversation spreads over ceil(turns/N) parallel tasks;
           everything else takes the stream plan

Measured result (this is WHY auto exists): on skewed input the stream
plan straggles on the giant conversation and auto does not; on uniform
input auto == stream (no hot keys detected). Prints ONE JSON line with
the wall times; recorded in BENCH/BASELINE.md.

Env: SPARK_GRAFT_CPUS (default 8), SPARK_GRAFT_SKEW_GIANT (default
400_000 giant-conversation turns), SPARK_GRAFT_SKEW_TAIL (default
40_000 small conversations x 10 turns).
"""

from __future__ import annotations

import json
import os
import sys
import time

BASE_TEXT = (
    "ACGTTGCAACGGTTAACCGGTTACGTGTCAGTACGATCGATCGTAGCTAGCATCGATCGTACGTAGCATGCA"
)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    giant_n = int(os.environ.get("SPARK_GRAFT_SKEW_GIANT", "400000"))
    tail_convs = int(os.environ.get("SPARK_GRAFT_SKEW_TAIL", "40000"))
    small_turns = 10
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from pyspark.sql import functions as F

    from kmertools_spark.operators import (
        backfill_features_auto,
        backfill_features_stream,
    )
    from kmertools_spark.session import get_spark

    spark = get_spark(
        "kmertools-skew-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    def text_col():
        # deterministic per-row text, generated JVM-side
        return F.substring(
            F.lit(BASE_TEXT), (F.col("id") % 37 + 1).cast("int"), 32
        ).alias("text")

    def tail_df(n_convs: int):
        return (
            spark.range(n_convs * small_turns)
            .select(
                F.concat(F.lit("c"), (F.col("id") / small_turns).cast("long")).alias(
                    "conv_id"
                ),
                (F.col("id") % small_turns).cast("int").alias("turn_idx"),
                F.timestamp_seconds(
                    1_700_000_000 + (F.col("id") % small_turns) * 60
                ).alias("ts"),
                text_col(),
            )
        )

    def giant_df(n: int):
        return spark.range(n).select(
            F.lit("giant").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
            text_col(),
        )

    # same total rows in both inputs so the comparison isolates skew
    uniform = tail_df(tail_convs + giant_n // small_turns).cache()
    skewed = tail_df(tail_convs).unionByName(giant_df(giant_n)).cache()
    n_uniform, n_skewed = uniform.count(), skewed.count()

    # warm every python worker before timing (CLAUDE.md invariant), and
    # run auto's hot branch once (every 10-turn conversation of the
    # slice is hot at threshold 4) so the first timed auto run does not
    # pay the first run of its sessionize / block / exchange stages
    warm = uniform.limit(1024).repartition(cpus)
    backfill_features_stream(warm, k=4, n_turns=3).count()
    backfill_features_auto(warm, k=4, n_turns=3, hot_threshold=4, chunk=4).count()

    plans = {
        "stream": lambda df: backfill_features_stream(df, k=4, n_turns=3),
        "auto": lambda df: backfill_features_auto(
            df, k=4, n_turns=3, hot_threshold=65536, chunk=4096
        ),
    }
    t_res: dict[str, float] = {}
    for in_name, df in (("uniform", uniform), ("skewed", skewed)):
        for p_name, plan in plans.items():
            t0 = time.time()
            n = plan(df).count()
            t_res[f"{in_name}_{p_name}"] = round(time.time() - t0, 3)
            print(
                f"{in_name}/{p_name}: {n} rows in {t_res[f'{in_name}_{p_name}']}s",
                file=sys.stderr,
                flush=True,
            )
    spark.stop()

    out = {
        "metric": "backfill skew routing (sec per plan x input)",
        "value": t_res["skewed_stream"] - t_res["skewed_auto"],
        "unit": "sec",
        "queries": t_res,
        "sf": f"giant={giant_n},tail={tail_convs}x{small_turns}",
        "extras": {
            "cpus": cpus,
            "rows_uniform": n_uniform,
            "rows_skewed": n_skewed,
            "auto_beats_stream_on_skew": bool(
                t_res["skewed_auto"] < t_res["skewed_stream"]
            ),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
