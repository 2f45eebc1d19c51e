"""Backfill job for spark-submit.

Cluster invocation (the north rule's deployment shape):

    python jobs/package.py                       # builds dist/kmertools_spark.zip
    spark-submit --py-files dist/kmertools_spark.zip \\
        jobs/backfill_job.py \\
        --input /root/testdata/sf0.1 --output /tmp/features \\
        --buckets 32   # resume is implicit: committed buckets are skipped

Reads the events table, derives transcripts, runs the checkpointed
bucket backfill (per-partition lineage manifest; resumable), and prints
a one-line JSON summary. On a real cluster --input points at the
Iceberg transcript table and the bucket filter becomes partition
pruning over bucket(conv_id).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import _bootstrap


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="scale-factor dir or table path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--gap-seconds", type=float, default=1800.0)
    ap.add_argument("--k", type=int, default=4)
    ap.add_argument("--n-turns", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kmertools-backfill").getOrCreate()
    _bootstrap.ensure_executors(spark)

    from kmertools_spark.operators import backfill_features_stream
    from kmertools_spark.plans import BackfillDriver
    from kmertools_spark.sources import transcripts_df

    t = transcripts_df(spark, args.input)

    def feature_fn(df):
        return backfill_features_stream(
            df, k=args.k, n_turns=args.n_turns, gap_seconds=args.gap_seconds
        )

    driver = BackfillDriver(args.output, n_buckets=args.buckets, feature_fn=feature_fn)
    pending_before = len(driver.pending())
    t0 = time.time()
    done = driver.run(t)
    wall = time.time() - t0
    # THIS run's output (a resume that finished 2 of 32 buckets must
    # not report the whole table's rows against its own wall time);
    # the full-manifest view stays available via driver.metrics()
    rows = sum(e["rows_out"] for e in done)
    print(
        json.dumps(
            {
                "buckets_total": args.buckets,
                "buckets_pending_before": pending_before,
                "buckets_processed": len(done),
                "rows_in": sum(e["rows_in"] for e in done),
                "rows_out": rows,
                "wall_sec": round(wall, 2),
                "rows_per_sec": round(rows / max(wall, 1e-9), 1),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
