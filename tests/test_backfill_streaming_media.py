"""Backfill kill/resume equivalence and the streaming surface."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmertools_spark.plans import BackfillDriver, bucket_of, default_feature_fn
from kmertools_spark.sources import synth_transcripts_pdf


@pytest.fixture(scope="module")
def tdf(spark):
    return spark.createDataFrame(
        synth_transcripts_pdf(n_convs=24, mean_turns=6, seed=3)
    )


def _collect_sorted(df):
    pdf = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf


def test_backfill_resume_equals_single_shot(spark, tdf, tmp_path):
    # single-shot run
    d1 = BackfillDriver(str(tmp_path / "one"), n_buckets=8)
    entries = d1.run(tdf)
    assert len(entries) == 8
    full = _collect_sorted(d1.result(spark))

    # killed after 3 buckets, then resumed
    d2 = BackfillDriver(str(tmp_path / "two"), n_buckets=8)
    first = d2.run(tdf, max_buckets=3)
    assert len(first) == 3
    assert len(d2.pending()) == 5
    d3 = BackfillDriver(str(tmp_path / "two"), n_buckets=8)  # fresh driver, same dir
    rest = d3.run(tdf)
    assert len(rest) == 5
    resumed = _collect_sorted(d3.result(spark))

    assert len(full) == len(tdf.toPandas())
    assert full["conv_id"].tolist() == resumed["conv_id"].tolist()
    assert full["turn_idx"].tolist() == resumed["turn_idx"].tolist()
    a = np.vstack(full["vec"].to_numpy())
    b = np.vstack(resumed["vec"].to_numpy())
    assert np.array_equal(a, b)

    # lineage metrics recorded per partition
    m = d3.metrics()
    assert {e["bucket"] for e in m} == set(range(8))
    assert all(e["rows_out"] == e["rows_in"] for e in m)
    assert all(e["wall_ms"] >= 0 and e["checksum"] is not None for e in m)


def test_backfill_rerun_is_noop(spark, tdf, tmp_path):
    d = BackfillDriver(str(tmp_path / "noop"), n_buckets=4)
    d.run(tdf)
    again = d.run(tdf)
    assert again == []


def _drop_odd_turns(df):
    return default_feature_fn(df).where(F.col("turn_idx") % 2 == 0)


def _join_input_back(df):
    return default_feature_fn(df).join(
        df.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"]
    )


def _auto_tiny_hot(df):
    from kmertools_spark.operators import backfill_features_auto

    return backfill_features_auto(df, hot_threshold=2, chunk=2)


@pytest.fixture(scope="module")
def few_convs(spark):
    # 4 conversations in 6 buckets: at least two buckets are empty
    return spark.createDataFrame(
        synth_transcripts_pdf(n_convs=4, mean_turns=5, seed=11)
    )


@pytest.mark.parametrize(
    "feature_fn",
    [None, _drop_odd_turns, _join_input_back, _auto_tiny_hot],
    ids=["default", "drop_rows", "self_join", "auto_tiny_hot"],
)
def test_manifest_equals_fresh_scan(spark, few_convs, tmp_path, feature_fn):
    """Each manifest entry's rows_out and checksum equal a fresh
    bit_xor(xxhash64(cols)) scan of bucket=<b>, and rows_in the bucket's
    source rows — for feature_fns that drop rows, join their input back,
    or run their own action on the input first (the hot-key sizing pass
    of backfill_features_auto) — and an empty bucket commits 0 rows and
    checksum 0."""
    n = 6
    d = BackfillDriver(str(tmp_path / "m"), n_buckets=n, feature_fn=feature_fn)
    entries = {e["bucket"]: e for e in d.run(few_convs)}
    assert sorted(entries) == list(range(n))
    rows_in = dict(
        few_convs.groupBy(bucket_of(n).alias("b")).count().collect()
    )
    assert len(rows_in) < n  # the empty-bucket case is exercised
    for b, e in entries.items():
        w = spark.read.parquet(str(tmp_path / "m" / f"bucket={b}"))
        r = w.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.bit_xor(F.xxhash64(*w.columns)), F.lit(0)).alias("h"),
        ).first()
        assert (e["rows_out"], e["checksum"]) == (r["rows"], r["h"]), b
        assert e["rows_in"] == rows_in.get(b, 0), b
        if b not in rows_in:
            assert (e["rows_out"], e["checksum"]) == (0, 0)
    if feature_fn is _drop_odd_turns:
        assert any(e["rows_out"] < e["rows_in"] for e in entries.values())
    else:
        assert all(e["rows_out"] == e["rows_in"] for e in entries.values())


def test_run_bucket_launches_at_most_two_jobs(spark, tdf, tmp_path):
    """The write is the bucket's only pass: its shuffle-map stage and its
    result stage, no count, re-read or checksum job."""
    sc = spark.sparkContext
    d = BackfillDriver(str(tmp_path / "jobs"), n_buckets=3)
    try:
        for b in range(3):
            group = f"run_bucket_jobs_{b}"
            sc.setJobGroup(group, group)
            assert d.run_bucket(tdf, b)["rows_out"] > 0
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert 1 <= len(jobs) <= 2, (b, jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_corrupt_bucket_resume_reruns_exactly_those(spark, tdf, tmp_path):
    """A deleted manifest entry and an unreadable one are both pending on
    the next run, which re-runs exactly those buckets with the same rows
    and checksums; the other buckets are left alone."""
    out = tmp_path / "corrupt"
    first = {e["bucket"]: e for e in BackfillDriver(str(out), n_buckets=4).run(tdf)}
    manifest = out / "_manifest"
    os.remove(manifest / "bucket_1.json")
    (manifest / "bucket_2.json").write_text('{"bucket": 2, "rows_in"')
    d = BackfillDriver(str(out), n_buckets=4)
    with pytest.warns(RuntimeWarning, match="bucket_2.json"):
        assert d.pending() == [1, 2]
    with pytest.warns(RuntimeWarning, match="bucket_2.json"):
        again = d.run(tdf)
    assert [e["bucket"] for e in again] == [1, 2]
    for e in again:
        want = first[e["bucket"]]
        assert (e["rows_in"], e["rows_out"], e["checksum"]) == (
            want["rows_in"], want["rows_out"], want["checksum"]
        )
    assert d.metrics() == [first[0], *again, first[3]]


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from kmertools_spark.plans import BackfillDriver, default_feature_fn
from kmertools_spark.session import get_spark
from kmertools_spark.sources import synth_transcripts_pdf

work = sys.argv[1]
marker = os.path.join(work, "injected")
spark = get_spark("retry", master="local[2,2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
src = os.path.join(work, "src")
pdf = synth_transcripts_pdf(n_convs=12, mean_turns=6, seed=5)
spark.createDataFrame(pdf).write.parquet(src)
turns = spark.read.parquet(src)


def first_attempt_fails(df):
    # passes every batch on, then fails partition 0's first attempt: the
    # rows it passed are in that attempt's metrics, which must be dropped
    def gen(batches):
        ctx = TaskContext.get()
        yield from batches
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            with open(marker, "a") as f:
                f.write(f"{ctx.stageId()}\n")
            raise RuntimeError("injected first-attempt failure")
    return df.mapInArrow(gen, df.schema)


def flaky(df):
    return first_attempt_fails(default_feature_fn(first_attempt_fails(df)))


runs = {}
for name, fn in (("clean", None), ("flaky", flaky)):
    d = BackfillDriver(os.path.join(work, name), n_buckets=3, feature_fn=fn)
    runs[name] = [
        [e["bucket"], e["rows_in"], e["rows_out"], e["checksum"]] for e in d.run(turns)
    ]
spark.stop()
with open(marker) as f:
    runs["injected"] = len(f.read().split())
print(json.dumps(runs))
"""


def test_backfill_retry_gives_same_manifest(tmp_path):
    """Task retries at local[2,2] (one retry allowed per task) give the
    manifest of a clean run: the failed attempts' observed rows and
    checksums are not counted."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    runs = json.loads(r.stdout.strip().splitlines()[-1])
    assert runs["injected"] >= 3  # a failure in both stages of some buckets
    assert runs["flaky"] == runs["clean"]
    assert sum(e[1] for e in runs["clean"]) == sum(e[2] for e in runs["clean"]) > 0


def test_streaming_sessionize_available_now(spark, tdf, tmp_path):
    """Streaming session windows over a file source, availableNow trigger."""
    from kmertools_spark.streaming import streaming_sessionize

    src = str(tmp_path / "stream_src")
    tdf.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(tdf.schema).parquet(src)
    sessions = streaming_sessionize(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_out")
    assert got.count() > 0
    # total turns across session windows == input rows
    assert got.agg(F.sum("n_turns")).first()[0] == tdf.count()


def test_streaming_kmer_counts_match_batch(spark, tdf, tmp_path):
    from kmertools_spark.operators import global_kmer_counts
    from kmertools_spark.streaming import streaming_kmer_counts

    src = str(tmp_path / "stream_src2")
    tdf.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(tdf.schema).parquet(src)
    counts = streaming_kmer_counts(stream, k=4)
    q = (
        counts.writeStream.format("memory")
        .queryName("kc_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM kc_out").toPandas().sort_values("kmer")
    exp = global_kmer_counts(tdf, k=4).toPandas().sort_values("kmer")
    assert got["kmer"].tolist() == exp["kmer"].tolist()
    assert got["cnt"].tolist() == exp["cnt"].tolist()


def test_streaming_sessionize_ntz_and_exact_gap_boundary(spark, tmp_path):
    """code-review r4: streaming_sessionize must accept a TIMESTAMP_NTZ
    source (cast before withWatermark) and must MERGE two events exactly
    gap_seconds apart, matching batch sessionize's strict `diff > gap`
    rule. This test IS the empirical evidence that Spark's raw
    session_window merges inclusively at diff == gap (the operator
    passes the gap through unmodified and the boundary event lands in
    the same session) — the sessions.py docstring cites it
    (code-review r5 resolved the two files' contradictory claims)."""
    import pandas as pd

    from kmertools_spark.operators import sessionize
    from kmertools_spark.streaming import streaming_sessionize

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [0, 1, 2],
            "text": ["aa", "bb", "cc"],
            # gaps: exactly 1800s (merge), 1800.001s (split)
            "ts": [
                base,
                base + pd.Timedelta(seconds=1800),
                base + pd.Timedelta(seconds=3600, milliseconds=1),
            ],
        }
    )
    # flush row: advances the watermark past conv c's sessions so the
    # append-mode aggregation finalizes and emits them
    pdf = pd.concat(
        [
            pdf,
            pd.DataFrame(
                {
                    "conv_id": ["flush"],
                    "turn_idx": [0],
                    "text": ["zz"],
                    "ts": [base + pd.Timedelta(days=2)],
                }
            ),
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # NTZ in parquet
    src = tmp_path / "in"; src.mkdir()
    pdf.to_parquet(src / "b.parquet")
    schema = spark.read.parquet(str(src)).schema
    assert "timestamp_ntz" in schema["ts"].dataType.typeName()
    out = tmp_path / "out"
    q = (
        streaming_sessionize(
            spark.readStream.schema(schema).parquet(str(src)), gap_seconds=1800
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    got = [r for r in spark.read.parquet(str(out)).collect() if r.conv_id == "c"]
    # batch rule: turns 0,1 one session (diff == gap merges); turn 2 new
    assert sorted(r.n_turns for r in got) == [1, 2]
    batch = sessionize(spark.createDataFrame(pdf)).select("turn_idx", "session_seq").collect()
    assert {r.turn_idx: r.session_seq for r in batch} == {0: 0, 1: 0, 2: 1}
