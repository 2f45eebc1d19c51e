"""Deployment-shape smoke: the spark-submit job scripts run standalone
(fresh interpreter, no PYTHONPATH) and print their JSON summary."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dedup_job_end_to_end(tmp_path):
    out = tmp_path / "keep"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "dedup_job.py"),
            "--input", "/root/testdata/sf0.001",
            "--output", str(out),
            "--max-bucket", "64",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),  # not the repo: the --py-files shim must kick in
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 500
    assert 0 < summary["kept"] <= summary["docs"]
    assert summary["clusters"] == summary["kept"]  # keep = cluster minima
    assert (out / "_SUCCESS").exists()


def test_prep_job_end_to_end(tmp_path):
    out = tmp_path / "packed"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "prep_job.py"),
            "--input", "/root/testdata/sf0.001",
            "--output", str(out),
            "--capacity", "256",
            "--rate", "en=0.8",
            "--default-rate", "0.3",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["docs_in"] == 500
    assert 0 < summary["docs_packed"] < 500
    # token conservation: windows * capacity >= tokens > (windows-1) * capacity
    assert summary["tokens"] > (summary["windows"] - 1) * 256
    assert summary["tokens"] <= summary["windows"] * 256
    assert (out / "bin_bucket=0").exists()


def test_backfill_job_end_to_end(spark, tmp_path):
    from kmertools_spark.sources import transcripts_df

    turns = transcripts_df(spark, "/root/testdata/sf0.001").count()
    out = tmp_path / "features"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "backfill_job.py"),
            "--input", "/root/testdata/sf0.001",
            "--output", str(out),
            "--buckets", "4",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["buckets_processed"] == 4
    assert summary["rows_in"] == summary["rows_out"] == turns > 0
    assert sorted(os.listdir(out / "_manifest")) == [
        f"bucket_{b}.json" for b in range(4)
    ]
