"""Seeded inputs for the three workloads, generated once per seed and
cached as multi-file parquet under the checkout's ``.perfbench_cache``.

The program under test receives only these files. Generation uses the
repo's own synthetic sources (``sources.synth_transcripts_pdf`` and
``sources.bench_corpus.synth_documents_pdf``), so the data has the shape
the engine was written for; every draw comes from the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# per scale: input sizes and the operator parameters that depend on them
SIZES = {
    "full": {
        "backfill_turns": 400_000,
        "backfill_buckets": 8,
        "pit_turns": 100_000,
        "pit_whale_turns": 25_000,
        "pit_hot_threshold": 8_192,
        "corpus_docs": 4_000,
        "warm_rows": 400,
    },
    # the full scale's buckets and hot threshold on small inputs: job_s
    # here is the jobs' fixed cost, the part of job_s not per row
    "slice": {
        "backfill_turns": 4_000,
        "backfill_buckets": 8,
        "pit_turns": 12_000,
        "pit_whale_turns": 9_000,
        "pit_hot_threshold": 8_192,
        "corpus_docs": 400,
        "warm_rows": 400,
    },
    "tiny": {
        "backfill_turns": 2_000,
        "backfill_buckets": 4,
        "pit_turns": 3_000,
        "pit_whale_turns": 800,
        "pit_hot_threshold": 400,
        "corpus_docs": 600,
        "warm_rows": 300,
    },
}
MEAN_TURNS = 20
PROBE_EVERY = 5  # one as-of probe per this many turns
WHALE = "conv_0"  # synth_transcripts_pdf gives conversation 0 the skewed length
N_FILES = 16


def _write(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-tbl.num_rows // N_FILES)
    for i in range(N_FILES):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            # microsecond timestamps: Spark reads parquet TIMESTAMP(MICROS)
            pq.write_table(
                part, os.path.join(path, f"part-{i:02d}.parquet"), coerce_timestamps="us"
            )


def _transcripts(n_turns: int, whale_turns: int, seed: int) -> pd.DataFrame:
    from kmertools_spark.sources import synth_transcripts_pdf

    n_convs = max(2, (n_turns - whale_turns) // MEAN_TURNS)
    return synth_transcripts_pdf(
        n_convs=n_convs,
        mean_turns=MEAN_TURNS,
        skew_factor=whale_turns // MEAN_TURNS,
        seed=seed,
    )


def _probes(t: pd.DataFrame, every: int, seed: int) -> pd.DataFrame:
    """One probe per ``every`` turns: 20 % at exactly a turn's timestamp
    (ties), 60 % shifted by -900..+900 s, 20 % on conversation ids the
    features do not have."""
    rng = np.random.RandomState(seed + 1)
    pick = rng.choice(len(t), size=len(t) // every, replace=False)
    conv = t["conv_id"].to_numpy()[pick].astype(object)
    ts = t["ts"].to_numpy()[pick]
    kind = rng.random(pick.size)
    shift = rng.randint(-900, 901, size=pick.size).astype("timedelta64[s]")
    ts = np.where(kind < 0.2, ts, ts + shift)
    unknown = kind >= 0.8
    conv[unknown] = [f"ghost_{i}" for i in rng.randint(0, 1_000_000, size=unknown.sum())]
    return pd.DataFrame({"conv_id": conv, "probe_ts": ts.astype("datetime64[us]")})


def ensure(root: str, workload: str, seed: int, scale: str) -> str:
    """Generate (once) and return the input directory of one workload
    and seed. Generation time is not part of any metric."""
    z = SIZES[scale]
    # the key holds the sizes, so changing them never reuses stale inputs
    key = hashlib.sha1(json.dumps(z, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(root, ".perfbench_cache", f"{workload}-{scale}-{key}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "backfill_commit":
        _write(_transcripts(z["backfill_turns"], 0, seed), os.path.join(tmp, "turns"))
    elif workload == "pit_features":
        t = _transcripts(z["pit_turns"], z["pit_whale_turns"], seed)
        _write(t, os.path.join(tmp, "turns"))
        _write(_probes(t, PROBE_EVERY, seed), os.path.join(tmp, "probes"))
    elif workload == "corpus_dedup_prep":
        from kmertools_spark.sources.bench_corpus import synth_documents_pdf

        _write(synth_documents_pdf(z["corpus_docs"], seed=seed), os.path.join(tmp, "docs"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_pandas(path: str) -> pd.DataFrame:
    """The generated table as pandas, for the oracle checks."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()
