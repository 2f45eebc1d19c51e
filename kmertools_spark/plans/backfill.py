"""Checkpointed, resumable feature backfill with per-partition lineage.

The engine analog of the reference's chunk-spill-merge loop
(counter/src/lib.rs:69-90 chunk loop, :151-167 spill, :211-213 cleanup):
work is split into deterministic conv_id hash buckets; each bucket's
output is written to its own partition directory and recorded in a
manifest entry (bucket, rows_in, rows_out, checksum, wall_ms,
finished_at). Resume = skip buckets whose manifest entry exists — the
anti-join of pending work against committed lineage.

A bucket costs one write and no other pass over its data: the manifest's
numbers are observed metrics (``DataFrame.observe``) of the write's own
jobs. ``rows_in`` counts the bucket's source rows where they enter
``feature_fn``; ``rows_out`` and ``checksum`` (bit_xor of xxhash64 over
the output's own columns, 0 for an empty bucket) count the rows handed
to the parquet writer, so they equal a fresh scan of ``bucket=<b>``. A
failed task attempt's metrics are discarded. ``rows_out`` and
``checksum`` are counted once per result partition. ``rows_in`` is
observed in a shuffle-map stage when ``feature_fn`` shuffles, so it can
overcount only if a lost shuffle file forces that stage to re-run. When
``feature_fn`` runs its own action on its input first (a hot-key sizing
pass), ``rows_in`` comes from that action, which reads the same rows.

Scale notes: on a real cluster each bucket is a partition-pruned read
(`pmod(xxhash64(conv_id), n)`) over an Iceberg/parquet table bucketed by
conv_id, so a bucket touches only its files; the manifest doubles as the
per-partition metrics table the north rule asks for.
"""

from __future__ import annotations

import json
import os
import time
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _observed(obs: Observation) -> dict:
    """An observation's metrics, or ``rows`` 0 and ``h`` None when Spark
    dropped the observation from a plan it proved empty (an empty bucket
    of an in-memory source does this): it then reports an empty row,
    which ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return {"rows": 0, "h": None}
    return obs.get


def default_feature_fn(df: DataFrame) -> DataFrame:
    """The standard backfill payload: sessionized per-turn composition."""
    from ..functions.composition import composition_vector
    from ..operators.sessionize import sessionize

    return sessionize(df).withColumn("vec", composition_vector(4)("text")).select(
        "conv_id", "turn_idx", "session_seq", "vec"
    )


class BackfillDriver:
    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        feature_fn: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.feature_fn = feature_fn or default_feature_fn
        self.manifest_dir = os.path.join(out_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ------------------------------------------------------------ lineage

    def committed(self) -> dict[int, dict]:
        """Manifest entries by bucket. An entry that cannot be read (not
        JSON, or without its ``bucket`` key) counts as not committed, so
        the next ``run`` re-runs that bucket and overwrites it; each one
        issues a RuntimeWarning naming the file."""
        out = {}
        for name in os.listdir(self.manifest_dir):
            if name.startswith("bucket_") and name.endswith(".json"):
                path = os.path.join(self.manifest_dir, name)
                try:
                    with open(path) as f:
                        e = json.load(f)
                    out[e["bucket"]] = e
                except (ValueError, KeyError, TypeError) as err:
                    warnings.warn(
                        f"BackfillDriver: unreadable manifest entry {path} "
                        f"({err!r}); its bucket is pending again",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        return out

    def pending(self) -> list[int]:
        done = self.committed()
        return [b for b in range(self.n_buckets) if b not in done]

    def _commit(self, entry: dict) -> None:
        """Atomic manifest write: temp file + rename."""
        path = os.path.join(self.manifest_dir, f"bucket_{entry['bucket']}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, path)

    # --------------------------------------------------------------- run

    def run_bucket(self, df: DataFrame, bucket: int) -> dict:
        t0 = time.time()
        seen_in, seen_out = Observation(), Observation()
        part = df.where(bucket_of(self.n_buckets) == bucket).observe(
            seen_in, F.count(F.lit(1)).alias("rows")
        )
        feat = self.feature_fn(part)
        # checksum over the feature output's OWN columns: feature_fn is
        # pluggable, and hardcoding (conv_id, turn_idx) crashed AFTER
        # the expensive write but BEFORE the manifest commit for any
        # schema without them — every resume then re-wrote and
        # re-crashed (code-review r4)
        feat = feat.observe(
            seen_out,
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[feat[c] for c in feat.columns])).alias("h"),
        )
        feat.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"bucket={bucket}")
        )
        out = _observed(seen_out)
        entry = {
            "bucket": bucket,
            "n_buckets": self.n_buckets,
            "rows_in": _observed(seen_in)["rows"],
            "rows_out": out["rows"],
            "checksum": out["h"] or 0,
            "wall_ms": int((time.time() - t0) * 1000),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._commit(entry)
        return entry

    def run(
        self, df: DataFrame, max_buckets: int | None = None
    ) -> list[dict]:
        """Process pending buckets (optionally capped, for kill/resume
        testing). Returns the manifest entries written this call."""
        # refuse to resume under a different modulus: committed entries
        # were bucketed with pmod(xxhash64, old_n) — treating them as
        # done under a new modulus duplicates or drops conversations
        # (code-review r4; entries predating the n_buckets field pass)
        for e in self.committed().values():
            if e.get("n_buckets", self.n_buckets) != self.n_buckets:
                raise ValueError(
                    f"BackfillDriver: manifest at {self.manifest_dir} was "
                    f"written with n_buckets={e.get('n_buckets')}; this "
                    f"driver has n_buckets={self.n_buckets} — use the "
                    "original value or start a fresh output dir"
                )
        done = []
        cap = self.n_buckets if max_buckets is None else max_buckets
        # not `or`: max_buckets=0 means "process none" (the kill/resume
        # harness's no-op probe), not "process all" (code-review r4)
        for b in self.pending()[:cap]:
            done.append(self.run_bucket(df, b))
        return done

    def result(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.out_dir).parquet(
            *[
                os.path.join(self.out_dir, f"bucket={b}")
                for b in sorted(self.committed())
            ]
        )

    def metrics(self) -> list[dict]:
        done = self.committed()  # one manifest scan, not O(n^2)
        return [done[b] for b in sorted(done)]
