"""The three workloads. Each one reads its seeded inputs, runs a fixed
warm pass, runs its job through the engine's public entry points and
checks the job's outputs.

Each workload also has a traced form of its job: the same calls, with
spans around the calls into the engine (tracing.py). After it, a traced
run measures every layer on its own: the workload's operators one stage
at a time, each forced before the next, and the scalar kernels alone. A
layer the workload does not feed runs over an empty input of its schema
(an "idle" layer), so its figures are that layer's fixed per-call cost
and the workload does no work in it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampNTZType,
)

import checks
import inputs
from tracing import Tracer, duration

ASOF_VALUES = ("turn_idx", "session_seq", "roll_vec")
# jobs/dedup_job.py defaults
DEDUP = {"bands": 4, "n": 4, "threshold": 0.4, "max_bucket": 256}
PREP = {"capacity": 256, "rates": {"en": 0.8}, "default_rate": 0.3}
SAMPLE_ROWS = 150  # rows per output compared with an oracle

SCHEMAS = {
    "turns": StructType([
        StructField("conv_id", StringType()), StructField("turn_idx", IntegerType()),
        StructField("role", StringType()), StructField("text", StringType()),
        StructField("tool", StringType()), StructField("ts", TimestampNTZType()),
    ]),
    "probes": StructType([
        StructField("conv_id", StringType()), StructField("probe_ts", TimestampNTZType()),
    ]),
    "docs": StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
        StructField("lang", StringType()), StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]),
}


def hash_reduce(df, *extra):
    """Force every column of ``df`` in one action. Returns its row count
    and order-independent xxhash64/bit_xor checksum, plus ``extra``
    aggregates over the same rows."""
    cols = df.columns
    return (
        df.select(F.xxhash64(*cols).alias("__h"), *cols)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.expr("bit_xor(__h)"), F.lit(0)).alias("checksum"),
            *extra,
        )
        .first()
    )


def sample_flag(seed: int, mod: int, *cols):
    return F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(mod)) == 0


def op(name: str, errors: list[str]) -> dict:
    return {"name": name, "ok": not errors, "errors": errors}


def feature_fn(df):
    """The payload jobs/backfill_job.py gives BackfillDriver."""
    from kmertools_spark.operators import backfill_features_stream

    return backfill_features_stream(
        df, k=checks.K, n_turns=checks.N_TURNS, gap_seconds=checks.GAP_S
    )


def pit_features(turns):
    """Rolling vectors with each turn's timestamp attached."""
    ts = turns.select("conv_id", "turn_idx", "ts")
    return feature_fn(turns).join(ts, ["conv_id", "turn_idx"])


def asof_reduce(feats, probes, hot_threshold: int, seed: int, mod: int):
    """asof_join_auto forced by a hash reduce that also counts matched
    probes and collects a seeded sample of result rows."""
    from kmertools_spark.operators import asof_join_auto

    res = asof_join_auto(feats, probes, value_cols=ASOF_VALUES, hot_threshold=hot_threshold)
    flag = sample_flag(seed, mod, "conv_id", "probe_ts")
    return hash_reduce(
        res,
        F.count("asof_turn_idx").alias("matched"),
        F.collect_list(F.when(flag, F.struct(*res.columns))).alias("sample"),
    )


# layers, each measured from outside ------------------------------------


def backfill_layer(tr: Tracer, turns, n_buckets: int, out_dir: str):
    """BackfillDriver.run with a span around each run_bucket call."""
    from kmertools_spark.plans import BackfillDriver

    runs = []

    class Driver(BackfillDriver):
        def run_bucket(self, df, bucket):
            with tr.span("plans.run_bucket", bucket=bucket) as s:
                runs.append(s)
                return super().run_bucket(df, bucket)

    d = Driver(out_dir, n_buckets=n_buckets, feature_fn=feature_fn)
    return (d, d.run(turns)), runs


def bucket_payloads(tr: Tracer, turns, runs: list[dict]) -> dict:
    """Each bucket's backfill_features_stream alone, forced by a hash
    reduce, to split run_bucket into its payload and the plans layer."""
    from kmertools_spark.plans import bucket_of

    n = len(runs)
    alone = {}
    for b in range(n):
        with tr.span("operators.backfill_features_stream", bucket=b) as s:
            hash_reduce(feature_fn(turns.where(bucket_of(n) == b)))
        alone[b] = s
    ms = [duration(r) * 1000 for r in runs]
    return {
        "operators.backfill_features_stream_s": sum(duration(s) for s in alone.values()),
        "plans.run_bucket_ms_p50": statistics.median(ms),
        "plans.run_bucket_ms_max": max(ms),
        "plans.jobs_per_bucket": statistics.median_low([tr.jobs_in(r) for r in runs]),
        "plans.overhead_ms_per_bucket": statistics.median(
            [(duration(r) - duration(alone[r["bucket"]])) * 1000 for r in runs]
        ),
    }


def pit_layer(tr: Tracer, turns, probes, hot_threshold: int, seed: int, mod: int):
    """The rolling features, cached and forced, then asof_join_auto over
    them, each in its own span."""
    with tr.span("operators.backfill_features_stream") as s_feat:
        feats = pit_features(turns).select("conv_id", "turn_idx", "ts", *ASOF_VALUES[1:]).cache()
        hash_reduce(feats)
    with tr.span("operators.asof_join_auto") as s_asof:
        row = asof_reduce(feats, probes, hot_threshold, seed, mod)
    feats.unpersist()
    return {
        "operators.backfill_features_stream_s": duration(s_feat),
        "operators.asof_join_auto_s": duration(s_asof),
        "operators.asof_matched_ratio": row["matched"] / row["rows"] if row["rows"] else 0.0,
    }


def hot_keys(turns, hot_threshold: int) -> int:
    """Conversations asof_join_auto sends down its hot path: more feature
    rows (one per turn) than the threshold."""
    return turns.groupBy("conv_id").count().where(F.col("count") > hot_threshold).count()


def corpus_layer(tr: Tracer, docs, out_dir: str, seed: int, mod: int):
    """dedup_keep's and training_prep's public stages, called one by one,
    each forced before the next starts."""
    from kmertools_spark.operators import (
        dedup_clusters, jaccard_for_pairs, lsh_candidate_pairs,
        minhash_signatures, pack_documents, prep_filter,
    )

    s = {}
    with tr.span("operators.minhash_signatures") as s["minhash_signatures"]:
        sigs = minhash_signatures(docs).cache()
        hash_reduce(sigs)
    with tr.span("operators.lsh_candidate_pairs") as s["lsh_candidate_pairs"]:
        cand = lsh_candidate_pairs(
            sigs, bands=DEDUP["bands"], max_bucket=DEDUP["max_bucket"]
        ).cache()
        n_pairs = hash_reduce(cand)["rows"]
    with tr.span("operators.jaccard_for_pairs") as s["jaccard_for_pairs"]:
        ver = jaccard_for_pairs(cand, docs, n=DEDUP["n"], threshold=DEDUP["threshold"]).cache()
        flag = sample_flag(seed, mod, "id_a", "id_b")
        vrow = hash_reduce(ver, F.collect_list(F.when(flag, F.struct(*ver.columns))).alias("sample"))
    with tr.span("operators.dedup_clusters") as s["dedup_clusters"]:
        clusters = dedup_clusters(ver.select("id_a", "id_b"), docs.select("doc_id"))
        clusters.select(
            "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
        ).write.parquet(os.path.join(out_dir, "keep"))
    with tr.span("operators.prep_filter") as s["prep_filter"]:
        kept = prep_filter(docs, rates=PREP["rates"], default_rate=PREP["default_rate"]).cache()
        hash_reduce(kept)
    with tr.span("operators.pack_documents") as s["pack_documents"]:
        pack_documents(
            kept, capacity=PREP["capacity"], tokens_col="n_tok", order="hash"
        ).write.parquet(os.path.join(out_dir, "packed"))
    # jaccard_for_pairs leaves its gram relation cached for the caller
    docs.sparkSession.catalog.clearCache()
    metrics = {f"operators.{k}_s": duration(v) for k, v in s.items()}
    metrics["operators.lsh_pairs"] = n_pairs
    metrics["operators.jaccard_verified_ratio"] = vrow["rows"] / n_pairs if n_pairs else 0.0
    return vrow["sample"], metrics


def function_layer(tr: Tracer, turns, docs) -> dict:
    """The scalar kernels alone over the job's input, forced by a hash
    reduce."""
    from kmertools_spark.functions import (
        composition_vector, lang_guess, minhash_sig, normalize_text,
        quality_score, repetition_ratio, token_count,
    )

    text = F.col("text")
    with tr.span("functions.composition_vector") as s_comp:
        hash_reduce(turns.select(composition_vector(checks.K)(text).alias("x")))
    with tr.span("functions.minhash_sig") as s_mh:
        hash_reduce(docs.select(minhash_sig()(text).alias("x")))
    with tr.span("functions.prep_kernels") as s_prep:
        for fn in (normalize_text, quality_score, repetition_ratio, lang_guess, token_count):
            with tr.span(f"functions.{fn.__name__}"):
                hash_reduce(docs.select(fn(text).alias("x")))
    return {
        "functions.composition_vector_s": duration(s_comp),
        "functions.minhash_sig_s": duration(s_mh),
        "functions.prep_kernels_s": duration(s_prep),
    }


# workloads ---------------------------------------------------------------


class Workload:
    """``load`` and ``warm`` make up set-up; ``job`` is what is timed;
    ``verify`` checks what ``job`` returned and gives one record per
    operation."""

    name = ""
    tables: tuple[str, ...] = ()
    repeatable = True  # whether one process may run the job more than once

    def __init__(self, spark, input_dir: str, out_dir: str, sizes: dict, seed: int):
        self.spark, self.input_dir, self.out_dir = spark, input_dir, out_dir
        self.z, self.seed = sizes, seed
        self.expected = checks.Expected(input_dir)
        self._pandas: dict = {}
        self._dirs = 0

    def pandas(self, table: str):
        if table not in self._pandas:
            self._pandas[table] = inputs.load_pandas(os.path.join(self.input_dir, table))
        return self._pandas[table]

    def load(self) -> int:
        """Read and cache the inputs; other tables are empty frames."""
        rows = 0
        for t in SCHEMAS:
            if t in self.tables:
                df = self.spark.read.parquet(os.path.join(self.input_dir, t)).cache()
                n = df.count()
            else:
                df, n = self.spark.createDataFrame([], SCHEMAS[t]), 0
            setattr(self, t, df)
            setattr(self, f"n_{t}", n)
            rows += n
        return rows

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.out_dir, f"{name}{self._dirs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm_slice(self, df, n_rows: int, key: str):
        mod = max(1, n_rows // self.z["warm_rows"])
        return df.where(F.pmod(F.xxhash64(key), F.lit(mod)) == 0)

    def mod(self, n_rows: int) -> int:
        return max(1, n_rows // SAMPLE_ROWS)

    def traced(self, tr: Tracer):
        """The traced job, then every layer. Returns (ops, metrics)."""
        with tr.span("job"):
            state = self.job(tr)
        ops = self.verify(state)
        metrics = {}
        with tr.span("layers"):
            for group in ("backfill", "pit", "corpus"):
                if group != self.group:
                    with tr.span(f"idle.{group}"):
                        metrics.update(self.idle_layer(tr, group))
            own_ops, own = self.own_layers(tr, state)
            metrics.update(own)
            metrics.update(function_layer(tr, self.turns, self.docs))
        return ops + own_ops, metrics

    def idle_layer(self, tr: Tracer, group: str) -> dict:
        """Another workload's layers, over empty inputs."""
        turns = self.turns.limit(0)
        if group == "backfill":
            _, runs = backfill_layer(tr, turns, 1, self.fresh_dir("idle"))
            return bucket_payloads(tr, turns, runs)
        if group == "pit":
            ht = self.z["pit_hot_threshold"]
            metrics = pit_layer(tr, turns, self.probes.limit(0), ht, self.seed, 1)
            return {**metrics, "operators.asof_hot_keys": hot_keys(turns, ht)}
        _, metrics = corpus_layer(tr, self.docs.limit(0), self.fresh_dir("idle"), self.seed, 1)
        return metrics

    def own_layers(self, tr: Tracer, state) -> tuple[list[dict], dict]:
        """The workload's own layers after the traced job: (ops, metrics)."""
        raise NotImplementedError


class BackfillCommit(Workload):
    """BackfillDriver.run with backfill_features_stream as feature_fn over
    uniform transcripts, writing parquet plus the manifest."""

    name, group, tables = "backfill_commit", "backfill", ("turns",)

    def input_rows(self) -> int:
        return self.n_turns

    def op_names(self) -> list[str]:
        return [f"bucket{b}" for b in range(self.z["backfill_buckets"])]

    def warm(self) -> None:
        from kmertools_spark.plans import BackfillDriver

        part = self.warm_slice(self.turns, self.n_turns, "conv_id")
        BackfillDriver(self.fresh_dir("warm"), n_buckets=1, feature_fn=feature_fn).run(part)

    def job(self, tr: Tracer | None = None):
        """With a tracer, each run_bucket call runs in a span."""
        from kmertools_spark.plans import BackfillDriver

        n_b, out = self.z["backfill_buckets"], self.fresh_dir("out")
        if tr is None:
            d = BackfillDriver(out, n_buckets=n_b, feature_fn=feature_fn)
            return d, d.run(self.turns)
        state, self.runs = backfill_layer(tr, self.turns, n_b, out)
        return state

    def own_layers(self, tr: Tracer, state):
        return [], bucket_payloads(tr, self.turns, self.runs)

    def verify(self, state) -> list[dict]:
        """Manifest entries, then one scan of the written output for
        per-bucket rows and checksums and a seeded sample of
        conversations compared with the rolling-vector oracle."""
        d, entries = state
        n_b = self.z["backfill_buckets"]
        errs = {b: [] for b in range(n_b)}
        got = {e["bucket"]: e for e in entries}
        for b in range(n_b):
            e = got.get(b)
            if e is None:
                errs[b].append("bucket not committed")
            elif e["rows_in"] != e["rows_out"]:
                errs[b].append(f"rows_in {e['rows_in']} != rows_out {e['rows_out']}")
        total = sum(e["rows_out"] for e in entries)
        if total != self.n_turns:
            for b in errs:
                errs[b].append(f"{total} rows written for {self.n_turns} turns")
        t = self.pandas("turns")
        rng = np.random.RandomState(self.seed + 2)
        convs = sorted(rng.choice(t["conv_id"].unique(), size=8, replace=False).tolist())
        oracle = checks.rolling_oracle(t, convs)
        res = d.result(self.spark)
        cols = [c for c in res.columns if c != "bucket"]
        rows = (
            res.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)).alias("checksum"),
                F.collect_list(F.when(F.col("conv_id").isin(convs), F.struct(*cols))).alias("sample"),
            )
            .collect()
        )
        seen = 0
        for r in rows:
            b, e = r["bucket"], got.get(r["bucket"])
            if e is not None and (e["rows_out"], e["checksum"]) != (r["rows"], r["checksum"]):
                errs[b].append("manifest rows/checksum differ from the written files")
            for s in r["sample"]:
                seen += 1
                want = oracle.get((s["conv_id"], s["turn_idx"]))
                if (
                    want is None
                    or want[0] != s["session_seq"]
                    or not checks.vectors_equal(s["vec"], want[1])
                    or not checks.vectors_equal(s["roll_vec"], want[2])
                ):
                    errs[b].append(f"{s['conv_id']} turn {s['turn_idx']} differs from the oracle")
        if seen != len(oracle):
            for b in errs:
                errs[b].append(f"{seen} sampled rows written for {len(oracle)} oracle rows")
        for r in rows:
            b = r["bucket"]
            err = self.expected.check(f"bucket{b}", [r["rows"], r["checksum"]], record=not errs[b])
            if err:
                errs[b].append(err)
        self.expected.save()
        return [op(f"bucket{b}", errs[b]) for b in range(n_b)]


class PitFeatures(Workload):
    """Rolling vectors from backfill_features_stream, then asof_join_auto
    of seeded probes, forced by a hash reduce with no write."""

    name, group, tables = "pit_features", "pit", ("turns", "probes")

    def input_rows(self) -> int:
        return self.n_turns

    def op_names(self) -> list[str]:
        return ["asof_join_auto"]

    def warm(self) -> None:
        # a slice of ordinary conversations plus the start of the whale,
        # with a threshold that sends the whale slice down the hot path
        whale = F.col("conv_id") == F.lit(inputs.WHALE)
        n_whale = self.z["warm_rows"] // 4
        t = self.warm_slice(self.turns, self.n_turns, "conv_id").unionByName(
            self.turns.where(whale & (F.col("turn_idx") < n_whale))
        )
        p = self.warm_slice(self.probes, self.n_probes, "conv_id").unionByName(self.probes.where(whale))
        asof_reduce(pit_features(t), p, n_whale // 2, self.seed, 50)

    def job(self, tr: Tracer | None = None):
        """With a tracer, the one call runs in a span; asof_join_auto
        computes its lazy rolling input inside the forcing reduce."""
        span = tr.span if tr else lambda name: contextlib.nullcontext()
        with span("operators.backfill_features_stream+asof_join_auto"):
            return asof_reduce(
                pit_features(self.turns), self.probes, self.z["pit_hot_threshold"],
                self.seed, self.mod(self.n_probes),
            )

    def own_layers(self, tr: Tracer, state):
        ht = self.z["pit_hot_threshold"]
        metrics = pit_layer(tr, self.turns, self.probes, ht, self.seed, self.mod(self.n_probes))
        return [], {**metrics, "operators.asof_hot_keys": hot_keys(self.turns, ht)}

    def verify(self, row) -> list[dict]:
        """Row count, the seed's checksum, and sampled rows against DuckDB
        (as-of pick) and the rolling-vector oracle (picked values)."""
        errs = []
        if row["rows"] != self.n_probes:
            errs.append(f"{row['rows']} result rows for {self.n_probes} probes")
        sample = {(s["conv_id"], s["probe_ts"]): s for s in row["sample"]}
        if not sample:
            errs.append("the oracle sample is empty")
        t = self.pandas("turns")
        want_idx = checks.asof_oracle(t, pd.DataFrame(list(sample), columns=["conv_id", "probe_ts"]))
        oracle = checks.rolling_oracle(t, {c for c, _ in sample})
        for (c, ts), s in sample.items():
            want = want_idx.get((c, pd.Timestamp(ts)), "missing")
            if want != s["asof_turn_idx"]:
                errs.append(f"probe {c}@{ts}: turn {s['asof_turn_idx']}, oracle {want}")
            elif want is not None:
                sess, _, roll = oracle[(c, want)]
                if sess != s["asof_session_seq"] or not checks.vectors_equal(s["asof_roll_vec"], roll):
                    errs.append(f"probe {c}@{ts}: picked features differ from the oracle")
        err = self.expected.check("asof", [row["rows"], row["checksum"]], record=not errs)
        if err:
            errs.append(err)
        self.expected.save()
        return [op("asof_join_auto", errs)]


class CorpusDedupPrep(Workload):
    """dedup_keep, then training_prep, over seeded bench_corpus documents;
    both outputs are written."""

    name, group, tables = "corpus_dedup_prep", "corpus", ("docs",)
    # a second dedup_keep at full size in one session can fail (NOTES.md)
    repeatable = False

    def input_rows(self) -> int:
        return self.n_docs

    def op_names(self) -> list[str]:
        return ["dedup_keep", "training_prep"]

    def warm(self) -> None:
        self._dedup_prep(self.warm_slice(self.docs, self.n_docs, "doc_id"), self.fresh_dir("warm"))

    def _dedup_prep(self, docs, out: str, tr: Tracer | None = None):
        from kmertools_spark.operators import dedup_keep, training_prep

        span = tr.span if tr else lambda name: contextlib.nullcontext()
        with span("operators.dedup_keep"):
            dedup_keep(docs, **DEDUP).write.parquet(os.path.join(out, "keep"))
        with span("operators.training_prep"):
            training_prep(docs, **PREP).write.parquet(os.path.join(out, "packed"))

    def _read_back(self, out: str) -> dict:
        res = {}
        for name in ("keep", "packed"):
            df = self.spark.read.parquet(os.path.join(out, name))
            res[name] = (df, hash_reduce(df))
        return res

    def job(self, tr: Tracer | None = None):
        """With a tracer, each of the two calls runs in a span."""
        out = self.fresh_dir("out")
        self._dedup_prep(self.docs, out, tr)
        return self._read_back(out)

    def own_layers(self, tr: Tracer, state):
        """dedup_keep's and training_prep's stages one by one, and a
        seeded sample of the verified pairs against the oracle Jaccard."""
        pairs, metrics = corpus_layer(tr, self.docs, self.fresh_dir("staged"), self.seed, 1)
        text = self.pandas("docs").set_index("doc_id")["text"]
        rng = np.random.RandomState(self.seed + 4)
        errs = []
        for p in pairs:
            if rng.random() < SAMPLE_ROWS / len(pairs):
                want = checks.jaccard(text[p["id_a"]], text[p["id_b"]], DEDUP["n"])
                if want != p["jaccard"] or want < DEDUP["threshold"]:
                    errs.append(f"pair {p['id_a']},{p['id_b']}: {p['jaccard']} vs oracle {want}")
        return [op("jaccard_for_pairs", errs)], metrics

    def verify(self, outs) -> list[dict]:
        """Both outputs in full against invariants and Python oracles
        (n-gram Jaccard within clusters, token counts per packed doc),
        plus the seed's checksums."""
        docs = self.pandas("docs")
        rng = np.random.RandomState(self.seed + 3)
        sample_ids = rng.choice(docs["doc_id"].to_numpy(), size=min(SAMPLE_ROWS, len(docs)), replace=False)
        keep_df, keep_row = outs["keep"]
        errs = {"dedup_keep": [], "training_prep": []}
        keep = keep_df.toPandas()
        errs["dedup_keep"] += checks.check_keep_list(keep, docs, sample_ids, DEDUP["threshold"])
        packed_df, packed_row = outs["packed"]
        errs["training_prep"] += checks.check_packing(packed_df.toPandas(), docs, PREP["capacity"])
        for name, row in (("dedup_keep", keep_row), ("training_prep", packed_row)):
            err = self.expected.check(name, [row["rows"], row["checksum"]], record=not errs[name])
            if err:
                errs[name].append(err)
        self.expected.save()
        return [op(k, v) for k, v in errs.items()]


WORKLOADS = {w.name: w for w in (BackfillCommit, PitFeatures, CorpusDedupPrep)}
