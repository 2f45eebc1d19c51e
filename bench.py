"""Bench harness — prints ONE JSON line with headline timings.

Queries (transcripts from $SPARK_GRAFT_SF_DIR, default
/root/testdata/sf0.1; documents/embeddings from a right-sized synthetic
corpus — see below; on local[$SPARK_GRAFT_CPUS]):

  backfill   sessionize + per-turn composition vectors + rolling 3-turn
             vectors for every turn (the headline turns/sec metric)
  asof       leakage-free as-of join of derived probes
  counts_cov global k-mer counts + per-turn coverage histograms
  minruns    windowed minimizer-run state machine (w=8, m=5), exploded
  cgr        CGR trajectories (bit-exact FP recurrence) over all turns
  dedup      minhash signatures -> LSH candidate pairs (documents)
  ann        brute-force cosine top-k (embeddings)
  tokenize   greedy vocab tokenizer counts (vectorized kernel)
  pack       deterministic shuffle + 256-token sequence packing
  prep       full training-prep pipeline (normalize -> quality/rep/
             token filters -> per-language sampling -> packing)

Corpus right-sizing (r5 VERDICT item 1): the sf0.1 side tables are
5k docs / 2k embeddings — at that size the five LLM-pipeline legs
measure fixed overhead (task rounds, JIT), not data work, and a 3x
kernel regression is invisible. The doc/embedding legs therefore run
over a deterministic synthetic corpus of SPARK_GRAFT_BENCH_DOCS
documents (default 100k, ~300 chars each) and SPARK_GRAFT_BENCH_EMB
embeddings (default 50k x 64), generated once into
$SPARK_GRAFT_BENCH_CORPUS (default <repo>/.bench_corpus) and cached as
parquet (sources/bench_corpus.py). Set SPARK_GRAFT_BENCH_DOCS=0 to
fall back to the sf-dir side tables.

Timing protocol (r5 VERDICT item 3, refined r6): after ONE untimed
warm pass over every leg (python-worker imports, JIT/codegen settle —
the dedup banding join needs ~2 executions, so it warms twice), the
SPARK_GRAFT_BENCH_BEST (default 2) timed visits run INTERLEAVED
round-robin across legs (A,B,...,A,B,...) rather than back-to-back —
sequential best-of-N lets one host-load spike eat a whole leg's reps.
Each visit takes TWO back-to-back samples: the first pays the
cross-leg working-set eviction of the preceding leg (measured: cgr
4-6s cold vs 1.5-2.4s warm == its isolated cost), the second measures
the leg warm — so the per-leg min is reproducible against isolated
runs. A JVM System.gc() runs at every leg boundary (untimed):
localCheckpoint blocks + Arrow buffers otherwise defer collection
until it lands MID-LEG (measured: prep first-visit 28s vs 3.3s). The
JSON records per-sample times and 1-min loadavg per leg, plus a
max-min spread over the warm samples (plus the cold-warm delta), so
outliers are identifiable post-hoc; `queries` still carries the
per-leg min. SPARK_GRAFT_BENCH_BEST=1 gives the single-visit mode
bench_scaling.py uses; SPARK_GRAFT_BENCH_LEGS=a,b restricts the run
to the named legs.

All queries force full computation via the noop sink / count; nothing
is collected to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def force(df) -> int:
    """Force evaluation via count — valid ONLY for plans whose every
    operator is cardinality-determining (mapInPandas kernels, joins,
    explodes, aggregations). A projection-only tail (scalar UDF column,
    Window function) gets PRUNED by count(): Catalyst drops the unused
    column and the Window's Sort with it, so the leg times a no-op
    (measured 0.32s vs 16.9s true cost on a 16M-row as-of). Use
    force_cols for those plans."""
    return df.count()


def force_cols(df) -> int:
    """Force every output column: hash-reduce all columns to one row.
    xxhash64 + bit_xor are cheap JVM-side and overflow-free, so the
    timing stays dominated by the plan under test."""
    from pyspark.sql import functions as F

    df.select(F.xxhash64(*df.columns).alias("__h")).agg(
        F.expr("bit_xor(__h)")
    ).collect()
    return 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo_dir)

    from pyspark.sql import functions as F

    from kmertools_spark.functions import (
        cgr_points,
        exploded_minimisers,
        vocab_token_counts,
    )
    from kmertools_spark.functions.tokenize import DEMO_VOCAB
    from kmertools_spark.operators import (
        asof_join,
        backfill_features_stream,
        coverage_features,
        cosine_topk,
        global_kmer_counts,
        lsh_candidate_pairs,
        minhash_signatures,
        pack_documents,
        training_prep,
    )
    from kmertools_spark.session import get_spark
    from kmertools_spark.sources import probes_df, transcripts_df
    from kmertools_spark.sources.bench_corpus import ensure_bench_corpus

    # host-load context (r4 VERDICT item 6): the sandbox host is shared,
    # and a loaded box inflates every leg 2-5x — the recorded numbers
    # are only adjudicable with the per-rep load attached
    load_before = os.getloadavg()
    rep = int(os.environ.get("SPARK_GRAFT_BENCH_REP", "1"))
    n_docs_target = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
    n_emb_target = int(os.environ.get("SPARK_GRAFT_BENCH_EMB", "50000"))

    corpus_dir = None
    if n_docs_target > 0:
        corpus_root = os.environ.get(
            "SPARK_GRAFT_BENCH_CORPUS", os.path.join(repo_dir, ".bench_corpus")
        )
        t0 = time.time()
        corpus_dir = ensure_bench_corpus(corpus_root, n_docs_target, n_emb_target)
        log(f"corpus: {corpus_dir} (ensure took {time.time() - t0:.1f}s)")

    # 32 executor threads share the ONE local-mode JVM heap; at the
    # right-sized corpus the suite keeps ~GBs of cached transcripts +
    # localCheckpoint blocks + Arrow batches live, and the old 8g heap
    # GC-thrashed the interleaved reps (cgr leg measured 1.7s isolated
    # vs 4.7-13s mid-suite). The host has 128 GiB — size the heap like
    # a real 32-core executor would be sized.
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark(
        "kmertools-bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    t_all = time.time()

    t = transcripts_df(spark, sf_dir)
    if rep > 1:
        # deterministic scale-up: replicate conversations (preserves the
        # per-conv turn/skew profile; used by bench_scaling.py)
        reps = spark.range(rep).select(F.col("id").alias("__r"))
        t = t.crossJoin(reps).withColumn(
            "conv_id", F.concat_ws("_r", "conv_id", "__r")
        ).drop("__r")
    t = t.cache()
    n_turns = t.count()
    log(f"input: {n_turns} turns from {sf_dir} (rep={rep}) on local[{cpus}]")

    # the corpus is written as multi-file parquet so the SCAN itself is
    # parallel — an explicit repartition() after a single-file scan is a
    # TRAP: Catalyst pushes deterministic Projects/Filters below the
    # exchange, serializing every Catalyst-expression leg onto the one
    # scan task (measured: prep 43.6s single-file vs ~3s parallel).
    # Repartition only the sf-dir fallback, whose side tables are
    # single-file (and whose legs are mapInPandas-dominated, which the
    # pushdown cannot cross).
    doc_src = corpus_dir or sf_dir
    docs = spark.read.parquet(f"{doc_src}/documents.parquet")
    n_docs = docs.count()
    doc_parts = max(1, min(cpus, n_docs // 2000))
    scan_parts = docs.rdd.getNumPartitions()
    if scan_parts < doc_parts:
        docs = docs.repartition(doc_parts)
    emb = spark.read.parquet(f"{doc_src}/embeddings.parquet")
    n_emb = emb.count()
    log(
        f"docs: {n_docs} (scan {scan_parts} parts -> "
        f"{max(scan_parts, doc_parts)}), embeddings: {n_emb}"
    )

    clean_expr = F.regexp_replace("text", "[^ACGTUacgtu]", "")
    p = probes_df(spark, sf_dir).distinct()

    def backfill_leg():
        force(backfill_features_stream(t, k=4, n_turns=3))

    def asof_leg():
        # force_cols, not count: the as-of result is a Window projection
        # — count() prunes the window AND its sort, timing nothing
        force_cols(
            asof_join(
                t.withColumn("text_len", F.length("text")),
                p,
                value_cols=("turn_idx", "text_len"),
            )
        )

    def counts_cov_leg():
        counts = global_kmer_counts(t, k=4)
        # broadcast-path coverage is a scalar-UDF projection: force the
        # histogram column itself (count() would prune the UDF)
        force_cols(coverage_features(t, counts, k=4, bin_size=4, bin_count=8))

    def minruns_leg():
        force(exploded_minimisers(t, w=8, m=5))

    def cgr_leg():
        t.select(cgr_points(1.0)(clean_expr).alias("cgr")).agg(
            F.sum(F.size("cgr"))
        ).collect()

    # signatures are cached before banding, so the leg times the LSH
    # pair pass, not the minhash UDF (the shape any real pipeline persists)
    def dedup_leg():
        sigs = minhash_signatures(docs).cache()
        force(sigs)
        force(lsh_candidate_pairs(sigs, bands=4))
        sigs.unpersist()

    def ann_leg():
        force(cosine_topk(emb, emb.where("vec_id < 8"), k=5))

    def tokenize_leg():
        # count() is valid forcing — mapInPandas determines cardinality
        force(vocab_token_counts(docs, DEMO_VOCAB))

    def pack_leg():
        force(pack_documents(docs, capacity=256))

    def prep_leg():
        force(
            training_prep(
                docs, capacity=256, rates={"en": 0.8}, default_rate=0.3
            )
        )

    legs = [
        ("backfill", backfill_leg),
        ("asof", asof_leg),
        ("counts_cov", counts_cov_leg),
        ("minruns", minruns_leg),
        ("cgr", cgr_leg),
        ("dedup", dedup_leg),
        ("ann", ann_leg),
        ("tokenize", tokenize_leg),
        ("pack", pack_leg),
        ("prep", prep_leg),
    ]
    # optional leg filter (comma list) — scaling/adjudication runs that
    # only need specific legs shouldn't pay the whole suite
    only = os.environ.get("SPARK_GRAFT_BENCH_LEGS")
    if only:
        want = {s.strip() for s in only.split(",") if s.strip()}
        unknown = want - {n for n, _ in legs}
        if unknown:
            raise SystemExit(f"unknown bench legs: {sorted(unknown)}")
        legs = [(n, f) for n, f in legs if n in want]

    def jvm_gc():
        # between-leg hygiene (untimed): the right-sized corpus legs
        # leave localCheckpoint blocks + Arrow buffers in the 32g old
        # gen, and without an explicit collection the JVM defers GC
        # until it lands MID-LEG — measured r6: cgr 5.2s mid-suite vs
        # 1.6s isolated, prep rep-1 28s vs 3.3s settled. Forcing the
        # collection at leg boundaries keeps the timed windows clean.
        spark.sparkContext._jvm.System.gc()

    # ONE untimed warm pass over every leg: python workers import
    # numpy + the kernel modules (~2s/core cold — without this the
    # first timed leg measures a per-core import stampede), and
    # whole-stage codegen/JIT settles. The dedup banding self-join
    # needs ~2 executions to settle (measured r5: reps
    # [4.2, 4.1, 2.1, ...]), so it warms twice.
    t0 = time.time()
    for name, fn in legs:
        fn()
        jvm_gc()
    if any(n == "dedup" for n, _ in legs):
        dedup_leg()
    log(f"warm pass: {time.time() - t0:.1f}s")

    best = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_BEST", "2")))

    # interleaved reps (r5 VERDICT item 3): round-robin across legs so
    # a transient load spike degrades ONE rep of many legs (visible in
    # the per-rep arrays) instead of ALL reps of one leg
    times: dict[str, list[float]] = {n: [] for n, _ in legs}
    loads: dict[str, list[float]] = {n: [] for n, _ in legs}
    for r in range(best):
        for name, fn in legs:
            jvm_gc()
            # two back-to-back samples per visit: the FIRST pays the
            # cross-leg working-set eviction of whatever ran before it
            # (measured r6: cgr 4-6s first sample vs 1.5-2.4s second,
            # matching its isolated-session cost — cache/TLB state, not
            # plan cost), the SECOND measures the leg warm. Round-robin
            # across legs still spreads host-load spikes over all legs;
            # the per-leg min lands on a warm sample and is reproducible
            # against isolated runs, which sequential best-of-N was not.
            for _ in range(2):
                la = os.getloadavg()[0]
                t0 = time.time()
                fn()
                dt = time.time() - t0
                times[name].append(dt)
                loads[name].append(la)
                log(f"rep {r + 1}/{best} {name}: {dt:.2f}s (load {la:.2f})")

    timings = {n: min(ts) for n, ts in times.items()}
    total = time.time() - t_all
    spark.stop()

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline suite wall time (turns/sec in extras.turns_per_sec)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extras": {
            "n_turns": n_turns,
            "n_docs": n_docs,
            "n_embeddings": n_emb,
            "cpus": cpus,
            "turns_per_sec": (
                round(n_turns / timings["backfill"], 1)
                if "backfill" in timings
                else None
            ),
            "total_wall_sec": round(total, 3),
            "best_of": best,
            "interleaved": True,
            "per_rep": {k: [round(x, 3) for x in v] for k, v in times.items()},
            "per_rep_load": {
                k: [round(x, 2) for x in v] for k, v in loads.items()
            },
            # spread over WARM samples only (every second of each
            # cold/warm pair): the cold samples structurally carry the
            # cross-leg eviction gap, which would trip the ~30%
            # adjudication rule on every leg every run (code-review r6);
            # the cold-warm delta is reported separately
            "spread": {
                k: round(max(v[1::2]) - min(v[1::2]), 3)
                for k, v in times.items()
            },
            "cold_warm_delta": {
                k: round(min(v[0::2]) - min(v[1::2]), 3)
                for k, v in times.items()
            },
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
