"""kmertools_spark benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload backfill_commit --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: backfill_commit, pit_features,
corpus_dedup_prep (perfbench/NOTES.md says why each exists). The input
is generated from the seed once and cached in ``.perfbench_cache``;
scratch output goes to ``.perfbench_work`` and is removed at exit.

``--trace 0`` sets up once, then repeats the job until ``--seconds``
have passed (a longer job, and corpus_dedup_prep's, runs once: see
NOTES.md) and prints the end-to-end metrics. ``--trace 1``
sets up once, runs the job untraced and then traced, measures every
layer and prints the per-layer metrics, after a line holding each span
with its self time and Spark counters.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; the metric names and units are
the ones BENCHMARK.json lists. The line before it holds
context: host health before and after, per-operation errors and, for
traced runs, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

STEAL_LIMIT_PCT = 8.0  # timings from a host with more CPU steal are suspect


def start_spark(work: str, trace: bool):
    from kmertools_spark.session import get_spark

    # The heap starts at get_spark's default driver memory (-Xms = -Xmx,
    # not pre-touched) with a fixed 1 GB young generation, so RSS follows
    # the old generation, off-heap and Python memory the job uses rather
    # than G1's timing-driven heap and eden sizing, which split runs of
    # one input between peaks 1-3 GB apart (NOTES.md).
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Xmn1g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=8, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


def failed_ops(w, error: BaseException) -> list[dict]:
    """Every operation of one job iteration, failed by ``error``."""
    from workloads import op

    msg = f"{type(error).__name__}: {str(error).strip()[:400]}"
    return [op(name, [msg]) for name in w.op_names()]


def heap_pools(spark, reset: bool = False) -> float:
    """Peak used JVM heap in MB since the last reset, summed over the
    heap's memory pools (context only: it tells heap growth apart from
    off-heap and Python worker memory in peak_rss_mb)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            if reset:
                pool.resetPeakUsage()
            peak += pool.getPeakUsage().getUsed()
    return peak / 2**20


def jit_ms(spark) -> int:
    """Elapsed time the JVM's JIT compiler threads have spent compiling so
    far, summed over the threads (context only: it stretches when the
    host is slow, so it tracks host speed as well as JIT work; NOTES.md)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime()


def run_job(w, spark):
    """One timed job iteration, then its checks. Returns (seconds,
    peak MB, op records, context). The context holds the check seconds,
    the peak JVM heap and the JIT time during the job. An exception
    fails the iteration's operations; nothing is retried."""
    from procs import PeakRss

    gc(spark)
    heap_pools(spark, reset=True)
    jit0 = jit_ms(spark)
    state, error = None, None
    with PeakRss() as mem:
        t0 = time.perf_counter()
        try:
            state = w.job()
        except Exception as e:  # reported as failed operations
            error = e
        seconds = time.perf_counter() - t0
    ctx = {"jvm_heap_peak_mb": heap_pools(spark), "jvm_jit_ms": jit_ms(spark) - jit0}
    t0 = time.perf_counter()
    if error is None:
        try:
            ops = w.verify(state)
        except Exception as e:  # a check that cannot run is a failed check
            error = e
    if error is not None:
        ops = failed_ops(w, error)
    ctx["checks_s"] = time.perf_counter() - t0
    return seconds, mem.peak_mb, ops, ctx


def untraced(args, w_cls, input_dir, work, sizes):
    """One set-up, then the job until ``--seconds`` have passed; medians
    over many runs, one seed each, are the figures."""
    from procs import stop_spark

    spark = None
    try:
        t = [time.perf_counter()]
        spark = start_spark(work, trace=False)
        w = w_cls(spark, input_dir, os.path.join(work, "out"), sizes, args.seed)
        t.append(time.perf_counter())
        rows = w.load()
        t.append(time.perf_counter())
        w.warm()
        gc(spark)
        t.append(time.perf_counter())
        times, peaks, ctxs, ops = [], [], [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            seconds, peak, iter_ops, ctx = run_job(w, spark)
            times.append(seconds)
            peaks.append(peak)
            ctxs.append(ctx)
            ops += iter_ops
            if not w.repeatable or time.perf_counter() >= deadline:
                break
    finally:
        stop_spark(spark)
    job_s = statistics.median(times)
    metrics = {
        "setup_s": t[-1] - t[0],
        "job_s": job_s,
        "rows_per_s": w.input_rows() / job_s,
        "peak_rss_mb": statistics.median(peaks),
        "ok_ops_ratio": sum(o["ok"] for o in ops) / len(ops),
    }
    detail = {
        "setup_parts_s": [b - a for a, b in zip(t, t[1:])],  # session, load, warm
        "jobs_s": times,
        "peaks_mb": peaks,
        **{k: [c[k] for c in ctxs] for k in ctxs[0]},  # checks_s, jvm_heap_peak_mb, jvm_jit_ms
        "input_rows": rows,
    }
    return ops, metrics, detail


def traced(args, w_cls, input_dir, work, sizes):
    from procs import stop_spark
    from tracing import Tracer, combine, duration, read_event_log

    spark = None
    try:
        spark = start_spark(work, trace=True)
        tr = Tracer(spark.sparkContext)
        w = w_cls(spark, input_dir, os.path.join(work, "out"), sizes, args.seed)
        with tr.span("setup"):
            with tr.span("sources.read") as s_read:
                rows = w.load()
            with tr.span("warm"):
                w.warm()
            gc(spark)
        untraced_s, _, ops, untraced_ctx = run_job(w, spark)
        gc(spark)
        try:
            traced_ops, metrics = w.traced(tr)
        except Exception as e:
            traced_ops, metrics = failed_ops(w, e), {}
        ops += traced_ops
        spark.stop()  # closes the event log
        spark = None
    finally:
        stop_spark(spark)
    counters = read_event_log(os.path.join(work, "events"))
    job = tr.find("job")[0]
    in_job = [job, *tr.descendants(job)]
    totals = combine([counters[s["id"]] for s in in_job if s["id"] in counters])
    job_s = duration(job)
    metrics.update({f"spark.{k}": v for k, v in totals.items()})
    metrics.update({
        "sources.read_s": duration(s_read),
        "sources.rows": rows,
        "trace.job_s": job_s,
        "trace.span_coverage": (job_s - tr.self_time(job)) / job_s,
        "trace.overhead_s": job_s - untraced_s,
    })
    spans = [
        {
            "name": s["name"],
            "id": s["id"],
            "parent": s["parent"],
            **({"bucket": s["bucket"]} if "bucket" in s else {}),
            "s": duration(s),
            "self_s": tr.self_time(s),
            "spark": counters.get(s["id"]),
        }
        for s in tr.spans
    ]
    return ops, metrics, {
        "untraced_job_s": untraced_s,
        "untraced_jvm_jit_ms": untraced_ctx["jvm_jit_ms"],
        "spans": spans,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "slice", "tiny"), default="full",
                    help="input size: slice measures fixed cost, tiny is for the self-test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "kmertools_spark")):
        print(f"perfbench: no kmertools_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from bench_extra import host_probe

    import inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = inputs.SIZES[args.scale]
    input_dir = inputs.ensure(root, args.workload, args.seed, args.scale)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("local", "tmp", "events", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    host_before = host_probe(0.25)
    try:
        run = traced if args.trace else untraced
        ops, metrics, detail = run(args, WORKLOADS[args.workload], input_dir, work, sizes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_after = host_probe(0.25)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    failed = [o for o in ops if not o["ok"]]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "host_before": host_before,
        "host_after": host_after,
        "load_compromised": max(host_before["steal_pct"], host_after["steal_pct"]) > STEAL_LIMIT_PCT,
        "failed_ops": failed,
        **detail,
    }))
    missing = sorted(set(units) - set(metrics))
    if missing:  # only when the run failed before measuring them
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
