"""Spans recorded from outside the program, and Spark's own counters
for each span read back from the session's event log.

A span is (id, name, parent, start, end). While a span is open its id
is the Spark job group, so every job, stage and task the span's calls
launch carries it in the event log; ``read_event_log`` folds those
events into per-span counters.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def duration(span: dict) -> float:
    return span["end"] - span["start"]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span["id"] if span else None)
        self.sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"span{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def jobs_in(self, span: dict) -> int:
        """Spark jobs launched while ``span`` was the innermost open span,
        counted from its job group by the status tracker."""
        return len(self.sc.statusTracker().getJobIdsForGroup(span["id"]))

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return duration(span) - covered

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out


_PY_SENT = "data sent to Python workers"


def _empty_counters() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "gc_s": 0.0,
        "python_mb_sent": 0.0,
        "task_skew": 1.0,
        "_stages": {},
    }


def _event_lines(log_dir: str):
    """Lines of the one application's event log: a single file, or the
    numbered ``events_<n>_*`` files of a rolling (v2) log directory."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, shuffle bytes written,
    spilled bytes, JVM GC time, bytes sent to Python workers, and task
    skew (max / median task run time in the group's longest stage)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                out.setdefault(g, _empty_counters())["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            c = out[g]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                c["failed_tasks"] += 1
            c["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / 2**20
            )
            c["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == _PY_SENT:
                    c["python_mb_sent"] += int(acc.get("Update", 0)) / 2**20
            st = c["_stages"].setdefault(ev["Stage ID"], [])
            st.append(max(1, info["Finish Time"] - info["Launch Time"]))
    for c in out.values():
        stages = c.pop("_stages")
        if stages:
            # the longest stage is the one with the largest summed task time
            times = max(stages.values(), key=sum)
            c["task_skew"] = max(times) / statistics.median(times)
    return out


def combine(counters: list[dict]) -> dict:
    """Sum counters over spans; task skew is the worst one."""
    tot = _empty_counters()
    tot.pop("_stages")
    for c in counters:
        for k, v in c.items():
            tot[k] = max(tot[k], v) if k == "task_skew" else tot[k] + v
    return tot
