"""Process-tree memory sampling and shutdown, read from /proc.

The benchmark's memory figure is the summed RSS of this Python driver,
the Spark JVM it launches and the Python workers that JVM forks: every
process in the tree rooted at this process.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().decode(errors="replace")


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``, its direct children (the gateway JVM) and
    the PySpark daemon and workers below them. Other processes the JVM
    forks (Hadoop's local file system runs shell commands when writing)
    are left out: until they exec they report the JVM's whole RSS."""
    kids = _children_map()
    total, todo = 0, [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        try:
            if depth > 1 and "pyspark.daemon" not in _cmdline(pid):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # the process ended meanwhile
            continue
        todo.extend((c, depth + 1) for c in kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's summed RSS in a thread while active:
    ``with PeakRss() as p: ...`` then ``p.peak_mb``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_bytes(root) / 2**20)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        # one last sample: a job shorter than the interval still counts
        self.peak_mb = max(self.peak_mb, tree_rss_bytes(os.getpid()) / 2**20)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every child
    process of this one to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def reap_children(timeout_s: float = 30.0) -> None:
    """SIGTERM, then SIGKILL, any process still descending from this one,
    and wait until none is left."""
    deadline = time.time() + timeout_s
    sig = signal.SIGTERM
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline + timeout_s:
            raise RuntimeError(f"child processes {left} did not exit")
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our direct child
                pass
        time.sleep(0.1)
