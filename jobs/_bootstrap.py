"""Shared job bootstrap: make kmertools_spark importable on the driver
AND on executor python workers.

On a real cluster the zip arrives via ``spark-submit --py-files`` and
this module is a no-op. Run standalone (``python jobs/<job>.py``), the
driver gets the repo root on sys.path and ``ensure_executors`` ships
the packaged zip with addPyFile (executor workers never see the
driver's sys.path), building it with jobs/package.py when absent or
older than the package sources.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

try:
    import kmertools_spark  # noqa: F401

    NEED_PYFILES = False
except ImportError:
    sys.path.insert(0, _REPO)  # driver side
    NEED_PYFILES = True


def _stale(zipp: str) -> bool:
    """True when the zip is missing or older than any package source."""
    if not os.path.exists(zipp):
        return True
    built = os.path.getmtime(zipp)
    return any(
        os.path.getmtime(os.path.join(d, f)) > built
        for d, _dirs, files in os.walk(os.path.join(_REPO, "kmertools_spark"))
        for f in files
        if f.endswith(".py")
    )


def ensure_executors(spark) -> None:
    """Ship the packaged zip to executors when not already importable,
    rebuilding it first when a source file is newer: executors would
    otherwise run the code of the last build."""
    if not NEED_PYFILES:
        return
    zipp = os.path.join(_REPO, "dist", "kmertools_spark.zip")
    if _stale(zipp):
        import subprocess

        subprocess.run(
            [sys.executable, os.path.join(_REPO, "jobs", "package.py")],
            check=True,
            stdout=subprocess.DEVNULL,  # the job's stdout is its JSON summary
        )
    spark.sparkContext.addPyFile(zipp)
