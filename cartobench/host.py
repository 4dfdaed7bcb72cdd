"""Host fingerprint and process memory, recorded with every run.

The calibration kernels are frozen: their timings are only comparable
across records if they never change. They are recorded, not gated, so a
reader can tell host drift from a code change.
"""

from __future__ import annotations

import os
import statistics
import time

PINNED_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")


def nproc() -> int:
    """Cores this process may run on (the run pins itself to half the
    host's)."""
    return len(os.sched_getaffinity(0))


def numpy_calibration() -> float:
    """Median of 5 timings of a fixed single-thread numpy kernel (s)."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64)
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(10):
            (np.sqrt(a) * a).sum()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def spark_calibration(spark) -> float:
    """Median of 3 timings of a fixed Spark aggregation on every task
    thread (s)."""
    par = spark.sparkContext.defaultParallelism

    def run():
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, par).selectExpr(
            "sum(id % 7 + id % 13) AS s").collect()
        return time.perf_counter() - t0

    run()
    return statistics.median(run() for _ in range(3))


def fingerprint(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "cpus_pinned": nproc(),
        "env": {k: os.environ.get(k) for k in PINNED_ENV},
        "calib_numpy_s": numpy_calibration(),
        "calib_spark_s": spark_calibration(spark),
    }


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise LookupError(f"no VmHWM for pid {pid}")
