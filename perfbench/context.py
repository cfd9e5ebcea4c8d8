"""Run context stored with every result: cores, load, an MD5
throughput calibration, driver memory, versions; and the driver's
peak resident set size."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import time
from typing import Dict

CALIBRATION_BUF = 256 * 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def md5_gbps(seconds: float = 0.3) -> float:
    """Single-core MD5 throughput on 256 KiB buffers (the tile canvas
    size), in GB/s: the floor of the pyramid's hashing, and a measure
    of the speed a shared machine gives this one at the moment.  The
    median of three samples."""
    buf = os.urandom(CALIBRATION_BUF)
    rates = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < seconds / 3:
            hashlib.md5(buf).digest()
            n += 1
        rates.append(n * CALIBRATION_BUF / (time.perf_counter() - t0) / 1e9)
    return statistics.median(rates)


def reset_peak_rss() -> bool:
    """Reset this process's RSS high-water mark (Linux clear_refs 5)."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def record(spark, driver_memory: str) -> Dict:
    import pyspark
    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "spark_master": sc.master,
        "driver_memory": driver_memory,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
    }
