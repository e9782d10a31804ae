"""Environment stamp, peak memory and the CPU calibration probe."""

from __future__ import annotations

import os
import platform
import time


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    """Pid of the JVM that py4j's gateway launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        exe = f.read().split(b"\0", 1)[0]
    if not exe.endswith(b"java"):
        raise ValueError(f"gateway child {pid} is not a JVM: {exe!r}")
    return pid


def peak_rss_mb(spark) -> float:
    """Python's VmHWM plus the JVM's VmHWM, in MB."""
    return (vm_hwm_kb() + vm_hwm_kb(jvm_pid(spark))) / 1024.0


def calibration_s(spark) -> float:
    """Wall time of a fixed CPU-bound Spark job: sum(pmod(xxhash64(id)))
    over a range, the probe of the repository's ``bench.py`` at a fifth of
    its size.  It flags VM speed drift between two sets of runs and is
    never used to rescale a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(20_000_000).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000)))
    ).collect()
    return time.perf_counter() - t0


def stamp(spark, seed: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "spark_master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "seed": seed,
    }
