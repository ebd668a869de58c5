"""Run stamp: what the box and the JVM looked like around a run.

Diagnostics only.  Nothing here scales or corrects a metric; the stamp
lets a contended or oddly configured run be told apart from a change in
the program without running it again."""

from __future__ import annotations

import gc
import os
import time

# Iterations of the fixed CPU probe: about half a second of one core, to
# keep the probe's share of the benchmark's time budget small.
_PROBE_ITERS = 8_000_000


def cpu_probe() -> float:
    """Seconds taken by a fixed single-threaded loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(_PROBE_ITERS):
        acc += i & 7
    if acc < 0:  # keeps the loop from being judged dead
        raise AssertionError
    return time.perf_counter() - t


def jvm_gc(spark) -> dict:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return {
        "gc_count": sum(int(b.getCollectionCount()) for b in beans),
        "gc_time_ms": sum(int(b.getCollectionTime()) for b in beans),
    }


def retained_heap_mb(spark) -> float:
    """Driver heap in use after forced collections, in MB.  Python is
    collected first: a dead Python handle pins its JVM object until py4j
    hears it is gone."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 1e6


def _where(path: str, root: str) -> dict:
    return {
        "path": os.path.relpath(path, root),
        "same_device_as_checkout": os.stat(path).st_dev == os.stat(root).st_dev,
    }


def box_stamp() -> dict:
    """The part of the stamp that needs no JVM."""
    return {
        "cpu_count": os.cpu_count(),
        "cpu_affinity": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),  # as inherited
        "loadavg": list(os.getloadavg()),
    }


def spark_stamp(spark, root: str, local_dir: str, checkpoint_dir: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "local_dir": _where(local_dir, root),
        "checkpoint_dir": _where(checkpoint_dir, root),
    }
