"""Process environment, Spark session lifecycle and set-up timing shared
by the workloads.

The engine's own session factory (`fuse_query_spark.session.get_spark`)
builds every session; the benchmark only sets what that factory reads
from the environment, plus launch options it leaves open.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import measure

def driver_memory_gb() -> int:
    """A quarter of physical memory, capped at 4 GiB: the factory's own
    default (48g) assumes a much larger machine."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def configure(root: str, work: str) -> dict:
    """Point Spark, the JVM and Python workers at the checkout, and
    return the launch settings for the result record."""
    cpus = len(os.sched_getaffinity(0))
    mem = f"{driver_memory_gb()}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        # Python workers import fuse_query_spark by name
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p and p != root]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # keep every job and stage of a run in the status store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    if root not in sys.path:
        sys.path.insert(0, root)
    return {"cpus": cpus, "driver_memory": mem, "pythonpath": env["PYTHONPATH"]}


def new_session():
    from fuse_query_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def since_process_start() -> float:
    return time.time() - measure.process_start_epoch(os.getpid())


def start_window(spark) -> None:
    """Start a timed window from a collected heap on both sides, with
    the peak-memory marks reset so they cover the window only."""
    import gc

    gc.collect()
    spark._jvm.System.gc()
    for pid in (os.getpid(), measure.jvm_pid(spark)):
        measure.reset_peak_rss(pid)


def peak_rss(spark) -> dict:
    """Peak resident memory (MiB) of the Python driver process and of
    the JVM. The JVM's figure follows how far G1 happened to grow the
    heap (1.3-1.9 GiB for the same curation run), so driver_peak_rss_mb
    is the Python driver's alone and the JVM's goes to the detail
    record."""
    return {"python": measure.peak_rss_mb(os.getpid()),
            "jvm": measure.peak_rss_mb(measure.jvm_pid(spark))}


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
