"""SparkSession factory with OLAP-tuned defaults.

The reference engine sizes its morsel parallelism from ``max_threads``
(reference: fusequery/query/src/sessions/settings.rs:21) and executes
10k-row vectorized blocks. On Spark the equivalent knobs are shuffle
partitions, AQE, and parquet scan split sizes — set here once.

At 100 TB these defaults still apply: AQE coalesces post-shuffle
partitions to target sizes, skew-join handling splits hot partitions,
and broadcast threshold keeps dimension tables out of shuffles.
"""

from __future__ import annotations

import logging
import os

from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession, cpus: int | None = None) -> SparkSession:
    """Apply runtime-settable tuning to an existing session.

    Used both by our own factory and by entry points that receive a
    driver-owned SparkSession: these confs are all runtime-mutable.
    Static confs are the factory's alone: among them
    `spark.python.sql.dataFrameDebugging.enabled`, which get_spark
    turns off and a driver-owned session keeps as its driver set it.
    """
    cpus = cpus or default_parallelism()
    conf = {
        # UTC so timestamp results compare bit-exactly against the
        # DuckDB oracle (duckdb timestamps are UTC-naive).
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # local[N]: one shuffle partition per core; AQE coalesces further.
        # On a real cluster this would be ~2-3x total executor cores.
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Runtime bloom-filter join pruning: when one side of a
        # shuffle join carries a selective filter, Catalyst builds a
        # bloom filter from it and pushes might_contain() onto the
        # other side's SCAN — rows are dropped before the shuffle.
        # Size thresholds (creation ≤10 MB, application scan ≥10 GB)
        # keep it a pure at-scale optimization: it never rewrites the
        # small local test plans, but prunes the lineitem⋈orders /
        # lineitem⋈part fact joins at the 100 TB target
        # (plan-gated in tests/test_plans.py with lowered thresholds).
        # Note: keys derived through explode/transform (the shingle
        # joins) have no scan lineage, so those use the explicit
        # bucket prefilter in operators/sampling.py instead.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # driver may have locked some confs; best-effort
    return spark


def get_spark(app_name: str = "fuse-query-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # wide aggregates (32-accumulator SimHash votes) stay in
        # whole-stage codegen instead of falling back to interpretation
        .config("spark.sql.codegen.maxFields", "200")
        # dim tables (region/nation/customer at test SFs) broadcast freely
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # no DataFrame call-site capture: with it on, every Column
        # method walks the Python stack and makes py4j calls (~1.6 ms),
        # and the first capture imports IPython (+22 MB resident)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # PySpark logs every captured SQL/DataFrame exception's message and
    # whole Java stack (~8 KB of JSON) at ERROR through these two
    # loggers; the exception still reaches the caller, so a wire client
    # sending bad SQL does not fill the server log
    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        PySparkLogger.getLogger(name).setLevel(logging.CRITICAL)
    return tune(spark, cpus)
