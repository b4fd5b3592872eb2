"""System tables (reference: datasources/system/*.rs) as DataFrame
factories, built at query time from the engine's catalog/settings —
the same design the reference uses (SHOW is rewritten onto them,
plan_parser.rs:105-127).

Every table is a local relation of rows the driver holds
(sources.tables.local_rows), so reading one submits no Spark job and
needs no task slot. That is an availability property: SHOW
PROCESSLIST and KILL QUERY must answer while the pool is saturated by
the query being inspected or killed.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from fuse_query_spark.sources.tables import local_rows


class StatementRecord(NamedTuple):
    """One executed statement, as the engine records it on exit; the
    single source of system.query_log and system.tracing rows."""

    query_id: int
    query: str
    state: str
    duration_ms: float
    event_time: str


def tables_table(spark: SparkSession, catalog) -> DataFrame:
    """system.tables: (database, name, engine) — tables_table.rs:21."""
    rows = [
        (db, name, tdef.engine)
        for db, tables in catalog.databases.items()
        for name, tdef in tables.items()
    ]
    rows += [("system", n, "SystemTables") for n in SYSTEM_TABLE_NAMES]
    return local_rows(spark, rows, "database STRING, name STRING, engine STRING")


def columns_table(spark: SparkSession, catalog) -> DataFrame:
    """system.columns: (database, table, name, type, position,
    is_partition_key) — extension past the reference's system set
    (ClickHouse-style), driven by the declared reader schemas so it
    reflects ALTER TABLE evolution without touching data files."""
    rows = []
    for db, tables in catalog.databases.items():
        for tname, tdef in tables.items():
            if tdef.schema is None:
                continue
            for pos, f in enumerate(tdef.schema.fields):
                rows.append(
                    (
                        db,
                        tname,
                        f.name,
                        f.dataType.simpleString(),
                        pos,
                        f.name in (tdef.partition_by or ()),
                    )
                )
    schema = (
        "database STRING, table STRING, name STRING, type STRING,"
        " position INT, is_partition_key BOOLEAN"
    )
    return local_rows(spark, rows, schema)


_QUERY_LOG_SCHEMA = (
    "query_id LONG, query STRING, state STRING, duration_ms DOUBLE,"
    " event_time STRING"
)


def query_log_table(spark: SparkSession, records) -> DataFrame:
    """system.query_log: typed completed-statement history (query_id,
    query, state, duration_ms, event_time) — ClickHouse-style extension
    past the reference's system set. list() snapshots the engine's
    deque against concurrent appends."""
    return local_rows(spark, list(records), _QUERY_LOG_SCHEMA)


def databases_table(spark: SparkSession, catalog) -> DataFrame:
    """system.databases: (name) — databases_table.rs:21."""
    rows = [(db,) for db in sorted(catalog.databases)] + [("system",)]
    return local_rows(spark, rows, "name STRING")


def functions_table(spark: SparkSession) -> DataFrame:
    """system.functions: (name, is_aggregate) — functions_table.rs:23."""
    from fuse_query_spark.functions.registry import all_function_rows

    return local_rows(spark, all_function_rows(), "name STRING, is_aggregate BOOLEAN")


def settings_table(spark: SparkSession, settings: dict) -> DataFrame:
    """system.settings: (name, value, default_value, description) —
    settings_table.rs:21."""
    rows = [(k, str(v.value), str(v.default), v.description) for k, v in settings.items()]
    return local_rows(
        spark, rows, "name STRING, value STRING, default_value STRING, description STRING"
    )


def one_table(spark: SparkSession) -> DataFrame:
    """system.one: single row dummy=0 — one_table.rs:21-88."""
    return local_rows(spark, [(0,)], "dummy TINYINT")


_PROCESSES_SCHEMA = "id STRING, host STRING, state STRING, database STRING, extra_info STRING"


def processes_table(
    spark: SparkSession, current_db: str = "default", statements: dict | None = None
) -> DataFrame:
    """system.processes — LIVE analogue of processes_table.rs:27-41
    (column parity: id/host/state/database/extra_info, all Utf8). The
    reference threads rows-read progress into each ProcessInfo via
    stream_progress.rs:18; Spark's equivalent live source is the
    SparkContext status tracker, so this emits one row per statement
    currently inside Engine.sql() (id, query text, elapsed) plus one
    row per ACTIVE Spark job with stage/task progress in extra_info —
    queryable from another thread while a query runs."""
    import time as _time

    rows = []
    # Snapshot: other threads' Engine._execute mutates this dict while
    # we iterate (concurrent polling is the feature); list() of items
    # is atomic under the GIL.
    for pid, info in list((statements or {}).items()):
        elapsed = _time.time() - info["start"]
        rows.append(
            (
                str(pid),
                "localhost",
                info.get("state", "Executing"),
                info.get("database", current_db),
                f"query={info.get('query', '')[:120]} elapsed={elapsed:.3f}s",
            )
        )
    tracker = spark.sparkContext.statusTracker()
    for jid in tracker.getActiveJobsIds():
        jinfo = tracker.getJobInfo(jid)
        if jinfo is None:  # job finished between the two calls
            continue
        total = done = active = 0
        for sid in jinfo.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                total += sinfo.numTasks
                done += sinfo.numCompletedTasks
                active += sinfo.numActiveTasks
        rows.append(
            (
                f"job-{jid}",
                "localhost",
                str(jinfo.status),
                current_db,
                f"stages={len(jinfo.stageIds)} tasks={done}/{total} active={active}",
            )
        )
    return local_rows(spark, rows, _PROCESSES_SCHEMA)


def contributors_table(spark: SparkSession) -> DataFrame:
    return local_rows(spark, [("fuse-query-spark",)], "name STRING")


def clusters_table(spark: SparkSession, cluster=None) -> DataFrame:
    """Cluster topology (clusters_table.rs reads the Cluster registry):
    the local Spark app plus any nodes registered through the HTTP API
    (/v1/cluster/add — servers/http_api.py). Spark owns EXECUTION
    topology; this is the reference's membership metadata surface."""
    rows = [(spark.sparkContext.applicationId, "local", 0)]
    if cluster is not None:
        rows += [(n["name"], n["address"], n["priority"]) for n in cluster.get_nodes()]
    return local_rows(spark, rows, "name STRING, address STRING, priority INT")


_TRACING_SCHEMA = (
    "v BIGINT, name STRING, msg STRING, level TINYINT, hostname STRING, pid BIGINT, time STRING"
)


def tracing_table(spark: SparkSession, records) -> DataFrame:
    """system.tracing — the executed-statement history rendered as
    bunyan-style log lines, field-parity with tracing_table.rs:33-41
    (v/name/msg/level/hostname/pid/time; the reference's sample row is
    a per-operator cost span). Level 20/50 follows the sample line's
    bunyan numbering (20=debug, 50=error)."""
    rows = [
        (
            0,
            "fuse-query-spark",
            f"{r.state} in {r.duration_ms:.3f}ms: {r.query[:200]}",
            50 if r.state == "Error" else 20,
            "localhost",
            r.query_id,
            r.event_time,
        )
        for r in list(records)
    ]
    return local_rows(spark, rows, _TRACING_SCHEMA)


def metrics_table(spark: SparkSession) -> DataFrame:
    """system.metrics: (metric, value) — the SQL view of the
    process-wide metrics registry the wire servers record into
    (servers/metrics.py; the reference exposes the same counters only
    through its Prometheus endpoint, metric_service.rs:73-87 — a SQL
    surface for them is the natural system-table extension).
    Histograms surface as <name>_sum / <name>_count rows."""
    from fuse_query_spark.servers.metrics import METRICS

    return local_rows(spark, METRICS.snapshot(), "metric STRING, value DOUBLE")


def parts_table(spark: SparkSession, catalog) -> DataFrame:
    """system.parts — file-level storage metadata for file-engine
    tables, one row per partition leaf: (database, name, partition,
    files, bytes, rows). ClickHouse's system.parts analogue at parquet
    granularity (extension — the reference exposes no parts table).

    Reads directory listings and parquet FOOTERS only (num_rows is
    footer metadata), never data pages; on a real deployment this is a
    metastore/manifest listing. `rows` is NULL for non-parquet engines
    (CSV/JSON carry no row count without a scan — a listing table must
    never scan). Pairs with OPTIMIZE TABLE: query system.parts for
    partitions whose file count warrants compaction, then rewrite only
    those subtrees."""
    out = []
    for db in sorted(catalog.databases):
        tables = catalog.databases[db]
        for name in sorted(tables):
            out += [(db, name, *part) for part in tables[name].storage.parts(tables[name])]
    return local_rows(
        spark,
        out,
        "database STRING, name STRING, partition STRING, files BIGINT, bytes BIGINT, rows BIGINT",
    )


SYSTEM_TABLE_NAMES = (
    "tables",
    "databases",
    "functions",
    "settings",
    "one",
    "processes",
    "contributors",
    "clusters",
    "tracing",
    "metrics",
    "parts",
    "columns",
    "query_log",
)
