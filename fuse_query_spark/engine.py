"""Engine: session + catalog + settings + SQL interpreter dispatch —
the reference's query lifecycle (SURVEY §3) re-expressed over Spark.

Statement routing mirrors InterpreterFactory (interpreters/
interpreter_factory.rs:25): DDL/utility statements are read by the
statement grammar (dialect.lexer.Cursor) and interpreted directly
against the engine catalog; SELECTs go through the dialect rewriter
into spark.sql, where Catalyst plays the role of the reference's
4-pass optimizer + pipeline builder.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from functools import partialmethod

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType, _parse_datatype_string

from fuse_query_spark import session as _session
from fuse_query_spark.cluster import ClusterRegistry
from fuse_query_spark.dialect.lexer import (
    Cursor,
    mask,
    quote,
    quote_name,
    split,
    string_value,
    strip_comments,
    table_refs,
)
from fuse_query_spark.dialect.rewriter import DialectContext, rewrite_select
from fuse_query_spark.errors import (
    BadArguments,
    BadDataValueType,
    DatabaseAlreadyExists,
    QueryAborted,
    SyntaxError_,
    TableAlreadyExists,
    UnknownColumn,
    UnknownDatabase,
    UnknownTable,
    UnsupportedStatement,
)
from fuse_query_spark.functions.registry import register_udfs
from fuse_query_spark.results import collect_arrow, preload
from fuse_query_spark.sources import snapshots, system_tables as systbl
from fuse_query_spark.sources.storage import (
    PARTITIONABLE,
    Mutation,
    Storage,
    _dataset,
    _jclass,
    parquet_schema,
    partition_columns,
    partition_names,
    partition_path,
    partition_prefix,
    storage_for,
)
from fuse_query_spark.sources.tables import local_rows

# SQL/ClickHouse type name → Spark SQL type (sql_common.rs:20-55)
_COL_TYPES = {
    "int": "int",
    "integer": "int",
    "tinyint": "tinyint",
    "smallint": "smallint",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "datetime": "timestamp",
    "string": "string",
    "utf8": "string",
    "varchar": "string",  # bare VARCHAR (09_0000: `b varchar`)
    "text": "string",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "uint64": "bigint",
    "float32": "float",
    "float64": "double",
}

# Catalyst tree patterns of the logical operators that require a
# distribution of their input (aggregation, DISTINCT, window, sort,
# joins, INTERSECT and EXCEPT): a plan with none of them plans no
# Exchange. _WIDE holds them as one Scala Seq per JVM view.
_WIDE_PATTERNS = ("AGGREGATE", "DISTINCT_LIKE", "WINDOW", "SORT", "JOIN", "INTERSECT", "EXCEPT")
_WIDE: dict = {}


def _one_partition(df: DataFrame) -> DataFrame:
    """`df` with every leaf of its analyzed plan read as one partition
    (Repartition(1, shuffle=false), planned as a Coalesce) when the
    plan has an operator that requires a distribution and its leaves'
    Catalyst size estimates add up to at most
    spark.sql.files.openCostInBytes: Spark's own size for an input not
    worth a task of its own (SCALE.md "Single-partition statements").
    Each operator then sees SinglePartition children and
    EnsureRequirements adds no Exchange, so the statement runs as one
    task of one job. Otherwise `df` itself. The check costs a narrow
    plan three py4j calls. The new plan keeps the analyzed mark of its
    subtrees, so it is not analyzed a second time."""
    spark = df.sparkSession
    jvm = spark._jvm
    if jvm not in _WIDE:
        patterns = getattr(jvm.org.apache.spark.sql.catalyst.trees, "TreePattern$").__getattr__("MODULE$")
        seq = [getattr(patterns, name)() for name in _WIDE_PATTERNS]
        _WIDE[jvm] = _jclass(spark, "scala.jdk.javaapi.CollectionConverters").asScala(seq).toList()
    plan = df._jdf.queryExecution().analyzed()
    if not plan.containsAnyPattern(_WIDE[jvm]):
        return df
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    bound = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    if sum(leaf.stats().sizeInBytes() for leaf in leaves) > bound:
        return df
    return coalesce_leaves(spark, plan, leaves)


def coalesce_leaves(spark: SparkSession, plan, leaves: list) -> DataFrame:
    """The DataFrame of the analyzed JVM `plan` with each of its
    `leaves` read as one partition, whatever their size (the rule is
    _one_partition's; tools/single_partition_sweep.py measures it on
    both sides of the bound)."""
    coalesce = _jclass(spark, "org.apache.spark.sql.catalyst.plans.logical.Repartition")
    wrapped = _jclass(spark, "java.util.IdentityHashMap")()
    for leaf in leaves:
        wrapped.put(leaf, coalesce(1, False, leaf))
    # a Scala Map is a PartialFunction, so transformUp swaps each leaf
    # for its wrapper; keyed by identity, no node (nor a LocalRelation's
    # rows) is hashed
    plan = plan.transformUp(_jclass(spark, "scala.jdk.javaapi.CollectionConverters").asScala(wrapped))
    plan.setAnalyzed()
    return _dataset(spark, plan)


@dataclass
class Setting:
    value: object
    default: object
    description: str = ""


@dataclass
class TableDef:
    name: str
    database: str
    engine: str  # the ENGINE name, as shown; behaviour is `storage`'s
    schema: StructType
    location: str | None = None
    data: DataFrame | None = None  # Memory engine
    view_sql: str | None = None  # View engine: the stored SELECT
    partition_by: tuple[str, ...] = ()  # file engines: hive-style layout
    # file and Snapshot engines: (key, DataFrame, pending) of the last
    # resolved relation, reused while its key is unchanged; pending: a
    # small file table not yet made driver-resident (sources/storage.py)
    relation: tuple | None = field(default=None, repr=False, compare=False)
    storage: Storage = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        self.storage = storage_for(self.engine)


@dataclass
class Catalog:
    """Flat two-level namespace db.table (datasource.rs:29-52: databases
    `system`, `local`, `default` registered at startup). `remote_dbs`
    marks databases backed by an attached store (remote_database.rs:
    engine() == "remote"); their tables live store-side."""

    databases: dict[str, dict[str, TableDef]] = field(
        default_factory=lambda: {"default": {}, "local": {}}
    )
    remote_dbs: set[str] = field(default_factory=set)

    def db(self, name: str) -> dict[str, TableDef]:
        if name == "system":
            return {}
        if name not in self.databases:
            raise UnknownDatabase(f"Unknown database: '{name}'")
        return self.databases[name]


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or _session.get_spark("fuse-query-spark-engine")
        _session.tune(self.spark)
        register_udfs(self.spark)
        preload(self.spark)
        self.catalog = Catalog()
        self.current_db = "default"
        self.store = None  # StoreClient once attach_store() is called
        # live statements by pid, for system.processes
        # (processes_table.rs:27 keeps a ProcessInfo per running query)
        self._live: dict[str, dict] = {}
        # one StatementRecord per executed statement, for
        # system.query_log and system.tracing
        self._statements: collections.deque = collections.deque(maxlen=4096)
        # cluster membership (clusters/cluster.rs:23-27), mutated by the
        # HTTP API and read by system.clusters
        self.cluster = ClusterRegistry()
        # per thread: the flight_stream() temp views a Flight stage
        # action drops after its plan ran, and whether the thread is in
        # one (only there do refs resolve to gRPC connections)
        self._fs_views_tl = threading.local()
        self._stage_action_tl = threading.local()
        # serializes the session-global groupByOrdinal toggle around
        # statement analysis (see _analyze); execution stays concurrent
        self._ordinal_lock = threading.Lock()
        self._view_local = threading.local()  # per-thread view-expansion stack
        # per thread: the pid of the statement executing, so deep paths
        # (the distributed gather's abort check) see their own KILL
        self._stmt_local = threading.local()
        self.settings: dict[str, Setting] = {
            # reference defaults: sessions/settings.rs:20-34
            "max_threads": Setting(
                _session.default_parallelism(), _session.default_parallelism(),
                "maps to spark.sql.shuffle.partitions",
            ),
            "max_block_size": Setting(10000, 10000, "no-op: Spark sizes batches internally"),
            # the standalone-vs-cluster scatter thresholds
            # (optimizer_scatters.rs:150-210): a clustered engine fans a
            # statement out only when its source meets either bound
            "min_distributed_rows": Setting(
                100_000_000, 100_000_000,
                "distribute only sources with at least this many rows",
            ),
            "min_distributed_bytes": Setting(
                500 * 1024 * 1024, 500 * 1024 * 1024,
                "distribute only sources with at least this many bytes",
            ),
        }

    # ---------- public API ----------

    def attach_store(self, url: str) -> None:
        """Attach a remote store (sources/remote_store.FuseStore), as the
        reference registers fusestore's databases at session build
        (datasource.rs register_remote_database): every store database
        becomes a remote-engine catalog entry, and CREATE DATABASE
        without `ENGINE = Local` lands store-side from now on. grpc://
        urls attach over Arrow Flight (remote_store_flight.py), http://
        over HTTP/JSON; the client surface is the same."""
        if url.startswith("grpc://"):
            from fuse_query_spark.sources.remote_store_flight import StoreFlightClient

            self.store = StoreFlightClient(url)
        else:
            from fuse_query_spark.sources.remote_store import StoreClient

            self.store = StoreClient(url)
        for db, tables in self.store.databases().items():
            self.catalog.databases.setdefault(db, {})
            self.catalog.remote_dbs.add(db)
            for table, schema_json in tables.items():
                self.catalog.databases[db][table] = TableDef(
                    name=table,
                    database=db,
                    engine="remote",
                    schema=StructType.fromJson(json.loads(schema_json)),
                )

    def attach_parquet_dir(self, sf_dir: str, db: str = "default") -> None:
        """Attach every parquet table in a directory as a Parquet-engine
        catalog table (the reference's `CREATE TABLE … ENGINE = Parquet
        location = …` shape, batched). Each schema comes from the file's
        footer, read on the driver: attaching submits no Spark job."""
        from fuse_query_spark.sources.tables import TABLES

        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            self.catalog.db(db)[name] = TableDef(
                name=name,
                database=db,
                engine="Parquet",
                schema=parquet_schema(path, table_name=name),
                location=path,
            )

    def sql(self, text: str) -> DataFrame | None:
        """Execute one or more ';'-separated statements; returns the
        last statement's DataFrame (or None for DDL)."""
        result = None
        for stmt in split(text, ";"):
            if strip_comments(stmt).strip():
                result = self._execute(stmt)
        return result

    def sql_collect(self, text: str):
        """Execute statements and collect the final result inside the
        statement scope — the serving path: the collect runs while the
        pid is live in system.processes, under the cancellable job group
        (KILL QUERY reaches it), and its time is traced. Returns
        (DataFrame | None, pyarrow.Table | None)."""
        result = None
        for stmt in split(text, ";"):
            if strip_comments(stmt).strip():
                result = self._execute(stmt, eager=True)
        return result if isinstance(result, tuple) else (result, None)

    # ---------- dispatch ----------

    _pid_counter = itertools.count(1)

    def _execute(self, stmt: str, eager: bool = False):
        """Dispatch one statement, listed in system.processes while it
        runs, inside a cancellable Spark job group (the AbortStream/KILL
        analogue, stream_abort.rs:19-26), recorded for system.tracing
        on exit (tracing_table.rs:26)."""
        s = strip_comments(stmt).strip()
        pid = str(next(Engine._pid_counter))
        self._live[pid] = {
            "query": s,
            "start": time.time(),
            "state": "Executing",
            "database": self.current_db,
        }
        # job group is thread-local on the SparkContext, so concurrent
        # engine threads each get their own cancellation scope;
        # interruptOnCancel interrupts running task threads too
        self.spark.sparkContext.setJobGroup(f"fq-{pid}", s[:200], interruptOnCancel=True)
        self._stmt_local.pid = pid
        t0 = time.time()
        state = "Finished"
        try:
            out = self._dispatch(s)
            if eager and isinstance(out, DataFrame):
                # collect inside the statement scope (see sql_collect).
                # A KILL that lands before the collect submits a job
                # cancels nothing, so the abort flag is checked on both
                # sides; cancel()'s re-cancel loop covers the jobs between
                if self._live.get(pid, {}).get("state") == "Aborted":
                    raise QueryAborted(f"query {pid} killed")
                table = collect_arrow(out)
                if self._live.get(pid, {}).get("state") == "Aborted":
                    raise QueryAborted(f"query {pid} killed")
                return out, table
            return (out, None) if eager else out
        except BaseException:
            info = self._live.get(pid) or {}
            state = "Aborted" if info.get("state") == "Aborted" else "Error"
            raise
        finally:
            # PySpark has no clearJobGroup; resetting via setJobGroup
            # with an empty id detaches subsequent jobs on this thread
            self.spark.sparkContext.setJobGroup("", "")
            self._stmt_local.pid = None
            self._live.pop(pid, None)
            self._trace_record(pid, s, time.time() - t0, state)

    def _trace_record(self, pid: str, query: str, dur_s: float, state: str) -> None:
        """Append the statement's record to the history that
        system.query_log and system.tracing read."""
        from datetime import datetime, timezone

        self._statements.append(
            systbl.StatementRecord(
                int(pid),
                query,
                state,
                round(dur_s * 1000, 3),
                datetime.now(timezone.utc).isoformat(),
            )
        )

    def cancel(self, pid: str) -> bool:
        """Cancel a running statement by its system.processes id — KILL
        QUERY (stream_abort.rs:19-26). Returns True if the pid was live;
        the executing thread's action raises SparkException. It cancels
        work executing inside the engine (INSERT … SELECT writes,
        sleep(), eager collects); a SELECT returned as a lazy DataFrame
        and collected later runs outside any statement."""
        info = self._live.get(pid)
        if info is None:
            return False
        info["state"] = "Aborted"
        self.spark.sparkContext.cancelJobGroup(f"fq-{pid}")

        # cancelJobGroup cancels only running jobs: re-issue it while
        # the pid stays live, so jobs that start later die too
        def _reap():
            deadline = time.time() + 60
            while pid in self._live and time.time() < deadline:
                time.sleep(0.1)
                try:
                    self.spark.sparkContext.cancelJobGroup(f"fq-{pid}")
                except Exception:
                    return

        threading.Thread(target=_reap, name=f"fq-kill-{pid}", daemon=True).start()
        return True

    # statement kinds by their leading keywords; each handler reads the
    # rest of its statement through the cursor (dialect.lexer.Cursor)
    _STATEMENTS = (
        (("CREATE", "TABLE"), "_create_table"),
        (("CREATE", "VIEW"), "_create_view"),
        (("CREATE", "OR", "REPLACE", "VIEW"), "_replace_view"),
        (("CREATE", "MATERIALIZED", "VIEW"), "_create_materialized_view"),
        (("CREATE", "DATABASE"), "_create_database"),
        (("DROP", "TABLE"), "_drop_table"),
        (("DROP", "VIEW"), "_drop_view"),
        (("DROP", "DATABASE"), "_drop_database"),
        (("REFRESH", "MATERIALIZED", "VIEW"), "_refresh_materialized_view"),
        (("USE",), "_use"),
        (("DESCRIBE",), "_describe"),
        (("DESC",), "_describe"),
        (("SHOW",), "_show"),
        (("SET",), "_set"),
        (("INSERT", "INTO"), "_insert"),
        (("INSERT", "OVERWRITE"), "_insert_overwrite"),
        (("ALTER", "TABLE"), "_alter_table"),
        (("RENAME", "TABLE"), "_rename_table"),
        (("TRUNCATE", "TABLE"), "_truncate"),
        (("ROLLBACK", "TABLE"), "_rollback_table"),
        (("VACUUM",), "_vacuum"),
        (("OPTIMIZE", "TABLE"), "_optimize"),
        (("DELETE", "FROM"), "_delete"),
        (("UPDATE",), "_update"),
        (("EXPLAIN",), "_explain"),
        (("KILL", "QUERY"), "_kill"),
    )

    def _dispatch(self, s: str):
        """A query goes to _select as written; every other statement is
        read by the handler its leading keywords name. A known leading
        keyword with a statement that does not fit raises SyntaxError_
        (code 1), an unknown one UnsupportedStatement (code 5)."""
        c = Cursor(s)
        if c.at("SELECT") or c.at("WITH") or c.at("("):
            return self._select(s)
        for words, handler in self._STATEMENTS:
            if c.accept(*words):
                return getattr(self, handler)(c)
        known = [words for words, _h in self._STATEMENTS if c.at(words[0])]
        if not known:
            raise UnsupportedStatement(f"Unsupported statement: {s[:60]}")
        c.accept(known[0][0])
        raise c.error(" or ".join(" ".join(words[1:]) for words in known))

    def _rollback_table(self, c: Cursor) -> None:
        """ROLLBACK TABLE t TO VERSION n — restore an old snapshot's
        file list as a NEW version (history preserved; the rollback is
        itself in SHOW SNAPSHOTS and can be rolled back)."""
        ref = c.table()
        c.expect("TO", "VERSION")
        version = c.number()
        c.end()
        tdef = self.resolve_table(ref)
        snapshots.snapshot_rollback(tdef.storage.versions(tdef, "ROLLBACK TABLE"), version)
        return None

    def _vacuum(self, c: Cursor) -> DataFrame:
        """VACUUM t [KEEP n] — reclaim data files referenced by none of
        the n (default 1) newest snapshots. Returns the deleted file
        list; time travel beyond the kept window is gone (the
        documented retention trade)."""
        ref = c.table()
        keep = c.number() if c.accept("KEEP") else 1
        c.end()
        tdef = self.resolve_table(ref)
        deleted = snapshots.snapshot_vacuum(tdef.storage.versions(tdef, "VACUUM"), keep)
        return local_rows(self.spark, [(f,) for f in deleted], "deleted_file STRING")

    def _truncate(self, c: Cursor) -> None:
        """TRUNCATE TABLE — extension (sources/storage.py)."""
        tdef = self._whole_table(c)
        tdef.storage.truncate(self, tdef)
        return None

    def _whole_table(self, c: Cursor) -> TableDef:
        """The table named by the rest of the statement."""
        ref = c.table()
        c.end()
        return self.resolve_table(ref)

    @staticmethod
    def _partition_spec(c: Cursor) -> list[tuple[str, str]]:
        """`(col='v'[, col2=3])` as (column, value) pairs: a string
        literal's value, any other value as written."""
        pairs = []
        for part in split(c.group(), ","):
            p = Cursor(part)
            col = p.name()
            p.expect("=")
            raw = p.rest()
            value = string_value(raw)
            pairs.append((col, raw if value is None else value))
        return pairs

    def _alter_table(self, c: Cursor):
        """ALTER TABLE t DROP PARTITION (col='v'[, …]) — partition
        retention: removing one directory subtree, no rewrite of live
        data; the spec names a PREFIX of the partition columns.

        ALTER TABLE t ADD COLUMN / DROP COLUMN / RENAME TO — extension:
        metadata-only schema evolution (readers conform stored files to
        the declared schema), so ADD/DROP touch no data file. DROP of a
        re-added name resurfaces old file data, as in any
        schema-on-read store; partition columns cannot be dropped."""
        import shutil

        ref = c.table()
        if c.accept("DROP", "PARTITION"):
            spec = self._partition_spec(c)
            c.end()
            tdef = self.resolve_table(ref)
            pairs = partition_prefix(tdef, spec)
            if tdef.location:
                target = partition_path(self.spark, tdef, pairs)
                if os.path.isdir(target):
                    shutil.rmtree(target)
            return None
        if c.accept("RENAME", "TO"):
            new = c.table()
            c.end()
            return self._rename(ref, new)
        if c.accept("ADD", "COLUMN"):
            if_not = c.accept("IF", "NOT", "EXISTS")
            col_name = c.name()
            new_field = self._column(col_name, c.rest())
            tdef = self.resolve_table(ref)
            if col_name in tdef.schema.names:
                if if_not:
                    return None
                raise UnsupportedStatement(f"Column already exists: '{col_name}'")
            tdef.schema = StructType(list(tdef.schema.fields) + [new_field])
            tdef.storage.schema_changed(self, tdef)
            return None
        c.expect("DROP", "COLUMN")
        if_exists = c.accept("IF", "EXISTS")
        col_name = c.name()
        c.end()
        tdef = self.resolve_table(ref)
        if col_name not in tdef.schema.names:
            if if_exists:
                return None
            raise UnsupportedStatement(f"Unknown column: '{col_name}'")
        if col_name in (tdef.partition_by or ()):
            raise UnsupportedStatement(f"Cannot drop partition column '{col_name}'")
        if len(tdef.schema.fields) == 1:
            raise UnsupportedStatement("Cannot drop the only column")
        tdef.schema = StructType([f for f in tdef.schema.fields if f.name != col_name])
        tdef.storage.schema_changed(self, tdef)
        return None

    def _rename_table(self, c: Cursor) -> None:
        """RENAME TABLE t TO u — the same as ALTER TABLE t RENAME TO u."""
        old = c.table()
        c.expect("TO")
        new = c.table()
        c.end()
        return self._rename(old, new)

    def _rename(self, old: tuple[str | None, str], new: tuple[str | None, str]) -> None:
        tdef = self.resolve_table(old)
        new_db, new_table = new[0] or self.current_db, new[1]
        dest = self.catalog.db(new_db)
        if new_table in dest:
            raise UnsupportedStatement(f"Table already exists: '{new_db}.{new_table}'")
        del self.catalog.db(tdef.database)[tdef.name]
        tdef.name, tdef.database = new_table, new_db
        dest[new_table] = tdef
        return None

    def _rewrite(self, tdef: TableDef, ref, verb: str, select: str, keep=None, where=None):
        """Run a DELETE or UPDATE through the table's storage, reading
        the table as a temp view of this statement aliased as the
        statement names it (`t`, or `db__t`: the dialect's `db.t`), so
        SET and WHERE may qualify columns with that name."""
        view = f"__fq_dml_{self._stmt_local.pid}"
        self._table_df(tdef).createOrReplaceTempView(view)
        try:
            source = f"{view} AS {quote_name('__'.join(filter(None, ref)))}"
            tdef.storage.rewrite(self, tdef, Mutation(verb, source, select, keep, where))
        finally:
            self.spark.catalog.dropTempView(view)

    def _delete(self, c: Cursor):
        """DELETE FROM t WHERE pred — extension (the reference has no
        mutations): rows where pred is TRUE go; NULL-pred rows are kept
        (keep = COALESCE(NOT pred, TRUE)). Engines: sources/storage.py."""
        ref = c.table()
        c.expect("WHERE")
        pred = c.rest()
        tdef = self.resolve_table(ref)
        keep = f"COALESCE(NOT ({pred}), TRUE)"
        self._rewrite(tdef, ref, "DELETE from", "*", keep=keep, where=pred)
        return None

    def _update(self, c: Cursor):
        """UPDATE t SET col = expr[, …] [WHERE pred] — extension: rows
        where pred is TRUE get the new values, FALSE and NULL rows keep
        theirs (CASE WHEN pred THEN new ELSE old END). A SET that writes
        a partition column can move rows between leaves, so it is not
        bounded by pred."""
        ref = c.table()
        c.expect("SET")
        assignments = c.upto("WHERE")
        pred = c.rest() if c.accept("WHERE") else None
        sets: dict[str, str] = {}
        for part in split(assignments, ","):
            a = Cursor(part)
            name = a.name()
            a.expect("=")
            sets[name] = a.rest()
        tdef = self.resolve_table(ref)
        for name in sets:
            if name not in tdef.schema.names:
                raise UnknownTable(f"Unknown column in SET: '{name}'")

        def item(col: str) -> str:
            q = quote_name(col)
            if col not in sets:
                return q
            if pred is None:
                return f"({sets[col]}) AS {q}"
            return f"CASE WHEN ({pred}) THEN ({sets[col]}) ELSE {q} END AS {q}"

        proj = ", ".join(item(col) for col in tdef.schema.names)
        moves_rows = any(col in sets for col in tdef.partition_by)
        self._rewrite(tdef, ref, "UPDATE", proj, where=None if moves_rows else pred)
        return None

    def _optimize(self, c: Cursor) -> DataFrame:
        """OPTIMIZE TABLE t [PARTITION (col='v', …)] [FINAL]
        [ZORDER BY (cols)] — small-files compaction (ClickHouse's
        part-merge surface mapped onto file geometry; extension — the
        reference has no OPTIMIZE). Returns one summary row. Every
        INSERT adds a file per partition it touches; with PARTITION the
        unit of rewrite is one subtree, not the whole table."""
        ref = c.table()
        spec = self._partition_spec(c) if c.accept("PARTITION") else None
        c.accept("FINAL")
        zorder = c.names() if c.accept("ZORDER", "BY") else None
        c.end()
        tdef = self.resolve_table(ref)
        return tdef.storage.optimize(self, tdef, spec, zorder)

    def _kill(self, c: Cursor) -> DataFrame:
        """KILL QUERY <id> — cancels the statement with that
        system.processes id via Engine.cancel (the reference aborts
        result streams through AbortStream handles,
        stream_abort.rs:19-26). The id is a number or a string
        literal."""
        qid = c.string() if c.tok is not None and c.tok[0] == "string" else str(c.number())
        c.end()
        killed = self.cancel(qid)
        # LOCAL relation (no Spark job): KILL must work when the pool
        # is saturated by the very query being killed
        return local_rows(
            self.spark,
            [(qid, "killed" if killed else "not_found")],
            "query_id STRING, result STRING",
        )

    # ---------- SELECT ----------

    def _dialect_ctx(self) -> DialectContext:
        return DialectContext(
            current_db=self.current_db,
            known_dbs=tuple(self.catalog.databases),
            system_tables=tuple(self.SYSTEM_TABLES),
        )

    def _resolve_time_travel(self, s: str) -> str:
        """`FROM t VERSION AS OF n` (Snapshot tables): register a temp
        view pinned to manifest vN and substitute it for the clause —
        time travel resolves BEFORE dialect rewriting so the rest of
        the query sees a plain relation. Multiple/ mixed versions of
        the same table in one query work (each pin is its own view).
        Clauses are found in the masked statement (lexer.mask), so a
        literal holding `t VERSION AS OF 1` stays a literal."""
        if not re.search(r"(?i)\bVERSION\s+AS\s+OF\b", s):
            return s
        out, pos, ref = [], 0, None  # ref: (offset, (db, table)) just read
        c = Cursor(s)
        while c.tok is not None:
            if ref is not None and c.accept("VERSION", "AS", "OF"):
                ver = c.number()
                tdef = self.resolve_table(ref[1])
                view = f"{tdef.database}__{tdef.name}__v{ver}"
                snapshots.snapshot_read(
                    self.spark, tdef.storage.versions(tdef, "VERSION AS OF"),
                    version=ver, schema=tdef.schema,
                ).createOrReplaceTempView(view)
                out += [s[pos : ref[0]], view]
                pos, ref = c.pos, None
            elif c.tok[0] in ("word", "ident"):
                start, first = c.tok[1], c.name()
                ref = (start, (None, first))
                if c.accept("."):
                    named = c.tok is not None and c.tok[0] in ("word", "ident")
                    ref = (start, (first, c.name())) if named else None
            else:
                c.take()
                ref = None
        out.append(s[pos:])
        return "".join(out)

    def local_select(self, s: str) -> DataFrame:
        """The LOCAL Catalyst plan for a SELECT, bypassing the
        distributed hook: analysis runs eagerly (names and dtypes are
        resolved), execution does not, and recorded ``sleep()``
        requests are not performed. The distributed planner analyzes
        its probe partial this way. Analysis errors propagate."""
        return self._analyze(s)[0]

    def _analyze(self, s: str, sleep: bool = False) -> tuple[DataFrame, DialectContext]:
        """The analyzed local DataFrame of a SELECT and the dialect
        context its rewrite filled (the distributed planner reads both).
        With `sleep`, recorded ``sleep()`` requests are performed once,
        before analysis; EXPLAIN and the planner's analyses never block."""
        if "flight_stream" in s.lower() and self.in_stage_action():
            s = self._resolve_flight_streams(s)
        s = self._resolve_time_travel(s)
        self._register_views(s)
        # ClickHouse GROUP BY 1 groups by the CONSTANT 1
        # (03_0003_select_group_by.sql), so Spark's ordinal resolution
        # is off while spark.sql analyzes. The conf is session-global:
        # toggle, analysis and restore hold the lock, execution does
        # not, and the rewrite and sleep() run before taking it.
        ctx = self._dialect_ctx()
        rewritten = rewrite_select(s, ctx)
        if sleep:
            for _sec in ctx.pending_sleep:
                time.sleep(_sec)
        with self._ordinal_lock:
            return self._select_locked(s, rewritten), ctx

    def in_stage_action(self) -> bool:
        """True while THIS thread is executing a Flight stage action's
        plan (the dispatcher marks the engine around engine.sql) —
        the only context where flight_stream() refs resolve."""
        return bool(getattr(self._stage_action_tl, "active", False))

    def _resolve_flight_streams(self, s: str) -> str:
        """Materialize ``flight_stream('addr', 'query_id', 'stage_id',
        'sink')`` table references: fetch the one-shot stage stream
        over Arrow Flight and substitute a temp view of the result —
        the consuming side of a distributed broadcast stage
        (flight_scatter_broadcast.rs; plans/distributed.py emits the
        refs). Fetch errors propagate: the coordinator's retry layer
        owns recovery. Call sites are found in the masked statement, so
        a literal holding the text stays a literal."""

        def fetch(addr: str, qid: str, sid: str, sink: str) -> str:
            import pyarrow.flight as flight

            from fuse_query_spark.servers.flight_server import stream_ticket

            con = flight.connect(addr if "://" in addr else f"grpc://{addr}")
            try:
                tbl = con.do_get(stream_ticket(qid, sid, sink)).read_all()
            finally:
                con.close()
            view = "__fq_fs_" + re.sub(r"\W", "_", f"{qid}_{sid}_{sink}")
            local_rows(self.spark, tbl).createOrReplaceTempView(view)
            # the stage action drops it after its plan ran (the view
            # holds the whole broadcast side under a query-unique name)
            if getattr(self._fs_views_tl, "views", None) is None:
                self._fs_views_tl.views = []
            self._fs_views_tl.views.append(view)
            return view

        out, pos = [], 0
        for m in re.finditer(r"(?i)\bflight_stream\s*\(", mask(s)):
            # the masked text locates call sites outside literals; the
            # call's own literal arguments are read from the original
            # text at the same offsets (masking is length-preserving)
            c = Cursor(s, m.end())
            try:
                args = [c.string()]
                for _arg in range(3):
                    c.expect(",")
                    args.append(c.string())
                c.expect(")")
            except SyntaxError_:
                continue
            out.append(s[pos : m.start()])
            out.append(fetch(*args))
            pos = c.pos
        out.append(s[pos:])
        return "".join(out)

    def pop_flight_stream_views(self) -> list:
        """Names of the temp views _resolve_flight_streams registered
        on this thread since the last pop; clears the record. The Flight
        stage actions, the only place refs resolve, drop them after
        materializing (execution is lazy, so they outlive Engine.sql)."""
        views = getattr(self._fs_views_tl, "views", None) or []
        self._fs_views_tl.views = []
        return views

    def _select(self, s: str) -> DataFrame:
        """The DataFrame a SELECT runs. Under a cluster with reachable
        peers, a two-phase plan fans out as per-peer partial stages
        over Flight (interpreter_select.rs:40-73, plans/distributed.py).
        Otherwise it runs the local plan, and a local plan whose inputs
        are small runs as one partition (`_one_partition`). The
        reference builds one pipe per source partition, so a
        one-partition source runs partial and final aggregation, sort
        and limit in one pipe with no merge or scatter
        (pipeline_builder.rs:56). Spark would otherwise hash- or
        range-partition every GROUP BY, window and ORDER BY into
        spark.sql.shuffle.partitions, and under AQE each exchange is a
        job of its own."""
        df, ctx = self._analyze(s, sleep=True)
        nodes = self.cluster.get_nodes()
        if nodes:
            from fuse_query_spark.plans.distributed import try_distributed_select

            dist = try_distributed_select(self, df, ctx, nodes)
            if dist is not None:
                return dist
        return _one_partition(df)

    def _select_locked(self, s: str, rewritten: str) -> DataFrame:
        old_ordinal = self.spark.conf.get("spark.sql.groupByOrdinal", "true")
        try:
            self.spark.conf.set("spark.sql.groupByOrdinal", "false")
            try:
                return self.spark.sql(rewritten)
            except Exception as e:
                # the dialect demotes bare `user` → usr_ (reference
                # keyword clash); if that very identifier is what failed
                # to resolve, the query referenced a REAL `user` column —
                # retry undemoted (Spark resolves columns over keywords)
                msg0 = str(e)
                if "usr_" in msg0 and ("UNRESOLVED_COLUMN" in msg0 or "UNRESOLVED_FIELD" in msg0):
                    undemoted = rewrite_select(s, self._dialect_ctx(), demote_user=False)
                    if undemoted != rewritten:
                        return self.spark.sql(undemoted)
                raise
        except Exception as e:  # map to reference-style error codes
            msg = str(e)
            first = msg.splitlines()[0] if msg else ""
            if "PARSE_SYNTAX_ERROR" in msg:
                raise SyntaxError_(msg.strip().splitlines()[0]) from e
            if "UNRESOLVED_COLUMN" in msg or "UNRESOLVED_FIELD" in msg:
                # reference: `SELECT x` → ErrorCode 6, while a QUALIFIED
                # unresolved name (`b.number` with no table b) is an
                # unknown-table/alias reference → ErrorCode 25
                # (00_0000_dummy_select_1.sql)
                if re.search(r"`[^`]+`\.`[^`]+`", first):
                    raise UnknownTable(first) from e
                raise UnknownColumn(first) from e
            if "TABLE_OR_VIEW_NOT_FOUND" in msg:
                # a registration we deferred (broken view / unreachable
                # source) that analysis now proves was genuinely
                # referenced: surface the ORIGINAL typed error, not the
                # generic not-found
                for name, orig in getattr(self._view_local, "deferred", {}).items():
                    parts = r"`?\.`?".join(re.escape(p) for p in name.split("."))
                    if re.search(rf"`?{parts}`?", first):
                        raise orig from e
                raise UnknownTable(first) from e
            raise
        finally:
            self.spark.conf.set("spark.sql.groupByOrdinal", old_ordinal)

    def _explain(self, c: Cursor) -> DataFrame:
        """EXPLAIN [PIPELINE] query: the plan of the DataFrame _select's
        local path builds (EXTENDED, or FORMATTED for PIPELINE), with no
        recorded sleep() performed. Under a cluster, plain EXPLAIN shows
        a distributable statement's stages ahead of it; EXPLAIN PIPELINE
        stays local (interpreter_explain.rs:62-67)."""
        pipeline = c.accept("PIPELINE")
        inner = c.query()
        df, ctx = self._analyze(inner)
        text = self.spark._jvm.PythonSQLUtils.explainString(
            _one_partition(df)._jdf.queryExecution(), "formatted" if pipeline else "extended"
        )
        nodes = [] if pipeline else self.cluster.get_nodes()
        if nodes:
            from fuse_query_spark.plans.distributed import explain_distributed

            staged = explain_distributed(self, df, ctx, nodes)
            if staged is not None:
                text = staged + "\n\n== Local Physical Plan ==\n" + text
        return local_rows(self.spark, [(text,)], "plan: string")

    def _register_views(self, s: str) -> None:
        """Register any catalog/system tables the query references as
        temp views. No rows move; a file or Snapshot table's relation is
        reused while its key is unchanged (sources/storage.py), remote
        tables re-ask the store for their parts, and views re-expand.

        Names are read with the lexer (lexer.table_refs), bare or
        backtick-quoted, so one inside a literal ('system.logs') is not
        a reference and `q 5` or `my-db`.`t` is. A registration that
        fails is skipped, not fatal — a bare word that collides with a
        broken view's name must not poison unrelated queries — and its
        error is kept per thread for _select_locked to raise if
        analysis proves the name was used."""
        qualified, words = set(), set()
        for db, name, _a, _b in table_refs(s):
            qualified.add((db, name))
            words.update((db, name))
        deferred: dict[str, Exception] = {}
        for db, name in qualified:
            if db != "system":
                continue
            name = name.lower()
            if name in self.SYSTEM_TABLES:
                self.SYSTEM_TABLES[name](self).createOrReplaceTempView(f"system__{name}")
            elif name not in ("numbers", "numbers_mt", "numbers_local"):  # rewritten
                deferred[f"system.{name}"] = UnknownTable(f"Unknown system table: '{name}'")
        for db, tables in self.catalog.databases.items():
            for name, tdef in tables.items():
                try:
                    df = None  # read once per statement
                    if (db, name) in qualified:
                        df = self._table_df(tdef)
                        df.createOrReplaceTempView(quote_name(f"{db}__{name}"))
                    if db == self.current_db and name in words:
                        df = self._table_df(tdef) if df is None else df
                        df.createOrReplaceTempView(quote_name(name))
                except Exception as e:
                    # broken/unreachable source (see docstring): defer —
                    # if analysis then proves the name was genuinely
                    # referenced, the ORIGINAL error surfaces
                    deferred[name] = e
                    try:
                        self.spark.catalog.dropTempView(name)
                    except Exception:
                        pass  # stale earlier registration, best-effort
                    continue
        # assigned last: a view expanded above registered (and read)
        # its own deferred errors through this same slot
        self._view_local.deferred = deferred

    # system.X: the rows of each system table, built per statement
    SYSTEM_TABLES = {
        "tables": lambda e: systbl.tables_table(e.spark, e.catalog),
        "databases": lambda e: systbl.databases_table(e.spark, e.catalog),
        "functions": lambda e: systbl.functions_table(e.spark),
        "settings": lambda e: systbl.settings_table(e.spark, e.settings),
        "one": lambda e: systbl.one_table(e.spark),
        "processes": lambda e: systbl.processes_table(e.spark, e.current_db, e._live),
        "contributors": lambda e: systbl.contributors_table(e.spark),
        "clusters": lambda e: systbl.clusters_table(e.spark, e.cluster),
        "tracing": lambda e: systbl.tracing_table(e.spark, e._statements),
        "metrics": lambda e: systbl.metrics_table(e.spark),
        "parts": lambda e: systbl.parts_table(e.spark, e.catalog),
        "columns": lambda e: systbl.columns_table(e.spark, e.catalog),
        "query_log": lambda e: systbl.query_log_table(e.spark, e._statements),
    }

    def _table_df(self, tdef: TableDef) -> DataFrame:
        return tdef.storage.read(self, tdef)

    # ---------- DDL ----------

    def _table_options(self, c: Cursor) -> tuple[str | None, list[str], str | None]:
        """`[ENGINE = e] [PARTITION BY (cols)] [location = '…']`, in
        that order: (engine or None, partition columns, location)."""
        engine = c.name() if c.accept("ENGINE", "=") else None
        partition_by = c.names() if c.accept("PARTITION", "BY") else []
        location = c.string() if c.accept("LOCATION", "=") else None
        return engine, partition_by, location

    def _new_table(self, ref: tuple[str | None, str], if_not_exists: bool):
        """(database, table) of a table a CREATE makes, or None when it
        exists and IF NOT EXISTS was given."""
        db, table = ref[0] or self.current_db, ref[1]
        if table in self.catalog.db(db):
            if if_not_exists:
                return None
            raise TableAlreadyExists(f"Table '{db}.{table}' already exists")
        return db, table

    def _create_table(self, c: Cursor, materialized: bool = False):
        """CREATE TABLE [IF NOT EXISTS] t (cols) [options], or with
        `AS query` in place of the columns (CTAS — capability
        extension: the reference's table_create interpreter has no
        query form, interpreter_table_create.rs; the schema is the
        query's).

        CREATE MATERIALIZED VIEW mv [ENGINE = Parquet] [PARTITION BY
        (cols)] location = '…' AS SELECT … — capability extension (the
        reference has no view interpreter at all): a file-engine table
        that REMEMBERS its defining SELECT, computed at create time and
        recomputable with REFRESH. Reads hit the parquet directly — the
        precompute-once/read-many shape that turns a repeated expensive
        aggregation into a partition-pruned scan at fleet scale."""
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        ref = c.table()
        cols = c.group() if c.at("(") and not materialized else None
        engine, partition_by, location = self._table_options(c)
        if cols is None:
            c.expect("AS")
            select = c.query()
        c.end()
        if materialized:
            engine = engine or "Parquet"
            if location is None:
                raise SyntaxError_("CREATE MATERIALIZED VIEW needs location = '…'")
            if not storage_for(engine).partitionable:
                raise UnsupportedStatement(
                    f"MATERIALIZED VIEW needs a file engine {PARTITIONABLE}, got {engine}"
                )
        target = self._new_table(ref, if_not_exists)
        if target is None:
            return None
        db, table = target
        if cols is None:
            df = self._select(select)
            schema, engine = df.schema, engine or "Memory"
        else:
            schema = self._parse_schema(cols)
            # reference: missing ENGINE defaults to Null (sql_parser.rs:441-443)
            engine = engine or "Null"
            storage_for(engine).check_create(schema, location)
            if db in self.catalog.remote_dbs:
                # a remote database stores ALL its tables store-side
                # (remote_database.rs create_table goes through MetaApi;
                # the engine clause is not part of the remote schema) —
                # 09_0000 expects engine `remote` for a bare CREATE TABLE
                self.store.create_table(db, table, json.dumps(schema.jsonValue()))
                engine = "remote"
        tdef = TableDef(
            name=table,
            database=db,
            engine=engine,
            schema=schema,
            location=location,
            view_sql=select if materialized else None,
            partition_by=partition_columns(engine, partition_by, schema),
        )
        if materialized:
            tdef.storage.overwrite(self, tdef, df)
        elif cols is None:
            tdef.storage.create_as(self, tdef, df)
        self.catalog.db(db)[table] = tdef
        return None

    def _create_view(self, c: Cursor, replace: bool = False) -> None:
        """CREATE [OR REPLACE] VIEW — capability extension (no view
        interpreter exists in the reference). The SELECT text is stored
        and re-expanded per query, so views track their base tables;
        creation validates it once through the dialect path."""
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        ref = c.table()
        c.expect("AS")
        select = c.query()
        db, table = ref[0] or self.current_db, ref[1]
        if not replace and self._new_table(ref, if_not_exists) is None:
            return None
        df = self._select(select)  # validate + capture schema NOW
        self.catalog.db(db)[table] = TableDef(
            name=table, database=db, engine="View", schema=df.schema, view_sql=select
        )
        return None

    _create_materialized_view = partialmethod(_create_table, materialized=True)
    _replace_view = partialmethod(_create_view, replace=True)

    def _refresh_materialized_view(self, c: Cursor) -> None:
        """REFRESH MATERIALIZED VIEW mv [PARTITION (col='v', …)] —
        recompute the stored SELECT and replace the stored data, whole
        or one partition subtree (sources/storage.File.refresh)."""
        ref = c.table()
        spec = self._partition_spec(c) if c.accept("PARTITION") else None
        c.end()
        tdef = self.resolve_table(ref)
        tdef.storage.refresh(self, tdef, spec)
        return None

    def _parse_schema(self, cols: str) -> StructType:
        """A CREATE TABLE column list: `name type, …`."""
        fields = []
        for part in split(cols, ","):
            c = Cursor(part)
            name = c.name()
            fields.append(self._column(name, c.rest()))
        return StructType(fields)

    @staticmethod
    def _column(name: str, ctype: str) -> StructField:
        """A column of SQL/ClickHouse type text `ctype`."""
        ctype = re.sub(r"varchar\s*\(\d+\)", "string", ctype.lower())
        try:
            dtype = _parse_datatype_string(_COL_TYPES.get(ctype, ctype))
        except PySparkException as e:
            first = str(e).strip().splitlines()[0]
            raise SyntaxError_(f"Cannot parse column type {ctype!r}: {first}") from e
        return StructField(name, dtype, True)

    def _drop_table(self, c: Cursor, view: bool = False):
        """DROP TABLE drops any table, a view included; DROP VIEW only a
        view or a materialized view."""
        if_exists = c.accept("IF", "EXISTS")
        ref = c.table()
        c.end()
        try:
            tdef = self.resolve_table(ref)
        except UnknownTable:
            if if_exists:
                return None
            raise
        db, table = tdef.database, tdef.name
        if view and tdef.view_sql is None:
            raise BadArguments(f"Table {db}.{table} is not a View")
        if db in self.catalog.remote_dbs:
            self.store.drop_table(db, table)
        del self.catalog.db(db)[table]
        self.spark.catalog.dropTempView(table)
        self.spark.catalog.dropTempView(f"{db}__{table}")
        return None

    _drop_view = partialmethod(_drop_table, view=True)

    def _create_database(self, c: Cursor):
        if_not_exists = c.accept("IF", "NOT", "EXISTS")
        name = c.name()
        engine = c.name() if c.accept("ENGINE", "=") else None
        c.end()
        if name in self.catalog.databases or name == "system":
            if if_not_exists:
                return None
            raise DatabaseAlreadyExists(f"Database '{name}' already exists")
        # Engine selection mirrors the reference's database factories
        # (datasource.rs:70-96): `ENGINE = Local` → LocalDatabase; no
        # engine clause → the remote store when one is attached
        # (09_0000: tables there report engine `remote`), else local.
        remote = self.store is not None and (engine or "").lower() != "local"
        if remote:
            self.store.create_database(name)
            self.catalog.remote_dbs.add(name)
        self.catalog.databases[name] = {}
        return None

    def _drop_database(self, c: Cursor):
        if_exists = c.accept("IF", "EXISTS")
        name = c.name()
        c.end()
        if name not in self.catalog.databases:
            if if_exists:
                return None
            raise UnknownDatabase(f"Unknown database: '{name}'")
        if name in self.catalog.remote_dbs:
            self.store.drop_database(name)
            self.catalog.remote_dbs.discard(name)
        del self.catalog.databases[name]
        if self.current_db == name:
            self.current_db = "default"
        return None

    def _use(self, c: Cursor):
        name = c.name()
        c.end()
        if name != "system" and name not in self.catalog.databases:
            raise UnknownDatabase(f"Unknown database: '{name}'")
        self.current_db = name
        return None

    def _describe(self, c: Cursor):
        tdef = self._whole_table(c)
        # Reference DESCRIBE prints its own type names and NO for the
        # (default) non-nullable columns (10_0000_describe_table.result:
        # `a  Int64  NO`); map Spark names through the same table
        # toTypeName uses.
        from fuse_query_spark.functions.registry import _fq_typename

        rows = [(f.name, _fq_typename(f.dataType.simpleString()), "NO") for f in tdef.schema]
        return local_rows(self.spark, rows, "Field STRING, Type STRING, Null STRING")

    # SHOW statements the reference rewrites onto system tables
    # (plan_parser.rs:105-127)
    _SHOW_SELECTS = {
        "TABLES": "SELECT name FROM system.tables WHERE database = {db} ORDER BY name",
        "DATABASES": "SELECT name FROM system.databases ORDER BY name",
        "SETTINGS": "SELECT name, value FROM system.settings ORDER BY name",
        "PROCESSLIST": "SELECT * FROM system.processes",
    }

    def _show(self, c: Cursor):
        for word, select in self._SHOW_SELECTS.items():
            if c.accept(word):
                c.end()
                return self._select(select.format(db=quote(self.current_db)))
        if c.accept("PARTITIONS"):
            c.accept("FROM")
            tdef = self._whole_table(c)
            return local_rows(self.spark, [(p,) for p in partition_names(tdef)], "partition STRING")
        if c.accept("SNAPSHOTS"):
            c.accept("FROM")
            tdef = self._whole_table(c)
            versions = tdef.storage.versions(tdef, "SHOW SNAPSHOTS")
            return snapshots.snapshot_history(self.spark, versions)
        if c.accept("CREATE", "TABLE"):
            tdef = self._whole_table(c)
            return local_rows(
                self.spark, [(tdef.name, tdef.storage.ddl(tdef))], "Table STRING, CreateTable STRING"
            )
        raise c.error(", ".join(self._SHOW_SELECTS) + ", PARTITIONS, SNAPSHOTS or CREATE TABLE")

    # settings whose consumers need an integer; anything else is
    # refused at SET time
    _INT_SETTINGS = (
        "max_threads", "max_block_size",
        "min_distributed_rows", "min_distributed_bytes",
    )

    def _set(self, c: Cursor):
        key = c.name().lower()
        c.expect("=")
        raw = c.rest()
        value = string_value(raw)
        if value is None:
            value = raw
        if key in self._INT_SETTINGS:
            try:
                value = int(value)
            except ValueError:
                raise BadArguments(
                    f"Setting '{key}' expects an integer, got '{value}'"
                ) from None
        if key not in self.settings:
            self.settings[key] = Setting(value, value, "user-defined")
        else:
            self.settings[key].value = value
        if key == "max_threads":
            # reference: morsel parallelism (settings.rs:21) → shuffle width
            self.spark.conf.set("spark.sql.shuffle.partitions", str(int(value)))
        return None

    # ---------- INSERT ----------

    def _insert_overwrite(self, c: Cursor):
        """INSERT OVERWRITE [TABLE] t [(cols)] query."""
        c.accept("TABLE")
        ref = c.table()
        cols = c.names() if c.at("(") else None
        return self._insert_select(ref, cols, c.query(), overwrite=True)

    def _insert(self, c: Cursor):
        """INSERT INTO t [(cols)] VALUES (…), … | query."""
        ref = c.table()
        cols = c.names() if c.at("(") else None
        if not c.accept("VALUES"):
            return self._insert_select(ref, cols, c.query())
        values = c.rest()
        # one list of item texts per parenthesized tuple; an empty item
        # or a tuple without parentheses is malformed
        tuples = [
            split(t[1:-1], ",") if t[:1] == "(" and t[-1:] == ")" else [""]
            for t in split(values, ",")
        ]
        if any("" in items for items in tuples):
            raise SyntaxError_(f"Cannot parse INSERT VALUES: {values[:80]}")
        tdef = self.resolve_table(ref)
        colnames = self._target_columns(tdef, cols)
        if tdef.storage.keeps_literal_text:  # the remote engine's parity
            rows = [tuple(items) for items in tuples]
        else:

            def text(raw: str) -> str | None:
                # the text the column casts from: a string literal's
                # value, NULL as None, TRUE/FALSE lower-case, and
                # anything else (numbers) exactly as written
                value = string_value(raw)
                if value is not None:
                    return value
                return {"NULL": None, "TRUE": "true", "FALSE": "false"}.get(raw.upper(), raw)

            rows = [tuple(text(raw) for raw in items) for items in tuples]
        return self._append(tdef, self._coerce_literals(rows, colnames, tdef.schema))

    def _coerce_literals(self, rows: list[tuple], colnames: list[str], schema: StructType) -> DataFrame:
        """VALUES rows (one literal text or None per column) as a local
        relation of the declared column types: STRING columns CAST to
        each type, so coercion follows Spark's cast rules (a DECIMAL
        from the literal's digits, never through a double). The casts
        fold while the plan is optimized, here on the driver, so a value
        the cast rejects fails this INSERT as BadDataValueType."""
        bad = [r for r in rows if len(r) != len(colnames)]
        if bad:
            raise BadArguments(
                f"VALUES tuple has {len(bad[0])} value(s) but {len(colnames)} "
                "target column(s) were specified"
            )
        text = local_rows(
            self.spark, rows, StructType([StructField(c, StringType(), True) for c in colnames])
        )
        try:
            df = text.selectExpr(
                *[
                    f"CAST({q} AS {schema[c].dataType.simpleString()}) AS {q}"
                    for c, q in zip(colnames, map(quote_name, colnames))
                ]
            )
            df._jdf.queryExecution().optimizedPlan()
        except PySparkException as e:
            raise BadDataValueType(str(e).splitlines()[0]) from e
        return df

    def resolve_table(self, ref: str | tuple[str | None, str]) -> TableDef:
        """Catalog lookup of a table reference: `[db.]table` text, or
        the (database or None, table) pair Cursor.table() reads; no
        database means the current one (wire front-ends resolve INSERT
        targets through this)."""
        if isinstance(ref, str):
            c = Cursor(ref)
            ref = c.table()
            c.end()
        db, table = ref
        db = db or self.current_db
        tables = self.catalog.db(db)
        if table not in tables:
            raise UnknownTable(f"Unknown table: '{db}.{table}'")
        return tables[table]

    @staticmethod
    def _target_columns(tdef: TableDef, cols: list[str] | None) -> list[str]:
        """The columns an INSERT writes: `cols`, each of which must be
        the table's, or all of them."""
        if cols is None:
            return tdef.schema.names
        for col in cols:
            if col not in tdef.schema.names:
                raise UnknownColumn(f"Unknown column '{col}' in '{tdef.database}.{tdef.name}'")
        return cols

    def append_rows(self, tdef: TableDef, colnames: list[str], rows: list[tuple]):
        """Append already-decoded Python rows to a table — the wire
        servers' Table::append_data entry (native-protocol INSERT
        blocks land here). Bounded by the serving socket, so
        driver-side row materialization is inherent to the path."""
        sub_schema = StructType([StructField(c, tdef.schema[c].dataType, True) for c in colnames])
        return self._append(tdef, local_rows(self.spark, rows, sub_schema))

    def _append(self, tdef: TableDef, df: DataFrame):
        """Table::append_data (interpreter_insert_into.rs:33-45): every
        INSERT INTO path ends here (sources/storage.py)."""
        tdef.storage.append(self, tdef, df)
        return None

    def _insert_select(
        self,
        ref: tuple[str | None, str],
        cols: list[str] | None,
        select_sql: str,
        overwrite: bool = False,
    ):
        """INSERT INTO t [(cols)] query (interpreter_insert_into.rs:
        33-45): the query's columns match by position and cast to the
        declared types. INSERT OVERWRITE (extension) is dynamic on a
        PARTITION BY table: only the partitions present in the output
        are replaced, so re-running one day's backfill rewrites that
        day's directory and nothing else."""
        tdef = self.resolve_table(ref)
        df = self._select(select_sql)
        colnames = self._target_columns(tdef, cols)
        if len(df.columns) != len(colnames):
            # standard SQL (and the reference) reject arity mismatch
            raise UnsupportedStatement(
                f"INSERT INTO {tdef.database}.{tdef.name}: SELECT produces {len(df.columns)} "
                f"column(s) but {len(colnames)} target column(s) were specified"
            )
        # alignment is POSITIONAL (SQL INSERT semantics) — rename first
        # so duplicate SELECT output names (e.g. two literal `1`s) can't
        # trip an ambiguous-reference error
        df = df.toDF(*[f"__ins{i}" for i in range(len(df.columns))])
        aligned = df.select(
            *[
                F.col(src).cast(tdef.schema[dst].dataType).alias(dst)
                for src, dst in zip(df.columns, colnames)
            ]
        )
        if overwrite:
            tdef.storage.overwrite(self, tdef, aligned)
            return None
        return self._append(tdef, aligned)
