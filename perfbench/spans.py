"""Span recorder and layer instrumentation for traced runs.

A span is (name, start, end, parent, stmt): the layer boundary it
times, its interval on the perf_counter clock, the index of the span
that was open on the same thread when it started, and the statement it
belongs to. Spans live in memory and are written out once, at the end
of the run.

`instrument()` wraps the public entry points of each engine layer from
outside the package (the engine's code is not modified) and returns a
function that restores the originals, so one process can run an
untraced window and then a traced one.
"""

from __future__ import annotations

import functools
import json
import threading
import time

import measure


class Recorder:
    def __init__(self):
        self.spans: list[list] = []
        self.plans: list[str] = []  # physical plan strings, in statement order
        self._lock = threading.Lock()
        self._tl = threading.local()
        self.stmt = -1  # statement index, set by whoever drives statements

    def _stack(self) -> list[int]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.stmt])
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    def total(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def child_total(self, name: str, parent: str) -> float:
        """Time in `name` spans opened directly inside a `parent` span."""
        return sum(s[2] - s[1] for s in self.spans
                   if s[0] == name and s[3] >= 0 and self.spans[s[3]][0] == parent)

    def per_stmt(self, name: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for s in self.spans:
            if s[0] == name and s[2] is not None:
                out[s[4]] = out.get(s[4], 0.0) + s[2] - s[1]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, stmt in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "stmt": stmt}) + "\n")


class _Span:
    __slots__ = ("rec", "name", "idx")

    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        self.idx = self.rec._open(self.name)
        return self

    def __exit__(self, *exc):
        self.rec._close(self.idx)
        return False


def _wrap(rec: Recorder, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with rec.span(name):
            return fn(*a, **kw)

    return wrapper


def instrument(rec: Recorder, on_statement=None):
    """Patch the layer entry points to record spans into `rec`.

    on_statement(begin: bool) is called around every wire statement
    (in the server thread) so the caller can take job-id windows.
    Returns an undo function."""
    from pyspark.sql.classic.dataframe import DataFrame

    import fuse_query_spark.engine as engine_mod
    import fuse_query_spark.sources.snapshots as snapshots_mod
    from fuse_query_spark.servers import clickhouse_server as ch_mod
    from fuse_query_spark.servers import mysql_server as my_mod

    saved = []

    def patch(owner, attr, new):
        saved.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, new)

    Engine = engine_mod.Engine
    patch(engine_mod, "rewrite_select", _wrap(rec, "dialect.rewrite", engine_mod.rewrite_select))
    patch(Engine, "sql", _wrap(rec, "engine.sql", Engine.sql))
    patch(Engine, "sql_collect", _wrap(rec, "engine.sql_collect", Engine.sql_collect))
    patch(Engine, "_append", _wrap(rec, "sources.append", Engine._append))
    patch(snapshots_mod, "snapshot_commit",
          _wrap(rec, "sources.snapshot_commit", snapshots_mod.snapshot_commit))
    patch(my_mod._Conn, "_write_resultset",
          _wrap(rec, "servers.encode", my_mod._Conn._write_resultset))
    patch(ch_mod._CHConn, "send_block", _wrap(rec, "servers.encode", ch_mod._CHConn.send_block))

    def statement(name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            rec.stmt += 1
            if on_statement:
                on_statement(True)
            try:
                with rec.span(name):
                    return fn(*a, **kw)
            finally:
                if on_statement:
                    on_statement(False)

        return wrapper

    patch(my_mod._Conn, "_run_sql", statement("servers.mysql", my_mod._Conn._run_sql))
    patch(ch_mod._CHConn, "run_query", statement("servers.clickhouse", ch_mod._CHConn.run_query))

    collect = DataFrame.collect

    @functools.wraps(collect)
    def traced_collect(self):
        # planning happens once per QueryExecution, and collect() reuses
        # this one, so forcing the plan first only moves its cost
        with rec.span("spark.plan"):
            plan = self._jdf.queryExecution().executedPlan()
        rec.plans.append(plan.treeString())
        with rec.span("spark.collect"):
            return collect(self)

    patch(DataFrame, "collect", traced_collect)

    def undo():
        for owner, attr, orig in reversed(saved):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    return undo


def layer_metrics(rec: Recorder, stage_totals: dict, passes: int, cpus: int, extra: dict) -> dict:
    """Per-pass layer metrics of one traced window: what the spans and
    plans show, Spark's status-store totals for the window's jobs, and
    the workload's own `extra` window totals."""
    shape = {"plan_nodes": 0, "exchanges": 0, "python_nodes": 0}
    for text in rec.plans:
        for k, v in measure.plan_shape(text).items():
            shape[k] += v
    st = stage_totals
    collect = rec.child_total("spark.collect", "engine.sql_collect")
    exec_s = rec.total("spark.exec") + rec.total("spark.collect")
    totals = {
        "spark.plan_s": rec.total("spark.plan"),
        "spark.plan_nodes": shape["plan_nodes"],
        "spark.exchanges": shape["exchanges"],
        "spark.exec_s": exec_s,
        "spark.jobs": st["jobs"],
        "spark.stages": st["stages"],
        "spark.tasks": st["numTasks"],
        "spark.executor_run_s": st["executorRunTime"] / 1e3,
        "spark.executor_cpu_s": st["executorCpuTime"] / 1e9,
        "spark.gc_s": st["jvmGcTime"] / 1e3,
        "spark.input_bytes": st["inputBytes"],
        "spark.shuffle_read_bytes": st["shuffleReadBytes"],
        "spark.shuffle_write_bytes": st["shuffleWriteBytes"],
        "spark.spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
        "operators.python_nodes": shape["python_nodes"],
        "dialect.rewrite_s": rec.total("dialect.rewrite"),
        "engine.sql_s": rec.total("engine.sql") + rec.total("engine.sql_collect") - collect,
        "engine.collect_s": collect,
        "engine.stmts": rec.count("engine.sql") + rec.count("engine.sql_collect"),
        **extra,
    }
    out = {k: v / passes for k, v in totals.items()}
    # busy executor time over the slots the execution spans held
    out["spark.slot_util"] = st["executorRunTime"] / 1e3 / (exec_s * cpus) if exec_s else 0.0
    return out
