"""The serving path end to end: Engine.sql_collect's Arrow result as
both wire servers send it — the Spark jobs a point lookup submits, the
socket options of an accepted connection, how many sends a reply takes,
and tables whose names need backticks."""

from __future__ import annotations

import socket

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.results import collect_arrow, to_rows
from fuse_query_spark.servers import ClickHouseServer, MySQLServer
from fuse_query_spark.servers.common import SEND_BYTES, ReusableThreadingTCPServer
from test_clickhouse_server import MiniCHClient
from test_mysql_server import MiniClient

POINT = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 7"


class _Wire:
    """One client per protocol over the same Engine; query() returns the
    rows as tuples of text (MySQL) or values (ClickHouse)."""

    def __init__(self, proto: str, port: int):
        self.proto = proto
        self.client = MiniClient(port) if proto == "mysql" else MiniCHClient(port)

    def query(self, sql: str):
        if self.proto == "mysql":
            out = self.client.query(sql)
            return [] if out == "OK" else [tuple(r) for r in out[1]]
        _, rows, _, exc = self.client.query(sql)
        assert exc is None, exc
        return rows

    def close(self):
        if self.proto == "mysql":
            self.client.quit()
        else:
            self.client.close()


@pytest.fixture(scope="module")
def served(spark, sf_dir):
    """An Engine over the corpus behind both servers; accepted sockets
    are kept for the socket-option test."""
    accepted = []
    get_request = ReusableThreadingTCPServer.get_request

    def keep(self):
        sock, addr = get_request(self)
        accepted.append(sock)
        return sock, addr

    ReusableThreadingTCPServer.get_request = keep
    engine = Engine(spark)
    engine.attach_parquet_dir(sf_dir)
    servers = {"mysql": MySQLServer(engine, port=0), "clickhouse": ClickHouseServer(engine, port=0)}
    ports = {proto: srv.start() for proto, srv in servers.items()}
    yield engine, ports, accepted
    for srv in servers.values():
        srv.stop()
    ReusableThreadingTCPServer.get_request = get_request


def _jobs(engine, run) -> int:
    sched = engine.spark.sparkContext._jsc.sc().dagScheduler()
    start = sched.nextJobId()
    run()
    return sched.nextJobId() - start


def test_point_lookup_on_resident_orders_submits_no_job(served):
    """orders is resident from its second read: the lookup is a
    LocalTableScan turned into Arrow on the driver, through
    sql_collect and through either wire server."""
    engine, ports, _ = served
    for _ in range(2):
        engine.sql_collect(POINT)
    assert _jobs(engine, lambda: engine.sql_collect(POINT)) == 0
    _, table = engine.sql_collect(POINT)
    assert table.num_rows == 1 and table.column_names[0] == "o_orderkey"
    for proto, port in ports.items():
        wire = _Wire(proto, port)
        try:
            got = []
            assert _jobs(engine, lambda: got.extend(wire.query(POINT))) == 0, proto
            assert len(got) == 1 and int(got[0][0]) == 7, proto
        finally:
            wire.close()


def test_serving_path_collects_no_rows(served, monkeypatch):
    """sql_collect answers from Arrow: DataFrame.collect is not called,
    for a LocalTableScan plan or a plan that runs a job."""
    from pyspark.sql import DataFrame

    engine = served[0]

    def refuse(self):
        raise AssertionError("DataFrame.collect on the serving path")

    monkeypatch.setattr(DataFrame, "collect", refuse)
    for sql in (POINT, "SELECT o_orderstatus, count(*) FROM orders GROUP BY o_orderstatus"):
        _, table = engine.sql_collect(sql)
        assert table.num_rows >= 1, sql


def test_arrow_result_reads_back_as_collected_rows(spark):
    """to_rows over the Arrow result gives the Rows DataFrame.collect
    gives — the values callers of sql_collect and the fuzz oracle
    compare: every wire type (naive host-local datetimes, a Row's
    decimal digits, NULLs, years below 1000), nested values and
    binary. Compared by repr, so NaN and the value types count."""
    from conftest import wire_frames

    frames = wire_frames(spark, wide_dates=True)
    frames["nested"] = spark.sql(
        "SELECT id, array(id, NULL) AS a, map('k', id) AS m, "
        "named_struct('x', id, 'y', CAST(id AS STRING)) AS s, "
        "CAST(CAST(id AS STRING) AS BINARY) AS bin FROM range(3)"
    )
    for label, df in frames.items():
        assert repr(to_rows(collect_arrow(df))) == repr(df.collect()), label


def test_accepted_sockets_set_tcp_nodelay(served):
    _, ports, accepted = served
    before = len(accepted)
    wires = [_Wire(proto, port) for proto, port in ports.items()]
    try:
        for w in wires:
            w.query("SELECT 1 AS one")
        assert len(accepted) - before == 2
        for sock in accepted[before:]:
            assert sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    finally:
        for w in wires:
            w.close()


def test_small_clickhouse_reply_leaves_in_one_send(served, monkeypatch):
    """Header block, data block, progress and end-of-stream of a reply
    under SEND_BYTES go out in one sendall."""
    _, ports, accepted = served
    wire = _Wire("clickhouse", ports["clickhouse"])
    server_side = accepted[-1]
    sends = []
    sendall = socket.socket.sendall

    def spy(sock, data, *args):
        if sock is server_side:
            sends.append(len(data))
        return sendall(sock, data, *args)

    try:
        monkeypatch.setattr(socket.socket, "sendall", spy)
        assert len(wire.query("SELECT number, CAST(number AS STRING) AS s FROM numbers(100)")) == 100
        assert len(sends) == 1 and sends[0] < SEND_BYTES, sends
    finally:
        monkeypatch.undo()
        wire.close()


@pytest.mark.parametrize("proto", ["mysql", "clickhouse"])
@pytest.mark.parametrize("ref", ["`q 5`", "`my-db`.`t`"])
def test_wire_reads_tables_whose_names_need_quotes(served, proto, ref):
    engine, ports, _ = served
    engine.sql("CREATE DATABASE IF NOT EXISTS `my-db`")
    wire = _Wire(proto, ports[proto])
    try:
        wire.query(f"DROP TABLE IF EXISTS {ref}")
        wire.query(f"CREATE TABLE {ref} (a INT, `b c` STRING) ENGINE = Memory")
        wire.query(f"INSERT INTO {ref} VALUES (1, 'x'), (2, 'y')")
        rows = wire.query(f"SELECT a, `b c` FROM {ref} ORDER BY a")
        assert [(int(a), b) for a, b in rows] == [(1, "x"), (2, "y")]
        wire.query(f"DROP TABLE {ref}")
    finally:
        wire.close()


AGG_CH = ("SELECT l_returnflag, uniq(l_suppkey) AS u, sumIf(l_quantity, l_discount > 0.05) AS q, "
          "countIf(l_quantity > 25) AS n FROM lineitem WHERE l_orderkey < 400 GROUP BY l_returnflag")
LIMITBY_MYSQL = ("SELECT user_id, event_id, value FROM events WHERE user_id < 20 "
                 "ORDER BY user_id, event_id LIMIT 2 BY user_id")


@pytest.mark.parametrize("sql", [AGG_CH, LIMITBY_MYSQL, "SELECT count(*) AS n, sum(o_orderkey) AS s FROM orders"])
def test_small_wide_statement_runs_one_job(served, sql):
    """The serving benchmark's aggregate and LIMIT BY shapes, and the
    count/sum readback, over small tables: one task of one job, with
    no Exchange (their inputs are under spark.sql.files.openCostInBytes)."""
    engine = served[0]
    for _ in range(2):  # the second read makes a small table resident
        engine.sql_collect(sql)
    df = engine.sql(sql)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert _jobs(engine, lambda: engine.sql_collect(sql)) == 1


def test_memory_readback_runs_one_job(served):
    """The serving benchmark's readback of a Memory table its INSERT
    batches filled: a global aggregate over one LocalRelation, one job."""
    engine = served[0]
    engine.sql("CREATE TABLE pb_mem (id BIGINT, k INT) ENGINE = Memory")
    try:
        for b in range(3):
            engine.sql("INSERT INTO pb_mem VALUES " + ", ".join(f"({b * 10 + i}, {i})" for i in range(10)))
        sql = "SELECT count(*) AS n, sum(id) AS s FROM pb_mem"
        assert _jobs(engine, lambda: engine.sql_collect(sql)) == 1
        assert to_rows(engine.sql_collect(sql)[1])[0] == (30, sum(range(30)))
    finally:
        engine.sql("DROP TABLE pb_mem")


def test_constant_select_submits_no_job(served):
    """SELECT 1, the liveness check wire clients send, is answered on
    the driver through sql_collect and both servers, with the Arrow
    table toArrow() gives."""
    engine, ports, _ = served
    for sql in ("SELECT 1", "SELECT 1 AS one, 'x' AS s, 2.5 AS d, toDate('2020-01-02') AS day"):
        assert _jobs(engine, lambda: engine.sql_collect(sql)) == 0, sql
        _, table = engine.sql_collect(sql)
        assert table.equals(engine.sql(sql).toArrow()), sql
    for proto, port in ports.items():
        wire = _Wire(proto, port)
        try:
            got = []
            assert _jobs(engine, lambda: got.extend(wire.query("SELECT 1"))) == 0, proto
            assert int(got[0][0]) == 1, proto
        finally:
            wire.close()
    # a nondeterministic projection still runs as a job
    _, table = engine.sql_collect("SELECT rand(3) < 2 AS r")
    assert table.column("r").to_pylist() == [True]
