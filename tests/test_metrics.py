"""MetricService + wire-server metric recording
(metrics/metric_service.rs:73-87 parity surface; reference metric
names from mysql_metrics.rs:5, clickhouse_metrics.rs:5,
sessions/metrics.rs:5-6)."""

import urllib.request

from fuse_query_spark.results import to_rows
from fuse_query_spark.servers.metrics import MetricService, MetricsRegistry


def _get(port, path="/metrics"):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10) as r:
        return r.status, r.headers.get("content-type"), r.read().decode()


class TestRegistry:
    def test_counter_accumulates(self):
        reg = MetricsRegistry()
        reg.counter("session.connect_numbers")
        reg.counter("session.connect_numbers", 2)
        out = reg.render()
        assert "session_connect_numbers 3" in out
        assert "# TYPE session_connect_numbers counter" in out

    def test_histogram_buckets_cumulative(self):
        reg = MetricsRegistry()
        reg.observe("mysql.process_request_duration", 0.02)
        reg.observe("mysql.process_request_duration", 0.3)
        reg.observe("mysql.process_request_duration", 100.0)  # beyond last bound
        out = reg.render()
        assert 'mysql_process_request_duration_bucket{le="0.025"} 1' in out
        assert 'mysql_process_request_duration_bucket{le="0.5"} 2' in out
        assert 'mysql_process_request_duration_bucket{le="+Inf"} 3' in out
        assert "mysql_process_request_duration_count 3" in out

    def test_name_sanitization_matches_prometheus_exporter(self):
        reg = MetricsRegistry()
        reg.counter("a.b-c d")
        assert "a_b_c_d 1" in reg.render()


class TestMetricService:
    def test_serves_every_path(self):
        # metric_service.rs:75 answers warp::any() — no routing
        reg = MetricsRegistry()
        reg.counter("session.connect_numbers")
        svc = MetricService(registry=reg, port=0)
        port = svc.start()
        try:
            for path in ("/metrics", "/", "/anything/else"):
                status, ctype, body = _get(port, path)
                assert status == 200
                assert ctype.startswith("text/plain")
                assert "session_connect_numbers 1" in body
        finally:
            svc.stop()


class TestWireServersRecord:
    def test_mysql_and_clickhouse_record_metrics(self, spark):
        from fuse_query_spark.engine import Engine
        from fuse_query_spark.servers import ClickHouseServer, MySQLServer
        from fuse_query_spark.servers.metrics import METRICS

        from tests.test_clickhouse_server import MiniCHClient
        from tests.test_mysql_server import MiniClient

        engine = Engine(spark)

        def snap():
            return dict(METRICS._counters), {
                k: v["count"] for k, v in METRICS._hists.items()
            }

        c0, h0 = snap()
        my = MySQLServer(engine, port=0)
        my_port = my.start()
        try:
            cli = MiniClient(my_port)
            cli.query("SELECT 1")
            cli.sock.close()
        finally:
            my.stop()
        ch = ClickHouseServer(engine, port=0)
        ch_port = ch.start()
        try:
            cli = MiniCHClient(ch_port)
            cli.query("SELECT 1 AS one")
            cli.close()
        finally:
            ch.stop()
        c1, h1 = snap()
        assert c1.get("session.connect_numbers", 0) >= c0.get("session.connect_numbers", 0) + 2
        assert c1.get("session.close_numbers", 0) >= c0.get("session.close_numbers", 0) + 2
        assert h1.get("mysql.process_request_duration", 0) > h0.get(
            "mysql.process_request_duration", 0
        )
        assert h1.get("clickhouse.process_request_duration", 0) > h0.get(
            "clickhouse.process_request_duration", 0
        )


class TestSystemMetricsTable:
    def test_select_from_system_metrics(self, spark):
        from fuse_query_spark.engine import Engine
        from fuse_query_spark.servers.metrics import METRICS

        METRICS.counter("session.connect_numbers")
        METRICS.observe("mysql.process_request_duration", 0.01)
        engine = Engine(spark)
        df, rows = engine.sql_collect("SELECT metric, value FROM system.metrics")
        rows = to_rows(rows)
        got = {r["metric"]: r["value"] for r in rows}
        assert got.get("session.connect_numbers", 0) >= 1
        assert got.get("mysql.process_request_duration_count", 0) >= 1
        # registered in the system catalog too
        df, rows = engine.sql_collect(
            "SELECT name FROM system.tables WHERE database = 'system'"
        )
        rows = to_rows(rows)
        assert any(r["name"] == "metrics" for r in rows)
