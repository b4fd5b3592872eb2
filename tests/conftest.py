import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fuse_query_spark.session import get_spark
from fuse_query_spark.testing import duckdb_conn

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fuse-query-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb_conn(sf_dir)
    yield con
    con.close()


def spawn_peer(cpus: int = 2):
    """Start a peer engine + Flight service in a separate JVM/process;
    returns (Popen, port). Caller terminates. Shared by the Flight
    stage tests and the Engine.sql distributed-select tests."""
    import subprocess
    import threading

    peer_src = f"""
import sys
sys.path.insert(0, ".")
from fuse_query_spark.engine import Engine
from fuse_query_spark.servers.flight_server import FuseQueryFlightService
from fuse_query_spark.session import get_spark

spark = get_spark("flight-peer", cpus={cpus})
srv = FuseQueryFlightService(Engine(spark), "grpc://0.0.0.0:0")
print(f"PORT={{srv.port}}", flush=True)
srv.serve()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", peer_src],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        cwd=root,
        text=True,
    )
    port_box: list = []
    got_port = threading.Event()

    def _read_port():
        for line in proc.stdout:
            if not got_port.is_set() and line.startswith("PORT="):
                port_box.append(int(line.strip().split("=", 1)[1]))
                got_port.set()
        got_port.set()  # EOF without a port — unblock the waiter

    # the reader thread stays alive DRAINING stdout for the peer's
    # lifetime: stdout is a PIPE, and a peer that later logs more than
    # the OS buffer (~64 KB) would block mid-write and hang its
    # in-flight query (code-review r9); the waiter blocks on the event,
    # not the thread
    t = threading.Thread(target=_read_port, daemon=True)
    t.start()
    got_port.wait(timeout=180)  # JVM + session startup
    if not port_box:
        proc.terminate()
        raise RuntimeError("peer process never reported its port")
    return proc, port_box[0]


# ------------------------------------------------- wire-encoding oracles

WIRE_SCHEMA = (
    "t tinyint, s smallint, i int, b bigint, f float, d double, dec decimal(10,2), "
    "tiny decimal(20,10), str string, bo boolean, dt date, ts timestamp, ntz timestamp_ntz"
)


def wire_frames(spark, wide_dates: bool = False) -> dict:
    """DataFrames over every column type the wire servers map, for the
    encoders' differential oracles: the same frame is read once as an
    Arrow table (Engine's collect) and once as Rows (the per-value
    reference encoders). `local` is a driver-side relation of edge
    values (NULLs, float specials, decimals below 1e-6, strings of 0,
    251+ and 65536+ bytes, microsecond and whole-second timestamps),
    `job` a 70,000-row result computed by Spark tasks (more rows than
    a ClickHouse block), `empty` has no rows. wide_dates adds years
    below 1000, outside ClickHouse's Date/DateTime ranges."""
    from datetime import date, datetime
    from decimal import Decimal

    rows = []
    for i in range(400):
        rows.append((
            i % 256 - 128, i * 97 - 20000, i * 5_000_003 - 10**9, (i << 40) - (7 << 45),
            i / 7 * 10.0 ** (i % 40 - 20), i / 3 * 10.0 ** (i % 60 - 30),
            Decimal(f"{i * 37 - 7000}E-2"), Decimal(f"{i * 13 - 2000}E-10"),
            "é" * (i % 300) if i % 11 else "", i % 3 == 0,
            date(1970 + i % 170, 1 + i % 12, 1 + i % 28),
            datetime(1971 + i % 60, 1 + i % 12, 1 + i % 28, i % 24, i % 60, i % 60, (i * 7919) % 1_000_000 if i % 2 else 0),
            datetime(1980 + i % 100, 12 - i % 12, 1 + i % 28, 23 - i % 24, i % 60, 59 - i % 60, (i * 104729) % 1_000_000 if i % 3 else 0),
        ))
    rows = [tuple(None if (i + j) % 5 == 0 else v for j, v in enumerate(r)) for i, r in enumerate(rows)]
    rows.append((127, 32767, 2**31 - 1, 2**63 - 1, float("inf"), float("nan"), Decimal("99999999.99"),
                 Decimal("0E-10"), "x" * 70000, True, date(2149, 6, 6), datetime(2100, 1, 1), datetime(2106, 2, 7)))
    rows.append((-128, -32768, -(2**31), -(2**63), -0.0, 1e16, Decimal("-0.01"),
                 Decimal("-1E-10"), "a\x00b", False, date(1970, 1, 1), datetime(1971, 1, 1, 0, 0, 0, 1),
                 datetime(1970, 1, 1)))
    rows.append((0, 0, 0, 0, 3.4028234663852886e38, 1e-5, Decimal("0.00"),
                 Decimal("0.0000010000"), "y" * 251, None, None, None, None))
    if wide_dates:
        rows.append((1, 1, 1, 1, 1.0, 1.0, Decimal("1.00"), Decimal("1E-7"), "w", True,
                     date(999, 12, 31), datetime(999, 1, 2, 3, 4, 5, 6), datetime(1, 1, 1)))
    job = spark.range(70000).selectExpr(
        "CAST(id % 256 - 128 AS TINYINT) AS t",
        "CAST(id % 65536 - 32768 AS SMALLINT) AS s",
        "CAST(id * 30677 - 1000000000 AS INT) AS i",
        "if(id % 5 = 1, NULL, id * 131071 - 4000000000) AS b",
        "CAST(id / 9 AS FLOAT) AS f",
        "if(id % 5 = 2, NULL, id / 3) AS d",
        "CAST(id / 8 AS DECIMAL(10,2)) AS dec",
        "if(id % 5 = 3, NULL, CAST(id AS DECIMAL(20,10)) / 100000000000) AS tiny",
        "if(id % 5 = 4, NULL, repeat(chr(97 + id % 26), id % 300)) AS str",
        "id % 3 = 0 AS bo",
        "date_add(DATE'1970-01-01', CAST(id % 60000 AS INT)) AS dt",
        "timestamp_micros(id * 61234567 + 1000000) AS ts",
        "CAST(timestamp_seconds(id * 45678 + 1) AS TIMESTAMP_NTZ) AS ntz",
    )
    return {
        "local": spark.createDataFrame(rows, WIRE_SCHEMA),
        "job": job,
        "empty": spark.createDataFrame([], WIRE_SCHEMA),
    }
