"""Wire front-end throughput: rows/s for the same scan through the
ClickHouse native protocol vs the MySQL text and binary protocols, and
the time to the first row on each (query sent -> first row decoded).

Both servers serve Engine.sql over TCP; the difference is result
ENCODING — ClickHouse native writes fixed-width little-endian column
blocks, MySQL's text protocol renders every value as a length-prefixed
decimal string. The measurement quantifies what the reference's
protocol choice buys its clients on result-heavy queries.

Usage: python tools/wire_bench.py [N]   (default 1_000_000 rows)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from fuse_query_spark.engine import Engine
from fuse_query_spark.servers import ClickHouseServer, MySQLServer
from fuse_query_spark.session import get_spark


def first_row_clock(client, method: str, is_row) -> list[float]:
    """Wrap client.<method> so the returned list gets the time of the
    first call whose (args, result) is_row() accepts."""
    read, stamps = getattr(client, method), []

    def wrapper(*args):
        out = read(*args)
        if not stamps and is_row(args, out):
            stamps.append(time.monotonic())
        return out

    setattr(client, method, wrapper)
    return stamps


def mysql_row_clock(client) -> list[float]:
    """First packet after the column-definition EOF: the first row."""
    seen_eof = []

    def is_row(_args, packet):
        if seen_eof:
            return True
        if packet[:1] == b"\xfe":
            seen_eof.append(True)
        return False

    return first_row_clock(client, "read_packet", is_row)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("wire-bench")
    engine = Engine(spark)
    sql = f"SELECT number FROM numbers({n})"

    from test_clickhouse_server import MiniCHClient
    from test_mysql_server import MiniClient

    # warm the engine path once so both protocols measure serving cost
    engine.sql_collect(sql)

    ch = ClickHouseServer(engine, port=0)
    ch_port = ch.start()
    cli = MiniCHClient(ch_port)
    ch_first = first_row_clock(cli, "_read_column", lambda args, _out: args[1] > 0)
    t0 = time.monotonic()
    _, rows, _, exc = cli.query(sql)
    t_ch = time.monotonic() - t0
    ttfr_ch = ch_first[0] - t0
    assert exc is None and len(rows) == n
    cli.close()
    ch.stop()

    my = MySQLServer(engine, port=0)
    my_port = my.start()
    mcli = MiniClient(my_port)
    my_first = mysql_row_clock(mcli)
    t0 = time.monotonic()
    cols, mrows = mcli.query(sql)
    t_my = time.monotonic() - t0
    ttfr_my = my_first[0] - t0
    assert len(mrows) == n
    # binary resultset path (COM_STMT_EXECUTE, r5): fixed-width values
    # instead of decimal strings — measures the prepared-statement
    # encoding the strict connectors use
    mcli.sock.close()
    bcli = MiniClient(my_port)
    sid, _, _ = bcli.prepare(sql)
    bin_first = mysql_row_clock(bcli)
    t0 = time.monotonic()
    _, brows = bcli.execute(sid)
    t_bin = time.monotonic() - t0
    ttfr_bin = bin_first[0] - t0
    assert len(brows) == n
    bcli.close_stmt(sid)
    bcli.sock.close()
    my.stop()

    print(
        json.dumps(
            {
                "rows": n,
                "clickhouse_native_sec": round(t_ch, 3),
                "mysql_text_sec": round(t_my, 3),
                "mysql_binary_sec": round(t_bin, 3),
                "clickhouse_mrows_s": round(n / t_ch / 1e6, 2),
                "mysql_mrows_s": round(n / t_my / 1e6, 2),
                "mysql_binary_mrows_s": round(n / t_bin / 1e6, 2),
                "clickhouse_first_row_ms": round(1000 * ttfr_ch, 1),
                "mysql_text_first_row_ms": round(1000 * ttfr_my, 1),
                "mysql_binary_first_row_ms": round(1000 * ttfr_bin, 1),
                "native_vs_text": round(t_my / t_ch, 2),
                "binary_vs_text": round(t_my / t_bin, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
