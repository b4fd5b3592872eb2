"""Serving client: one closed-loop caller driving one MySQL text-protocol
connection and one ClickHouse native-protocol connection.

Started by serving.py with the two ports. It runs a warm-up round
(which is also the correctness round), one more untimed round, then
timed rounds, and in a traced run a further set of rounds with the
engine's tracing on. It tells the engine process about each phase
change on stdout ("PHASE <name> <statements sent so far>") and waits
for "OK" on stdin, so the engine can switch tracing between
statements. Its last stdout line is "RESULT <json>" with one record
per statement. A traced run ends with an untraced window and then a
burst of SHORT_BURST short statements on their own.

A round is the same mix every time, with seeded keys and values:
  * short statements: point lookups on both protocols, a small
    aggregate with ClickHouse combinators, a LIMIT n BY;
  * one result-heavy SELECT per protocol;
  * INSERT ... VALUES batches into a fresh Memory table and a fresh
    Snapshot table, each read back with count(*) and sum(id) after
    every other batch, then dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import socket
import struct
import sys
import time

MIN_ROUNDS = 3  # timed rounds at least, so one slow round does not set the median
SHORT_PER_ROUND = 4
INSERT_BATCHES = 2
ROWS_PER_BATCH = 50
READBACK_EVERY = 2
# untraced short statements after the windows of a traced run, so that
# their p95 has 10 samples above it; the burst stops early after
# SHORT_BURST_S seconds to keep a traced run within its time limit
SHORT_BURST = 200
SHORT_BURST_S = 60.0


class WireError(Exception):
    pass


# ------------------------------------------------------------------ MySQL


class MySQL:
    """Text-protocol client: COM_QUERY and the classic EOF-terminated
    result set."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.buf = bytearray()
        self.pos = 0
        self.nbytes = 0
        self._packet()  # greeting
        caps = 0x0200 | 0x8000  # PROTOCOL_41 | SECURE_CONNECTION
        resp = struct.pack("<IIB", caps, 1 << 24, 33) + b"\x00" * 23 + b"bench\x00" + b"\x00"
        self._send(resp, seq=1)
        if self._packet()[0] == 0xFF:
            raise WireError("mysql handshake refused")

    def _fill(self, n: int) -> None:
        while len(self.buf) - self.pos < n:
            chunk = self.sock.recv(1 << 16)
            if not chunk:
                raise WireError("mysql server closed the connection")
            self.nbytes += len(chunk)
            del self.buf[: self.pos]
            self.pos = 0
            self.buf += chunk

    def _packet(self) -> bytes:
        payload = b""
        while True:
            self._fill(4)
            b, p = self.buf, self.pos
            n = b[p] | b[p + 1] << 8 | b[p + 2] << 16
            self._fill(4 + n)
            p = self.pos
            payload += bytes(self.buf[p + 4 : p + 4 + n])
            self.pos = p + 4 + n
            if n < 0xFFFFFF:
                return payload

    def _send(self, payload: bytes, seq: int = 0) -> None:
        self.sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([seq]) + payload)

    @staticmethod
    def _lenenc(p: bytes, i: int) -> tuple[int | None, int]:
        b = p[i]
        if b < 0xFB:
            return b, i + 1
        if b == 0xFB:
            return None, i + 1
        width = {0xFC: 2, 0xFD: 3, 0xFE: 8}[b]
        return int.from_bytes(p[i + 1 : i + 1 + width], "little"), i + 1 + width

    def query(self, sql: str):
        """Returns (rows, seconds to first row or None, bytes received)."""
        self.nbytes = 0
        t0 = time.perf_counter()
        self._send(b"\x03" + sql.encode())
        first = self._packet()
        if first[0] == 0xFF:
            raise WireError(first[9:].decode(errors="replace"))
        if first[0] == 0x00:
            return [], None, self.nbytes
        ncols, _ = self._lenenc(first, 0)
        for _ in range(ncols):
            self._packet()
        self._packet()  # EOF after column definitions
        rows, ttfr = [], None
        while True:
            p = self._packet()
            if p[0] == 0xFE and len(p) < 9:
                break
            if p[0] == 0xFF:
                raise WireError(p[9:].decode(errors="replace"))
            if ttfr is None:
                ttfr = time.perf_counter() - t0
            row, i = [], 0
            for _ in range(ncols):
                n, i = self._lenenc(p, i)
                if n is None:
                    row.append(None)
                else:
                    row.append(p[i : i + n].decode())
                    i += n
            rows.append(row)
        return rows, ttfr, self.nbytes

    def close(self) -> None:
        try:
            self._send(b"\x01")
        finally:
            self.sock.close()


# ------------------------------------------------------------- ClickHouse

REVISION = 54405
_FIXED = {
    "Int8": "b", "Int16": "h", "Int32": "i", "Int64": "q", "UInt8": "B", "UInt16": "H",
    "UInt32": "I", "UInt64": "Q", "Float32": "f", "Float64": "d", "Date": "H", "DateTime": "I",
}


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def _chs(s: str) -> bytes:
    b = s.encode()
    return _varint(len(b)) + b


class ClickHouse:
    """Native-protocol client at the server's revision, no compression."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.buf = bytearray()
        self.pos = 0
        self.nbytes = 0
        self.sock.sendall(_varint(0) + _chs("perfbench") + _varint(1) + _varint(0)
                          + _varint(REVISION) + _chs("default") + _chs("default") + _chs(""))
        if self._vi() != 0:
            raise WireError("clickhouse hello refused")
        self._str(), self._vi(), self._vi(), self._vi()  # name, major, minor, revision
        self._str(), self._str(), self._vi()  # timezone, display name, patch

    def _fill(self, n: int) -> None:
        while len(self.buf) - self.pos < n:
            chunk = self.sock.recv(1 << 16)
            if not chunk:
                raise WireError("clickhouse server closed the connection")
            self.nbytes += len(chunk)
            del self.buf[: self.pos]
            self.pos = 0
            self.buf += chunk

    def _take(self, n: int) -> bytes:
        self._fill(n)
        out = bytes(self.buf[self.pos : self.pos + n])
        self.pos += n
        return out

    def _vi(self) -> int:
        shift = out = 0
        while True:
            b = self._take(1)[0]
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def _str(self) -> bytes:
        return self._take(self._vi())

    def _column(self, ch_type: str, n: int) -> list:
        if ch_type.startswith("Nullable("):
            mask = self._take(n)
            vals = self._column(ch_type[9:-1], n)
            return [None if mask[i] else vals[i] for i in range(n)]
        if ch_type in _FIXED:
            fmt = "<%d%s" % (n, _FIXED[ch_type])
            return list(struct.unpack(fmt, self._take(struct.calcsize(fmt))))
        if ch_type == "String":
            return [self._str().decode() for _ in range(n)]
        raise WireError(f"unsupported column type {ch_type}")

    def query(self, sql: str):
        """Returns (rows, seconds to first row or None, bytes received)."""
        self.nbytes = 0
        t0 = time.perf_counter()
        pkt = (_varint(1) + _chs("") + b"\x01" + _chs("") + _chs("") + _chs("0.0.0.0:0")
               + b"\x01" + _chs("bench") + _chs("localhost") + _chs("perfbench")
               + _varint(1) + _varint(0) + _varint(REVISION) + _chs("") + _varint(0)
               + _chs("") + _varint(2) + _varint(0) + _chs(sql)
               # empty external-tables block
               + _varint(2) + _chs("") + _varint(1) + b"\x00" + _varint(2)
               + struct.pack("<i", -1) + _varint(0) + _varint(0) + _varint(0))
        self.sock.sendall(pkt)
        rows, ttfr = [], None
        while True:
            kind = self._vi()
            if kind == 1:  # Data
                self._str()
                while True:  # BlockInfo: field 1 is one byte, field 2 four, 0 ends
                    field = self._vi()
                    if not field:
                        break
                    self._take(1 if field == 1 else 4)
                ncols, n = self._vi(), self._vi()
                cols = []
                for _ in range(ncols):
                    self._str()
                    cols.append(self._column(self._str().decode(), n))
                if n:
                    if ttfr is None:
                        ttfr = time.perf_counter() - t0
                    rows.extend(zip(*cols))
            elif kind == 2:  # Exception
                self._take(4)
                self._str()
                msg = self._str().decode(errors="replace")
                self._str()
                self._take(1)
                raise WireError(msg)
            elif kind == 3:  # Progress: rows, bytes, total rows
                self._vi(), self._vi(), self._vi()
            elif kind == 5:  # EndOfStream
                return rows, ttfr, self.nbytes
            else:
                raise WireError(f"unexpected server packet {kind}")

    def close(self) -> None:
        self.sock.close()


# ----------------------------------------------------------------- corpus


class Expect:
    """What the corpus says the lookups must return."""

    def __init__(self, corpus: str):
        import pyarrow.parquet as pq

        o = pq.read_table(os.path.join(corpus, "orders.parquet"),
                          columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])
        self.orders = {r["o_orderkey"]: r for r in o.to_pylist()}
        c = pq.read_table(os.path.join(corpus, "customer.parquet"),
                          columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal"])
        self.customers = {r["c_custkey"]: r for r in c.to_pylist()}
        ev = pq.read_table(os.path.join(corpus, "events.parquet"), columns=["user_id"])
        self.events_per_user: dict[int, int] = {}
        for u in ev.column("user_id").to_pylist():
            self.events_per_user[u] = self.events_per_user.get(u, 0) + 1
        li = pq.read_table(os.path.join(corpus, "lineitem.parquet"), columns=["l_orderkey"])
        # the large SELECTs read the lines of the first half of the orders
        self.bulk_key = len(self.orders) // 2
        self.bulk_rows = sum(1 for k in li.column("l_orderkey").to_pylist() if k < self.bulk_key)


# ------------------------------------------------------------------ round


SHORT_KINDS = ("point_mysql", "point_ch", "agg_ch", "limitby_mysql")


def short_statement(rng: random.Random, kind: str, exp: Expect):
    """(kind, protocol, sql, check) of one short statement."""
    n_orders, n_cust = len(exp.orders), len(exp.customers)
    if kind == "point_mysql":
        k = rng.randrange(n_orders)
        o = exp.orders[k]
        return (kind, "mysql",
                f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = {k}",
                lambda r: len(r) == 1 and int(r[0][1]) == o["o_custkey"]
                and r[0][2] == o["o_orderstatus"] and float(r[0][3]) == o["o_totalprice"])
    if kind == "point_ch":
        k = rng.randrange(n_cust)
        c = exp.customers[k]
        return (kind, "clickhouse",
                f"SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer WHERE c_custkey = {k}",
                lambda r: len(r) == 1 and tuple(r[0]) == (c["c_custkey"], c["c_name"],
                                                          c["c_nationkey"], c["c_acctbal"]))
    if kind == "agg_ch":
        k = rng.randrange(n_orders // 4, n_orders)
        return (kind, "clickhouse",
                "SELECT l_returnflag, uniq(l_suppkey) AS u, sumIf(l_quantity, l_discount > 0.05) AS q, "
                f"countIf(l_quantity > 25) AS n FROM lineitem WHERE l_orderkey < {k} GROUP BY l_returnflag",
                lambda r: len(r) == 3)
    k = rng.randrange(5, 30)
    want = sum(min(2, exp.events_per_user.get(u, 0)) for u in range(k))
    return (kind, "mysql",
            f"SELECT user_id, event_id, value FROM events WHERE user_id < {k} "
            "ORDER BY user_id, event_id LIMIT 2 BY user_id",
            lambda r: len(r) == want)


def round_statements(rng: random.Random, tag: str, work: str, exp: Expect) -> list:
    """(kind, protocol, sql, check) for one round; check(rows) -> bool."""
    out = [short_statement(rng, SHORT_KINDS[i % len(SHORT_KINDS)], exp) for i in range(SHORT_PER_ROUND)]
    bulk = f"SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey < {exp.bulk_key}"
    for proto in ("mysql", "clickhouse"):
        out.append((f"bulk_{proto}", proto, bulk, lambda r: len(r) == exp.bulk_rows))
    for engine, proto in (("Memory", "mysql"), ("Snapshot", "clickhouse")):
        name = f"pb_{engine.lower()}_{tag}"
        loc = os.path.join(work, "serving-tables", name)
        where = f" location = '{loc}'" if engine == "Snapshot" else ""
        out.append(("ddl", proto, f"CREATE TABLE {name} (id BIGINT, k INT, v DOUBLE, s STRING) "
                                  f"ENGINE = {engine}{where}", None))
        ids: list[int] = []
        for b in range(INSERT_BATCHES):
            batch = [(rng.randrange(1 << 40), rng.randrange(1000), round(rng.uniform(0, 1000), 2),
                      "".join(rng.choice("abcdefgh") for _ in range(8))) for _ in range(ROWS_PER_BATCH)]
            ids.extend(r[0] for r in batch)
            values = ", ".join(f"({a}, {k}, {v}, '{s}')" for a, k, v, s in batch)
            out.append((f"insert_{engine.lower()}", proto, f"INSERT INTO {name} VALUES {values}", None))
            if (b + 1) % READBACK_EVERY == 0:
                n, total = len(ids), sum(ids)
                out.append((f"readback_{engine.lower()}", proto,
                            f"SELECT count(*) AS n, sum(id) AS s FROM {name}",
                            lambda r, n=n, total=total: len(r) == 1 and int(r[0][0]) == n
                            and int(r[0][1]) == total))
        out.append(("ddl", proto, f"DROP TABLE {name}", None))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mysql", type=int, required=True)
    ap.add_argument("--clickhouse", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    exp = Expect(args.corpus)
    conns = {"mysql": MySQL(args.mysql), "clickhouse": ClickHouse(args.clickhouse)}
    records, rounds = [], []
    tables_dir = os.path.join(args.work, "serving-tables")

    def phase(name: str) -> None:
        print(f"PHASE {name} {len(records)}", flush=True)
        if sys.stdin.readline().strip() != "OK":
            raise SystemExit("engine did not acknowledge the phase change")

    def run_statements(ph: str, r: int, statements) -> int:
        """Run statements in order, appending one record each; returns
        the snapshot INSERT payload bytes."""
        inserted_bytes = 0
        for kind, proto, sql, check in statements:
            rec = {"i": len(records), "phase": ph, "round": r, "kind": kind, "proto": proto}
            t0 = time.perf_counter()
            try:
                got, ttfr, nbytes = conns[proto].query(sql)
                rec.update(rtt=time.perf_counter() - t0, ttfr=ttfr, rows=len(got), bytes=nbytes,
                           ok=check is None or bool(check(got)))
            except WireError as e:
                rec.update(rtt=time.perf_counter() - t0, ttfr=None, rows=0, bytes=0, ok=False,
                           error=str(e)[:300])
            if kind.startswith("insert"):
                rec["payload_bytes"] = len(sql.split(" VALUES ", 1)[1].encode())
                rec["rows_in"] = ROWS_PER_BATCH
                inserted_bytes += rec["payload_bytes"] if kind == "insert_snapshot" else 0
            records.append(rec)
        return inserted_bytes

    def one_round(ph: str, r: int) -> None:
        rng = random.Random(f"{args.seed}/{ph}/{r}")
        t_round = time.perf_counter()
        inserted_bytes = run_statements(ph, r, round_statements(rng, f"{ph}{r}", args.work, exp))
        files = disk = 0
        for dirpath, _, names in os.walk(tables_dir):
            for n in names:
                disk += os.path.getsize(os.path.join(dirpath, n))
                files += n.endswith(".parquet")
        shutil.rmtree(tables_dir, ignore_errors=True)
        rounds.append({"phase": ph, "round": r, "wall": time.perf_counter() - t_round,
                       "files": files, "disk_bytes": disk, "snapshot_payload_bytes": inserted_bytes})

    def window(ph: str, seconds: float, min_rounds: int = 1) -> None:
        phase(ph)
        start, walls, r = time.perf_counter(), [], 0
        while True:
            one_round(ph, r)
            walls.append(rounds[-1]["wall"])
            r += 1
            if r >= min_rounds and time.perf_counter() - start + sorted(walls)[len(walls) // 2] > seconds:
                break

    one_round("check", 0)
    # the first round after the checking one can still be slow (JIT)
    one_round("warm", 0)
    window("timed", args.seconds, MIN_ROUNDS)
    if args.trace:
        # half-length windows keep a traced run within its time limit
        window("traced", args.seconds / 2)
        # a second untraced window, so the tracing overhead is not
        # confounded with passes getting faster as the JVM warms up
        window("after", args.seconds / 2)
        phase("shorts")
        rng = random.Random(f"{args.seed}/shorts")
        start = time.perf_counter()
        for i in range(SHORT_BURST):
            if time.perf_counter() - start > SHORT_BURST_S:
                break
            run_statements("shorts", 0, [short_statement(rng, SHORT_KINDS[i % len(SHORT_KINDS)], exp)])
    phase("end")
    for c in conns.values():
        c.close()
    print("RESULT " + json.dumps({"records": records, "rounds": rounds}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
