"""MySQL wire front-end tests (mysql_handler.rs:29 parity surface).

No MySQL client library ships in this container, so the test speaks
the client side of the protocol itself over a raw socket — which also
pins the server's BYTES, not just a library's tolerant view of them:
protocol-10 greeting, HandshakeResponse41, OK/ERR/EOF framing, text
result sets with lenenc cells.
"""

import socket
import struct

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.servers import MySQLServer

CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000


class MiniClient:
    """Protocol-conformant minimal MySQL client (text protocol)."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.greeting = self._handshake()

    # -- framing --
    def _read_exact(self, n):
        buf = b""
        while len(buf) < n:
            c = self.sock.recv(n - len(buf))
            assert c, "server closed"
            buf += c
        return buf

    def read_packet(self):
        payload = b""
        while True:  # reassemble protocol-split packets (>= 16 MiB)
            head = self._read_exact(4)
            ln = head[0] | (head[1] << 8) | (head[2] << 16)
            payload += self._read_exact(ln)
            if ln < 0xFFFFFF:
                return payload

    def send_packet(self, payload, seq):
        self.sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([seq]) + payload)

    # -- handshake --
    def _handshake(self):
        g = self.read_packet()
        assert g[0] == 0x0A, "not protocol v10"
        nul = g.index(b"\x00", 1)
        server_version = g[1:nul].decode()
        caps = CLIENT_PROTOCOL_41 | CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH
        resp = (
            struct.pack("<I", caps)
            + struct.pack("<I", 1 << 24)  # max packet
            + bytes([33])  # charset
            + b"\x00" * 23
            + b"root\x00"  # username
            + b"\x00"  # empty auth response (lenenc 0)
            + b"mysql_native_password\x00"
        )
        self.send_packet(resp, seq=1)
        ok = self.read_packet()
        assert ok[0] == 0x00, f"auth not OK: {ok!r}"
        return server_version

    # -- lenenc --
    @staticmethod
    def _lenenc(buf, pos):
        b0 = buf[pos]
        if b0 < 251:
            return b0, pos + 1
        if b0 == 0xFC:
            return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
        if b0 == 0xFD:
            return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9

    def _lenenc_str(self, buf, pos):
        n, pos = self._lenenc(buf, pos)
        return buf[pos : pos + n], pos + n

    # -- commands --
    def query(self, sql: str):
        """Returns (columns, rows) for result sets, "OK" for OK
        packets; raises RuntimeError on ERR."""
        self.send_packet(b"\x03" + sql.encode(), seq=0)
        return self._response()

    def _response(self, binary=False):
        first = self.read_packet()
        if first[0] == 0x00:
            return "OK"
        if first[0] == 0xFF:
            errno = struct.unpack_from("<H", first, 1)[0]
            raise RuntimeError(f"[{errno}] {first[9:].decode(errors='replace')}")
        ncols, _ = self._lenenc(first, 0)
        cols = []
        for _ in range(ncols):
            p = self.read_packet()
            pos = 0
            _, pos = self._lenenc_str(p, pos)  # catalog 'def'
            _, pos = self._lenenc_str(p, pos)  # schema
            _, pos = self._lenenc_str(p, pos)  # table
            _, pos = self._lenenc_str(p, pos)  # org_table
            name, pos = self._lenenc_str(p, pos)
            _, pos = self._lenenc_str(p, pos)  # org_name
            pos += 1 + 2 + 4  # fixed marker, charset, length
            coltype = p[pos]
            cols.append((name.decode(), coltype))
        assert self.read_packet()[0] == 0xFE  # EOF after columns
        rows = []
        while True:
            p = self.read_packet()
            if p[0] == 0xFE and len(p) < 9:
                break
            if binary:
                rows.append(self._decode_binary_row(p, cols))
                continue
            row, pos = [], 0
            for _ in range(ncols):
                if p[pos] == 0xFB:
                    row.append(None)
                    pos += 1
                else:
                    v, pos = self._lenenc_str(p, pos)
                    row.append(v.decode())
            rows.append(row)
        return cols, rows

    def _decode_binary_row(self, p, cols):
        assert p[0] == 0x00, "binary row header"
        n = len(cols)
        nb_len = (n + 2 + 7) // 8
        bitmap, pos = p[1 : 1 + nb_len], 1 + nb_len
        fixed = {0x01: "<b", 0x02: "<h", 0x03: "<i", 0x08: "<q", 0x04: "<f", 0x05: "<d"}
        row = []
        for i, (_, coltype) in enumerate(cols):
            if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                row.append(None)
            elif coltype in fixed:
                fmt = fixed[coltype]
                row.append(struct.unpack_from(fmt, p, pos)[0])
                pos += struct.calcsize(fmt)
            elif coltype in (0x0A, 0x0C):  # DATE / DATETIME
                ln = p[pos]
                pos += 1
                raw = p[pos : pos + ln]
                pos += ln
                row.append(raw)  # tests compare packed forms directly
            else:  # lenenc string forms
                v, pos = self._lenenc_str(p, pos)
                row.append(v.decode())
        return row

    def ping(self):
        self.send_packet(b"\x0e", seq=0)
        return self.read_packet()[0] == 0x00

    # -- prepared statements (COM_STMT_*) --
    def prepare(self, sql: str):
        """Returns (stmt_id, n_cols, n_params); raises on ERR."""
        self.send_packet(b"\x16" + sql.encode(), seq=0)
        p = self.read_packet()
        if p[0] == 0xFF:
            errno = struct.unpack_from("<H", p, 1)[0]
            raise RuntimeError(f"[{errno}] {p[9:].decode(errors='replace')}")
        assert p[0] == 0x00
        sid = struct.unpack_from("<I", p, 1)[0]
        ncols = struct.unpack_from("<H", p, 5)[0]
        nparams = struct.unpack_from("<H", p, 7)[0]
        for block in (nparams, ncols):
            if block:
                for _ in range(block):
                    self.read_packet()  # definitions
                assert self.read_packet()[0] == 0xFE  # EOF
        return sid, ncols, nparams

    @staticmethod
    def _param(v):
        """(type_byte, flags, wire_bytes) for a python value."""
        if v is None:
            return 0x06, 0, b""
        if isinstance(v, int):
            return 0x08, 0, struct.pack("<q", v)
        if isinstance(v, float):
            return 0x05, 0, struct.pack("<d", v)
        b = v.encode() if isinstance(v, str) else bytes(v)
        assert len(b) < 251
        return 0xFD, 0, bytes([len(b)]) + b

    def execute(self, sid: int, params=(), send_types=True):
        payload = struct.pack("<I", sid) + b"\x00" + struct.pack("<I", 1)
        if params:
            nb = bytearray((len(params) + 7) // 8)
            specs = [self._param(v) for v in params]
            for i, v in enumerate(params):
                if v is None:
                    nb[i // 8] |= 1 << (i % 8)
            payload += bytes(nb) + (b"\x01" if send_types else b"\x00")
            if send_types:
                for t, f, _ in specs:
                    payload += bytes([t, f])
            for i, (_, _, wire) in enumerate(specs):
                if params[i] is not None:
                    payload += wire
        self.send_packet(b"\x17" + payload, seq=0)
        return self._response(binary=True)

    def close_stmt(self, sid: int):
        self.send_packet(b"\x19" + struct.pack("<I", sid), seq=0)  # no response

    def init_db(self, db: str):
        self.send_packet(b"\x02" + db.encode(), seq=0)
        return self.read_packet()[0] == 0x00

    def quit(self):
        try:
            self.send_packet(b"\x01", seq=0)
            self.sock.close()
        except OSError:
            pass


@pytest.fixture(scope="module")
def server(spark):
    engine = Engine(spark)
    srv = MySQLServer(engine, port=0)  # ephemeral port
    srv.start()
    yield srv
    srv.stop()


@pytest.fixture()
def client(server):
    c = MiniClient(server.port)
    yield c
    c.quit()


def test_handshake_and_select_1(client):
    assert "fuse-query-spark" in client.greeting
    cols, rows = client.query("SELECT 1")
    assert len(cols) == 1
    assert rows == [["1"]]


def test_numbers_aggregate_roundtrip(client):
    cols, rows = client.query("SELECT sum(number) FROM numbers_mt(10000)")
    assert rows == [["49995000"]]


def test_dialect_functions_over_wire(client):
    cols, rows = client.query("SELECT toTypeName(1), database()")
    assert rows == [["UInt8", "default"]]


def test_column_types_mirror_reference_writer(client):
    # ints -> MYSQL_TYPE_LONG (0x03), strings -> VARCHAR (0x0f), like
    # writers/query_result_writer.rs:42-57
    cols, _ = client.query("SELECT 1 AS n, 'x' AS s")
    types = dict(cols)
    assert types["n"] == 0x03
    assert types["s"] == 0x0F


def test_ddl_returns_ok_and_use_db(client):
    assert client.query("DROP TABLE IF EXISTS wire_t") == "OK"
    assert client.query("CREATE TABLE wire_t(a int) ENGINE = Memory") == "OK"
    assert client.query("INSERT INTO wire_t VALUES (5), (7)") == "OK"
    cols, rows = client.query("SELECT a FROM wire_t ORDER BY a")
    assert rows == [["5"], ["7"]]
    assert client.query("DROP TABLE wire_t") == "OK"
    assert client.init_db("default") is True


def test_error_packet_on_bad_sql(client):
    with pytest.raises(RuntimeError):
        client.query("SELECT not_a_col FROM numbers(1)")


def test_null_cells(client):
    _, rows = client.query("SELECT NULL AS x, 2 AS y")
    assert rows == [[None, "2"]]


def test_packet_splitting_over_16mb(client):
    # a single >16 MiB cell forces the server to split the row packet
    # into 0xFFFFFF-byte frames (protocol packet splitting)
    n = 17 * 1024 * 1024
    _, rows = client.query(f"SELECT repeat('x', {n}) AS big")
    assert len(rows) == 1 and len(rows[0][0]) == n
    assert rows[0][0][:4] == "xxxx"


def test_ping_and_concurrent_connections(server):
    a, b = MiniClient(server.port), MiniClient(server.port)
    try:
        assert a.ping() and b.ping()
        _, ra = a.query("SELECT 11")
        _, rb = b.query("SELECT 22")
        assert ra == [["11"]] and rb == [["22"]]
    finally:
        a.quit()
        b.quit()


def test_stmt_prepare_execute_roundtrip(client):
    """prepare → execute → fetch with bound parameters (capability
    extension past the reference, whose on_prepare errors —
    mysql_interactive_worker.rs:124-133; real connectors default to
    prepared statements)."""
    sid, ncols, nparams = client.prepare(
        "SELECT number, number * ? AS m FROM numbers(5) WHERE number > ?"
    )
    assert nparams == 2 and ncols == 0  # result metadata deferred to execute
    cols, rows = client.execute(sid, [3, 1])
    assert [c[0] for c in cols] == ["number", "m"]
    # binary resultset (r5): accurate types — bigint -> LONGLONG(0x08)
    assert [c[1] for c in cols] == [0x08, 0x08]
    assert rows == [[2, 6], [3, 9], [4, 12]]
    # re-execute WITHOUT re-sending types (new_params_bound_flag = 0)
    cols, rows = client.execute(sid, [10, 3], send_types=False)
    assert rows == [[4, 40]]


def test_stmt_string_null_and_float_params(client):
    sid, _, nparams = client.prepare("SELECT ? AS s, ? AS n, ? AS f")
    assert nparams == 3
    cols, rows = client.execute(sid, ["o'hara \\ x", None, 2.5])
    # 2.5 substitutes as a decimal literal -> NEWDECIMAL, which the
    # binary protocol itself transports as a string
    assert cols[2][1] == 0xF6
    assert rows == [["o'hara \\ x", None, "2.5"]]


def test_stmt_double_param_is_binary_double(client):
    sid, _, _ = client.prepare("SELECT CAST(? AS DOUBLE) AS f")
    cols, rows = client.execute(sid, [2.5])
    assert cols[0][1] == 0x05  # MYSQL_TYPE_DOUBLE
    assert rows == [[2.5]]


def test_stmt_placeholder_inside_string_is_not_a_param(client):
    sid, _, nparams = client.prepare("SELECT '?' AS lit, ? AS p")
    assert nparams == 1
    _, rows = client.execute(sid, [7])
    assert rows == [["?", 7]]


def test_stmt_binary_date_encoding(client):
    sid, _, _ = client.prepare("SELECT DATE '1995-03-15' AS d")
    cols, rows = client.execute(sid)
    assert cols[0][1] == 0x0A  # MYSQL_TYPE_DATE in the column def
    assert rows == [[struct.pack("<H", 1995) + bytes([3, 15])]]


def test_stmt_close_then_execute_errors(client):
    sid, _, _ = client.prepare("SELECT ? AS x")
    client.close_stmt(sid)
    with pytest.raises(RuntimeError, match="1243"):
        client.execute(sid, [1])



def test_non_utf8_com_query_gets_err_packet(client):
    """code-review r8: raw non-utf8 COM_QUERY bytes previously killed
    the connection with no ERR packet; they must now produce a normal
    response and the connection must survive."""
    client.send_packet(b"\x03" + b"SELECT '\xff\xfe' AS x", seq=0)
    try:
        client._response()  # ERR (RuntimeError) or a result set — both fine
    except RuntimeError:
        pass
    # connection still serves queries
    cols, rows = client.query("SELECT 1 AS one")
    assert rows == [["1"]]


def test_stmt_execute_truncated_payload_err_not_crash(client):
    """code-review r8: a COM_STMT_EXECUTE cut right after the null
    bitmap indexed past the payload OUTSIDE the guard and killed the
    connection; it must answer errno 1210."""
    import pytest as _pytest

    sid, _ncols, nparams = client.prepare("SELECT ? AS x")
    assert nparams == 1
    payload = struct.pack("<I", sid) + b"\x00" + struct.pack("<I", 1) + b"\x00"
    client.send_packet(b"\x17" + payload, seq=0)
    with _pytest.raises(RuntimeError, match="1210"):
        client._response(binary=True)
    # connection survives
    cols, rows = client.query("SELECT 2 AS two")
    assert rows == [["2"]]


def test_question_mark_in_comment_not_a_param(client):
    """code-review r8: '?' inside -- or block comments was counted and
    substituted as a placeholder."""
    sid, _ncols, nparams = client.prepare("SELECT /* really? */ ? AS x -- sure?")
    assert nparams == 1
    res = client.execute(sid, params=[7])
    cols, rows = res
    assert rows and rows[0][0] in (7, "7", b"7")


def test_quote_inside_quoted_identifier_is_not_a_literal(client):
    """A quote inside a backtick identifier opens no literal, so the
    placeholder after it is counted and bound."""
    sid, _ncols, nparams = client.prepare("SELECT `a'b`, ? AS p FROM (SELECT 1 AS `a'b`)")
    assert nparams == 1
    _cols, rows = client.execute(sid, [7])
    assert rows == [[1, 7]]


# ---------- result-set framing: batched sends, same bytes ----------


class _Recorder:
    """A socket that keeps what is sent, one entry per sendall."""

    def __init__(self):
        self.sent: list[bytes] = []

    def sendall(self, data) -> None:
        self.sent.append(bytes(data))


# The per-value encoders the column kernels replaced, kept as the
# differential oracle: they encode the Rows of df.collect().


def _lenenc_int(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(s: bytes) -> bytes:
    return _lenenc_int(len(s)) + s


def _text_value(v) -> bytes:
    """MySQL text-protocol cell: lenenc string, NULL = 0xfb."""
    from datetime import date, datetime

    if v is None:
        return b"\xfb"
    if isinstance(v, bool):
        return _lenenc_str(b"1" if v else b"0")
    if isinstance(v, float):
        return _lenenc_str(repr(v).encode())
    if isinstance(v, datetime):
        return _lenenc_str(v.strftime("%Y-%m-%d %H:%M:%S.%f").encode())
    if isinstance(v, date):
        return _lenenc_str(v.isoformat().encode())
    if isinstance(v, (bytes, bytearray)):
        return _lenenc_str(bytes(v))
    if isinstance(v, (list, tuple)):
        return _lenenc_str(("[" + ",".join("NULL" if x is None else str(x) for x in v) + "]").encode())
    return _lenenc_str(str(v).encode())


def _bin_date(v) -> bytes:
    return bytes([4]) + struct.pack("<H", v.year) + bytes([v.month, v.day])


def _bin_datetime(v) -> bytes:
    head = struct.pack("<H", v.year) + bytes([v.month, v.day, v.hour, v.minute, v.second])
    if v.microsecond:
        return bytes([11]) + head + struct.pack("<I", v.microsecond)
    return bytes([7]) + head


def _bin_str(v) -> bytes:
    b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
    return _lenenc_int(len(b)) + b


_BINARY_ENCODERS = {
    "tinyint": lambda v: struct.pack("<b", int(v)),
    "smallint": lambda v: struct.pack("<h", int(v)),
    "int": lambda v: struct.pack("<i", int(v)),
    "bigint": lambda v: struct.pack("<q", int(v)),
    "float": lambda v: struct.pack("<f", float(v)),
    "double": lambda v: struct.pack("<d", float(v)),
    "boolean": lambda v: struct.pack("<b", 1 if v else 0),
    "date": _bin_date,
    "timestamp": _bin_datetime,
    "timestamp_ntz": _bin_datetime,
}


def _per_row_resultset(fields, rows, binary: bool) -> list[bytes]:
    """The result-set writer as it was before batching, kept as the
    differential oracle: one sendall per frame."""
    from fuse_query_spark.servers.mysql_server import _Conn, _binary_type_of

    sock, seq = _Recorder(), [0]

    def send_packet(payload: bytes) -> None:
        while True:
            chunk, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            sock.sendall(struct.pack("<I", len(chunk))[:3] + bytes([seq[0] & 0xFF]) + chunk)
            seq[0] += 1
            if len(chunk) < 0xFFFFFF:
                break

    eof = b"\xfe" + struct.pack("<HH", 0, 2)
    encs = [_BINARY_ENCODERS.get(dtype, _bin_str) for _, dtype in fields]
    send_packet(_lenenc_int(len(fields)))
    for name, dtype in fields:
        send_packet(_Conn._column_def(name, dtype, _binary_type_of(dtype) if binary else None))
    send_packet(eof)
    n = len(fields)
    for row in rows:
        if not binary:
            send_packet(b"".join(_text_value(v) for v in row))
            continue
        bitmap = bytearray((n + 2 + 7) // 8)
        body = bytearray()
        for i, v in enumerate(row):
            if v is None:
                bitmap[(i + 2) // 8] |= 1 << ((i + 2) % 8)
            else:
                body += encs[i](v)
        send_packet(b"\x00" + bytes(bitmap) + bytes(body))
    send_packet(eof)
    return sock.sent


@pytest.mark.parametrize("binary", [False, True], ids=["text", "binary"])
def test_batched_resultset_bytes_equal_per_row_writer(spark, binary):
    """The column-encoded resultset of an Arrow table equals the
    per-row writer's bytes over the Rows of the same result: every
    mapped type, NULLs, float specials, decimals below 1e-6, years
    below 1000, long strings, an empty result, a result computed by
    Spark tasks and a row split over two frames (> 0xFFFFFF bytes)."""
    from conftest import wire_frames
    from fuse_query_spark.results import collect_arrow
    from fuse_query_spark.servers.mysql_server import _Conn

    frames = wire_frames(spark, wide_dates=True)
    frames["split"] = spark.sql(
        "SELECT id, repeat('x', CAST(16777222 - id AS INT)) AS s, id / 3 AS x FROM range(3)"
    )
    for label, df in frames.items():
        fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        conn = _Conn(_Recorder(), None)
        write = conn._write_binary_resultset if binary else conn._write_resultset
        write(fields, collect_arrow(df))
        want = _per_row_resultset(fields, df.collect(), binary)
        assert b"".join(conn.sock.sent) == b"".join(want), label
        if label == "job":
            assert len(want) > 70000 and len(conn.sock.sent) < len(want) / 1000


def test_init_db_takes_the_name_as_written(server, client):
    """COM_INIT_DB carries a bare database name: one a SQL word cannot
    spell (a dash, a space, a backtick) selects that database, and
    trailing text is part of the name, not more statement."""
    from fuse_query_spark.dialect.lexer import quote_name

    try:
        for name in ["my-db", "a b", "it`s"]:
            server.engine.sql(f"CREATE DATABASE {quote_name(name)}")
            assert client.init_db(name) is True
            assert client.query("SELECT database()")[1] == [[name]]
        assert client.init_db("default oops") is False
        assert client.init_db("default") is True
    finally:
        for name in ["my-db", "a b", "it`s"]:
            server.engine.sql(f"DROP DATABASE IF EXISTS {quote_name(name)}")
