"""ClickHouse native wire front-end tests (clickhouse_handler.rs:28
parity surface).

No ClickHouse client library ships in this container, so the test
speaks the client side of the native protocol itself over a raw
socket — pinning the server's BYTES: varint framing, Hello exchange
with the reference's identity (datafuse 2021.5.0 @ revision 54405,
interactive_worker.rs:50-85), BlockInfo-prefixed native blocks with
Nullable columns, Exception/Progress/EndOfStream packets.
"""

import socket
import struct

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.servers import ClickHouseServer

CLIENT_REVISION = 54405


def _varint(n):
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _s(text):
    b = text.encode() if isinstance(text, str) else text
    return _varint(len(b)) + b


class MiniCHClient:
    """Protocol-conformant minimal ClickHouse native client."""

    def __init__(self, port, revision=CLIENT_REVISION):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.revision = revision
        self.server = self._hello()

    def close(self):
        self.sock.close()

    # -- reading --
    def _exact(self, n):
        buf = b""
        while len(buf) < n:
            c = self.sock.recv(n - len(buf))
            assert c, "server closed"
            buf += c
        return buf

    def _varint(self):
        shift = out = 0
        while True:
            b = self._exact(1)[0]
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def _string(self):
        return self._exact(self._varint())

    # -- handshake --
    def _hello(self):
        hello = (
            _varint(0)  # CLIENT_HELLO
            + _s("mini-ch-client")
            + _varint(1)
            + _varint(0)
            + _varint(self.revision)
            + _s("default")  # database
            + _s("default")  # user
            + _s("")  # password
        )
        self.sock.sendall(hello)
        ptype = self._varint()
        assert ptype == 0, f"expected SERVER_HELLO, got {ptype}"
        name = self._string().decode()
        major, minor, revision = self._varint(), self._varint(), self._varint()
        rev = min(self.revision, revision)
        tz = self._string().decode() if rev >= 54058 else None
        display = self._string().decode() if rev >= 54372 else None
        patch = self._varint() if rev >= 54401 else None
        return {
            "name": name,
            "major": major,
            "minor": minor,
            "revision": revision,
            "timezone": tz,
            "display_name": display,
            "patch": patch,
        }

    # -- query --
    def send_query(self, sql):
        pkt = (
            _varint(1)  # CLIENT_QUERY
            + _s("")  # query id
            + b"\x01"  # client info: query kind = initial
            + _s("")  # initial user
            + _s("")  # initial query id
            + _s("0.0.0.0:0")  # initial address
            + b"\x01"  # interface = TCP
            + _s("tester")  # os user
            + _s("testhost")  # hostname
            + _s("mini-ch-client")  # client name
            + _varint(1)
            + _varint(0)
            + _varint(self.revision)
            + (_s("") if self.revision >= 54060 else b"")  # quota key
            + (_varint(0) if self.revision >= 54401 else b"")  # version patch
            + _s("")  # settings terminator
            + _varint(2)  # stage: complete
            + _varint(0)  # no compression
            + _s(sql)
        )
        # the empty external-tables Data block terminator
        pkt += self._empty_data_block()
        self.sock.sendall(pkt)

    def _empty_data_block(self):
        return (
            _varint(2)  # CLIENT_DATA
            + _s("")  # table name
            + _varint(1) + b"\x00" + _varint(2) + struct.pack("<i", -1) + _varint(0)
            + _varint(0)  # columns
            + _varint(0)  # rows
        )

    def ping(self):
        self.sock.sendall(_varint(4))
        assert self._varint() == 4  # SERVER_PONG

    # -- response decoding --
    def _read_column(self, ch_type, n_rows):
        if ch_type.startswith("Nullable(") and ch_type.endswith(")"):
            mask = self._exact(n_rows)
            inner = self._read_column(ch_type[len("Nullable(") : -1], n_rows)
            return [None if mask[i] else inner[i] for i in range(n_rows)]
        fixed = {
            "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
            "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
            "Float32": "<f", "Float64": "<d", "Date": "<H", "DateTime": "<I",
        }
        if ch_type in fixed:
            fmt = fixed[ch_type]
            width = struct.calcsize(fmt)
            raw = self._exact(width * n_rows)
            return [struct.unpack_from(fmt, raw, i * width)[0] for i in range(n_rows)]
        if ch_type == "String":
            return [self._string().decode() for _ in range(n_rows)]
        raise AssertionError(f"unexpected column type {ch_type}")

    def read_response(self):
        """Read packets until EndOfStream or Exception. Returns
        (columns, rows, progresses, exception)."""
        columns, rows, progresses = [], [], []
        while True:
            ptype = self._varint()
            if ptype == 5:  # EndOfStream
                return columns, rows, progresses, None
            if ptype == 2:  # Exception
                code = struct.unpack("<i", self._exact(4))[0]
                name = self._string().decode()
                message = self._string().decode()
                self._string()  # stack trace
                has_nested = self._exact(1)[0]
                assert not has_nested
                return columns, rows, progresses, (code, name, message)
            if ptype == 3:  # Progress
                p_rows, p_bytes = self._varint(), self._varint()
                total = self._varint() if min(self.revision, 54405) >= 51554 else 0
                progresses.append((p_rows, p_bytes, total))
                continue
            assert ptype == 1, f"unexpected packet {ptype}"
            # Data packet
            self._string()  # temp table name
            while True:  # BlockInfo
                field = self._varint()
                if field == 0:
                    break
                self._exact(1 if field == 1 else 4)
            n_cols, n_rows = self._varint(), self._varint()
            block_cols = []
            for _ in range(n_cols):
                name = self._string().decode()
                ch_type = self._string().decode()
                block_cols.append((name, ch_type, self._read_column(ch_type, n_rows)))
            if not columns:
                columns = [(n, t) for n, t, _ in block_cols]
            else:
                assert [(n, t) for n, t, _ in block_cols] == columns, "schema drift between blocks"
            if n_rows:
                for i in range(n_rows):
                    rows.append(tuple(col[i] for _, _, col in block_cols))

    def query(self, sql):
        self.send_query(sql)
        return self.read_response()


@pytest.fixture(scope="module")
def ch_port(spark):
    engine = Engine(spark)
    srv = ClickHouseServer(engine, port=0)
    port = srv.start()
    yield port
    srv.stop()


@pytest.fixture()
def client(ch_port):
    c = MiniCHClient(ch_port)
    yield c
    c.close()


def test_hello_reports_reference_identity(client):
    # interactive_worker.rs:50-85: datafuse 2021.5.0, revision 54405, UTC
    s = client.server
    assert s["name"] == "datafuse"
    assert (s["major"], s["minor"], s["patch"]) == (2021, 5, 0)
    assert s["revision"] == 54405
    assert s["timezone"] == "UTC"
    assert s["display_name"] == "datafuse"


def test_ping_pong(client):
    client.ping()


def test_select_one(client):
    columns, rows, _, exc = client.query("SELECT 1 AS one")
    assert exc is None
    assert columns[0][0] == "one"
    assert "Int" in columns[0][1]
    assert rows == [(1,)]


def test_numbers_scan_int64(client):
    columns, rows, progresses, exc = client.query(
        "SELECT number FROM numbers(5) ORDER BY number"
    )
    assert exc is None
    assert columns == [("number", "Nullable(Int64)")] or columns == [("number", "Int64")]
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
    # tail progress mirrors query_writer.rs write_progress
    assert progresses and progresses[-1][0] == 5


def test_strings_and_nulls(client):
    columns, rows, _, exc = client.query(
        "SELECT 'abc' AS s, CAST(NULL AS STRING) AS n, 2.5 AS f, true AS b"
    )
    assert exc is None
    names = [c[0] for c in columns]
    assert names == ["s", "n", "f", "b"]
    row = rows[0]
    assert row[0] == "abc"
    assert row[1] is None
    assert row[2] == 2.5
    assert row[3] == 1  # Boolean lowers to UInt8 (query_writer.rs:155-163)


def test_header_block_precedes_data(client):
    """query_writer.rs:99-104: an empty block carrying the schema is
    sent before the first data block; MiniCHClient asserts schema
    consistency across blocks, so a bad header would trip there."""
    columns, rows, _, exc = client.query("SELECT number AS n FROM numbers(3)")
    assert exc is None
    assert len(rows) == 3


def test_multi_block_result(client):
    n = 70_000  # > BLOCK_ROWS forces a 2-block stream
    columns, rows, _, exc = client.query(
        f"SELECT number FROM numbers({n})"
    )
    assert exc is None
    assert len(rows) == n
    assert {r[0] for r in rows} == set(range(n))


def test_error_maps_to_db_exception(client):
    _, _, _, exc = client.query("SELECT FROM WHERE")
    assert exc is not None
    code, name, message = exc
    assert name == "DB:Exception"  # query_writer.rs:121-127
    assert message


def test_use_database_roundtrip(client):
    _, _, _, exc = client.query("USE default")
    assert exc is None
    columns, rows, _, exc = client.query("SELECT database() AS db")
    assert exc is None
    assert rows == [("default",)]


def test_date_and_datetime_encoding(client):
    columns, rows, _, exc = client.query(
        "SELECT CAST('2021-05-20' AS DATE) AS d, CAST('2021-05-20 12:34:56' AS TIMESTAMP) AS t"
    )
    assert exc is None
    types = dict((c[0], c[1].replace("Nullable(", "").rstrip(")")) for c in columns)
    assert types["d"] == "Date"
    assert types["t"] == "DateTime"
    d, t = rows[0]
    from datetime import date, datetime, timezone

    assert date(1970, 1, 1).toordinal() + d == date(2021, 5, 20).toordinal()
    assert datetime.fromtimestamp(t, tz=timezone.utc) == datetime(
        2021, 5, 20, 12, 34, 56, tzinfo=timezone.utc
    )


def test_unsupported_column_type_is_reference_error(client):
    # arrays have no clickhouse writer in the reference either
    # (query_writer.rs:165-169)
    _, _, _, exc = client.query("SELECT array(1, 2) AS a")
    assert exc is not None
    assert "Unsupported column type" in exc[2]
    # a bare untyped NULL (Spark `void`, the reference's DataType::Null)
    # has no writer arm either
    _, _, _, exc = client.query("SELECT NULL AS n")
    assert exc is not None
    assert "Unsupported column type" in exc[2]


def test_ddl_returns_bare_end_of_stream(client):
    columns, rows, progresses, exc = client.query(
        "CREATE TABLE ch_wire_t (x INT) ENGINE = Null"
    )
    assert exc is None
    assert columns == [] and rows == []
    _, _, _, exc = client.query("DROP TABLE ch_wire_t")
    assert exc is None


def test_insert_values_then_select(client):
    _, _, _, exc = client.query("CREATE TABLE ch_wire_m (x INT, s STRING) ENGINE = Memory")
    assert exc is None
    _, _, _, exc = client.query("INSERT INTO ch_wire_m VALUES (1, 'a'), (2, 'b')")
    assert exc is None
    columns, rows, _, exc = client.query("SELECT x, s FROM ch_wire_m ORDER BY x")
    assert exc is None
    assert rows == [(1, "a"), (2, "b")]
    client.query("DROP TABLE ch_wire_m")


def test_two_concurrent_connections(ch_port):
    a, b = MiniCHClient(ch_port), MiniCHClient(ch_port)
    try:
        a.send_query("SELECT number FROM numbers(10)")
        b.send_query("SELECT number FROM numbers(20)")
        _, rows_a, _, exc_a = a.read_response()
        _, rows_b, _, exc_b = b.read_response()
        assert exc_a is None and exc_b is None
        assert len(rows_a) == 10 and len(rows_b) == 20
    finally:
        a.close()
        b.close()


def test_older_client_revision_negotiates_down(ch_port):
    """A 54058-era client sends a shorter Hello-dependent surface (no
    quota key, no version patch, no display name expected back); the
    server must negotiate min(client, server) and parse/emit packets
    at that revision."""
    c = MiniCHClient(ch_port, revision=54058)
    try:
        s = c.server
        assert s["revision"] == 54405  # server states its own revision
        assert s["timezone"] == "UTC"  # >= 54058 so still present
        assert s["display_name"] is None and s["patch"] is None
        columns, rows, _, exc = c.query("SELECT number FROM numbers(3)")
        assert exc is None
        assert len(rows) == 3
    finally:
        c.close()


def test_out_of_range_date_is_refused_not_wrapped(client):
    """A pre-1970 date must produce a DB:Exception, not silently clamp
    to the epoch (and post-2149 must not wrap modulo 65536 days)."""
    _, _, _, exc = client.query("SELECT CAST('1960-01-01' AS DATE) AS d")
    assert exc is not None and "range" in exc[2]
    _, _, _, exc = client.query("SELECT CAST('2200-01-01' AS DATE) AS d")
    assert exc is not None and "range" in exc[2]


# ---------------------------------------------------------------------------
# Native-protocol streamed INSERT (r5): query text ends at VALUES, data
# arrives as client Data blocks after the server echoes the header block.
# ---------------------------------------------------------------------------

_ENC_FIXED = {
    "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
    "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
    "Float32": "<f", "Float64": "<d", "Date": "<H", "DateTime": "<I",
}


def _encode_column(ch_type, values):
    if ch_type.startswith("Nullable(") and ch_type.endswith(")"):
        inner = ch_type[len("Nullable(") : -1]
        mask = bytes(1 if v is None else 0 for v in values)
        filler = 0 if inner in _ENC_FIXED else ""
        return mask + _encode_column(inner, [filler if v is None else v for v in values])
    if ch_type in _ENC_FIXED:
        return b"".join(struct.pack(_ENC_FIXED[ch_type], v) for v in values)
    if ch_type == "String":
        return b"".join(_s(v) for v in values)
    raise AssertionError(f"cannot encode {ch_type}")


class InsertCHClient(MiniCHClient):
    def read_one_packet(self):
        """One server packet: ('data', columns) | ('exc', (code, name,
        msg)) | ('progress', ...) | ('eos', None)."""
        ptype = self._varint()
        if ptype == 5:
            return ("eos", None)
        if ptype == 2:
            code = struct.unpack("<i", self._exact(4))[0]
            name = self._string().decode()
            message = self._string().decode()
            self._string()
            assert not self._exact(1)[0]
            return ("exc", (code, name, message))
        if ptype == 3:
            p = (self._varint(), self._varint(), self._varint())
            return ("progress", p)
        assert ptype == 1, f"unexpected packet {ptype}"
        self._string()
        while True:
            field = self._varint()
            if field == 0:
                break
            self._exact(1 if field == 1 else 4)
        n_cols, n_rows = self._varint(), self._varint()
        cols = []
        for _ in range(n_cols):
            cname = self._string().decode()
            ch_type = self._string().decode()
            cols.append((cname, ch_type, self._read_column(ch_type, n_rows)))
        return ("data", cols)

    def send_data_block(self, columns, col_values):
        """columns: [(name, ch_type)]; col_values: per-column lists."""
        n_rows = len(col_values[0]) if col_values else 0
        pkt = (
            _varint(2) + _s("")
            + _varint(1) + b"\x00" + _varint(2) + struct.pack("<i", -1) + _varint(0)
            + _varint(len(columns)) + _varint(n_rows)
        )
        for (cname, ch_type), vals in zip(columns, col_values):
            pkt += _s(cname) + _s(ch_type) + _encode_column(ch_type, vals)
        self.sock.sendall(pkt)

    def wire_insert(self, sql, blocks):
        """blocks: list of per-column value-list groups. Returns
        (header_columns, progresses, exception)."""
        self.send_query(sql)
        kind, payload = self.read_one_packet()
        if kind == "exc":
            return None, [], payload
        assert kind == "data", f"expected header block, got {kind}"
        header = [(n, t) for n, t, _ in payload]
        for col_values in blocks:
            self.send_data_block(header, col_values)
        self.send_data_block(header, [[] for _ in header])  # terminator
        progresses = []
        while True:
            kind, payload = self.read_one_packet()
            if kind == "progress":
                progresses.append(payload)
            elif kind == "eos":
                return header, progresses, None
            elif kind == "exc":
                return header, progresses, payload


@pytest.fixture()
def insert_client(ch_port):
    c = InsertCHClient(ch_port)
    yield c
    c.close()


def test_wire_insert_roundtrip(insert_client):
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi1")
    c.query("CREATE TABLE wi1(n bigint, s string) ENGINE = Memory")
    header, progresses, exc = c.wire_insert(
        "INSERT INTO wi1 VALUES",
        [
            [[1, 2, 3], ["a", "b", "c"]],
            [[4, 5], ["d", "e"]],  # second block on the same stream
        ],
    )
    assert exc is None
    # the server echoes the table's header block: names + CH types
    assert header == [("n", "Nullable(Int64)"), ("s", "Nullable(String)")]
    assert progresses and progresses[-1][0] == 5  # rows written
    _, rows, _, exc2 = c.query("SELECT n, s FROM wi1 ORDER BY n")
    assert exc2 is None
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


def test_wire_insert_column_subset_and_nulls(insert_client):
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi2")
    c.query("CREATE TABLE wi2(a int, b string) ENGINE = Memory")
    header, _, exc = c.wire_insert(
        "INSERT INTO wi2 (b) VALUES", [[["x", None, "z"]]]
    )
    assert exc is None
    assert header == [("b", "Nullable(String)")]
    _, rows, _, _ = c.query("SELECT a, b FROM wi2")
    assert sorted(rows, key=str) == sorted([(None, "x"), (None, None), (None, "z")], key=str)


def test_wire_insert_unknown_table_is_db_exception(insert_client):
    header, _, exc = insert_client.wire_insert("INSERT INTO no_such_tbl VALUES", [])
    assert header is None
    assert exc is not None and exc[1] == "DB:Exception" and "no_such_tbl" in exc[2]


def test_wire_insert_block_column_mismatch(insert_client):
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi3")
    c.query("CREATE TABLE wi3(a int, b string) ENGINE = Memory")
    c.send_query("INSERT INTO wi3 VALUES")
    kind, payload = c.read_one_packet()
    assert kind == "data"
    # send a block with only ONE column against a two-column insert
    c.send_data_block([("a", "Nullable(Int32)")], [[7]])
    kind, payload = c.read_one_packet()
    assert kind == "exc" and "expected 2" in payload[2]


def test_wire_insert_inline_values_stay_on_sql_path(insert_client):
    # inline VALUES must not trigger the streamed-insert handshake:
    # the server answers with EndOfStream directly, no header block
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi4")
    c.query("CREATE TABLE wi4(a int) ENGINE = Memory")
    _, rows, _, exc = c.query("INSERT INTO wi4 VALUES (41), (42)")
    assert exc is None and rows == []
    _, rows, _, _ = c.query("SELECT a FROM wi4 ORDER BY a")
    assert rows == [(41,), (42,)]


def test_wire_insert_reordered_block_aligns_by_name(insert_client):
    """code-review r8: a block whose column order differs from the
    table header was zipped positionally and committed SWAPPED with a
    success response; blocks now align by their own column names."""
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi4")
    c.query("CREATE TABLE wi4(a int, b int) ENGINE = Memory")
    c.send_query("INSERT INTO wi4 VALUES")
    kind, payload = c.read_one_packet()
    assert kind == "data"
    header = [(n, t) for n, t, _ in payload]
    # send the columns REVERSED, with honest names in the block header
    rev = [(header[1][0], header[1][1]), (header[0][0], header[0][1])]
    c.send_data_block(rev, [[10, 20], [1, 2]])  # b-values first
    c.send_data_block(header, [[] for _ in header])
    while True:
        kind, payload = c.read_one_packet()
        if kind in ("eos", "exc"):
            break
    assert kind == "eos", payload
    _, rows, _, _ = c.query("SELECT a, b FROM wi4 ORDER BY a")
    assert rows == [(1, 10), (2, 20)]  # a got the a-values, not b's


def test_wire_insert_binary_string_survives(insert_client):
    """code-review r8: ClickHouse String is raw bytes; strict utf-8
    decode raised MID-BLOCK and desynced the stream. surrogateescape
    keeps the block consumable and the insert succeeds."""
    c = insert_client
    c.query("DROP TABLE IF EXISTS wi5")
    c.query("CREATE TABLE wi5(s string) ENGINE = Memory")
    header, progresses, exc = c.wire_insert(
        "INSERT INTO wi5 VALUES", [[[b"\xff\xfe raw".decode("latin-1")]]]
    )
    assert exc is None and progresses[-1][0] == 1
    # the connection is still usable (framing intact)
    _, rows, _, exc2 = c.query("SELECT count(*) AS n FROM wi5")
    assert exc2 is None and rows == [(1,)]


# ---------------------------------------------------------------------------
# Data blocks pack each column from its Arrow buffers; the per-value
# packer over Rows they replaced is kept here as the differential oracle.
# ---------------------------------------------------------------------------


def _per_value_packers():
    from datetime import date, datetime, timezone

    def pack_date(v):
        if isinstance(v, datetime):
            v = v.date()
        days = (v - date(1970, 1, 1)).days
        if not 0 <= days <= 0xFFFF:
            raise ValueError(f"Date out of ClickHouse Date range 1970..2149: {v}")
        return struct.pack("<H", days)

    def pack_datetime(v, utc=False):
        if isinstance(v, date) and not isinstance(v, datetime):
            v = datetime(v.year, v.month, v.day)
        if utc and v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        epoch = int(v.timestamp())
        if not 0 <= epoch <= 0xFFFFFFFF:
            raise ValueError(f"Timestamp out of ClickHouse DateTime range 1970..2106: {v}")
        return struct.pack("<I", epoch)

    return {
        "tinyint": lambda v: struct.pack("<b", int(v)),
        "smallint": lambda v: struct.pack("<h", int(v)),
        "int": lambda v: struct.pack("<i", int(v)),
        "bigint": lambda v: struct.pack("<q", int(v)),
        "float": lambda v: struct.pack("<f", float(v)),
        "double": lambda v: struct.pack("<d", float(v)),
        "string": lambda v: _s(str(v)),
        "boolean": lambda v: struct.pack("<B", 1 if v else 0),
        "date": pack_date,
        "timestamp": pack_datetime,
        "timestamp_ntz": lambda v: pack_datetime(v, utc=True),
        "decimal": lambda v: struct.pack("<d", float(v)),
    }


def _arrow_of(types, rows):
    """The Arrow table Engine.sql_collect returns for these Rows: zoned
    timestamps are instants (a Row holds their host-local wall clock)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(", ".join(f"c{i} {t}" for i, t in enumerate(types))))
    cols = [[r[i] for r in rows] for i in range(len(types))]
    for i, t in enumerate(types):
        if t == "timestamp":
            cols[i] = [None if v is None else v.astimezone() for v in cols[i]]
    return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def _block_bytes(types, nullable, rows, per_value: bool, table=None) -> bytes:
    """One Data block of `rows`, packed per value from the Rows or by
    send_block from the Arrow table (`table`, else _arrow_of(rows))."""
    from fuse_query_spark.servers.clickhouse_server import _CHConn, _ch_type_of

    class Recorder:
        sent = b""

        def sendall(self, data):
            self.sent += bytes(data)

    conn = _CHConn(Recorder(), None)
    conn.client_revision = CLIENT_REVISION
    columns = [(f"c{i}", _ch_type_of(t), nullable) for i, t in enumerate(types)]
    if per_value:
        packers = _per_value_packers()
        zero = {"Int8": 1, "Int16": 2, "Int32": 4, "Int64": 8, "Float32": 4, "Float64": 8,
                "UInt8": 1, "Date": 2, "DateTime": 4, "String": 1}
        head = bytearray(_varint(1) + _s("") + _varint(1) + b"\x00" + _varint(2))
        head += struct.pack("<i", -1) + _varint(0) + _varint(len(columns)) + _varint(len(rows))
        for ci, (name, ch_type, _n) in enumerate(columns):
            head += _s(name) + _s(f"Nullable({ch_type})" if nullable else ch_type)
            if nullable:
                head += bytes(r[ci] is None for r in rows)
            pack = packers[types[ci].split("(")[0]]
            for r in rows:
                v = r[ci]
                head += b"\x00" * zero[ch_type] if v is None and nullable else pack(v)
        return bytes(head)
    conn.send_block(columns, _arrow_of(types, rows) if table is None else table)
    conn.flush()
    return conn.sock.sent


@pytest.mark.parametrize("nullable", [False, True], ids=["plain", "nullable"])
def test_column_packed_block_equals_per_value_packer(spark, nullable):
    """A Data block packed from the Arrow table of a result equals the
    per-value packer's bytes over the Rows of the same result, for
    every mapped type: a driver-side relation of edge values (NULLs,
    float specials, tiny decimals, 0-, 251- and 70000-byte strings,
    the ends of the Date and DateTime ranges), a result of more rows
    than BLOCK_ROWS computed by Spark tasks, and an empty result."""
    from conftest import wire_frames
    from pyspark.sql import functions as F

    from fuse_query_spark.results import collect_arrow
    from fuse_query_spark.servers.clickhouse_server import BLOCK_ROWS

    defaults = {"string": "''", "boolean": "false", "date": "DATE'1970-01-02'",
                "timestamp": "TIMESTAMP'1970-01-02 00:00:00'",
                "timestamp_ntz": "TIMESTAMP_NTZ'1970-01-02 00:00:00'"}
    for label, df in wire_frames(spark).items():
        types = [f.dataType.simpleString() for f in df.schema.fields]
        if not nullable:
            df = df.select([
                F.coalesce(F.col(f.name), F.expr(defaults.get(t, f"CAST(0 AS {t})"))).alias(f.name)
                for f, t in zip(df.schema.fields, types)
            ])
        rows = df.collect()
        if label == "job":
            assert len(rows) > BLOCK_ROWS
        got = _block_bytes(types, nullable, rows, per_value=False, table=collect_arrow(df))
        assert got == _block_bytes(types, nullable, rows, per_value=True), label


@pytest.mark.parametrize("kind,value", [
    ("date", "1960-01-01"), ("date", "2200-01-01"), ("timestamp_ntz", "1960-01-01 00:00:00"),
])
def test_column_packed_block_keeps_range_errors(kind, value):
    from datetime import date, datetime

    v = date.fromisoformat(value) if kind == "date" else datetime.fromisoformat(value)
    rows = [(None,), (v,)]
    errors = []
    for per_value in (False, True):
        with pytest.raises(ValueError, match="out of ClickHouse") as e:
            _block_bytes([kind], True, rows, per_value)
        errors.append(str(e.value))
    assert errors[0] == errors[1]


@pytest.mark.parametrize(
    "head",
    [
        "INSERT INTO `wi6` VALUES",
        "INSERT INTO wdb.wi6 FORMAT Native",
        "INSERT INTO `wdb`.`wi6` (`b c`, a) VALUES",
        "insert\n  into /* streamed */ wi6\n(`b c`,\n a)\nvalues\n",
    ],
)
def test_wire_insert_head_read_by_the_grammar(insert_client, head):
    """A backtick table, db.t, a backtick column list and multi-line
    text all take the Data-block path (a header block comes back)."""
    c = insert_client
    for db in ("default", "wdb"):
        c.query(f"CREATE DATABASE IF NOT EXISTS {db}")
        c.query(f"DROP TABLE IF EXISTS {db}.wi6")
        c.query(f"CREATE TABLE {db}.wi6(a int, `b c` string) ENGINE = Memory")
    block = [["x", "y"], [1, 2]] if "(" in head else [[1, 2], ["x", "y"]]
    header, progresses, exc = c.wire_insert(head, [block])
    assert exc is None, exc
    assert progresses[-1][0] == 2
    db = "wdb" if "wdb" in head else "default"
    _, rows, _, _ = c.query(f"SELECT a, `b c` FROM {db}.wi6 ORDER BY a")
    assert rows == [(1, "x"), (2, "y")]
