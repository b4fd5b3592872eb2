"""Shared wire-server helpers: the TCP server, error rendering, and the
column kernels both result encoders build their replies from.

A reply is assembled column-at-a-time over the pyarrow.Table that
Engine.sql_collect returns: each column becomes a large_binary array
holding one encoded cell per row (numpy builds the fixed-width and
length-prefix bytes, pyarrow.compute does the casts), the cells of a
row are joined with binary_join_element_wise, and the joined array's
data buffer is the reply's bytes."""

from __future__ import annotations

import socket
import socketserver

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SEND_BYTES = 1 << 16  # a reply goes out per this many buffered bytes

_EMPTY = pa.scalar(b"", pa.large_binary())


class ReusableThreadingTCPServer(socketserver.ThreadingTCPServer):
    """ThreadingTCPServer with SO_REUSEADDR, set on THIS subclass only.

    Both wire servers previously flipped the attribute on the shared
    socketserver.ThreadingTCPServer base class — a process-global side
    effect on every other TCP server in the process (ADVICE r4). The
    subclass scopes it.

    Every accepted socket gets TCP_NODELAY: a reply is written in one
    buffered send, and Nagle's algorithm would otherwise hold a small
    trailing segment back until the client's delayed ACK arrives.
    """

    allow_reuse_address = True
    daemon_threads = True

    def get_request(self):
        sock, addr = super().get_request()
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return sock, addr


def first_line(e: Exception) -> str:
    """First NON-EMPTY line of an error — Spark ParseExceptions start
    with a blank line, which would otherwise serialize as an empty
    wire-protocol error message. Shared by the MySQL and ClickHouse
    fronts so both report errors identically."""
    for line in str(e).splitlines():
        if line.strip():
            return line.strip()
    return type(e).__name__


# ---------------------------------------------------------------- columns


def var_binary(mat: np.ndarray, widths: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """large_binary array whose i-th value is mat[i, :widths[i]], NULL
    where `valid` is False."""
    n = len(widths)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(widths, out=offsets[1:])
    data = np.ascontiguousarray(mat[np.arange(mat.shape[1]) < widths[:, None]])
    bitmap = None if valid is None else pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n, [bitmap, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def fixed_binary(values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """Each element's little-endian bytes as one large_binary value."""
    values = np.ascontiguousarray(values, values.dtype.newbyteorder("<"))
    mat = values.view(np.uint8).reshape(len(values), values.dtype.itemsize)
    return var_binary(mat, np.full(len(values), values.dtype.itemsize, np.int64), valid)


def join(arrays, skip_nulls: bool = False) -> pa.Array:
    """Row-wise concatenation of large_binary columns. A NULL cell makes
    the row NULL, or with skip_nulls contributes nothing."""
    return pc.binary_join_element_wise(
        *arrays, _EMPTY, null_handling="skip" if skip_nulls else "emit_null"
    )


def data_bytes(arr: pa.Array) -> memoryview:
    """The concatenated values of a freshly built large_binary array."""
    offsets = np.frombuffer(arr.buffers()[1], np.int64, len(arr) + 1, arr.offset * 8)
    data = arr.buffers()[2]
    return memoryview(data)[offsets[0] : offsets[-1]] if data is not None else memoryview(b"")


def valid_mask(col: pa.Array) -> np.ndarray:
    return col.is_valid().to_numpy(zero_copy_only=False)


def numbers(col: pa.Array, dtype=None) -> np.ndarray:
    """The values of a numeric column as numpy, 0 in NULL slots."""
    out = (col.fill_null(0) if col.null_count else col).to_numpy(zero_copy_only=False)
    return out if dtype is None else out.astype(dtype, copy=False)


def epoch_seconds(col: pa.Array) -> np.ndarray:
    """Whole seconds since the epoch of a timestamp[us] column (zoned:
    the instant; naive: the wall clock read in UTC), truncated toward
    zero as int(datetime.timestamp()) truncates."""
    us = numbers(col.cast(pa.int64()))
    return np.where(us < 0, -(-us // 1_000_000), us // 1_000_000)
