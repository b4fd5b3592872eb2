"""Error model mirroring the reference's ErrorCode categories
(common/exception error codes, as exercised by the stateless suite's
`-- {ErrorCode N}` hints, e.g. tests/suites/0_stateless/
00_0000_dummy_select_1.sql and 05_*_ddl_*.sql)."""

from __future__ import annotations


class FuseQueryError(Exception):
    code = 0

    def __init__(self, message: str):
        super().__init__(f"Code: {self.code}, {message}")
        self.message = message


class SyntaxError_(FuseQueryError):
    code = 1


class TableAlreadyExists(FuseQueryError):
    code = 2  # reference: CREATE TABLE t ... twice → ErrorCode 2


class DatabaseAlreadyExists(FuseQueryError):
    code = 3  # reference: CREATE DATABASE db ... twice → ErrorCode 3
    # (exception.rs:205 later moved this to 4001; the stateless suite's
    # annotations still say 3, and those are what the golden runner checks)


class UnknownDatabase(FuseQueryError):
    code = 3  # exception.rs:110 UnknownDatabase(3); USE/DROP on a
    # missing db both annotate {ErrorCode 3} in the stateless suite


class UnknownColumn(FuseQueryError):
    code = 6  # reference: SELECT x → ErrorCode 6


class BadArguments(FuseQueryError):
    code = 6  # exception.rs:113 BadArguments(6) — sleep() bounds etc.


class UnknownFunction(FuseQueryError):
    code = 8


class BadDataValueType(FuseQueryError):
    code = 10  # a value that cannot take its column's type (INSERT VALUES)


class UnknownTable(FuseQueryError):
    code = 25  # reference: unresolved table/alias references


class UnsupportedStatement(FuseQueryError):
    code = 5


class QueryAborted(FuseQueryError):
    code = 43  # exception.rs:20 ABORT_QUERY — KILL QUERY / AbortStream
