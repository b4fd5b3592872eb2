"""The statement grammar (dialect.lexer.Cursor read by Engine._dispatch).

Every statement kind but a query must mean the same under any
whitespace, comments, keyword case and backtick quoting of its names;
malformed input raises SyntaxError_ (code 1), an unknown leading
keyword UnsupportedStatement (code 5), and no untyped error escapes
Engine.sql. Each kind below is one canonical statement over a fixture;
a Hypothesis form of it must leave the same catalog, table rows,
current database and setting, and return the same rows.
"""

from __future__ import annotations

import re
import shutil

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.errors import PySparkException

from fuse_query_spark.dialect.lexer import Cursor, quote_name
from fuse_query_spark.engine import Engine
from fuse_query_spark.errors import (
    FuseQueryError,
    SyntaxError_,
    UnknownDatabase,
    UnknownTable,
    UnsupportedStatement,
)

# Names the statements use: plain ones, which a form may write bare or
# quoted, and ones only a quoted name can spell (a space, a backtick, a
# dash).
PLAIN = {"db": "gdb", "db2": "gdb2", "t": "gt", "t2": "gu", "c": "ga", "c2": "gb", "c3": "gc"}
QUOTED = {
    "db": "g db", "db2": "g-db2", "t": "g t", "t2": "g`u", "c": "g a", "c2": "g b", "c3": "g c"
}


# Parts of a statement template: K keywords, N a name (by its key in the
# name set, else as written; "T"/"T2" are a table reference that may
# carry the database), P punctuation, X expression text passed on verbatim with
# {c}/{c2} standing for quoted column names.
def K(words):
    return [("kw", w) for w in words.split()]


def N(key):
    return [("name", key)]


def P(chars):
    return [("punct", ch) for ch in chars]


def X(text):
    return [("x", text)]


T, T2 = N("T"), N("T2")

# kind → (fixture, template, compare rows?) — fixture "mem": Memory
# tables; "pq": a Parquet table partitioned by day; "mv": a partitioned
# materialized view; "view": a view; "snap": a Snapshot table with two
# versions.
KINDS = {
    "create_table": ("mem", K("CREATE TABLE") + T2 + P("(") + N("c") + K("INT") + P(",")
                     + N("c2") + K("STRING") + P(")") + K("ENGINE") + P("=") + N("Memory"), True),
    "create_table_if_not_exists": ("mem", K("CREATE TABLE IF NOT EXISTS") + T + P("(") + N("c")
                                   + K("INT") + P(")"), True),
    "create_table_as": ("mem", K("CREATE TABLE") + T2 + K("ENGINE") + P("=") + N("Memory")
                        + K("AS") + X("SELECT 1 AS x, 'y' AS z"), True),
    "create_view": ("mem", K("CREATE VIEW") + T2 + K("AS") + X("SELECT 1 AS x"), True),
    "create_or_replace_view": ("mem", K("CREATE OR REPLACE VIEW") + T2 + K("AS")
                               + X("SELECT 2 AS x"), True),
    "create_materialized_view": ("mem", K("CREATE MATERIALIZED VIEW") + T2 + K("ENGINE") + P("=")
                                 + N("Parquet") + K("PARTITION BY") + P("(") + N("c") + P(")")
                                 + K("location") + P("=") + X("'{loc}'")
                                 + K("AS") + X("SELECT 'd1' AS {c}, 1 AS v"), True),
    "create_database": ("mem", K("CREATE DATABASE") + N("db2") + K("ENGINE") + P("=")
                        + N("Local"), True),
    "drop_table": ("mem", K("DROP TABLE") + T, True),
    "drop_table_if_exists": ("mem", K("DROP TABLE IF EXISTS") + T2, True),
    "drop_view": ("view", K("DROP VIEW") + T, True),
    "drop_database": ("mem", K("DROP DATABASE IF EXISTS") + N("db"), True),
    "use": ("mem", K("USE") + N("db"), True),
    "describe": ("mem", K("DESCRIBE") + T, True),
    "desc": ("mem", K("DESC") + T, True),
    "show_tables": ("mem", K("SHOW TABLES"), True),
    "show_databases": ("mem", K("SHOW DATABASES"), True),
    "show_settings": ("mem", K("SHOW SETTINGS"), True),
    "show_processlist": ("mem", K("SHOW PROCESSLIST"), False),
    "show_create_table": ("mem", K("SHOW CREATE TABLE") + T, True),
    "show_partitions": ("pq", K("SHOW PARTITIONS FROM") + T, True),
    "show_snapshots": ("snap", K("SHOW SNAPSHOTS") + T, False),
    "set": ("mem", K("SET") + N("setting") + P("=") + X("7"), True),
    "insert_values": ("mem", K("INSERT INTO") + T + P("(") + N("c2") + P(",") + N("c") + P(")")
                      + K("VALUES") + P("(") + X("'z'") + P(",") + X("3") + P(")") + P(",")
                      + P("(") + X("NULL") + P(",") + X("4") + P(")"), True),
    "insert_select": ("mem", K("INSERT INTO") + T + X("SELECT 5, 'w'"), True),
    "insert_overwrite": ("mem", K("INSERT OVERWRITE TABLE") + T + P("(") + N("c") + P(",")
                         + N("c2") + P(")") + X("SELECT 6, 'v'"), True),
    "alter_add_column": ("mem", K("ALTER TABLE") + T + K("ADD COLUMN IF NOT EXISTS") + N("c3")
                         + X("BIGINT"), True),
    "alter_drop_column": ("mem", K("ALTER TABLE") + T + K("DROP COLUMN") + N("c2"), True),
    "alter_rename": ("mem", K("ALTER TABLE") + T + K("RENAME TO") + T2, True),
    "alter_drop_partition": ("pq", K("ALTER TABLE") + T + K("DROP PARTITION") + P("(") + N("c")
                             + P("=") + X("'d1'") + P(")"), True),
    "rename_table": ("mem", K("RENAME TABLE") + T + K("TO") + T2, True),
    "truncate": ("mem", K("TRUNCATE TABLE") + T, True),
    "rollback": ("snap", K("ROLLBACK TABLE") + T + K("TO VERSION 1"), True),
    "vacuum": ("snap", K("VACUUM") + T + K("KEEP 1"), False),
    "optimize": ("pq", K("OPTIMIZE TABLE") + T + K("PARTITION") + P("(") + N("c") + P("=")
                 + X("'d1'") + P(")") + K("FINAL"), True),
    "refresh": ("mv", K("REFRESH MATERIALIZED VIEW") + T + K("PARTITION") + P("(") + N("c")
                + P("=") + X("'d1'") + P(")"), True),
    "delete": ("mem", K("DELETE FROM") + T + K("WHERE") + X("{c} = 1"), True),
    "update": ("mem", K("UPDATE") + T + K("SET") + N("c") + P("=") + X("{c} + 10") + P(",")
               + N("c2") + P("=") + X("'u'") + K("WHERE") + X("{c2} = 'x'"), True),
    "explain": ("mem", K("EXPLAIN") + X("SELECT 1"), False),
    "explain_pipeline": ("mem", K("EXPLAIN PIPELINE") + X("SELECT 1"), False),
    "kill": ("mem", K("KILL QUERY 999999"), True),
}

# between two tokens; "" only next to punctuation
SEPS = [
    " ", "  ", "\t", "\n", " \n\t ", " /* c */ ", "/* a /* nested */ b */", " -- c\n", "\n-- x\n "
]


def _needs_quotes(name: str) -> bool:
    return re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name) is None


def _tokens(template, names: dict, qualified: bool, loc: str):
    """(kind, text) of each token of the template for these names."""
    out = []
    for kind, text in template:
        if kind == "name" and text in ("T", "T2"):
            if qualified:
                out += [("name", names["db"]), ("punct", ".")]
            out.append(("name", names["t" if text == "T" else "t2"]))
        elif kind == "name":
            out.append(("name", names.get(text, {"setting": "max_block_size"}.get(text, text))))
        elif kind == "x":
            cols = {k: quote_name(names[k]) for k in ("c", "c2")}
            out.append(("x", text.format(loc=loc, **cols)))
        else:
            out.append((kind, text))
    return out


def canonical(tokens) -> str:
    return " ".join(
        text.upper() if kind == "kw"
        else quote_name(text) if kind == "name" and _needs_quotes(text)
        else text
        for kind, text in tokens
    )


@st.composite
def forms(draw, tokens) -> str:
    out = []
    for i, (kind, text) in enumerate(tokens):
        if i:
            near_punct = kind == "punct" or tokens[i - 1][0] == "punct"
            out.append(draw(st.sampled_from(SEPS + [""] * near_punct)))
        if kind == "kw":
            cases = [text.upper(), text.lower(), text.capitalize(), text.swapcase()]
            out.append(draw(st.sampled_from(cases)))
        elif kind == "name":
            out.append(quote_name(text) if _needs_quotes(text) or draw(st.booleans()) else text)
        else:
            out.append(text)
    return "".join(out)


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def _reset(engine: Engine, fixture: str, names: dict, qualified: bool, tmp) -> None:
    """The fixture state: database `db`; table `t` in it (qualified) or
    in default, of the fixture's kind; no `t2`, no `db2`."""
    cat = engine.catalog.databases
    for db in (names["db"], names["db2"]):
        cat.pop(db, None)
    for t in (names["t"], names["t2"]):
        cat["default"].pop(t, None)
    engine.current_db = "default"
    engine.settings["max_block_size"].value = 10000
    shutil.rmtree(tmp, ignore_errors=True)
    q = {k: quote_name(v) for k, v in names.items()}
    home = f"{q['db']}.{q['t']}" if qualified else q["t"]
    engine.sql(f"CREATE DATABASE {q['db']}")
    if fixture == "mem":
        engine.sql(f"CREATE TABLE {home} ({q['c']} INT, {q['c2']} STRING) ENGINE = Memory")
        engine.sql(f"INSERT INTO {home} VALUES (1, 'x'), (2, 'y')")
    elif fixture == "pq":
        engine.sql(
            f"CREATE TABLE {home} (v BIGINT, {q['c']} STRING) ENGINE = Parquet "
            f"PARTITION BY ({q['c']}) location = '{tmp}/pq'"
        )
        engine.sql(f"INSERT INTO {home} VALUES (1, 'd1'), (2, 'd2'), (3, 'd1')")
        engine.sql(f"INSERT INTO {home} VALUES (4, 'd1')")
    elif fixture == "view":
        engine.sql(f"CREATE VIEW {home} AS SELECT 1 AS {q['c']}, 'x' AS {q['c2']}")
    elif fixture == "mv":
        engine.sql(
            f"CREATE MATERIALIZED VIEW {home} ENGINE = Parquet PARTITION BY ({q['c']}) "
            f"location = '{tmp}/mv' AS SELECT 'd1' AS {q['c']}, 1 AS v"
        )
    else:
        engine.sql(f"CREATE TABLE {home} (v BIGINT) ENGINE = Snapshot location = '{tmp}/snap'")
        engine.sql(f"INSERT INTO {home} VALUES (1)")
        engine.sql(f"INSERT INTO {home} VALUES (2)")


def _observe(engine: Engine, sql: str, names: dict, rows: bool):
    """What a statement did: its rows (or error class), the test
    tables of every database, the current database and the setting."""
    try:
        out = engine.sql(sql)
        result = None if out is None else [tuple(r) for r in out.collect()]
        if result is not None and not rows:
            result = (out.columns, len(result))
    except FuseQueryError as e:
        result = type(e).__name__
    tables = {}
    for db, ts in sorted(engine.catalog.databases.items()):
        for t, d in sorted(ts.items()):
            if t in (names["t"], names["t2"]):
                data = sorted((tuple(r) for r in engine._table_df(d).collect()), key=repr)
                shape = (d.engine, d.schema.simpleString(), d.partition_by, d.view_sql)
                tables[db, t] = (shape, data)
    return result, tables, engine.current_db, engine.settings["max_block_size"].value


_CANONICAL: dict = {}


@pytest.mark.parametrize("kind", sorted(KINDS))
@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_every_form_means_the_canonical_statement(engine, tmp_path, kind, data):
    fixture, template, rows = KINDS[kind]
    names = data.draw(st.sampled_from([PLAIN, QUOTED]), label="names")
    qualified = data.draw(st.booleans(), label="qualified")
    tmp = tmp_path / "fixture"
    tokens = _tokens(template, names, qualified, str(tmp / "out"))
    text = canonical(tokens)
    form = data.draw(forms(tokens), label="form")
    key = (kind, names["t"], qualified)
    if key not in _CANONICAL:
        _reset(engine, fixture, names, qualified, tmp)
        _CANONICAL[key] = _observe(engine, text, names, rows)
    want = _CANONICAL[key]
    assert not isinstance(want[0], str), f"{text!r} raised {want[0]}"
    _reset(engine, fixture, names, qualified, tmp)
    assert _observe(engine, form, names, rows) == want, form


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_truncated_and_garbled_statements_raise_typed_errors(engine, tmp_path, kind):
    """Every prefix of each statement cut at a token boundary, and each
    with one token dropped, doubled, or followed by a stray word, runs
    or raises a typed error: no AttributeError, TypeError or
    IndexError escapes. A prefix that stops inside the leading
    keywords, or right after them, is a syntax error."""
    fixture, template, _rows = KINDS[kind]
    tmp = tmp_path / "fixture"
    texts = [canonical([tok]) for tok in _tokens(template, PLAIN, False, str(tmp / "out"))]
    variants = [texts[:n] for n in range(1, len(texts))]
    variants += [texts[:i] + texts[i + 1 :] for i in range(len(texts))]
    variants += [texts[: i + 1] + texts[i:] for i in range(len(texts))]
    variants += [texts[: i + 1] + ["oops"] + texts[i + 1 :] for i in range(len(texts))]
    _reset(engine, fixture, PLAIN, False, tmp)
    for parts in variants:
        try:
            engine.sql(" ".join(parts))
        except (FuseQueryError, PySparkException):
            pass
    lead = max(
        len(words) for words, _h in Engine._STATEMENTS
        if [t.upper() for t in texts[: len(words)]] == list(words)
    )
    for n in range(1, min(lead + 1, len(texts))):
        with pytest.raises(SyntaxError_):
            engine.sql(" ".join(texts[:n]))


def test_trailing_tokens_are_refused(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS db2")
    with pytest.raises(SyntaxError_) as err:
        engine.sql("DROP DATABASE db2 oops")
    assert err.value.code == 1
    assert "db2" in engine.catalog.databases
    with pytest.raises(SyntaxError_):
        engine.sql("USE default oops")
    engine.sql("CREATE TABLE IF NOT EXISTS tt_keep (a INT) ENGINE = Memory")
    for stmt in ["DROP TABLE tt_keep junk", "TRUNCATE TABLE tt_keep now", "DESCRIBE tt_keep x"]:
        with pytest.raises(SyntaxError_):
            engine.sql(stmt)
    assert "tt_keep" in engine.catalog.databases["default"]
    engine.sql("DROP TABLE tt_keep")
    engine.sql("DROP DATABASE db2")


@pytest.mark.parametrize(
    "stmt,name",
    [
        ("CREATE  TABLE ws_a (a INT)", "ws_a"),
        ("CREATE\nTABLE ws_b (a INT)", "ws_b"),
        ("CREATE TABLE `t5b` (a INT)", "t5b"),
        ("CREATE TABLE ws_d (`a b` INT, c INT)", "ws_d"),
    ],
)
def test_whitespace_and_backticks_create(engine, stmt, name):
    """Multi-space, multi-line and backtick DDL used to be refused as
    an unsupported statement or an unparseable CREATE TABLE."""
    engine.sql(stmt)
    assert name in engine.catalog.databases["default"]
    engine.sql(f"DROP\tTABLE {quote_name(name)}")
    assert name not in engine.catalog.databases["default"]


def test_backtick_names_in_every_statement(engine):
    """Names in backticks read as the name: table statements, column
    lists, ALTER … ADD COLUMN, and a database name a bare word cannot
    spell."""
    e = engine
    e.sql("CREATE TABLE `bt1` (a INT, `b c` STRING) ENGINE = Memory")
    e.sql("insert into `bt1` values (3, 'p')")
    e.sql("INSERT INTO bt1 (`b c`, `a`) VALUES ('q', 4)")
    e.sql("UPDATE `bt1` SET a = a + 1 WHERE `b c` = 'p'")
    e.sql("DELETE FROM `bt1` WHERE `b c` = 'q'")
    assert [tuple(r) for r in e.sql("SELECT * FROM bt1").collect()] == [(4, "p")]
    e.sql("ALTER TABLE `bt1` ADD COLUMN `d e` BIGINT")
    assert [r.Field for r in e.sql("DESCRIBE `bt1`").collect()] == ["a", "b c", "d e"]
    assert e.sql("SHOW CREATE TABLE `bt1`").collect()[0].Table == "bt1"
    e.sql("RENAME TABLE `bt1` TO bt1c")
    e.sql("TRUNCATE TABLE `bt1c`")
    assert e.sql("SELECT count(*) FROM bt1c").collect()[0][0] == 0
    e.sql("CREATE DATABASE `my-db`")
    e.sql("USE `my-db`")
    assert e.current_db == "my-db"
    e.sql("CREATE TABLE `t 5` (a INT) ENGINE = Memory")
    e.sql("USE `default`")
    assert e.current_db == "default"
    e.sql("INSERT INTO `my-db`.`t 5` VALUES (1), (2)")
    e.sql("DELETE FROM `my-db`.`t 5` WHERE a = 1")
    tdef = e.resolve_table(("my-db", "t 5"))
    assert [tuple(r) for r in e._table_df(tdef).collect()] == [(2,)]
    e.sql("DROP TABLE `my-db`.`t 5`")
    e.sql("DROP DATABASE `my-db`")
    e.sql("DROP TABLE bt1c")


@pytest.mark.parametrize(
    "stmt",
    [
        "DROP TABLE `t 5`",
        "DROP TABLE",
        "DROP DATABASE",
        "DROP TABLE t junk",
        "SET max_threads",
        "CREATE TABLE",
        "CREATE TABLE t (a INT",
        "CREATE TABLE t (a)",
        "INSERT INTO",
        "INSERT INTO t VALUES (1, 'a",
        "ALTER TABLE t",
        "RENAME TABLE a b",
        "SHOW nothing",
        "KILL QUERY",
        "OPTIMIZE TABLE t PARTITION",
        "UPDATE t SET",
        "DELETE FROM t",
        "EXPLAIN DROP TABLE t",
    ],
)
def test_malformed_statements_are_syntax_errors(engine, stmt):
    """Each raised an untyped AttributeError or code 5 before; now
    SyntaxError_, code 1 (a missing table, here `t 5`, is UnknownTable
    only once the statement parses)."""
    with pytest.raises((SyntaxError_, UnknownTable)) as err:
        engine.sql(stmt)
    assert isinstance(err.value, SyntaxError_) or stmt == "DROP TABLE `t 5`"


def test_unknown_leading_keyword_stays_code_5(engine):
    with pytest.raises(UnsupportedStatement) as err:
        engine.sql("GRANT ALL ON t TO u")
    assert err.value.code == 5


def test_describe_and_use_read_quoted_names(engine):
    engine.sql("CREATE TABLE IF NOT EXISTS dq (a INT) ENGINE = Memory")
    assert [r.Field for r in engine.sql("DESCRIBE `dq`").collect()] == ["a"]
    engine.sql("USE `default`")
    with pytest.raises(UnknownDatabase, match="'nosuch'"):
        engine.sql("USE `nosuch`")
    engine.sql("DROP TABLE dq")


def test_cursor_reads_names_and_groups():
    c = Cursor("x /* c */ `a``b`.`c d` (p, (q), 'r)') -- z\n tail")
    assert c.name() == "x"
    assert c.table() == ("a`b", "c d")
    assert c.group() == "p, (q), 'r)'"
    assert c.rest() == "tail"
    assert Cursor("db . t").table() == ("db", "t")
    for bad in ["``", "a.", "'s'"]:
        with pytest.raises(SyntaxError_):
            Cursor(bad).table()
    with pytest.raises(SyntaxError_):
        Cursor("a b").end()
    assert Cursor("a = (1 WHERE 2) WHERE b").upto("WHERE") == "a = (1 WHERE 2)"


def test_mutations_qualify_columns_with_the_written_name(engine):
    """DELETE and UPDATE read the table under the name the statement
    gives it: `t.a`, or `db.t.a` when the statement says `db.t`."""
    engine.sql("CREATE TABLE mq (a INT) ENGINE = Memory")
    engine.sql("INSERT INTO mq VALUES (1), (2), (3)")
    engine.sql("DELETE FROM default.mq WHERE default.mq.a = 1")
    engine.sql("DELETE FROM `mq` WHERE mq.a = 2")
    engine.sql("UPDATE mq SET a = mq.a * 10")
    assert [r.a for r in engine.sql("SELECT a FROM mq").collect()] == [30]
    engine.sql("DROP TABLE mq")
