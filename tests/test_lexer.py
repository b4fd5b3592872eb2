"""dialect.lexer against Spark's own parser as the oracle: string
literals decode to the value spark.sql gives them, INSERT VALUES
stores that value, statements split back as written, and the MySQL
parameter literal decodes to the bound value."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from fuse_query_spark.dialect import lexer
from fuse_query_spark.engine import Engine
from fuse_query_spark.servers.mysql_server import _sql_literal

_CHARS = list("\\'\";,()-/*%_ntu") + list("0123456789") + ["é", "中", "😀"]
_SETTINGS = settings(
    max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@st.composite
def string_literals(draw):
    """A well-formed Spark string literal over _CHARS: plain
    characters, backslash escapes (incl. \\uXXXX and octal), doubled
    quotes, or a raw r'...' body."""
    quote = draw(st.sampled_from(["'", '"']))
    plain = st.sampled_from([c for c in _CHARS if c not in (quote, "\\")])
    if draw(st.integers(0, 5)) == 0:
        return "r" + quote + "".join(draw(st.lists(plain, max_size=8))) + quote
    piece = st.one_of(
        plain,
        st.sampled_from(_CHARS).map(lambda c: "\\" + c),
        st.just(quote * 2),
        st.text(alphabet="0123456789", min_size=4, max_size=4).map(lambda d: "\\u" + d),
        st.from_regex(r"\A\\[01][0-7]{2}\Z"),
    )
    return quote + "".join(draw(st.lists(piece, max_size=8))) + quote


def _spark_values(spark, literals):
    sql = "SELECT " + ", ".join(f"{lit} AS v{i}" for i, lit in enumerate(literals))
    return list(spark.sql(sql).collect()[0])


@pytest.fixture(scope="module")
def engine(spark):
    e = Engine(spark)
    e.sql("CREATE TABLE lex_prop (i Int, s String) ENGINE = Memory")
    yield e
    e.sql("DROP TABLE lex_prop")


@_SETTINGS
@given(st.lists(string_literals(), min_size=1, max_size=8))
def test_decoding_matches_spark(spark, literals):
    assert [lexer.string_value(lit) for lit in literals] == _spark_values(spark, literals)


@_SETTINGS
@given(st.lists(string_literals(), min_size=1, max_size=8))
def test_insert_values_reads_back_the_spark_value(engine, literals):
    engine.sql("TRUNCATE TABLE lex_prop")
    engine.sql(
        "INSERT INTO lex_prop VALUES "
        + ", ".join(f"({i}, {lit})" for i, lit in enumerate(literals))
    )
    stored = [r.s for r in engine.sql("SELECT s FROM lex_prop ORDER BY i").collect()]
    assert stored == _spark_values(engine.spark, literals)


_COMMENTS = ["", " -- a;b,'c\n", " /* x; 'y' /* z; */ */ ", " /*;*/"]


@st.composite
def statements(draw):
    items = []
    for i in range(draw(st.integers(1, 3))):
        alias = draw(st.text(alphabet=list(";,'\"()-/* ab"), min_size=1, max_size=6))
        comment = draw(st.sampled_from(_COMMENTS))
        items.append(f"{draw(string_literals())}{comment} AS `{alias.replace('`', '``')}`")
    return "SELECT " + ", ".join(items)


@_SETTINGS
@given(
    st.lists(statements(), min_size=1, max_size=3),
    st.lists(st.sampled_from([";", " ; ", ";\n", "; -- c;\n;", "; /* ; */ ;"]), min_size=3, max_size=3),
)
def test_statements_split_back_as_written(spark, engine, stmts, seps):
    text = "".join(s + sep for s, sep in zip(stmts, seps))
    parts = [p for p in lexer.split(text, ";") if lexer.strip_comments(p).strip()]
    assert parts == stmts
    # each part is one statement Spark parses, and the engine runs the
    # last one with Spark's result
    want = [tuple(spark.sql(s).collect()[0]) for s in stmts]
    assert tuple(engine.sql(text).collect()[0]) == want[-1]


@_SETTINGS
@given(st.lists(st.text(alphabet=_CHARS + ["`", "?", "\n"], max_size=12), min_size=1, max_size=8))
def test_mysql_parameter_literal_round_trips(spark, values):
    literals = [_sql_literal(v) for v in values]
    assert [lexer.string_value(lit) for lit in literals] == values
    assert _spark_values(spark, literals) == values


def test_unclosed_block_comment_is_an_open_token(spark, engine):
    """A block comment that never closes is an unclosed token, as Spark
    sees it: unclosed() reports it, strip_comments keeps it, the
    statement splitter does not end at a ';' inside it, and the engine
    rejects the statement instead of running what comes before it."""
    for text in ("SELECT 1 /* x", "SELECT 1 /* a /* b */", "SELECT 1 /*+ hint"):
        assert lexer.unclosed(text)
        assert lexer.strip_comments(text) == text
        with pytest.raises(Exception):
            spark.sql(text)
        with pytest.raises(Exception):
            engine.sql(text)
    assert lexer.split("SELECT 1; /* x; y", ";") == ["SELECT 1", "/* x; y"]
    with pytest.raises(Exception):
        engine.sql("SELECT 1; /* x")
    # a closed one is still a comment
    assert not lexer.unclosed("SELECT 1 /* x */")
    assert tuple(engine.sql("SELECT 1 /* x */").collect()[0]) == (1,)
