"""Dialect rewriter unit tests (pure string-level, no Spark session) +
property tests: the rewriter must be case-insensitive on function
names, leave standard SQL untouched, and compose on nesting."""

import re

from hypothesis import given, strategies as st

from fuse_query_spark.dialect.rewriter import DialectContext, rewrite_select

CTX = DialectContext(current_db="default")


def rw(s: str) -> str:
    return rewrite_select(s, CTX)


def test_numbers_rewrite():
    out = rw("SELECT sum(number) FROM numbers_mt(1000)")
    assert "range(1000)" in out and "numbers_mt" not in out


def test_uniq_rewrite():
    assert "count(DISTINCT x)" in rw("SELECT uniq(x) FROM t")


def test_combinator_if_multi_arg():
    out = rw("SELECT sumIf(a + b, c > 1) FROM t")
    assert "sum(a + b) FILTER (WHERE c > 1)" in out


def test_combinator_if_single_arg_countif():
    out = rw("SELECT countIf(c > 1) FROM t")
    assert re.search(r"count\(1\) FILTER \(WHERE c > 1\)", out)


def test_nested_rewrites_compose():
    out = rw("SELECT toTypeName(sumIf(uniq(x), y > 0)) FROM t")
    assert "fq_typename(typeof(" in out
    assert "count(DISTINCT x)" in out
    assert "FILTER (WHERE y > 0)" in out


def test_argminmax():
    out = rw("SELECT argMin(a, b), argMax(c, d) FROM t")
    assert "min_by(a, b)" in out and "max_by(c, d)" in out


def test_cast_type_names():
    out = rw("SELECT CAST(x AS UInt64), CAST(y AS float32) FROM t")
    assert "AS BIGINT" in out and "AS FLOAT" in out


def test_string_literals_untouched():
    out = rw("SELECT 'uniq(x) AS UInt64 sumIf(' FROM t")
    assert "'uniq(x) AS UInt64 sumIf('" in out


def test_limit_by_from_level_injection():
    out = rw("SELECT user_id, event_id FROM events ORDER BY user_id, ts LIMIT 2 BY user_id")
    assert "row_number() OVER (PARTITION BY user_id ORDER BY user_id, ts)" in out
    assert "__fq_rn <= 2" in out


def test_dev_functions():
    import pytest

    from fuse_query_spark.errors import FuseQueryError

    assert "true" in rw("SELECT example()")
    with pytest.raises(FuseQueryError, match="crash me"):
        rw("SELECT crashme(1)")


def test_database_context():
    assert "'default'" in rw("SELECT database()")


@given(st.sampled_from(["sum", "count", "avg", "min", "max"]), st.booleans())
def test_combinator_case_insensitive(base, upper):
    name = (base + "If").upper() if upper else base + "iF"
    out = rw(f"SELECT {name}(x, y > 0) FROM t")
    assert "FILTER (WHERE y > 0)" in out


@given(
    st.text(
        alphabet=st.sampled_from("abcdefg_ ,.*<>=0123456789"),
        min_size=0,
        max_size=40,
    )
)
def test_plain_sql_with_no_dialect_tokens_is_stable(snippet):
    """SQL containing no dialect constructs must pass through with at
    most whitespace-level changes around call sites."""
    sql = f"SELECT a, b FROM t WHERE {snippet or '1=1'} GROUP BY a"
    out = rw(sql)
    # idempotence: rewriting again changes nothing
    assert rw(out) == out


@given(st.integers(min_value=1, max_value=10**12))
def test_numbers_any_n(n):
    assert f"range({n})" in rw(f"SELECT * FROM numbers({n})")


def test_comment_stripping_string_aware():
    # ADVICE r1: a plain regex truncated literals containing '--'
    out = rw("SELECT 'a--b' AS x")
    assert "'a--b'" in out
    out = rw("SELECT 1 -- trailing note\nFROM t")
    assert "trailing" not in out and "FROM t" in out


def test_siphash_literal_signed_and_exponent_forms():
    # signed/exponent literals fold too (ADVICE r1: they silently fell
    # through to the xxhash64 fast path)
    for lit in ("-1", "-300", "1e3", "1.", ".5", "-2.5E-1"):
        out = rw(f"SELECT siphash({lit})")
        assert "CAST(" in out and "AS BIGINT" in out, lit
        assert "xxhash64" not in out, lit
    def folded(lit):
        m = re.search(r"CAST\((-?\d+) AS BIGINT\)", rw(f"SELECT siphash({lit})"))
        return m.group(1)

    # float forms of the same value hash identically (f64 bit pattern)
    assert folded("1e3") == folded("1000.0")
    # and differently from the integer typing of the same value
    assert folded("1000") != folded("1000.0")


def test_user_demotion_default_and_opt_out():
    out = rw("SELECT max(number) AS user FROM numbers(3)")
    assert "usr_" in out
    out = rewrite_select("SELECT user FROM t", CTX, demote_user=False)
    assert "usr_" not in out


# ---- r4: rewriter side-effect / escape / overflow fixes ----


def test_sleep_not_executed_at_rewrite_time():
    """sleep() must be recorded on the ctx, not performed while
    rewriting — EXPLAIN rewrites without executing, and the engine's
    demote-user retry rewrites the same statement twice."""
    import time

    ctx = DialectContext()
    t0 = time.monotonic()
    out = rewrite_select("SELECT sleep(2)", ctx)
    assert time.monotonic() - t0 < 0.5, "rewrite_select blocked on sleep()"
    assert ctx.pending_sleep == [2.0]
    assert re.search(r"\b0\b", out)


def test_siphash_huge_int_literal_no_crash():
    """Integer literals >= 2**64 must not crash struct.pack; they fall
    through to the column path (xxhash64) instead."""
    out = rw(f"SELECT siphash({2**64})")
    assert "xxhash64" in out
    out2 = rw(f"SELECT siphash({-(2**63) - 1})")
    assert "xxhash64" in out2
    # boundary values still fold
    assert "xxhash64" not in rw(f"SELECT siphash({2**64 - 1})")
    assert "xxhash64" not in rw(f"SELECT siphash({-(2**63)})")


def test_backslash_escaped_quote_in_literal():
    r"""'a\'--b' is ONE literal: the escaped quote must not end it, and
    the -- inside must not be stripped as a comment."""
    out = rw(r"SELECT 'a\'--b', uniq(x) FROM t")
    assert r"'a\'--b'" in out
    assert "count(DISTINCT x)" in out


def test_block_comment_stripped():
    out = rw("SELECT /* hidden ; uniq(y) */ uniq(x) FROM t")
    assert "count(DISTINCT x)" in out
    assert "hidden" not in out and "uniq(y)" not in out


def test_block_comment_inside_literal_kept():
    out = rw("SELECT '/*not a comment*/' AS s")
    assert "'/*not a comment*/'" in out


# ---- r4: static reference-type inference for toTypeName ----


def test_totypename_literal_unsigned_typing():
    """Reference types literals with minimal UNSIGNED widths
    (02_0001_function_to_type_name golden): 1 is UInt8, arithmetic
    doubles the wider width (capped 64), minus is signed, divide is
    Float64. Spark typeof() can never report these, so the rewriter
    folds them statically."""
    assert "'UInt8'" in rw("SELECT toTypeName(1)")
    assert "'UInt16'" in rw("SELECT toTypeName(1 + 2)")
    assert "'Int16'" in rw("SELECT toTypeName(1 - 2)")
    assert "'Float64'" in rw("SELECT toTypeName(1/2)")
    assert "'UInt64'" in rw("SELECT toTypeName(number) FROM numbers(10)")
    assert "'Int64'" in rw("SELECT toTypeName(number - 1) FROM numbers(10)")
    assert "'Utf8'" in rw("SELECT toTypeName('33')")


def test_totypename_cast_and_named_casts():
    """02_0002_function_cast golden: CAST targets keep reference names
    (FLOAT -> Float32, UInt64 stays unsigned); named casts type to
    their nominal width."""
    assert "'Float32'" in rw("SELECT toTypeName(CAST(number AS float)) FROM numbers_mt(1)")
    assert "'UInt64'" in rw("SELECT toTypeName(CAST(number AS UInt64)) FROM numbers_mt(1)")
    assert "'Int8'" in rw("SELECT toTypeName(toint8('8')) FROM numbers_mt(1)")
    assert "'UInt8'" in rw("SELECT toTypeName(toUInt8(1))")


def test_totypename_falls_back_on_unknown():
    """Real columns / unknown functions bail to runtime typeof()."""
    out = rw("SELECT toTypeName(some_col) FROM t")
    assert "fq_typename(typeof(some_col))" in out
    out2 = rw("SELECT toTypeName(concat(a, b)) FROM t")
    assert "fq_typename" in out2


def test_optimizer_hints_survive_comment_stripping():
    """/*+ ... */ is a hint, not a comment — it must reach spark.sql."""
    out = rw("SELECT /*+ BROADCAST(dim) */ uniq(x) FROM fact")
    assert "/*+ BROADCAST(dim) */" in out
    assert "count(DISTINCT x)" in out


def test_typer_number_gated_on_numbers_source():
    """A real table column named `number` must NOT be statically typed
    UInt64 — the fold only applies when the statement reads a
    numbers() source."""
    out = rw("SELECT toTypeName(number) FROM real_table")
    assert "fq_typename" in out and "'UInt64'" not in out
    out2 = rw("SELECT toTypeName(number) FROM numbers_mt(5)")
    assert "'UInt64'" in out2


def test_rewrite_records_the_numbers_sources_it_substituted():
    """The context lists each numbers() kind the rewrite replaced, in
    order — all three kinds become the same range() subquery, so the
    distributed planner reads this record to keep numbers_local local.
    A literal or a quoted identifier that spells a call is not a
    source, and stays as written."""
    ctx = DialectContext()
    out = rewrite_select(
        "SELECT a.number AS `numbers(4)` FROM numbers(3) AS a JOIN numbers_local(2) AS b "
        "ON a.number = b.number WHERE 'numbers_mt(9)' != ''",
        ctx,
    )
    assert ctx.numbers_sources == ["numbers", "numbers_local"]
    assert "'numbers_mt(9)'" in out and "`numbers(4)`" in out
    rewrite_select("SELECT 1", ctx)
    assert ctx.numbers_sources == []


def test_cast_as_text_and_varchar_rewrite():
    """sql_common.rs:27-28: Varchar/Text map to Utf8 — the reference's
    own perf suite uses `cast(number as text)`."""
    assert "STRING" in rw("SELECT cast(42 as text)")
    assert "STRING" in rw("SELECT cast(42 AS VARCHAR)")


def test_zero_arg_count_rewrite():
    """aggregate_count.rs accepts 0 or 1 args; count() -> count(*)."""
    out = rw("SELECT count() FROM numbers(10)")
    assert "count(*)" in out
    assert "count(DISTINCT x)" in rw("SELECT countDistinct(x) FROM t")  # unaffected


def test_parameterized_varchar_passes_through():
    """cast(x as varchar(255)) is already valid Spark — the bare-name
    type map must not mangle it (golden 01_0000 regression)."""
    out = rw("SELECT cast(number as varchar(255)) FROM numbers(10)")
    assert "varchar(255)" in out.lower()
    assert "STRING(255)" not in out


def test_argminmax_combinators():
    """aggregate_function_factory.rs:55-90 resolves combinator suffixes
    for every aggregate — argMinIf/argMaxIf/argMinDistinct included."""
    assert "min_by(a, b) FILTER (WHERE c > 1)" in rw("SELECT argMinIf(a, b, c > 1) FROM t")
    assert "max_by(a, b) FILTER (WHERE c)" in rw("SELECT argMaxIf(a, b, c) FROM t")
    assert "min_by(a, b)" in rw("SELECT argMinDistinct(a, b) FROM t")


def test_clause_rewrites_leave_literals_alone():
    """HAVING → WHERE and LIMIT n BY find their keywords and aliases
    outside string literals: a literal holding them keeps its text."""
    assert rw("SELECT 'x HAVING y' AS s FROM t") == "SELECT 'x HAVING y' AS s FROM t"
    assert "row_number" not in rw("SELECT a FROM t WHERE s = 'a LIMIT 1 BY b'")
    out = rw("SELECT number AS k, 'FROM k' AS f FROM numbers(9) ORDER BY concat(k, 'k') LIMIT 1 BY k")
    assert "SELECT number AS k, 'FROM k' AS f FROM (SELECT *, row_number()" in out
    assert "ORDER BY concat((number), 'k'))" in out
