"""Dialect front-end: rewrites fuse-query/ClickHouse-flavoured SQL into
Spark SQL text (SURVEY §3: "the only lifecycle piece we must write is
the dialect front-end"). Covers the reference's surface:

- table functions ``numbers(N)`` / ``numbers_mt(N)`` / ``numbers_local``
  (datasources/system/numbers_table.rs) → ``range(N)`` subqueries
- combinator suffixes ``<agg>If`` / ``<agg>Distinct``
  (aggregate_function_factory.rs:150-196) → FILTER (WHERE) / DISTINCT
- ``uniq`` (exact distinct, aggregate_combinator_distinct.rs) →
  count(DISTINCT …)
- ``argMin``/``argMax`` (aggregate_arg_min.rs) → min_by/max_by
- named casts ``toInt8..64``/``toUInt*``/``toFloat*``/``toString``/…
  (scalars/expressions/expression.rs:16-27) → CAST
- ClickHouse type names in CAST (sql_common.rs:20-55) → Spark types
- ``toTypeName`` → typeof + reference-style name mapping
- ``siphash``/``siphash64`` → xxhash64 (stable 64-bit hash; NOT
  byte-compatible with SipHash — SURVEY §7 risk 5)
- context functions ``database()``/``version()``
  (fusequery/query/src/functions/context_function.rs) → literals
- ``LIMIT n BY cols`` (plan_limit_by.rs) → row_number window rewrite

The rewriter is token-based (no SQL parser dependency): identifiers
followed by balanced parens are treated as call sites and rewritten
bottom-up, so nesting works.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from fuse_query_spark.dialect.lexer import (
    mask,
    outside_literals,
    split,
    sql_name,
    string_value,
    strip_comments,
    table_refs,
)


@dataclass
class DialectContext:
    current_db: str = "default"
    version: str = "fuse-query-spark/0.1.0"
    known_dbs: tuple[str, ...] = field(default_factory=tuple)
    # the system tables a statement may read: `system.X` becomes the
    # registered view `system__X` for these names only, so `system.x`
    # inside a backtick alias keeps its text
    system_tables: tuple[str, ...] = field(default_factory=tuple)
    # sleep() requests recorded during rewriting; the ENGINE performs
    # them once at execution time. Rewriting itself must stay
    # side-effect-free: EXPLAIN rewrites without executing, and the
    # demote-user retry path rewrites the same statement twice.
    pending_sleep: list = field(default_factory=list)
    # the numbers() table functions rewrite_select substituted, in
    # statement order ("numbers", "numbers_mt" or "numbers_local"). It
    # gates the typer's `number` -> UInt64 static fold, so a real table
    # column named `number` is never mistyped, and it tells the
    # distributed planner which kind a Range in the plan came from
    # (all three become the same Range; numbers_local stays local).
    numbers_sources: list = field(default_factory=list)


_NAMED_CASTS = {
    "toint8": "TINYINT",
    "toint16": "SMALLINT",
    "toint32": "INT",
    "toint64": "BIGINT",
    # unsigned: widen to the next signed type that holds the range
    # (SURVEY §1.2 — Spark has no unsigned types)
    "touint8": "SMALLINT",
    "touint16": "INT",
    "touint32": "BIGINT",
    "touint64": "BIGINT",
    "tofloat32": "FLOAT",
    "tofloat64": "DOUBLE",
    "tostring": "STRING",
    "todate": "DATE",
    "todatetime": "TIMESTAMP",
}

# ClickHouse custom type names usable in CAST(x AS T) — sql_common.rs:20-55
_TYPE_NAMES = {
    "uint8": "SMALLINT",
    "uint16": "INT",
    "uint32": "BIGINT",
    "uint64": "BIGINT",
    "int8": "TINYINT",
    "int16": "SMALLINT",
    "int32": "INT",
    "int64": "BIGINT",
    "float32": "FLOAT",
    "float64": "DOUBLE",
    "utf8": "STRING",
    # sql_common.rs:25-33: Char/Varchar/Text -> Utf8 (the reference's
    # own perf suite uses `cast(number as text)`); Real -> Float64;
    # Time -> Timestamp(ms). Parameterized forms (varchar(255),
    # char(8)) are valid Spark types and pass through untouched
    # (negative lookahead in _CAST_TYPE).
    "text": "STRING",
    "varchar": "STRING",
    "char": "STRING",
    "real": "DOUBLE",
    "time": "TIMESTAMP",
    "datetime": "TIMESTAMP",
}

_COMBINATOR_BASES = ("sum", "count", "avg", "min", "max", "uniq")

_IDENT_CALL = re.compile(r"(?<![\w.])([A-Za-z_][A-Za-z0-9_]*)\s*\(")


def _fold_siphash_literal(args: list[str]) -> str | None:
    """Constant-fold SIPHASH over a literal with the reference's exact
    semantics (Rust DefaultHasher = zero-key SipHash-1-3 over the
    value's native width): integer literals hash at the smallest
    unsigned width that holds them (ClickHouse literal typing — 1 is
    UInt8), float literals hash their f64 bit pattern, string literals
    hash bytes + 0xff. Verified against 02_0009_function_siphash64's
    recorded outputs."""
    if len(args) != 1:
        return None
    a = args[0].strip()
    import struct

    from fuse_query_spark.functions.siphash import _to_signed64, rust_hash_str, siphash

    value = string_value(a)
    if value is not None:
        return f"CAST({_to_signed64(rust_hash_str(value))} AS BIGINT)"
    # float literals: any form with a '.' or an exponent (1.5, 1., .5,
    # 1e3, -2.5E-1) — ClickHouse types all of these Float64, and the
    # reference hashes the f64 bit pattern
    if re.match(r"^[+-]?(\d+\.\d*|\.\d+|\d+)[eE][+-]?\d+$", a) or re.match(
        r"^[+-]?(\d+\.\d*|\.\d+)$", a
    ):
        bits = struct.unpack("<Q", struct.pack("<d", float(a)))[0]
        return f"CAST({_to_signed64(siphash(struct.pack('<Q', bits)))} AS BIGINT)"
    # integer literals: minimal-width typing like ClickHouse — nonneg →
    # smallest UInt that holds it; negative → smallest Int, hashed as
    # two's-complement bytes at that width
    if re.match(r"^[+-]?\d+$", a):
        v = int(a)
        # out of 64-bit range: the reference would reject the literal
        # at typing; struct.pack would raise here. Fall through to the
        # column path (None) so the error surfaces as Spark's literal
        # handling, not a struct.error crash inside the rewriter.
        if v >= 2**64 or v < -(2**63):
            return None
        if v >= 0:
            fmt = "<B" if v < 2**8 else "<H" if v < 2**16 else "<I" if v < 2**32 else "<Q"
        else:
            fmt = "<b" if v >= -(2**7) else "<h" if v >= -(2**15) else "<i" if v >= -(2**31) else "<q"
        return f"CAST({_to_signed64(siphash(struct.pack(fmt, v)))} AS BIGINT)"
    return None


def _rewrite_call(name: str, args: list[str], ctx: DialectContext) -> str | None:
    """Return replacement SQL for a call site, or None to leave as-is.
    Args arrive already rewritten (bottom-up)."""
    low = name.lower()
    arg_sql = ", ".join(args)
    if low == "uniq":
        return f"count(DISTINCT {arg_sql})"
    if low in ("argmin", "argmax"):
        fn = "min_by" if low == "argmin" else "max_by"
        return f"{fn}({arg_sql})"
    if low in _NAMED_CASTS:
        return f"CAST({arg_sql} AS {_NAMED_CASTS[low]})"
    if low == "totypename":
        return f"fq_typename(typeof({arg_sql}))"
    if low == "not":
        # ClickHouse NOT() accepts numerics (nonzero = true,
        # 00_0000_dummy_select_1.sql: NOT(1) → false); boolean() is
        # Spark's cast-function spelling and a no-op on booleans
        return f"(NOT boolean({arg_sql}))"
    if low == "substring" and len(args) == 1:
        # FOR-without-FROM sugar (02_0005_function_substring.sql:
        # `subString('abcde' for 2)` → chars 1..2); the FROM..FOR and
        # plain forms parse natively in Spark
        a = args[0]
        if not re.search(r"(?i)\bfrom\b", a):
            mfor = re.match(r"(?is)^(.*\S)\s+for\s+(.+)$", a)
            if mfor:
                return f"substring({mfor.group(1)} FROM 1 FOR {mfor.group(2)})"
    if low in ("siphash", "siphash64"):
        folded = _fold_siphash_literal(args)
        if folded is not None:
            return folded
        # column/expression path: stable 64-bit hash, NOT byte-compatible
        # with the reference (SURVEY §7 risk 5). Byte parity for columns
        # is available explicitly via siphash_exact / siphash_exact_str.
        return f"xxhash64({arg_sql})"
    if low == "count" and not args:
        # zero-arg count() is valid in the reference (aggregate_count.rs
        # assert_variadic_arguments (0, 1)); Spark requires an argument
        return "count(*)"
    if low == "database" and not args:
        return f"'{ctx.current_db}'"
    if low == "version" and not args:
        return f"'{ctx.version}'"
    if low == "sleep":
        # reference sleep(n) requires a CONSTANT arg, blocks the caller
        # for n (<3) seconds, then returns UInt8 0; >=3s or a column arg
        # is BadArguments (scalars/udfs/sleep.rs:57-91). The constant-only
        # contract means the honest Spark analogue is a driver-side sleep
        # at statement time — no per-block sleep exists in a declarative
        # plan, and the caller-visible blocking is identical.
        from fuse_query_spark.errors import BadArguments

        lit = (arg_sql or "").strip()
        if not re.match(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$", lit):
            raise BadArguments(
                f"The argument of function sleep must be constant. Got: {lit or '(none)'}"
            )
        seconds = float(lit)
        if seconds < 0:
            raise BadArguments(
                f"Sleep must be between 0 and 3 seconds. Requested: {lit}"
            )
        if seconds >= 3:
            raise BadArguments(
                f"The maximum sleep time is 3 seconds. Requested: {lit}"
            )
        # record, don't sleep: rewriting runs under EXPLAIN and the
        # engine's demote-user retry, where sleeping (or double-
        # sleeping) would be wrong. The engine sleeps once per execute.
        ctx.pending_sleep.append(seconds)
        return "0"
    if low == "example" and not args:
        # UdfExampleFunction: constant boolean true (udfs/udf_example.rs)
        return "true"
    if low == "crashme":
        # CrashMeFunction panics the server (udfs/crash_me.rs:45); we
        # surface a controlled engine error instead of killing the JVM
        from fuse_query_spark.errors import FuseQueryError

        raise FuseQueryError("crash me function")
    # argMin/argMax combinators (aggregate_function_factory.rs:55-90
    # resolves <agg><combinator> for EVERY registered aggregate):
    # If filters rows; Distinct is a semantic no-op for arg-extrema
    # (duplicate (value, key) tuples cannot change the winner).
    if low in ("argminif", "argmaxif") and len(args) >= 3:
        fn = "min_by" if low.startswith("argmin") else "max_by"
        *rest, cond = args
        return f"{fn}({', '.join(rest)}) FILTER (WHERE {cond})"
    if low in ("argmindistinct", "argmaxdistinct"):
        fn = "min_by" if low.startswith("argmin") else "max_by"
        return f"{fn}({arg_sql})"
    for base in _COMBINATOR_BASES:
        if low == base + "if":
            *rest, cond = args if len(args) > 1 else (["1"] + args)
            inner = ", ".join(rest) if rest else "1"
            if base == "uniq":
                return f"count(DISTINCT {inner}) FILTER (WHERE {cond})"
            return f"{base}({inner}) FILTER (WHERE {cond})"
        if low == base + "distinct":
            if base == "uniq" or base == "count":
                return f"count(DISTINCT {arg_sql})"
            return f"{base}(DISTINCT {arg_sql})"
    return None


def _rewrite_calls(sql: str, ctx: DialectContext) -> str:
    """One left-to-right pass; on each call site, rewrite the argument
    list first (recursion), then the call itself. Call sites and their
    parentheses are found in the masked text, so nothing inside a
    literal or quoted identifier is rewritten."""
    masked = mask(sql)
    out, pos = [], 0
    while (m := _IDENT_CALL.search(masked, pos)) is not None:
        name = m.group(1)
        # find matching close paren
        depth, j = 1, m.end()
        while j < len(masked) and depth:
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
            j += 1
        if depth:
            break  # unbalanced: left for Spark to reject
        out.append(sql[pos : m.start()])
        pos = j
        inner = sql[m.end() : j - 1]
        if name.lower() == "totypename":
            # infer the reference's type name STATICALLY from the
            # raw argument (before named-cast rewriting widens
            # toUInt8 -> SMALLINT etc. and loses unsignedness);
            # runtime typeof() can never report UInt* because Spark
            # has no unsigned types (SURVEY §1.2)
            from fuse_query_spark.dialect.typer import infer_fq_type

            inferred = infer_fq_type(inner, allow_number=bool(ctx.numbers_sources))
            if inferred is not None:
                out.append(f"'{inferred}'")
                continue
        inner_rw = _rewrite_calls(inner, ctx)
        args = split(inner_rw, ",") if inner_rw.strip() else []
        replacement = _rewrite_call(name, args, ctx)
        if replacement is None:
            # preserve the original spacing between name and paren
            # (this path also covers keywords like FROM/OVER + '(')
            out.append(sql[m.start() : m.end()] + inner_rw + ")")
        else:
            out.append(replacement)
    out.append(sql[pos:])
    return "".join(out)


_NUMBERS = re.compile(r"\b(?:system\.)?(numbers|numbers_mt|numbers_local)\s*\(\s*(\d+)\s*\)", re.I)
_CAST_TYPE = re.compile(
    # (?!\s*\() — parameterized forms (varchar(255)) are valid Spark
    # types already and must pass through untouched
    r"(\bAS\s+)(" + "|".join(_TYPE_NAMES) + r")\b(?!\s*\()", re.I
)
_LIMIT_BY = re.compile(r"\sLIMIT\s+(\d+)\s+BY\s+(.+?)(\s+LIMIT\s+\d+\s*)?$", re.I | re.S)


def _alias_map(select_list: str) -> dict[str, str]:
    out = {}
    for item in split(select_list, ","):
        m = re.match(r"(?is)^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$", item.strip())
        if m:
            out[m.group(2)] = m.group(1).strip()
    return out


def _subst_aliases(expr: str, aliases: dict[str, str]) -> str:
    for name, repl in aliases.items():
        pattern = re.compile(rf"\b{re.escape(name)}\b")
        expr = outside_literals(expr, lambda seg: pattern.sub(lambda _m: f"({repl})", seg))
    return expr


def _rewrite_limit_by(s: str) -> str:
    """ClickHouse `LIMIT n BY cols`: keep the first n rows per key in
    the query's ORDER BY order (plan_limit_by.rs / stream_limit_by.rs).

    Rewrite: inject row_number() at the FROM level (so the window can
    order by non-projected columns), substituting select-list aliases
    into the partition/order expressions. Falls back to wrapping the
    whole query when it aggregates (GROUP BY), where the window must
    run over the projected result instead.

    Clauses are found in the masked statement and cut from the
    statement at the same offsets, so a literal holding LIMIT, BY,
    ORDER BY or FROM is never mistaken for a clause.
    """
    masked = mask(s)
    m = _LIMIT_BY.search(masked)
    if not m:
        return s
    n, cols, trailing = int(m.group(1)), s[m.start(2) : m.end(2)].strip(), m.group(3)
    inner, minner = s[: m.start()].strip(), masked[: m.start()].strip()
    outer_limit = f" LIMIT {trailing.strip().split()[1]}" if trailing else ""
    om = re.search(r"(?is)\bORDER\s+BY\s+(.+)$", minner)
    order = inner[om.start(1) :].strip() if om else cols
    if om:
        inner, minner = inner[: om.start()].strip(), minner[: om.start()].strip()
    msel = re.match(r"(?is)^SELECT\s+(.*?)\s+FROM\s+(.*)$", minner)
    has_group = re.search(r"(?is)\bGROUP\s+BY\b", minner) is not None
    if msel and not has_group:
        select_list = inner[msel.start(1) : msel.end(1)]
        rest = inner[msel.start(2) :]
        aliases = _alias_map(select_list)
        cols_sub = _subst_aliases(cols, aliases)
        order_sub = _subst_aliases(order, aliases)
        return (
            f"SELECT {select_list} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {cols_sub} ORDER BY {order_sub}) AS __fq_rn FROM {rest}) "
            f"WHERE __fq_rn <= {n}"
            + (f" ORDER BY {order}" if om else "")
            + outer_limit
        )
    # aggregate query: window over the projected result; order columns
    # must be part of the projection here
    return (
        f"SELECT * EXCEPT (__fq_rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {cols} ORDER BY {order}) AS __fq_rn FROM ({inner})) "
        f"WHERE __fq_rn <= {n}"
        + (f" ORDER BY {order}" if om else "")
        + outer_limit
    )


_HAS_ALIAS = re.compile(r"(?is)\sAS\s+[`\"]?[A-Za-z_][A-Za-z0-9_]*[`\"]?\s*$")
_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$|^\*$|^.*\.\*$")


def _alias_rewritten_select_items(s: str, ctx: DialectContext) -> str:
    """Give every top-level select item that the call rewriter will
    change an explicit backtick alias of its ORIGINAL text, so result
    column names match the reference's convention (it names output
    columns by the source expression — e.g. `uniq(x)`)."""
    # the clause is found in the masked statement and cut from the
    # statement at the same offsets, so a literal holding FROM or a
    # paren never ends the select list early
    m = re.match(r"(?is)^(SELECT\s+(?:DISTINCT\s+)?)(.*?)(\s+FROM\s.*|$)", mask(s))
    if not m:
        return s
    head, select_list, tail = (s[m.start(g) : m.end(g)] for g in (1, 2, 3))
    # only handle a depth-balanced select list (a FROM inside a scalar
    # subquery in the list would confuse the split — leave those alone)
    if m.group(2).count("(") != m.group(2).count(")"):
        return s
    items = split(select_list, ",")
    out_items = []
    # probe rewrites only test whether the item WOULD change (to decide
    # aliasing); run them on a throwaway ctx so side-records like
    # pending_sleep aren't double-counted by the real pass below.
    import dataclasses

    probe_ctx = dataclasses.replace(ctx, pending_sleep=[])
    for item in items:
        it = item.strip()
        rewritten = _rewrite_calls(it, probe_ctx)
        if (
            rewritten != it
            and not _HAS_ALIAS.search(it)
            and not _PLAIN_IDENT.match(it)
            and "`" not in it
        ):
            alias = it.replace("\n", " ").strip()
            out_items.append(f"{it} AS `{alias}`")
        else:
            out_items.append(item)
    return head + ", ".join(out_items) + tail


_AGG_CALL = re.compile(
    r"(?i)\b(sum|count|avg|min|max|uniq|argmin|argmax|stddev\w*|var\w*)\s*(if|distinct)?\s*\(",
)


def _rewrite_numbers(s: str, masked: str, ctx: DialectContext) -> tuple[str, str]:
    """numbers(N) / numbers_mt(N) / numbers_local(N) table functions →
    range subqueries, each kind recorded on ``ctx.numbers_sources``.
    Calls are found in the masked statement ``masked``, so one inside a
    literal or a quoted identifier is neither rewritten nor recorded;
    the masked text is spliced alongside (a replacement holds no
    literal), so it stays the mask of the returned statement."""
    ctx.numbers_sources = []
    out, mout, pos = [], [], 0
    for m in _NUMBERS.finditer(masked):
        ctx.numbers_sources.append(m.group(1).lower())
        sub = f"(SELECT id AS number FROM range({m.group(2)}))"
        out += [s[pos : m.start()], sub]
        mout += [masked[pos : m.start()], sub]
        pos = m.end()
    return "".join(out) + s[pos:], "".join(mout) + masked[pos:]


def _having_without_group_is_where(s: str, masked: str) -> str:
    """ClickHouse: HAVING on a non-aggregating, GROUP-BY-less SELECT
    filters rows like WHERE (03_0006_select_having.sql: `SELECT * FROM
    numbers_mt(3) HAVING number > 1`). Spark rejects that shape, so
    rewrite HAVING → WHERE when there is no GROUP BY and no aggregate
    in the select list (global-agg HAVING keeps its meaning). Keywords
    are found in the masked statement ``masked``, so literals are left
    alone."""
    h = re.search(r"(?is)\bHAVING\b", masked)
    if h is None or re.search(r"(?is)\bGROUP\s+BY\b", masked):
        return s
    head = masked[: h.start()]
    if _AGG_CALL.search(head):
        return s
    # fold into an existing WHERE instead of emitting two filters
    word = "AND" if re.search(r"(?is)\bWHERE\b", head) else "WHERE"
    return s[: h.start()] + word + s[h.end() :]


def _table_rewrites(s: str, ctx: DialectContext) -> str:
    """Known system.X tables and db-qualified tables → the names of the
    views Engine._register_views registers (system__X, db__t), found
    with the lexer's name reader, so quoted names (`my-db`.`t 5`) are
    rewritten as bare ones are."""
    out, pos = [], 0
    for db, name, a, b in table_refs(s):
        if db == "system" and name.lower() in ctx.system_tables:
            view = f"system__{name}"
        elif db is not None and db in ctx.known_dbs:
            view = f"{db}__{name}"
        else:
            continue
        out += [s[pos:a], sql_name(view)]
        pos = b
    return "".join(out) + s[pos:]


def rewrite_select(sql: str, ctx: DialectContext | None = None, demote_user: bool = True) -> str:
    """fuse-query dialect SELECT → Spark SQL text."""
    ctx = ctx or DialectContext()
    s = sql.strip().rstrip(";").strip()
    s = strip_comments(s)
    # `user` is a bare identifier in the reference dialect
    # (02_0006_function_argmin_argmax.sql aliases a column `user`), and
    # with no matching column Spark's grammar resolves it — even
    # backtick-quoted — to current_user(). Demote it to a safe
    # identifier; only the values of result columns are part of the
    # output contract, not their names. When the query reads a REAL
    # column named `user` (which Spark resolves fine — column wins over
    # the keyword), the engine retries with demote_user=False.
    if demote_user:
        s = outside_literals(s, lambda seg: re.sub(r"(?i)\buser\b(?!\s*\()", "usr_", seg))
    s, masked = _rewrite_numbers(s, mask(s), ctx)
    s = _having_without_group_is_where(s, masked)

    s = _table_rewrites(s, ctx)
    # LIMIT n BY cols → row_number rewrite (before call rewriting; the
    # wrapped query is rewritten recursively)
    s = _rewrite_limit_by(s)
    # alias top-level select items BEFORE call rewriting so the output
    # column keeps the user's original expression text (ClickHouse
    # names `uniq(x)` as `uniq(x)`, not `count(DISTINCT x)`)
    s = _alias_rewritten_select_items(s, ctx)
    # function-call rewrites (bottom-up; string-aware by construction)
    s = _rewrite_calls(s, ctx)
    # ClickHouse type names inside CAST
    s = outside_literals(
        s, lambda seg: _CAST_TYPE.sub(lambda m: m.group(1) + _TYPE_NAMES[m.group(2).lower()], seg)
    )
    return s
