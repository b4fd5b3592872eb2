"""Seeded mini-fuzzer: generates random (but reproducible) SELECTs
over the integer/string columns of the star schema and cross-checks
Spark vs DuckDB — a lightweight sqlsmith for the subset both engines
share. Integer-only aggregates keep value hashing exact.
"""

from __future__ import annotations

import random

AGG_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
KEY_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]
FILTERS = [
    "l_quantity > {q}",
    "l_orderkey % {m} = 0",
    "l_returnflag IN ('A', 'R')",
    "l_linenumber <= {ln}",
    "l_shipdate >= TIMESTAMP '1997-0{mo}-01 00:00:00'",
]
AGGS = [
    "COUNT(*)",
    "COUNT(DISTINCT {c})",
    "CAST(SUM({c}) AS BIGINT)",
    "CAST(MIN({c}) AS BIGINT)",
    "CAST(MAX({c}) AS BIGINT)",
    "CAST(SUM({c} % 97) AS BIGINT)",
    # r5 grammar widening — still in the exact-integer shared subset:
    "CAST(SUM(CASE WHEN {c} % {m2} = 0 THEN 1 ELSE 0 END) AS BIGINT)",
    "CAST(SUM(LENGTH(l_returnflag || l_linestatus)) AS BIGINT)",
    "CAST(MAX(LENGTH(CAST({c} AS STRING))) AS BIGINT)",
]


def gen_query(seed: int) -> str:
    """One deterministic random aggregate query (valid in both Spark
    SQL and DuckDB). Seeds cycle through plain aggregates, HAVING,
    ORDER BY + LIMIT (deterministic: group keys are unique), and a
    fact-dim join to orders."""
    rng = random.Random(seed)
    keys = rng.sample(KEY_COLS, rng.randint(0, 2))
    join = rng.random() < 0.3
    aggs = []
    for i in range(rng.randint(1, 3)):
        tmpl = rng.choice(AGGS)
        col = rng.choice(AGG_COLS)
        aggs.append(tmpl.format(c=col, m2=rng.randint(2, 7)) + f" AS a{i}")
    filters = [
        rng.choice(FILTERS).format(
            q=rng.randint(5, 45), m=rng.randint(2, 9), ln=rng.randint(1, 6), mo=rng.randint(1, 9)
        )
        for _ in range(rng.randint(0, 2))
    ]
    if join:
        filters.append("o_orderpriority IN ('1-URGENT', '2-HIGH')")
    sql = "SELECT "
    sql += ", ".join(keys + aggs)
    sql += " FROM lineitem"
    if join:
        sql += " JOIN orders ON o_orderkey = l_orderkey"
    if filters:
        sql += " WHERE " + " AND ".join(filters)
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
        if rng.random() < 0.4:
            sql += " HAVING COUNT(*) > " + str(rng.randint(1, 5))
        if rng.random() < 0.4:
            # group keys are unique per row -> deterministic order/limit
            sql += " ORDER BY " + ", ".join(keys) + f" LIMIT {rng.randint(1, 50)}"
    return sql


def run_case(spark, con, seed: int, views_registered: bool = True) -> list[str]:
    """Execute one fuzz case on both engines; returns problems list."""
    from fuse_query_spark.testing import table_hash

    sql = gen_query(seed)
    sdf = spark.sql(sql)
    srows = [tuple(r) for r in sdf.collect()]
    ores = con.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    problems = []
    if len(srows) != len(orows):
        problems.append(f"seed {seed}: rowcount {len(srows)} vs {len(orows)} :: {sql}")
    else:
        sh, _ = table_hash(srows, sdf.columns)
        oh, _ = table_hash(orows, ocols)
        if sh != oh:
            problems.append(f"seed {seed}: hash mismatch :: {sql}")
    return problems


# --- r5: window / set-op / subquery grammar ------------------------------
# Shapes the plain grammar can't reach. Determinism contract: the
# compare hash is ORDER-INSENSITIVE (testing.table_hash sorts lines),
# so any multiset-deterministic query qualifies; LIMIT appears only
# under a UNIQUE total order ((l_orderkey, l_linenumber) is lineitem's
# PK). Integer-only outputs keep hashing exact.

_ADV_TEMPLATES = [
    # running sum in rows-frame order. The synthetic lineitem has
    # DUPLICATE (l_orderkey, l_linenumber) pairs, so every window /
    # outer ORDER BY here carries tiebreakers down to a set of columns
    # whose duplicates make the remaining rows interchangeable —
    # otherwise LAG/rsum/LIMIT are tie-nondeterministic across engines
    # (seed 24 caught this in the wild).
    "SELECT l_orderkey, l_linenumber, CAST(SUM(l_partkey % {m}) OVER ("
    "ORDER BY l_orderkey, l_linenumber, l_partkey ROWS BETWEEN UNBOUNDED"
    " PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum FROM lineitem"
    " WHERE l_orderkey % {mm} = 0"
    " ORDER BY l_orderkey, l_linenumber, rsum LIMIT {lim}",
    # partitioned row_number, filtered outside (top-n per group)
    "SELECT l_returnflag, rn, v FROM (SELECT l_returnflag,"
    " ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey,"
    " l_linenumber, l_partkey) AS rn, CAST(l_partkey % {m} AS BIGINT) AS v"
    " FROM lineitem WHERE l_linenumber <= {ln}) t WHERE rn <= {lim}",
    # lag with default
    "SELECT l_orderkey, l_linenumber, CAST(COALESCE(LAG(l_suppkey, 1) OVER ("
    "PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_suppkey),"
    " -1) AS BIGINT) AS prev FROM lineitem WHERE l_linenumber <= {ln}"
    " ORDER BY l_orderkey, l_linenumber, prev LIMIT {lim}",
    # ntile histogram over the PK order
    "SELECT nt, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT NTILE({nt})"
    " OVER (ORDER BY l_orderkey, l_linenumber) AS nt FROM lineitem"
    " WHERE l_linenumber <= {ln}) t GROUP BY nt",
    # set ops (set semantics are order-free)
    "SELECT l_orderkey % {m} AS k FROM lineitem WHERE l_quantity > {q}"
    " INTERSECT SELECT o_orderkey % {m} AS k FROM orders"
    " WHERE o_orderkey % {mm} = 0",
    "SELECT l_orderkey % {m} AS k FROM lineitem"
    " EXCEPT SELECT o_orderkey % {mm} AS k FROM orders",
    "SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM ("
    "SELECT l_orderkey % {m} AS k FROM lineitem WHERE l_linenumber <= {ln}"
    " UNION ALL SELECT o_orderkey % {m} AS k FROM orders) t GROUP BY k",
    # scalar subquery (integer arithmetic only)
    "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem"
    " WHERE l_orderkey > (SELECT MAX(o_orderkey) FROM orders) - {big}",
    # correlated EXISTS
    "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders o WHERE EXISTS ("
    "SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey"
    " AND l.l_quantity > {q})",
    # NOT IN over a non-null key set
    "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem"
    " WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders"
    " WHERE o_orderkey % {mm} = 0)",
    # rollup (NULL super-aggregate rows hash as None on both sides)
    "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS c"
    " FROM lineitem WHERE l_linenumber <= {ln}"
    " GROUP BY ROLLUP(l_returnflag, l_linestatus)",
]


def gen_advanced_query(seed: int) -> str:
    """One deterministic window/set-op/subquery case (valid in both
    Spark SQL and DuckDB)."""
    rng = random.Random(20_000 + seed)
    tmpl = _ADV_TEMPLATES[seed % len(_ADV_TEMPLATES)]
    return tmpl.format(
        m=rng.randint(2, 9),
        mm=rng.randint(2, 9),
        q=rng.randint(5, 45),
        ln=rng.randint(1, 6),
        lim=rng.randint(3, 40),
        nt=rng.randint(2, 8),
        big=rng.randint(100, 5000),
    )


def run_advanced_case(spark, con, seed: int) -> list[str]:
    """Execute one advanced fuzz case on both engines; returns problems."""
    from fuse_query_spark.testing import table_hash

    sql = gen_advanced_query(seed)
    sdf = spark.sql(sql)
    srows = [tuple(r) for r in sdf.collect()]
    ores = con.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    problems = []
    if len(srows) != len(orows):
        problems.append(f"seed {seed}: rowcount {len(srows)} vs {len(orows)} :: {sql}")
    else:
        sh, _ = table_hash(srows, sdf.columns)
        oh, _ = table_hash(orows, ocols)
        if sh != oh:
            problems.append(f"seed {seed}: hash mismatch :: {sql}")
    return problems


# --- r5: dialect-layer differential fuzzing -----------------------------
# Generates PAIRS (fuse-dialect SQL, independently constructed DuckDB
# SQL) from one template draw — the DuckDB side is built from the
# template semantics, NOT by running our rewriter, so a rewriter bug
# cannot cancel out of both sides.

_DIALECT_TEMPLATES = [
    # (fuse dialect form, duckdb form)
    (
        "SELECT sumIf(number % {k}, number % {m} = 0) AS a FROM numbers_mt({n})",
        "SELECT CAST(SUM(CASE WHEN number % {m} = 0 THEN number % {k} END) AS BIGINT)"
        " AS a FROM (SELECT unnest(range({n})) AS number)",
    ),
    (
        "SELECT countIf(number > {k}) AS a FROM numbers({n})",
        "SELECT CAST(COUNT(CASE WHEN number > {k} THEN 1 END) AS BIGINT) AS a"
        " FROM (SELECT unnest(range({n})) AS number)",
    ),
    (
        "SELECT uniq(number % {m}) AS a FROM numbers_mt({n})",
        "SELECT CAST(COUNT(DISTINCT number % {m}) AS BIGINT) AS a"
        " FROM (SELECT unnest(range({n})) AS number)",
    ),
    (
        "SELECT number % {g} AS g, minDistinct(number % {m}) AS a"
        " FROM numbers_mt({n}) GROUP BY g ORDER BY g",
        "SELECT number % {g} AS g, CAST(MIN(DISTINCT number % {m}) AS BIGINT) AS a"
        " FROM (SELECT unnest(range({n})) AS number) GROUP BY g ORDER BY g",
    ),
    (
        "SELECT argMax(number % {m}, number) AS a FROM numbers_mt({n})",
        "SELECT CAST(arg_max(number % {m}, number) AS BIGINT) AS a"
        " FROM (SELECT unnest(range({n})) AS number)",
    ),
    (
        "SELECT toInt32(number % {m}) AS a FROM numbers({n})"
        " ORDER BY number DESC LIMIT {lim}",
        "SELECT CAST(number % {m} AS INT) AS a"
        " FROM (SELECT unnest(range({n})) AS number)"
        " ORDER BY number DESC LIMIT {lim}",
    ),
    (
        "SELECT substring(toString(number), {p}, {ln}) AS a, count() AS c"
        " FROM numbers_mt({n}) GROUP BY a ORDER BY a LIMIT {lim}",
        "SELECT substr(CAST(number AS VARCHAR), {p}, {ln}) AS a,"
        " CAST(COUNT(*) AS BIGINT) AS c"
        " FROM (SELECT unnest(range({n})) AS number) GROUP BY a ORDER BY a LIMIT {lim}",
    ),
    (
        "SELECT number % {g} AS g, avgIf(number, number % {m} = 1) AS a"
        " FROM numbers_mt({n}) GROUP BY g ORDER BY g",
        "SELECT number % {g} AS g, AVG(CASE WHEN number % {m} = 1 THEN number END) AS a"
        " FROM (SELECT unnest(range({n})) AS number) GROUP BY g ORDER BY g",
    ),
    (
        "SELECT argMinIf(number % {k}, number, number > {m}) AS a,"
        " argMax(number % {k}, number) AS b FROM numbers_mt({n})",
        "SELECT CAST(arg_min(number % {k}, number) FILTER (WHERE number > {m}) AS BIGINT) AS a,"
        " CAST(arg_max(number % {k}, number) AS BIGINT) AS b"
        " FROM (SELECT unnest(range({n})) AS number)",
    ),
    (
        "SELECT number % {g} AS g, number AS v FROM numbers_mt({n})"
        " ORDER BY g, v LIMIT {lim} BY g",
        "SELECT g, v FROM ("
        "  SELECT number % {g} AS g, number AS v,"
        "  ROW_NUMBER() OVER (PARTITION BY number % {g} ORDER BY number % {g}, number) AS rn"
        "  FROM (SELECT unnest(range({n})) AS number)"
        ") WHERE rn <= {lim}",
    ),
    (
        "SELECT count() AS a, sumDistinct(number % {m}) AS b FROM numbers({n})",
        "SELECT CAST(COUNT(*) AS BIGINT) AS a,"
        " CAST(SUM(DISTINCT number % {m}) AS BIGINT) AS b"
        " FROM (SELECT unnest(range({n})) AS number)",
    ),
]


def gen_dialect_case(seed: int) -> tuple[str, str]:
    """One deterministic (fuse_sql, duck_sql) pair."""
    rng = random.Random(10_000 + seed)
    fuse_t, duck_t = _DIALECT_TEMPLATES[seed % len(_DIALECT_TEMPLATES)]
    args = {
        "n": rng.choice([1000, 4096, 10_000]),
        "k": rng.randint(2, 50),
        "m": rng.randint(2, 9),
        "g": rng.randint(2, 7),
        "p": rng.randint(1, 3),
        "ln": rng.randint(1, 3),
        "lim": rng.randint(3, 20),
    }
    return fuse_t.format(**args), duck_t.format(**args)


def run_dialect_case(engine, con, seed: int) -> list[str]:
    """Engine.sql (dialect path) vs DuckDB; returns problems."""
    from fuse_query_spark.results import to_rows
    from fuse_query_spark.testing import table_hash

    fuse_sql, duck_sql = gen_dialect_case(seed)
    df, table = engine.sql_collect(fuse_sql)
    srows = [tuple(r) for r in to_rows(table)]
    ores = con.execute(duck_sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    problems = []
    if len(srows) != len(orows):
        problems.append(
            f"seed {seed}: rowcount {len(srows)} vs {len(orows)} :: {fuse_sql}"
        )
    else:
        sh, _ = table_hash(srows, df.columns)
        oh, _ = table_hash(orows, ocols)
        if sh != oh:
            problems.append(f"seed {seed}: hash mismatch :: {fuse_sql} :: {duck_sql}")
    return problems


# --- r5: DML differential fuzzing ---------------------------------------
# Random INSERT/UPDATE/DELETE sequences applied VERBATIM to both our
# engine and DuckDB, with the full table state compared after every
# mutation. The statements are standard SQL so neither side needs a
# rewrite — what's under test is mutation semantics (NULL predicates,
# partition-scoped rewrites, partition moves), not dialect.

_DML_PREDS = [
    "a % {k} = {c}",
    "b < {n}",
    "a + b > {n}",
    "b IS NULL",
    "a BETWEEN {lo} AND {hi}",
    "b % {k} = {c}",  # NULL b → NULL predicate: row kept/unchanged
]

_DML_SET_EXPRS = [
    "b + {k}",
    "a * {k}",
    "NULL",
    "CASE WHEN a % 2 = 0 THEN b ELSE a END",
    "a - b",
]


def gen_dml_ops(seed: int, partitioned: bool) -> list[str]:
    """Deterministic mutation sequence with `{t}` as the table-name
    placeholder."""
    rng = random.Random(40_000 + seed)

    def fill(tmpl: str) -> str:
        lo = rng.randint(0, 8)
        return tmpl.format(
            k=rng.randint(2, 5),
            c=rng.randint(0, 1),
            n=rng.randint(2, 40),
            lo=lo,
            hi=lo + rng.randint(1, 9),
        )

    def values(n_rows: int) -> str:
        tuples = []
        for _ in range(n_rows):
            a = rng.randint(0, 30)
            b = "NULL" if rng.random() < 0.25 else str(rng.randint(-5, 40))
            if partitioned:
                tuples.append(f"({a}, {b}, 'd{rng.randint(1, 3)}')")
            else:
                tuples.append(f"({a}, {b})")
        return ", ".join(tuples)

    ops = [f"INSERT INTO {{t}} VALUES {values(rng.randint(4, 8))}"]
    for _ in range(rng.randint(4, 7)):
        roll = rng.random()
        if roll < 0.35:
            pred = fill(rng.choice(_DML_PREDS))
            if partitioned and rng.random() < 0.4:
                pred = f"day = 'd{rng.randint(1, 3)}' AND ({pred})"
            expr = fill(rng.choice(_DML_SET_EXPRS))
            if partitioned and rng.random() < 0.25:
                # partition MOVE: rows change leaves (full-swap path)
                ops.append(f"UPDATE {{t}} SET day = 'd{rng.randint(1, 4)}' WHERE {pred}")
            else:
                ops.append(f"UPDATE {{t}} SET b = {expr} WHERE {pred}")
        elif roll < 0.65:
            pred = fill(rng.choice(_DML_PREDS))
            if partitioned and rng.random() < 0.4:
                pred = f"day = 'd{rng.randint(1, 3)}' AND ({pred})"
            ops.append(f"DELETE FROM {{t}} WHERE {pred}")
        else:
            ops.append(f"INSERT INTO {{t}} VALUES {values(rng.randint(1, 4))}")
    return ops


def _dml_state(rows) -> list[tuple]:
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((x is None, x) for x in r),
    )


def run_dml_case(engine, con, seed: int, parquet_loc: str | None = None) -> list[str]:
    """Apply one mutation sequence to both engines; compare the full
    table state after EVERY statement (pinpoints the first divergent
    op, not just the final state)."""
    partitioned = parquet_loc is not None
    t = f"dml_{'pq' if partitioned else 'mem'}_{seed}"
    engine.sql(f"DROP TABLE IF EXISTS {t}")
    con.execute(f"DROP TABLE IF EXISTS {t}")
    if partitioned:
        engine.sql(
            f"CREATE TABLE {t}(a bigint, b bigint, day string) ENGINE = Parquet"
            f" PARTITION BY (day) location = '{parquet_loc}'"
        )
        con.execute(f"CREATE TABLE {t}(a BIGINT, b BIGINT, day VARCHAR)")
    else:
        engine.sql(f"CREATE TABLE {t}(a bigint, b bigint) ENGINE = Memory")
        con.execute(f"CREATE TABLE {t}(a BIGINT, b BIGINT)")
    problems = []
    try:
        for i, op in enumerate(gen_dml_ops(seed, partitioned)):
            stmt = op.format(t=t)
            engine.sql(stmt)
            con.execute(stmt)
            ours = _dml_state(engine.sql(f"SELECT * FROM {t}").collect())
            theirs = _dml_state(con.execute(f"SELECT * FROM {t}").fetchall())
            if ours != theirs:
                problems.append(
                    f"seed {seed} diverged after op {i}: {stmt} ::"
                    f" ours={ours[:8]} theirs={theirs[:8]}"
                )
                break
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {t}")
        con.execute(f"DROP TABLE IF EXISTS {t}")
    return problems


def run_snapshot_dml_case(engine, con, seed: int, loc: str) -> list[str]:
    """Time-travel differential fuzz: apply one mutation sequence to an
    ENGINE = Snapshot table and a DuckDB table, recording DuckDB's
    state after EVERY statement; then verify (a) the live state after
    each op, and (b) at the end, that `VERSION AS OF k` reproduces the
    recorded state after statement k for EVERY k — i.e. the whole
    history is correct, not just the head. Each DML statement commits
    exactly one snapshot version, so version index == statement index."""
    t = f"dml_snap_{seed}"
    engine.sql(f"DROP TABLE IF EXISTS {t}")
    con.execute(f"DROP TABLE IF EXISTS {t}")
    engine.sql(
        f"CREATE TABLE {t}(a bigint, b bigint) ENGINE = Snapshot location = '{loc}'"
    )
    con.execute(f"CREATE TABLE {t}(a BIGINT, b BIGINT)")
    problems = []
    history: list[list[tuple]] = []
    try:
        for i, op in enumerate(gen_dml_ops(seed, partitioned=False)):
            stmt = op.format(t=t)
            engine.sql(stmt)
            con.execute(stmt)
            theirs = _dml_state(con.execute(f"SELECT * FROM {t}").fetchall())
            history.append(theirs)
            ours = _dml_state(engine.sql(f"SELECT * FROM {t}").collect())
            if ours != theirs:
                problems.append(
                    f"seed {seed} live state diverged after op {i}: {stmt}"
                )
                break
        if not problems:
            for k, want in enumerate(history):
                got = _dml_state(
                    engine.sql(f"SELECT * FROM {t} VERSION AS OF {k}").collect()
                )
                if got != want:
                    problems.append(
                        f"seed {seed}: VERSION AS OF {k} != state after op {k}:"
                        f" got={got[:8]} want={want[:8]}"
                    )
                    break
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {t}")
        con.execute(f"DROP TABLE IF EXISTS {t}")
    return problems
