"""Small wide statements run as one-partition plans (Engine._select,
engine._one_partition): when a SELECT has an operator that needs a
distribution and its inputs add up to at most
spark.sql.files.openCostInBytes, every leaf is read as one partition
and Catalyst plans no Exchange.

The exchange plan is the differential oracle: Engine.local_select
gives the statement's analyzed DataFrame with its leaves as they are
(the `spark.sql(rewritten)` frame), and each shape must give its rows
over every kind of table a small statement reads."""

from __future__ import annotations

import os

import pytest

from fuse_query_spark.engine import Engine

# (shape, ordered): an ordered shape's ORDER BY is total, so its rows
# compare in order; the others compare as sorted lists
SHAPES = {
    "group_by": (
        "SELECT k % 7 AS g, uniq(s) AS u, sumIf(v, k > 3) AS q, countIf(v > 10) AS n "
        "FROM {t} GROUP BY g", False,
    ),
    "limit_by": ("SELECT k, id, v FROM {t} ORDER BY k, id LIMIT 2 BY k", True),
    "order_by": ("SELECT id, k, s FROM {t} ORDER BY k DESC, id", True),
    "distinct": ("SELECT DISTINCT k % 5 AS g, s FROM {t}", False),
    "union": (
        "SELECT k FROM {t} WHERE id < 40 UNION DISTINCT SELECT k + 1 AS k FROM {t} WHERE id > 20",
        False,
    ),
    "window": (
        "SELECT id, k, sum(v) OVER (PARTITION BY k ORDER BY id) AS run, "
        "row_number() OVER (PARTITION BY k % 3 ORDER BY v DESC, id) AS rn FROM {t}", False,
    ),
    "join": (
        "SELECT a.k, count(*) AS c, sum(b.v) AS sv, max(b.s) AS ms "
        "FROM {t} a JOIN mem b ON a.id = b.id GROUP BY a.k", False,
    ),
}

COLUMNS = "(id BIGINT, k INT, v DOUBLE, s STRING)"
# v is a multiple of 0.25, so sums are exact in any order of addition
ROWS = "SELECT number AS id, CAST(number % 13 AS INT) AS k, (number % 50) * 0.25 AS v, " \
       "concat('s', CAST(number % 17 AS STRING)) AS s FROM numbers({n})"


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning") \
        + plan.count("Exchange SinglePartition")


def _jobs(engine, run) -> int:
    sched = engine.spark.sparkContext._jsc.sc().dagScheduler()
    start = sched.nextJobId()
    run()
    return sched.nextJobId() - start


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    """One table per kind a small statement reads, each of the same
    rows: a file scan (Parquet over RESIDENT_BYTES), a resident file
    table (Parquet under it, read twice), Memory (VALUES: a
    LocalRelation) and Snapshot (files of a manifest)."""
    root = tmp_path_factory.mktemp("single_partition")
    eng = Engine(spark)
    values = ", ".join(
        f"({i}, {i % 13}, {(i % 50) * 0.25}, 's{i % 17}')" for i in range(300)
    )
    eng.sql(f"CREATE TABLE mem {COLUMNS} ENGINE = Memory")
    eng.sql(f"INSERT INTO mem VALUES {values}")
    eng.sql(f"CREATE TABLE snap {COLUMNS} ENGINE = Snapshot location = '{root}/snap'")
    eng.sql(f"INSERT INTO snap VALUES {values}")
    eng.sql(f"CREATE TABLE resident {COLUMNS} ENGINE = Parquet location = '{root}/resident'")
    eng.sql(f"INSERT INTO resident {ROWS.format(n=300)}")
    eng.sql(f"CREATE TABLE file {COLUMNS} ENGINE = Parquet location = '{root}/file'")
    eng.sql(f"INSERT INTO file SELECT number AS id, CAST(number % 13 AS INT) AS k, "
            f"(number % 50) * 0.25 + (number % 7919) * 1024 AS v, "
            f"concat('s', CAST(number AS STRING)) AS s FROM numbers(60000)")
    for _ in range(2):
        eng.sql("SELECT * FROM resident").collect()
    return eng


@pytest.mark.parametrize("table", ["file", "resident", "mem", "snap"])
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_one_partition_rows_equal_the_exchange_plan(engine, table, shape):
    sql, ordered = SHAPES[shape]
    sql = sql.format(t=table)
    got_df, want_df = engine.sql(sql), engine.local_select(sql)
    assert _exchanges(got_df) == 0, got_df._jdf.queryExecution().executedPlan().toString()
    if shape != "join":  # a broadcast join has no shuffle to remove
        assert _exchanges(want_df) > 0
    got, want = got_df.collect(), want_df.collect()
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want and len(got) > 0


def test_table_kinds_are_what_they_claim(engine):
    """The file table is scanned from its files, the others are local
    relations or Snapshot files; each is under the bound."""
    plans = {
        t: engine.sql(f"SELECT count(*) FROM {t}")._jdf.queryExecution().executedPlan().toString()
        for t in ("file", "resident", "mem", "snap")
    }
    assert "FileScan" in plans["file"] and "FileScan" in plans["snap"]
    assert "LocalTableScan" in plans["resident"] and "LocalTableScan" in plans["mem"]
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(
        engine.resolve_table("file").location) for f in fs if f.endswith(".parquet"))
    assert 384 * 1024 < size <= engine.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()


def test_input_over_the_bound_keeps_its_exchanges(engine, tmp_path):
    bound = engine.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    engine.sql(f"CREATE TABLE big (id BIGINT, v DOUBLE) ENGINE = Parquet location = '{tmp_path}/big'")
    try:
        engine.sql("INSERT INTO big SELECT number AS id, rand(7) AS v FROM numbers(600000)")
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp_path / "big")
                   for f in fs if f.endswith(".parquet"))
        assert size > bound
        df = engine.sql("SELECT id % 10 AS g, count(*) AS c FROM big GROUP BY g")
        assert _exchanges(df) == 1
        assert sorted(r["c"] for r in df.collect()) == [60000] * 10
    finally:
        engine.sql("DROP TABLE big")


def test_numbers_over_the_bound_keeps_its_exchanges(engine):
    df = engine.sql("SELECT number % 3 AS g, count(*) AS c FROM numbers(100000000) GROUP BY g")
    assert _exchanges(df) == 1
    small = engine.sql("SELECT number % 3 AS g, count(*) AS c FROM numbers(1000) GROUP BY g")
    assert _exchanges(small) == 0
    assert sorted(r["c"] for r in small.collect()) == [333, 333, 334]


def test_narrow_statement_is_returned_as_analyzed(engine):
    """A plan with no operator that needs a distribution is not
    rewritten: a point lookup keeps its own plan."""
    df = engine.sql("SELECT id, s FROM resident WHERE id = 7")
    assert "Coalesce" not in df._jdf.queryExecution().executedPlan().toString()
    assert _jobs(engine, lambda: engine.sql_collect("SELECT id, s FROM resident WHERE id = 7")) == 0


def test_group_by_constant_keeps_its_meaning(engine):
    """GROUP BY 1 groups by the constant (ordinals are off while a
    statement is analyzed); the one-partition plan is not analyzed
    again, so it does not become an ordinal."""
    rows = engine.sql("SELECT count(*) AS c FROM mem GROUP BY 1").collect()
    assert [r["c"] for r in rows] == [300]


def test_explain_shows_the_plan_that_runs(engine):
    small = "\n".join(r[0] for r in engine.sql(
        "EXPLAIN SELECT k, count(*) FROM file GROUP BY k").collect())
    assert "Exchange hashpartitioning" not in small and "Coalesce" in small
    big = "\n".join(r[0] for r in engine.sql(
        "EXPLAIN SELECT number % 3 AS g, count(*) FROM numbers(100000000) GROUP BY g").collect())
    assert "Exchange hashpartitioning" in big
    pipeline = "\n".join(r[0] for r in engine.sql(
        "EXPLAIN PIPELINE SELECT k, count(*) FROM mem GROUP BY k").collect())
    assert "Exchange" not in pipeline and "Coalesce" in pipeline

