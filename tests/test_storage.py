"""Table storage (sources/storage.py): every engine kind behaves the
same under one DML script, partition paths are the ones Spark writes,
Memory tables own their rows, and the job counts of the serving INSERT
paths stay pinned."""

from __future__ import annotations

import os

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.errors import FuseQueryError, UnknownTable, UnsupportedStatement
from fuse_query_spark.results import to_rows
from fuse_query_spark.sources import storage


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def _rows(engine, name):
    return sorted((tuple(r) for r in engine.sql(f"SELECT * FROM {name}").collect()), key=repr)


# ---------- conformance: one DML script, every engine ----------

# (engine, PARTITION BY clause or ""); every table has (id, v, day)
CONFORMANCE = [
    ("Memory", ""),
    ("Null", ""),
    ("Parquet", ""),
    ("Parquet", "day"),
    ("CSV", ""),
    ("JSONEachRow", ""),
    ("JSONEachRow", "day"),
    ("ORC", ""),
    ("Snapshot", ""),
]

SCRIPT = [
    "INSERT INTO {t} VALUES (1, 'a', 'd1'), (2, 'b', 'd1'), (3, 'c', 'd2')",
    "INSERT INTO {t} SELECT number + 10, concat('s', cast(number AS string)), 'd3' FROM numbers(2)",
    "UPDATE {t} SET v = 'u' WHERE id >= 2 AND id < 11",
    "DELETE FROM {t} WHERE id = 1 OR v = 's1'",
    "ALTER TABLE {t} ADD COLUMN w int",
    "INSERT OVERWRITE {t} SELECT 20, 'o', 'd1', 7",
    "TRUNCATE TABLE {t}",
]

# statements an engine refuses, with the typed error it raises
REFUSED = {
    ("Snapshot", "TRUNCATE"): (UnsupportedStatement, "Cannot TRUNCATE engine Snapshot"),
}


@pytest.mark.parametrize(
    "eng,part", CONFORMANCE, ids=[e + ("_by_" + p if p else "") for e, p in CONFORMANCE]
)
def test_engine_conformance(engine, tmp_path, eng, part):
    """After each step the table reads what the Memory table reads
    (Null reads empty); a partitioned table's INSERT OVERWRITE replaces
    only the partitions the SELECT writes."""
    _run_script(engine, tmp_path, eng, part)


FILE_ENGINES = [(e, p) for e, p in CONFORMANCE if e not in ("Memory", "Null", "Snapshot")]


@pytest.mark.parametrize("resident_bytes", [0, 1 << 40], ids=["file_scans", "resident"])
@pytest.mark.parametrize(
    "eng,part", FILE_ENGINES, ids=[e + ("_by_" + p if p else "") for e, p in FILE_ENGINES]
)
def test_script_either_side_of_resident_bytes(
    engine, tmp_path, monkeypatch, resident_bytes, eng, part
):
    """The same script, each step's rows read twice, with every table
    above RESIDENT_BYTES (file scans throughout) and below it (the
    second read of each key, and the mutations' reads, come from the
    driver-side LocalRelation): the rows are the same."""
    monkeypatch.setattr(storage, "RESIDENT_BYTES", resident_bytes)
    _run_script(engine, tmp_path, eng, part, reads=2)


def _run_script(engine, tmp_path, eng, part, reads=1):
    t, ref = f"conf_{eng.lower()}{'_p' if part else ''}", "conf_ref"
    for name in (t, ref):
        engine.sql(f"DROP TABLE IF EXISTS {name}")
    engine.sql(f"CREATE TABLE {ref} (id bigint, v string, day string) ENGINE = Memory")
    ddl = f"CREATE TABLE {t} (id bigint, v string, day string) ENGINE = {eng}"
    if part:
        ddl += f" PARTITION BY ({part})"
    if eng not in ("Memory", "Null"):
        ddl += f" location = '{tmp_path / t}'"
    engine.sql(ddl)
    try:
        for step in SCRIPT:
            before = _rows(engine, ref)
            engine.sql(step.format(t=ref))
            expect = _rows(engine, ref)
            refused = REFUSED.get((eng, step.split()[0]))
            if refused is not None:
                err, msg = refused
                with pytest.raises(err, match=msg):
                    engine.sql(step.format(t=t))
                engine.sql(f"INSERT OVERWRITE {ref} SELECT * FROM {t}")
                continue
            engine.sql(step.format(t=t))
            if eng == "Null":
                expect = []
            elif part and step.startswith("INSERT OVERWRITE"):
                written = {r[2] for r in expect}
                expect = sorted(
                    [r + (None,) * (len(expect[0]) - len(r)) for r in before if r[2] not in written]
                    + expect,
                    key=repr,
                )
            for _ in range(reads):
                assert _rows(engine, t) == expect, step
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {t}")
        engine.sql(f"DROP TABLE IF EXISTS {ref}")


# ---------- Spark jobs per serving INSERT ----------


def _jobs(engine, stmt):
    sched = engine.spark.sparkContext._jsc.sc().dagScheduler()
    start = sched.nextJobId()
    engine.sql_collect(stmt)
    return sched.nextJobId() - start


def test_insert_values_job_counts(engine, tmp_path):
    """A Memory INSERT VALUES submits no Spark job; a Snapshot one
    submits exactly its write."""
    engine.sql("DROP TABLE IF EXISTS jc_m")
    engine.sql("DROP TABLE IF EXISTS jc_s")
    engine.sql("CREATE TABLE jc_m (id bigint, s string) ENGINE = Memory")
    engine.sql(f"CREATE TABLE jc_s (id bigint, s string) ENGINE = Snapshot location = '{tmp_path / 's'}'")
    try:
        for i in range(3):
            assert _jobs(engine, f"INSERT INTO jc_m VALUES ({i}, 'a'), ({i + 10}, 'b')") == 0
            assert _jobs(engine, f"INSERT INTO jc_s VALUES ({i}, 'a'), ({i + 10}, 'b')") == 1
        assert len(_rows(engine, "jc_m")) == len(_rows(engine, "jc_s")) == 6
    finally:
        engine.sql("DROP TABLE jc_m")
        engine.sql("DROP TABLE jc_s")


def test_first_read_of_attached_parquet_runs_only_its_scan(spark, sf_dir):
    """Attaching reads each footer on the driver, and the first read
    builds its reader schema from a footer as well: the first point
    lookup on an attached table submits one Spark job, its scan, and
    no schema-inference job."""
    e = Engine(spark)
    e.attach_parquet_dir(sf_dir)
    assert _jobs(e, "SELECT o_orderstatus FROM orders WHERE o_orderkey = 1") == 1


def test_memory_table_stays_one_local_relation(engine):
    """300 one-row INSERTs concatenate into one LocalRelation, each
    with no Spark job: the readback scans one LocalTableScan, not a
    300-way union."""
    engine.sql("DROP TABLE IF EXISTS jc_flat")
    engine.sql("CREATE TABLE jc_flat (id bigint, s string) ENGINE = Memory")
    try:
        for i in range(300):
            s = "NULL" if i % 7 else f"'{i}'"
            assert _jobs(engine, f"INSERT INTO jc_flat VALUES ({i}, {s})") == 0
        df = engine.sql("SELECT count(*), sum(id), count(s) FROM jc_flat")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LocalTableScan") == 1 and "Union" not in plan, plan
        assert tuple(df.collect()[0]) == (300, sum(range(300)), len(range(0, 300, 7)))
    finally:
        engine.sql("DROP TABLE jc_flat")


# ---------- partition specs address the leaves Spark wrote ----------


@pytest.fixture
def by_day(engine, tmp_path):
    engine.sql("DROP TABLE IF EXISTS pe")
    engine.sql(
        f"CREATE TABLE pe (id bigint, day string) ENGINE = Parquet "
        f"PARTITION BY (day) location = '{tmp_path / 'pe'}'"
    )
    engine.sql(
        "INSERT INTO pe VALUES (1, '2021-01-01 10:00'), (2, 'it''s'), (3, 'plain'), (4, 'a/b')"
    )
    yield "pe"
    engine.sql("DROP TABLE IF EXISTS pe")


@pytest.mark.parametrize("value", ["'2021-01-01 10:00'", "'it''s'", "'a/b'"])
def test_drop_partition_escaped_value(engine, by_day, value):
    engine.sql(f"ALTER TABLE pe DROP PARTITION (day={value})")
    left = {r[1] for r in _rows(engine, "pe")}
    assert engine.sql(f"SELECT {value}").collect()[0][0] not in left
    assert len(left) == 3


def test_optimize_escaped_partition(engine, by_day):
    _, rows = engine.sql_collect("OPTIMIZE TABLE pe PARTITION (day='2021-01-01 10:00')")
    rows = to_rows(rows)
    assert tuple(rows[0])[1:] == (1, 1, 1)
    assert len(_rows(engine, "pe")) == 4


def test_refresh_escaped_partition(engine, by_day, tmp_path):
    engine.sql("DROP TABLE IF EXISTS pe_mv")
    engine.sql(
        f"CREATE MATERIALIZED VIEW pe_mv ENGINE = Parquet PARTITION BY (day) "
        f"location = '{tmp_path / 'pe_mv'}' AS SELECT day, count(*) AS n FROM pe GROUP BY day"
    )
    try:
        engine.sql("INSERT INTO pe VALUES (5, 'it''s')")
        engine.sql("REFRESH MATERIALIZED VIEW pe_mv PARTITION (day='it''s')")
        got = dict(_rows(engine, "pe_mv"))
        assert got == {"2021-01-01 10:00": 1, "it's": 2, "plain": 1, "a/b": 1}
    finally:
        engine.sql("DROP TABLE IF EXISTS pe_mv")


def test_mutation_keeps_partition_values(engine, by_day):
    """DELETE and UPDATE rewrite exactly the affected leaves, whose
    directory names Spark escaped, and keep their values."""
    engine.sql("INSERT INTO pe VALUES (6, '2021-01-01 10:00'), (7, '007'), (8, '007')")
    engine.sql("DELETE FROM pe WHERE id IN (1, 7)")
    engine.sql("UPDATE pe SET id = id + 100 WHERE id = 2")
    assert _rows(engine, "pe") == sorted(
        [(102, "it's"), (3, "plain"), (4, "a/b"), (6, "2021-01-01 10:00"), (8, "007")], key=repr
    )


# ---------- Memory tables own their rows ----------


def test_memory_ctas_survives_source_rewrite(engine, tmp_path):
    engine.sql("DROP TABLE IF EXISTS al_f")
    engine.sql(f"CREATE TABLE al_f (x bigint) ENGINE = Parquet location = '{tmp_path / 'f'}'")
    engine.sql("INSERT INTO al_f VALUES (1), (2)")
    for i, rewrite in enumerate(("INSERT OVERWRITE al_f SELECT 9", "TRUNCATE TABLE al_f")):
        engine.sql(f"DROP TABLE IF EXISTS al_m{i}")
        engine.sql(f"CREATE TABLE al_m{i} ENGINE = Memory AS SELECT * FROM al_f")
        before = _rows(engine, f"al_m{i}")
        engine.sql(rewrite)
        assert _rows(engine, f"al_m{i}") == before
        engine.sql(f"DROP TABLE al_m{i}")
    engine.sql("DROP TABLE al_f")


def test_memory_overwrite_of_some_columns(engine):
    """INSERT OVERWRITE with a column list keeps the table's columns;
    the others read NULL, as after INSERT INTO."""
    engine.sql("DROP TABLE IF EXISTS al_oc")
    engine.sql("CREATE TABLE al_oc (id bigint, s string) ENGINE = Memory")
    engine.sql("INSERT INTO al_oc VALUES (1, 'a')")
    engine.sql("INSERT OVERWRITE al_oc (id) SELECT 5")
    assert _rows(engine, "al_oc") == [(5, None)]
    engine.sql("DROP TABLE al_oc")


def test_memory_insert_survives_snapshot_vacuum(engine, tmp_path):
    engine.sql("DROP TABLE IF EXISTS al_s")
    engine.sql("DROP TABLE IF EXISTS al_ms")
    engine.sql(f"CREATE TABLE al_s (x bigint) ENGINE = Snapshot location = '{tmp_path / 's'}'")
    engine.sql("INSERT INTO al_s VALUES (1), (2)")
    engine.sql("CREATE TABLE al_ms (x bigint) ENGINE = Memory")
    engine.sql("INSERT INTO al_ms SELECT * FROM al_s")
    engine.sql("INSERT OVERWRITE al_s SELECT 9")
    engine.sql("VACUUM al_s")
    assert _rows(engine, "al_ms") == [(1,), (2,)]
    engine.sql("DROP TABLE al_ms")
    engine.sql("DROP TABLE al_s")


# ---------- VERSION AS OF outside literals only ----------


@pytest.mark.parametrize("text", ["p_tt VERSION AS OF 1", "nosuch VERSION AS OF 1"])
def test_version_as_of_inside_literal(engine, tmp_path, text):
    engine.sql("DROP TABLE IF EXISTS p_tt")
    engine.sql(f"CREATE TABLE p_tt (x bigint) ENGINE = Parquet location = '{tmp_path / 'p'}'")
    sql = f"SELECT '{text}' AS x"
    assert engine.sql(sql).collect()[0][0] == text
    assert engine.local_select(sql).collect()[0][0] == text
    engine.sql("DROP TABLE p_tt")


def test_version_as_of_still_checked(engine, tmp_path):
    engine.sql("DROP TABLE IF EXISTS p_tt")
    engine.sql(f"CREATE TABLE p_tt (x bigint) ENGINE = Parquet location = '{tmp_path / 'p'}'")
    with pytest.raises(UnsupportedStatement, match="VERSION AS OF needs ENGINE = Snapshot"):
        engine.sql("SELECT 'p_tt VERSION AS OF 1', x FROM p_tt VERSION AS OF 1")
    with pytest.raises(UnknownTable):
        engine.sql("SELECT * FROM nosuch VERSION AS OF 1")
    engine.sql("DROP TABLE p_tt")


# ---------- refusals keep their typed errors ----------


@pytest.mark.parametrize(
    "stmt,msg",
    [
        ("TRUNCATE TABLE rf_v", "Cannot TRUNCATE engine View"),
        ("DELETE FROM rf_v WHERE x = 1", "Cannot DELETE from engine View"),
        ("UPDATE rf_v SET x = 2", "Cannot UPDATE engine View"),
        ("INSERT INTO rf_v VALUES (1)", "INSERT into engine View not supported"),
        ("INSERT OVERWRITE rf_v SELECT 1", "INSERT OVERWRITE into engine View not supported"),
        ("SELECT * FROM rf_odd", "Unknown engine Odd"),
        ("INSERT INTO rf_odd VALUES (1)", "INSERT into engine Odd not supported"),
        ("VACUUM rf_m", r"VACUUM needs ENGINE = Snapshot; 'default.rf_m' is ENGINE=Memory"),
        ("SHOW SNAPSHOTS rf_m", "SHOW SNAPSHOTS needs ENGINE = Snapshot"),
        ("OPTIMIZE TABLE rf_m", "OPTIMIZE TABLE supports Parquet-engine tables"),
        ("OPTIMIZE TABLE rf_m ZORDER BY (x)", "ZORDER BY needs ENGINE = Snapshot"),
        ("REFRESH MATERIALIZED VIEW rf_v", "'default.rf_v' is not a materialized view"),
    ],
)
def test_refusals(engine, stmt, msg):
    engine.sql("CREATE TABLE IF NOT EXISTS rf_m (x int) ENGINE = Memory")
    engine.sql("CREATE TABLE IF NOT EXISTS rf_odd (x int) ENGINE = Odd")
    engine.sql("CREATE OR REPLACE VIEW rf_v AS SELECT x FROM rf_m")
    with pytest.raises(FuseQueryError, match=msg):
        engine.sql_collect(stmt)


def test_partition_by_needs_partitionable_engine(engine, tmp_path):
    with pytest.raises(UnsupportedStatement, match=r"partitionable file engine \('Parquet', 'ORC', 'JSONEachRow'\), got CSV"):
        engine.sql(
            f"CREATE TABLE pb_csv (a int, b int) ENGINE = CSV PARTITION BY (b) location = '{tmp_path}'"
        )
    with pytest.raises(UnsupportedStatement, match="MATERIALIZED VIEW needs a file engine"):
        engine.sql(f"CREATE MATERIALIZED VIEW pb_mv ENGINE = CSV location = '{tmp_path}' AS SELECT 1 AS a")


def test_binary_file_is_read_only(engine, tmp_path):
    (tmp_path / "b.bin").write_bytes(b"xyz")
    engine.sql("DROP TABLE IF EXISTS bf")
    engine.sql(
        f"CREATE TABLE bf (path string, length bigint) ENGINE = BinaryFile "
        f"location = '{tmp_path / '*.bin'}'"
    )
    assert [r[1] for r in _rows(engine, "bf")] == [3]
    for stmt, msg in [
        ("INSERT INTO bf VALUES ('p', 1)", "INSERT into engine BinaryFile not supported"),
        ("TRUNCATE TABLE bf", "Cannot TRUNCATE engine BinaryFile"),
        ("DELETE FROM bf WHERE length = 3", "Cannot DELETE from engine BinaryFile"),
    ]:
        with pytest.raises(UnsupportedStatement, match=msg):
            engine.sql(stmt)
    _, parts = engine.sql_collect("SELECT * FROM system.parts WHERE name = 'bf'")
    parts = to_rows(parts)
    assert parts == []
    assert os.path.exists(tmp_path / "b.bin")
    engine.sql("DROP TABLE bf")


def test_one_rendering_of_a_partition(engine, tmp_path):
    """SHOW PARTITIONS, OPTIMIZE's summary label and its "No such
    partition" error name a partition one way: Spark's own SHOW
    PARTITIONS form, `col=value` with the value path-escaped (pyspark
    4.1.2 prints `day=2021-01-01 10%3A00` for a datasource table)."""
    loc = tmp_path / "psp"
    engine.sql(
        f"CREATE TABLE psp (v BIGINT, day STRING) ENGINE = Parquet PARTITION BY (day) "
        f"location = '{loc}'"
    )
    engine.sql("INSERT INTO psp VALUES (1, '2021-01-01 10:00')")
    name = "day=2021-01-01 10%3A00"
    assert [r[0] for r in engine.sql("SHOW PARTITIONS psp").collect()] == [name]
    assert name in os.listdir(loc)
    row = engine.sql("OPTIMIZE TABLE psp PARTITION (day = '2021-01-01 10:00')").collect()[0]
    assert row.partition == name
    with pytest.raises(UnsupportedStatement, match="No such partition day=2021-01-02 10%3A00 in"):
        engine.sql("OPTIMIZE TABLE psp PARTITION (day = '2021-01-02 10:00')")
    engine.sql("DROP TABLE psp")
