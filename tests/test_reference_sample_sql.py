"""The reference's shipped sample workflow (tests/data/sample.sql:
CSV + Parquet engine tables over its own data files, then a
system.tables listing) runs VERBATIM through Engine.sql — the
data-file analog of the stateless golden suite. Values cross-checked
against DuckDB reading the same files."""

import os

import duckdb
import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.results import to_rows

SAMPLE_SQL = "/root/reference/tests/data/sample.sql"
DATA_DIR = "/root/reference/tests/data"


@pytest.fixture(scope="module")
def engine(spark):
    if not os.path.exists(SAMPLE_SQL):
        pytest.skip(f"needs the reference checkout: {SAMPLE_SQL} is absent")
    eng = Engine(spark=spark)
    sql = open(SAMPLE_SQL).read().replace("'tests/data/", f"'{DATA_DIR}/")
    eng.sql(sql)
    return eng


def test_sample_sql_registers_both_tables(engine):
    _, rows = engine.sql_collect(
        "SELECT name, engine FROM system.tables WHERE database = 'default'"
    )
    rows = to_rows(rows)
    got = {(r[0], r[1]) for r in rows}
    assert ("test_csv", "CSV") in got and ("test_parquet", "Parquet") in got


def test_csv_engine_matches_duckdb(engine):
    _, rows = engine.sql_collect("SELECT id, name, rank FROM test_csv ORDER BY id")
    rows = to_rows(rows)
    duck = duckdb.sql(
        f"SELECT id, name, rank FROM read_csv('{DATA_DIR}/sample.csv',"
        " header=false, columns={'id': 'INT', 'name': 'VARCHAR', 'rank': 'INT'})"
        " ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in rows] == [tuple(r) for r in duck]


def test_parquet_engine_matches_duckdb(engine):
    """alltypes_plain.parquet is the classic Impala all-types file —
    INT96 timestamps included."""
    _, rows = engine.sql_collect(
        "SELECT id, bool_col, int_col, bigint_col, double_col, string_col,"
        " timestamp_col FROM test_parquet ORDER BY id"
    )
    rows = to_rows(rows)
    duck = duckdb.sql(
        "SELECT id, bool_col, int_col, bigint_col, double_col, string_col,"
        f" timestamp_col FROM '{DATA_DIR}/alltypes_plain.parquet' ORDER BY id"
    ).fetchall()
    got = [(r[0], r[1], r[2], r[3], r[4], str(r[5]), r[6]) for r in rows]
    want = [(r[0], r[1], r[2], r[3], r[4], r[5].decode() if isinstance(r[5], bytes) else str(r[5]), r[6]) for r in duck]
    assert got == want


def test_nyctaxi_csv_attaches(engine):
    """The third shipped data file: a real-world CSV with timestamps
    and doubles — attach and aggregate."""
    engine.sql(
        "CREATE TABLE nyctaxi (VendorID int, tpep_pickup_datetime Timestamp,"
        " tpep_dropoff_datetime Timestamp, passenger_count int,"
        " trip_distance double, RatecodeID int, store_and_fwd_flag varchar(8),"
        " PULocationID int, DOLocationID int, payment_type int,"
        " fare_amount double, extra double, mta_tax double, tip_amount double,"
        " tolls_amount double, improvement_surcharge double, total_amount double,"
        " congestion_surcharge double)"
        f" Engine = CSV location = '{DATA_DIR}/nyctaxi.csv'"
    )
    _, rows = engine.sql_collect(
        "SELECT count(*), round(sum(total_amount), 2) FROM nyctaxi"
        " WHERE passenger_count >= 1"
    )
    rows = to_rows(rows)
    n_duck, amt_duck = duckdb.sql(
        f"SELECT count(*), round(sum(total_amount), 2) FROM '{DATA_DIR}/nyctaxi.csv'"
        " WHERE passenger_count >= 1"
    ).fetchall()[0]
    # our CSV engine uses a declared schema with header skipping; duckdb
    # sniffs — both must agree on the filtered aggregate
    assert rows[0][0] == n_duck and float(rows[0][1]) == float(amt_duck)
    engine.sql("DROP TABLE nyctaxi")
