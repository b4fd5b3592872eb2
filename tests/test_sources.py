"""Source-layer tests: parquet timestamp-encoding tolerance.

The events corpus has shipped with both TIMESTAMP(MICROS) and
TIMESTAMP(NANOS) physical encodings (TESTDATA.md / round-1 driver
runs). Spark rejects NANOS columns unless
spark.sql.legacy.parquet.nanosAsLong is enabled; these tests pin the
fallback-read + ns->us normalization path end to end so the LongType
branch in _normalize_event_ts is exercised, not dead code.
"""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fuse_query_spark.results import to_rows
from fuse_query_spark.sources.tables import _normalize_event_ts, read_parquet_maybe_nanos

UTC = datetime.timezone.utc

# epoch ns values chosen so ns->us truncation is observable (…999 ns)
_NS_VALUES = [
    1_700_000_000_123_456_999,
    1_700_000_100_000_000_001,
    1_700_003_600_987_654_321,
]


@pytest.fixture()
def nanos_events_path(tmp_path):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "user_id": pa.array([10, 10, 11], pa.int64()),
            "ts": pa.array(_NS_VALUES, pa.timestamp("ns")),
        }
    )
    path = str(tmp_path / "events_nanos.parquet")
    # store_schema=False drops the Arrow schema metadata so Spark sees
    # the raw parquet TIMESTAMP(NANOS) physical type
    pq.write_table(tbl, path, coerce_timestamps=None, store_schema=False)
    return path


def test_nanos_parquet_fallback_read_and_normalize(spark, nanos_events_path):
    df = read_parquet_maybe_nanos(spark, nanos_events_path)
    # with nanosAsLong on, the NANOS column surfaces as a raw ns long
    assert dict(df.dtypes)["ts"] == "bigint"
    norm = _normalize_event_ts(df, "ts")
    assert dict(norm.dtypes)["ts"] == "timestamp"
    got = {r["event_id"]: r["ts"] for r in norm.collect()}
    for eid, ns in zip([1, 2, 3], _NS_VALUES):
        want_us = ns // 1000  # integer truncation, exactly DuckDB's rule
        ts = got[eid].replace(tzinfo=UTC)
        assert int(ts.timestamp() * 1_000_000) == pytest.approx(want_us, abs=1)
        # exact check without float round-trip:
        epoch = datetime.datetime(1970, 1, 1, tzinfo=UTC)
        micros = (ts - epoch) // datetime.timedelta(microseconds=1)
        assert micros == want_us


def test_micros_parquet_reads_plain(spark, sf_dir):
    # the current corpus is MICROS: plain read path, no conf needed
    df = read_parquet_maybe_nanos(spark, f"{sf_dir}/events.parquet")
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


def test_normalize_requires_utc_session(spark, nanos_events_path):
    # NTZ branch guards on session tz; simulate a non-UTC session
    prev = spark.conf.get("spark.sql.session.timeZone")
    ntz = spark.createDataFrame(
        [(1, datetime.datetime(2023, 11, 14, 22, 13, 20))],
        "event_id bigint, ts timestamp_ntz",
    )
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(RuntimeError, match="timeZone=UTC"):
            _normalize_event_ts(ntz, "ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # back under UTC the cast is applied
    out = _normalize_event_ts(ntz, "ts")
    assert dict(out.dtypes)["ts"] == "timestamp"


class TestPartitionedSink:
    def test_write_read_roundtrip_and_pruning(self, spark, sf_dir, tmp_path):
        from fuse_query_spark.sources.sinks import read_partitioned, write_partitioned
        from fuse_query_spark.sources.tables import table

        out = str(tmp_path / "docs_by_source")
        docs = table(spark, sf_dir, "documents")
        write_partitioned(docs, out, partition_by=("source",))

        back = read_partitioned(spark, out)
        assert back.count() == docs.count()

        one = back.filter(F.col("source") == "src1")
        want = docs.filter(F.col("source") == "src1").count()
        assert one.count() == want and want > 0

        # the predicate must prune DIRECTORIES at planning time: it
        # appears as a PartitionFilter on the scan, not a data filter
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "src1" in plan, plan[:1500]
        # cross-check after execution: the scan's numFiles metric must
        # be a fraction of the 20 partition dirs' files (inputFiles()
        # can't show this — it lists the relation pre-pruning)
        one.collect()
        total_files = len(back.inputFiles())
        qe = one._jdf.queryExecution().executedPlan()
        leaves = qe.collectLeaves()
        read_files = None
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                read_files = m.apply("numFiles").value()
                break
        assert read_files is not None and 0 < read_files < total_files, (
            read_files,
            total_files,
        )

    def test_dynamic_overwrite_touches_only_incoming_partitions(self, spark, sf_dir, tmp_path):
        from fuse_query_spark.sources.sinks import read_partitioned, write_partitioned
        from fuse_query_spark.sources.tables import table

        out = str(tmp_path / "docs_dyn")
        docs = table(spark, sf_dir, "documents")
        write_partitioned(docs, out, partition_by=("source",))
        total = docs.count()

        # rewrite ONLY src1, with a 1-row replacement
        repl = docs.filter(F.col("source") == "src1").limit(1)
        write_partitioned(repl, out, partition_by=("source",), mode="overwrite")

        back = read_partitioned(spark, out)
        n_src1 = back.filter(F.col("source") == "src1").count()
        n_rest = back.filter(F.col("source") != "src1").count()
        assert n_src1 == 1  # replaced
        assert n_rest == total - docs.filter(F.col("source") == "src1").count()  # untouched


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """50 tiny files compact to the computed target count with no row
    loss and identical content."""
    from fuse_query_spark.sources.sinks import compact_parquet
    from fuse_query_spark.sources.tables import table

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(50).write.mode("overwrite").parquet(src)
    stats = compact_parquet(spark, src, dst, target_file_mb=512)
    assert stats["files_before"] == 50
    assert stats["files_after"] == 1  # tiny input -> single target file
    assert stats["rows"] == docs.count()
    a = {tuple(r) for r in spark.read.parquet(dst).collect()}
    b = {tuple(r) for r in docs.collect()}
    assert a == b


def test_compact_parquet_respects_target_size(spark, sf_dir, tmp_path):
    """A small target_file_mb yields multiple output files sized from
    the input's real bytes."""
    from fuse_query_spark.sources.sinks import compact_parquet
    from fuse_query_spark.sources.tables import table

    import math

    src, dst = str(tmp_path / "frag2"), str(tmp_path / "compact2")
    li = table(spark, sf_dir, "lineitem")
    big = li
    for _ in range(4):
        big = big.unionAll(big)  # 16x rows so input clears 1 MB
    big.repartition(20).write.mode("overwrite").parquet(src)
    stats = compact_parquet(spark, src, dst, target_file_mb=1)
    expected = max(1, math.ceil(stats["input_bytes"] / (1024 * 1024)))
    assert stats["input_bytes"] > 1024 * 1024  # test has teeth
    assert stats["files_after"] == expected > 1


def test_orc_engine_roundtrip(spark, sf_dir, tmp_path):
    """ORC as a table engine (capability extension past the reference's
    CSV/Parquet/JSON/Null/Memory): create, INSERT ... SELECT from a
    Parquet-engine table, read back, engine listed in system.tables."""
    from fuse_query_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.attach_parquet_dir(sf_dir)
    loc = str(tmp_path / "docs_orc")
    eng.sql(
        "CREATE TABLE docs_orc (doc_id bigint, source varchar(64), n_chars bigint)"
        f" Engine = ORC location = '{loc}'"
    )
    eng.sql("INSERT INTO docs_orc SELECT doc_id, source, n_chars FROM documents")
    _, rows = eng.sql_collect(
        "SELECT count(*), min(doc_id), sum(n_chars) FROM docs_orc"
    )
    rows = to_rows(rows)
    _, want = eng.sql_collect(
        "SELECT count(*), min(doc_id), sum(n_chars) FROM documents"
    )
    want = to_rows(want)
    assert tuple(rows[0]) == tuple(want[0])
    _, t = eng.sql_collect(
        "SELECT engine FROM system.tables WHERE name = 'docs_orc'"
    )
    t = to_rows(t)
    assert t[0][0] == "ORC"


def test_spread_table_gate_multifile_directory(spark, tmp_path):
    """r12 verdict finding #1: the old gate stat'd the table PATH with
    os.path.getsize — on a directory of part-files (how any
    Spark-written / real 100 TB table lands) that returns the inode
    size (~4 KB), so a huge table was misread as tiny and a full-table
    hash repartition was added to the scan. The gate now reads the
    planner's own split count: a directory whose planned splits >=
    defaultParallelism must come back as the PLAIN scan, no Exchange."""
    from fuse_query_spark.plans.explain import shuffle_count
    from fuse_query_spark.sources.tables import spread_table

    sf_dir = str(tmp_path)
    n_files = 64
    (
        spark.range(0, 6400)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(f"{sf_dir}/documents.parquet")
    )
    old_maxpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # force >= 1 split per part-file so planned splits (64) exceed
        # the test session's defaultParallelism (8) — the 100 TB shape
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "16384")
        df = spread_table(spark, sf_dir, "documents", "doc_id")
        assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert shuffle_count(df) == 0, "spread must be a no-op on a many-split scan"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_maxpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_spread_table_single_file_still_spreads(spark, sf_dir):
    """The sf corpus shape (one single-row-group file -> 1 planned
    split) must still get the repartition, keyed exchange only."""
    from fuse_query_spark.plans.explain import shuffle_count
    from fuse_query_spark.sources.tables import spread_table

    df = spread_table(spark, sf_dir, "documents", "doc_id")
    # plan checks BEFORE .rdd: .rdd on a df WITH an exchange executes
    # the AQE stage and the formatted plan switches to the final form
    # one physical exchange == 2 plan occurrences (shuffle_count docstring)
    assert shuffle_count(df) == 2
    assert shuffle_count(df, include_repartition=False) == 0
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_dedup_spread_gate_no_coalesce_on_many_splits(spark):
    """spread must not COALESCE an input that already has >=
    defaultParallelism partitions (r12 verdict finding #2: giant
    partitions / spill risk at scale)."""
    from fuse_query_spark.sources.tables import spread

    wide = spark.range(0, 1000).withColumnRenamed("id", "_id").repartition(32, "_id")
    out = spread(wide, "_id")
    assert out is wide  # untouched, not coalesced to 8
    narrow = spark.range(0, 100).withColumnRenamed("id", "_id").coalesce(1)
    out2 = spread(narrow, "_id")
    assert out2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
