"""Table storage: one object per engine kind, the reference's `Table`
trait (datasources/table.rs: schema, read_plan, read, append_data)
with the extension's writes and mutations beside it. A catalog
`TableDef` carries its storage object; the engine parses statements
and calls it, and never asks which engine a table has. `tdef.engine`
is only the name shown in system.tables, SHOW CREATE and errors.

What each kind does (— is refused with UnsupportedStatement):

============  ==============  ============  ==============  =========  ===============  ===================
engine        read            append        overwrite       truncate   DELETE/UPDATE    partition ops
============  ==============  ============  ==============  =========  ===============  ===================
Memory        its rows [4]    concat [4]    replace         drop rows  replace rows     —
Null          empty           discard       discard         no-op      no-op            —
View          stored SELECT   —             —               —          —                —
Parquet       files (cached,  write files   replace [1]     rm dir     rewrite [2]      PARTITION BY, DROP,
              resident [5])                                                             OPTIMIZE, REFRESH
ORC,          files (cached,  write files   replace [1]     rm dir     rewrite [2]      PARTITION BY, DROP,
JSONEachRow   resident [5])                                                             REFRESH
CSV           files (cached,  write files   replace         rm dir     rewrite [2]      —
              resident [5])
BinaryFile    glob (cached)   —             —               —          —                —
Snapshot      newest version  commit        commit          —          commit           OPTIMIZE [ZORDER BY];
              (cached)                                                                  versions [3]
remote        store parts     upload parts  —               —          —                —
============  ==============  ============  ==============  =========  ===============  ===================

[1] dynamic on a partitioned table: only the partitions the rows
    land in are replaced.
[2] on a partitioned table, only the partitions holding affected rows
    are rewritten (an UPDATE that sets a partition column rewrites the
    whole table); otherwise a whole-table temp-dir swap.
[3] VERSION AS OF, ROLLBACK, VACUUM and SHOW SNAPSHOTS.
[4] one LocalRelation while every INSERT's rows are local (VALUES,
    wire blocks): an INSERT concatenates the two row sequences on the
    JVM, with no Spark job; other input is materialized with
    localCheckpoint and unioned.
[5] a table storing fewer than RESIDENT_BYTES is served from one
    driver-side LocalRelation from its second read under one relation
    key on: Catalyst answers filters, projections and limits over it
    on the driver, with no Spark job.

Any other ENGINE name gets `Storage` itself, which refuses everything.
A file or Snapshot table keeps one resolved relation on
`TableDef.relation`, reused while its declared schema, partition
columns and a fingerprint of its stored files are unchanged; no write
invalidates anything.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampType,
)

from fuse_query_spark.dialect.lexer import quote, quote_name, sql_name
from fuse_query_spark.errors import UnsupportedStatement
from fuse_query_spark.sources import snapshots
from fuse_query_spark.sources.tables import local_rows

# A File table whose stored files add up to fewer bytes than this is
# served from a driver-side LocalRelation (footnote [5]). Placed by the
# row and size sweep in SCALE.md "Relation reuse": up to it a point
# lookup runs ~1.9x and a 50% filter ~1.2x as fast as the file scan,
# while a grouped aggregate, which ships the rows inside its tasks,
# stays within ~10% of it; past it both lose.
RESIDENT_BYTES = 384 * 1024


def align_to_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Column order/type normalization to the declared schema (so
    positional formats stay readable and remote parts all share one
    physical schema); declared columns df lacks are NULL. A df that
    already has the declared names and types is returned as it is."""
    if [(f.name, f.dataType) for f in df.schema] == [(f.name, f.dataType) for f in schema]:
        return df
    return df.select(
        *[
            (
                F.col(c).cast(schema[c].dataType)
                if c in df.columns
                else F.lit(None).cast(schema[c].dataType)
            ).alias(c)
            for c in schema.names
        ]
    )


def read_parquet(spark, path: str, table_name: str | None = None, schema: StructType | None = None):
    """Parquet read (with NANOS-fallback) plus `ts` normalization,
    applied ONLY to the events table — keying on a column merely
    named 'ts' would silently re-type an unrelated user table's
    NTZ/long column (see sources/tables._normalize_event_ts). With a
    reader `schema` no footer is read at planning time, so no
    schema-inference job runs."""
    from fuse_query_spark.sources.tables import _normalize_event_ts, read_parquet_maybe_nanos

    df = read_parquet_maybe_nanos(spark, path, schema=schema)
    if table_name == "events" and "ts" in df.columns:
        df = _normalize_event_ts(df, "ts")
    return df


def parquet_schema(path: str, table_name: str | None = None) -> StructType:
    """The schema read_parquet(spark, path, table_name) reads, taken
    from one footer on the driver instead of a Spark schema-inference
    job: for a directory, its first data file, as Spark's own inference
    without mergeSchema. Spark's rules: a timestamp without UTC
    adjustment is TIMESTAMP_NTZ, INT96 is TIMESTAMP, TIMESTAMP(NANOS) is
    its raw long (read_parquet_maybe_nanos), the events table's `ts` is
    normalized to TIMESTAMP, and a file source makes every field
    nullable."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type

    pf = pq.ParquetFile(_first_data_file(path))
    physical = {c.path: c.physical_type for c in pf.schema}

    def spark_type(f) -> DataType:
        if table_name == "events" and f.name == "ts":
            return TimestampType()
        if pat.is_timestamp(f.type) and physical.get(f.name) == "INT96":
            return TimestampType()
        if pat.is_timestamp(f.type) and f.type.unit == "ns":
            return LongType()
        return from_arrow_type(f.type, prefer_timestamp_ntz=True)

    return StructType([StructField(f.name, _nullable(spark_type(f))) for f in pf.schema_arrow])


def _first_data_file(path: str) -> str | None:
    """`path` itself, or a directory's first data file in sorted walk
    order (partition directories included); hidden and `_`-prefixed
    entries are skipped, as Spark's file index skips them. None when
    the directory holds no data file."""
    if not os.path.isdir(path):
        return path
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(d, data[0])
    return None


def _nullable(dt: DataType) -> DataType:
    """`dt` with every field, element and value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _owned(df: DataFrame) -> DataFrame:
    """`df` as rows a Memory table can keep. A plan whose leaves are
    all local (LocalRelation: VALUES, wire INSERT blocks) or already
    materialized (LogicalRDD) is kept as is, with no Spark job; any
    other leaf (a file scan, numbers()) is materialized now, so the
    table neither re-reads files that a later write to its source
    removes nor re-evaluates the SELECT on every read."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    if all(
        leaves.apply(i).nodeName() in ("LocalRelation", "LogicalRDD")
        for i in range(leaves.size())
    ):
        return df
    return df.localCheckpoint(eager=True)


def _jclass(spark, name: str):
    """A JVM class by name, with no reflection round trip per package."""
    return JavaClass(name, spark._jvm._gateway_client)


def _attributes(spark, schema):
    """Fresh output attributes for the columns of a JVM StructType."""
    return _jclass(spark, "org.apache.spark.sql.catalyst.types.DataTypeUtils").toAttributes(schema)


def _dataset(spark, plan) -> DataFrame:
    jdf = _jclass(spark, "org.apache.spark.sql.classic.Dataset").ofRows(spark._jsparkSession, plan)
    return DataFrame(jdf, spark)


def _resident(df: DataFrame) -> DataFrame:
    """`df`'s rows as one LocalRelation, built on the JVM from Spark's
    own read of them: one collect job, and no row enters Python."""
    spark, jdf = df.sparkSession, df._jdf
    rows = _jclass(spark, "scala.jdk.javaapi.CollectionConverters").asScala(jdf.collectAsList())
    local = _jclass(spark, "org.apache.spark.sql.catalyst.plans.logical.LocalRelation")
    return _dataset(spark, local.fromExternalRows(_attributes(spark, jdf.schema()), rows.toSeq()))


def _local_concat(a: DataFrame, b: DataFrame) -> DataFrame | None:
    """One LocalRelation holding a's rows then b's, when both optimize
    to a LocalRelation; None otherwise. Both must have the same column
    types (callers align them to one declared schema). The row
    sequences are concatenated on the JVM as they are, so no row is
    converted and no Spark job runs. Every column is nullable, as a
    union's output is when either side may hold NULL."""
    la, lb = (x._jdf.queryExecution().optimizedPlan() for x in (a, b))
    if la.nodeName() != "LocalRelation" or lb.nodeName() != "LocalRelation":
        return None
    spark = a.sparkSession
    output = _attributes(spark, la.schema().asNullable())
    return _dataset(spark, la.copy(output, la.data().concat(lb.data()), False, la.stream()))


# ---------- partitions ----------


def partition_prefix(tdef, pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Check that a partition spec's (column, value) pairs name a
    PREFIX of the table's partition columns in declaration order — the
    shared contract of DROP PARTITION, OPTIMIZE … PARTITION and
    REFRESH … PARTITION: a prefix selects exactly one subtree of the
    layout."""
    if not tdef.partition_by:
        raise UnsupportedStatement(f"Table '{tdef.database}.{tdef.name}' is not partitioned")
    got = tuple(c for c, _ in pairs)
    if got != tdef.partition_by[: len(pairs)]:
        raise UnsupportedStatement(
            f"Partition spec {got} must be a prefix of the partition "
            f"columns {tdef.partition_by}"
        )
    return pairs


def partition_name(spark, pairs) -> str:
    """The partition (prefix) `pairs`, (column, value) in partition
    order, as Spark names it on disk and in SHOW PARTITIONS: `col=value/…`,
    each part escaped by ExternalCatalogUtils.escapePathName (NULL is
    __HIVE_DEFAULT_PARTITION__), so `10:00` is `10%3A00`."""
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return "/".join(
        f"{esc.escapePathName(c)}="
        + ("__HIVE_DEFAULT_PARTITION__" if v is None else esc.escapePathName(str(v)))
        for c, v in pairs
    )


def partition_path(spark, tdef, pairs) -> str:
    """Directory of the partition (prefix) `pairs`."""
    name = partition_name(spark, pairs)
    return os.path.join(tdef.location, name) if name else tdef.location


def partition_names(tdef) -> list[str]:
    """SHOW PARTITIONS: the partition_name of every leaf, read off the
    directories Spark wrote (a stand-in for a metastore listing)."""
    if not tdef.partition_by:
        raise UnsupportedStatement(f"Table '{tdef.database}.{tdef.name}' is not partitioned")
    names = [""] if tdef.location else []
    for col in tdef.partition_by:
        names = [
            os.path.join(name, d)
            for name in names
            if os.path.isdir(os.path.join(tdef.location, name))
            for d in sorted(os.listdir(os.path.join(tdef.location, name)))
            if d.startswith(f"{col}=")
        ]
    return names


@dataclass
class Mutation:
    """A DELETE or UPDATE as the rows it leaves: `SELECT {select} FROM
    {source}` restricted to `keep`. `where` bounds the rows it changes
    (None: it may move rows anywhere, so no partition scoping)."""

    verb: str  # as refusals name it: "DELETE from" | "UPDATE"
    source: str  # a FROM item over the table
    select: str
    keep: str | None = None
    where: str | None = None

    def rows(self, member: str | None = None) -> str:
        conds = [c for c in (member and f"({member})", self.keep) if c]
        return f"SELECT {self.select} FROM {self.source}" + (
            " WHERE " + " AND ".join(conds) if conds else ""
        )


# ---------- engine kinds ----------


def _ddl_name(tdef) -> str:
    return f"{sql_name(tdef.database)}.{sql_name(tdef.name)}"


class Storage:
    """An engine kind that supports nothing: the refusals every kind
    inherits for what it lacks, and what an unknown ENGINE gets."""

    partitionable = False  # may declare PARTITION BY
    keeps_literal_text = False  # INSERT VALUES stores each literal as written

    def check_create(self, schema: StructType, location: str | None) -> None:
        """Reject a CREATE TABLE this kind cannot serve."""

    def read(self, eng, tdef) -> DataFrame:
        raise UnsupportedStatement(f"Unknown engine {tdef.engine}")

    def append(self, eng, tdef, df: DataFrame) -> None:
        raise UnsupportedStatement(f"INSERT into engine {tdef.engine} not supported")

    def overwrite(self, eng, tdef, df: DataFrame) -> None:
        raise UnsupportedStatement(f"INSERT OVERWRITE into engine {tdef.engine} not supported")

    def create_as(self, eng, tdef, df: DataFrame) -> None:
        """Fill a table made by CREATE TABLE … AS SELECT."""
        if tdef.location is None:
            raise UnsupportedStatement(
                f"CREATE TABLE AS with engine {tdef.engine} needs a location"
            )
        eng._append(tdef, df)

    def truncate(self, eng, tdef) -> None:
        raise UnsupportedStatement(f"Cannot TRUNCATE engine {tdef.engine}")

    def rewrite(self, eng, tdef, m: Mutation) -> None:
        raise UnsupportedStatement(f"Cannot {m.verb} engine {tdef.engine}")

    def schema_changed(self, eng, tdef) -> None:
        """ALTER TABLE ADD/DROP COLUMN changed tdef.schema. Stored files
        are never rewritten: readers null-fill declared-but-absent
        columns and project away undeclared ones."""

    def optimize(self, eng, tdef, spec: str | None, zorder: list[str] | None) -> DataFrame:
        if zorder:
            raise UnsupportedStatement(
                "ZORDER BY needs ENGINE = Snapshot (manifest min/max "
                "skipping); Parquet-engine OPTIMIZE compacts only"
            )
        raise UnsupportedStatement(
            f"OPTIMIZE TABLE supports Parquet-engine tables with a "
            f"location; '{tdef.database}.{tdef.name}' is ENGINE={tdef.engine}"
        )

    def refresh(self, eng, tdef, spec: str | None) -> None:
        raise UnsupportedStatement(f"'{tdef.database}.{tdef.name}' is not a materialized view")

    def versions(self, tdef, verb: str) -> str:
        """The manifest location behind VERSION AS OF, ROLLBACK, VACUUM
        and SHOW SNAPSHOTS."""
        raise UnsupportedStatement(
            f"{verb} needs ENGINE = Snapshot; '{tdef.database}.{tdef.name}' "
            f"is ENGINE={tdef.engine}"
        )

    def sliceable(self, tdef) -> bool:
        """True when a distributed stage may read the table by slicing
        its file list: unpartitioned parquet at a location."""
        return False

    def parts(self, tdef) -> list[tuple]:
        """system.parts rows (partition, files, bytes, rows)."""
        return []

    def ddl(self, tdef) -> str:
        """SHOW CREATE TABLE text; it reads back through Engine.sql."""
        part = (
            f" PARTITION BY ({', '.join(map(sql_name, tdef.partition_by))})" if tdef.partition_by else ""
        )
        if tdef.view_sql is not None:
            return (
                f"CREATE MATERIALIZED VIEW {_ddl_name(tdef)} ENGINE = {tdef.engine}"
                f"{part} location = {quote(tdef.location)} AS {tdef.view_sql}"
            )
        cols = ", ".join(f"{sql_name(f.name)} {f.dataType.simpleString()}" for f in tdef.schema)
        return f"CREATE TABLE {_ddl_name(tdef)} ({cols}) ENGINE = {tdef.engine}{part}"


class Memory(Storage):
    """Rows held by the session (tdef.data), lost at exit."""

    def read(self, eng, tdef):
        if tdef.data is None:
            tdef.data = local_rows(eng.spark, [], tdef.schema)
        return tdef.data

    def append(self, eng, tdef, df):
        rows, new = tdef.data, _owned(align_to_schema(df, tdef.schema))
        if rows is None:  # nothing stored yet: the new rows are the table
            tdef.data = new
            return
        both = _local_concat(rows, new)
        tdef.data = rows.union(new) if both is None else both

    def overwrite(self, eng, tdef, df):
        tdef.data = _owned(align_to_schema(df, tdef.schema))

    create_as = overwrite

    def truncate(self, eng, tdef):
        tdef.data = None

    def rewrite(self, eng, tdef, m):
        tdef.data = _owned(align_to_schema(eng._select(m.rows()), tdef.schema))

    def schema_changed(self, eng, tdef):
        if tdef.data is not None:
            tdef.data = align_to_schema(tdef.data, tdef.schema)


class Null(Storage):
    """Discards writes and reads empty (the reference's Null engine)."""

    def read(self, eng, tdef):
        return local_rows(eng.spark, [], tdef.schema)

    def append(self, eng, tdef, df):
        pass

    overwrite = create_as = append

    def truncate(self, eng, tdef):
        pass

    def rewrite(self, eng, tdef, m):
        pass


class View(Storage):
    """A stored SELECT (tdef.view_sql), re-expanded per query so the
    view tracks its base tables."""

    def read(self, eng, tdef):
        # thread-local stack breaks self/cyclic references
        stack = getattr(eng._view_local, "stack", None)
        if stack is None:
            stack = eng._view_local.stack = set()
        key = (tdef.database, tdef.name)
        if key in stack:
            raise UnsupportedStatement(f"Recursive view reference: {tdef.database}.{tdef.name}")
        stack.add(key)
        try:
            return eng._select(tdef.view_sql)
        finally:
            stack.discard(key)

    def ddl(self, tdef):
        return f"CREATE VIEW {_ddl_name(tdef)} AS {tdef.view_sql}"


class _Cached(Storage):
    """Reads through the relation cached on tdef.relation: one relation
    per table, reused until its key — declared schema, partition
    columns and fingerprint(tdef) — changes. The key costs a directory
    walk with stat (Snapshot: one manifest glob), where resolving costs
    a file listing, a footer-merge job and the schema-alignment
    projection. Subclasses resolve(eng, tdef) a table with stored
    data.

    A table whose resident(fingerprint) is true becomes a driver-side
    LocalRelation on its second read under one key: a table read once
    after each write (an INSERT then a readback) submits no job more
    than its scan, and one read again pays a single collect."""

    def read(self, eng, tdef):
        key = (tdef.schema, tdef.partition_by, self.fingerprint(tdef))
        cached = tdef.relation  # one read: another thread may replace it
        if cached is not None and cached[0] == key:
            _, df, pending = cached
            if pending:
                df = _resident(df)
                tdef.relation = (key, df, False)
            return df
        # two threads missing together both resolve (or materialize);
        # either result is right for the key it is stored under
        if not key[-1]:
            df, pending = local_rows(eng.spark, [], tdef.schema), False
        else:
            df, pending = self.resolve(eng, tdef), self.resident(key[-1])
        tdef.relation = (key, df, pending)
        return df

    def resident(self, fingerprint: tuple) -> bool:
        """True when the stored data is small enough to hold on the
        driver."""
        return False

    def fingerprint(self, tdef) -> tuple:
        """Sorted (path, size, mtime_ns) of every file under the
        location (a glob for BinaryFile); empty when nothing is stored.
        Any write changes it, including one by another process."""
        loc = tdef.location
        if loc is None:
            return ()
        if os.path.isdir(loc):
            paths = [os.path.join(d, f) for d, _, fs in os.walk(loc) for f in fs]
        else:
            paths = glob.glob(loc)  # one file, or a BinaryFile glob
        stats = []
        for p in sorted(paths):
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue  # removed while walking
            stats.append((p, st.st_size, st.st_mtime_ns))
        return tuple(stats)


class BinaryFile(_Cached):
    """Read-only ingest over raw files (images, audio, any blob):
    Spark's binaryFile source yields (path, modificationTime, length,
    content) with pushdown on length; the declared schema picks the
    subset. The multimodal operators consume `content` directly —
    blobs stream executor-side as Arrow batches, never through the
    driver."""

    COLUMNS = ("path", "modificationTime", "length", "content")

    def check_create(self, schema, location):
        bad = [f.name for f in schema.fields if f.name not in self.COLUMNS]
        if bad:
            raise UnsupportedStatement(
                f"BinaryFile columns must be a subset of {self.COLUMNS}, got {bad}"
            )
        if location is None:
            raise UnsupportedStatement("BinaryFile table needs a location")

    def resolve(self, eng, tdef):
        df = eng.spark.read.format("binaryFile").load(tdef.location)
        return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in tdef.schema])


def _write(df: DataFrame, tdef, path: str, mode: str, fmt: str, dynamic: bool = False) -> None:
    """The one file writer: rows aligned to the declared schema (so
    positional CSV stays readable), written distributed (rows never
    reach the driver). A partitioned write clusters rows by partition
    value first: otherwise every task emits a file per value it holds
    (tasks × |partitions| small files); one shuffle buys one file per
    partition per write (SCALE.md "Partitioned tables")."""
    ordered = align_to_schema(df, tdef.schema)
    if tdef.partition_by:
        ordered = ordered.repartition(*[F.col(c) for c in tdef.partition_by])
    writer = ordered.write.mode(mode)
    if tdef.partition_by:
        if dynamic:
            # writer-scoped option, not the session conf: concurrent
            # statements on other tables must not inherit dynamic mode
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(*tdef.partition_by)
    writer.format(fmt).save(path)


class File(_Cached):
    """Files in one Spark format under the location directory,
    hive-partitioned when the table declares PARTITION BY."""

    def __init__(self, fmt: str, partitionable: bool):
        self.fmt = fmt  # Spark data source name
        self.partitionable = partitionable

    # ---- read ----

    def resolve(self, eng, tdef):
        spark, loc = eng.spark, tdef.location
        if self.fmt == "csv":
            return spark.read.schema(tdef.schema).csv(loc, header=False)
        if self.fmt == "json" and not tdef.partition_by:
            return spark.read.schema(tdef.schema).json(loc)
        if self.fmt == "parquet":
            # the reader schema, built on the driver from one footer
            # with no Spark job: each declared column reads as the
            # footer stores it (the coercion below then applies), or as
            # declared where that footer lacks it — a file written
            # before ADD COLUMN, or a partition column. Files that
            # disagree on columns still read each column by name.
            first = _first_data_file(loc)
            footer = {f.name.lower(): f.dataType for f in parquet_schema(first)} if first else {}
            reader = StructType(
                [StructField(f.name, footer.get(f.name.lower(), f.dataType)) for f in tdef.schema.fields]
            )
            df = read_parquet(spark, loc, table_name=tdef.name, schema=reader)
        else:
            # ORC, and partitioned JSON, whose partition columns live in
            # directory names, not in the documents: discovery surfaces
            # them
            df = spark.read.format(self.fmt).load(loc)
        # reader-schema coercion: the declared types win over the
        # files' physical types (alltypes_plain's un-annotated
        # BYTE_ARRAY reads as BINARY but is declared varchar; the
        # reference's make_data_type coercion, sql_common.rs); declared
        # columns absent from the files null-fill, extra file columns
        # project away — what makes ADD/DROP COLUMN metadata-only
        return align_to_schema(df, tdef.schema)

    def resident(self, fingerprint):
        return sum(size for _path, size, _mtime in fingerprint) < RESIDENT_BYTES

    def sliceable(self, tdef):
        # slicing a hive layout by file loses the path-encoded values
        return self.fmt == "parquet" and bool(tdef.location) and not tdef.partition_by

    # ---- write ----

    def append(self, eng, tdef, df):
        if tdef.location is None or "." in tdef.location.rsplit("/", 1)[-1]:
            raise UnsupportedStatement(
                f"INSERT into a single-file {tdef.engine} table; use a directory location"
            )
        _write(df, tdef, tdef.location, "append", self.fmt)

    def overwrite(self, eng, tdef, df):
        if tdef.location is None:
            raise UnsupportedStatement("INSERT OVERWRITE needs a table location")
        _write(df, tdef, tdef.location, "overwrite", self.fmt, dynamic=True)

    def truncate(self, eng, tdef):
        if tdef.location and os.path.isdir(tdef.location):
            shutil.rmtree(tdef.location)

    def rewrite(self, eng, tdef, m):
        """Footnote [2] above: one pruned scan finds the partitions
        holding affected rows (bounded by partition cardinality), so a
        delete touching 3 days of a year rewrites 3 directories."""
        if tdef.location is None or not os.path.isdir(tdef.location):
            return  # nothing written yet
        if not (tdef.partition_by and m.where):
            tmp = tdef.location.rstrip("/") + ".__dml_tmp__"
            shutil.rmtree(tmp, ignore_errors=True)
            _write(eng._select(m.rows()), tdef, tmp, "overwrite", self.fmt)
            shutil.rmtree(tdef.location)
            os.rename(tmp, tdef.location)
            return
        pcols = ", ".join(map(quote_name, tdef.partition_by))
        query = f"SELECT DISTINCT {pcols} FROM {m.source} WHERE ({m.where})"
        affected = eng._select(query).collect()
        if not affected:
            return
        member = " OR ".join(
            "("
            + " AND ".join(
                quote_name(c) + (" IS NULL" if r[c] is None else f" = {quote(str(r[c]))}")
                for c in tdef.partition_by
            )
            + ")"
            for r in affected
        )
        # materialize the surviving rows of the affected leaves BEFORE
        # touching their files (the read and the removal race
        # otherwise), remove the leaves, then dynamic-overwrite the
        # staged rows back in
        tmp = os.path.normpath(os.path.join(tdef.location, "..", f".{tdef.name}__dml_tmp__"))
        shutil.rmtree(tmp, ignore_errors=True)
        _write(eng._select(m.rows(member)), tdef, tmp, "overwrite", "parquet")
        for r in affected:
            leaf = partition_path(eng.spark, tdef, [(c, r[c]) for c in tdef.partition_by])
            if os.path.isdir(leaf):
                shutil.rmtree(leaf)
        # with no survivors, removing the leaves was the whole mutation
        if any(f.endswith(".parquet") for _r, _d, fs in os.walk(tmp) for f in fs):
            self.overwrite(eng, tdef, eng.spark.read.parquet(tmp))
        shutil.rmtree(tmp, ignore_errors=True)

    # ---- partitions and maintenance ----

    def optimize(self, eng, tdef, spec, zorder):
        """Small-files compaction of the selected subtree via
        sources.sinks.compact_parquet (output file count sized from the
        input's real bytes at 512 MB/file) into a sibling temp dir,
        then swapped in, so readers never race a half-written
        directory."""
        if zorder or self.fmt != "parquet" or tdef.location is None:
            return super().optimize(eng, tdef, spec, zorder)
        from fuse_query_spark.sources.sinks import compact_parquet

        pairs = partition_prefix(tdef, spec) if spec else []
        label = partition_name(eng.spark, pairs) or "<table>"
        target = partition_path(eng.spark, tdef, pairs)

        def summary(*vals) -> DataFrame:
            return local_rows(
                eng.spark,
                [vals],
                "partition STRING, files_before BIGINT, files_after BIGINT, rows BIGINT",
            )

        if not os.path.isdir(target):
            if pairs:
                raise UnsupportedStatement(
                    f"No such partition {label} in '{tdef.database}.{tdef.name}'"
                )
            return summary(label, 0, 0, 0)  # never written: nothing to compact
        tmp = target.rstrip("/") + ".__optimize_tmp__"
        try:
            stats = compact_parquet(eng.spark, target, tmp, partition_by=tdef.partition_by[len(pairs):])
            shutil.rmtree(target)
            os.rename(tmp, target)
        finally:
            if os.path.isdir(tmp) and not os.path.isdir(target):
                os.rename(tmp, target)  # swap interrupted: restore
            elif os.path.isdir(tmp):
                shutil.rmtree(tmp)
        return summary(label, stats["files_before"], stats["files_after"], stats["rows"])

    def refresh(self, eng, tdef, spec):
        """Recompute a materialized view's SELECT. Whole: the table is
        replaced (vanished groups vanish). PARTITION: the SELECT is
        wrapped in `WHERE col = 'v' …`, which Catalyst pushes into the
        view's own plan, so refreshing one day reads one day of a
        partitioned base; the subtree is removed, then rewritten, so it
        equals the recompute exactly."""
        if tdef.view_sql is None:
            return super().refresh(eng, tdef, spec)
        if spec:
            pairs = partition_prefix(tdef, spec)
            where = " AND ".join(f"{quote_name(c)} = {quote(v)}" for c, v in pairs)
            df = eng._select(f"SELECT * FROM ({tdef.view_sql}) AS __mv WHERE {where}")
            target = partition_path(eng.spark, tdef, pairs)
        else:
            df = eng._select(tdef.view_sql)
            target = tdef.location
        if os.path.isdir(target):
            shutil.rmtree(target)
        self.overwrite(eng, tdef, df)  # dynamic: rewrites only present leaves

    def parts(self, tdef):
        """Rows counted from parquet footers only; other formats carry
        no count without a scan."""
        import pyarrow.parquet as pq

        if not tdef.location or not os.path.isdir(tdef.location):
            return []
        leaves: dict[str, list] = {}
        for root, _dirs, files in os.walk(tdef.location):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                rel = os.path.relpath(root, tdef.location)
                e = leaves.setdefault("" if rel == "." else rel, [0, 0, 0])
                p = os.path.join(root, f)
                e[0] += 1
                e[1] += os.path.getsize(p)
                if f.endswith(".parquet"):
                    e[2] += pq.ParquetFile(p).metadata.num_rows
        return [
            (leaf, n, size, rows if self.fmt == "parquet" else None)
            for leaf, (n, size, rows) in sorted(leaves.items())
        ]


class Snapshot(_Cached):
    """Versioned parquet (sources/snapshots.py): every write commits a
    new manifest; old versions stay readable until VACUUM. DELETE and
    UPDATE commit the surviving rows as a new version, so the state
    before stays time-travelable and restorable by ROLLBACK.
    snapshots.snapshot_commit is looked up at each call."""

    def check_create(self, schema, location):
        if location is None:
            raise UnsupportedStatement("Snapshot table needs a location")

    def fingerprint(self, tdef):
        """The newest manifest's version and mtime."""
        v = snapshots.latest_version(tdef.location)
        if v is None:
            return ()
        return (v, os.stat(snapshots._manifest_path(tdef.location, v)).st_mtime_ns)

    def resolve(self, eng, tdef):
        return snapshots.snapshot_read(eng.spark, tdef.location, schema=tdef.schema)

    def append(self, eng, tdef, df):
        snapshots.snapshot_commit(align_to_schema(df, tdef.schema), tdef.location, "append")

    def overwrite(self, eng, tdef, df):
        snapshots.snapshot_commit(align_to_schema(df, tdef.schema), tdef.location, "overwrite")

    def rewrite(self, eng, tdef, m):
        self.overwrite(eng, tdef, eng._select(m.rows()))

    def optimize(self, eng, tdef, spec, zorder):
        """Compacts forward (a new version; time travel to the
        fragmented history is untouched), with ZORDER BY for
        multi-dimensional file skipping."""
        if spec:
            raise UnsupportedStatement(
                "OPTIMIZE PARTITION applies to Parquet-engine tables; "
                "Snapshot tables compact whole versions"
            )
        loc = tdef.location
        before = len(snapshots.read_manifest(loc, snapshots.latest_version(loc))["files"])
        v = snapshots.snapshot_optimize(eng.spark, loc, zorder_by=zorder)
        after = snapshots.read_manifest(loc, v)
        return local_rows(
            eng.spark,
            [(v, before, len(after["files"]), after["operation"])],
            "version INT, files_before INT, files_after INT, operation STRING",
        )

    def versions(self, tdef, verb):
        return tdef.location


class Remote(Storage):
    """A table of an attached store (remote_table.rs): the store keeps
    metadata and parquet parts; executors read the parts directly, so
    the store hop carries metadata, never rows. INSERT VALUES keeps
    each literal's text as written, quotes included — reference
    parity (plan_parser.rs insert_to_plan renders every value with
    `Expr::Value(v).to_string()` into an all-Utf8 block;
    09_0001_remote_insert.result pins `'1'  'v1'`)."""

    keeps_literal_text = True

    @staticmethod
    def _store(eng, tdef):
        if eng.store is None:
            raise UnsupportedStatement(
                f"Table '{tdef.database}.{tdef.name}' is remote but no store is attached"
            )
        return eng.store

    def read(self, eng, tdef):
        # not cached: the store offers no cheap fingerprint of its parts
        plan = self._store(eng, tdef).read_plan(tdef.database, tdef.name)
        if not plan["parts"]:
            return local_rows(eng.spark, [], tdef.schema)
        return eng.spark.read.schema(tdef.schema).parquet(*plan["parts"])

    def append(self, eng, tdef, df):
        """Write the rows as parquet (distributed), then ship the part
        files to the store's data endpoint — the single-process
        stand-in for executors writing to the store's object prefix."""
        import tempfile

        store = self._store(eng, tdef)
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "blocks")
            align_to_schema(df, tdef.schema).write.mode("overwrite").parquet(out)
            for p in sorted(glob.glob(os.path.join(out, "*.parquet"))):
                with open(p, "rb") as fh:
                    store.append_parquet(tdef.database, tdef.name, fh.read())


_NO_STORAGE = Storage()

ENGINES: dict[str, Storage] = {
    "Memory": Memory(),
    "Null": Null(),
    "View": View(),
    # hive layouts need self-describing, name-based formats: positional
    # CSV cannot round-trip columns that live in directory names
    "Parquet": File("parquet", partitionable=True),
    "ORC": File("orc", partitionable=True),
    "JSONEachRow": File("json", partitionable=True),
    "CSV": File("csv", partitionable=False),
    "BinaryFile": BinaryFile(),
    "Snapshot": Snapshot(),
    "remote": Remote(),
}

PARTITIONABLE = tuple(name for name, s in ENGINES.items() if s.partitionable)


def storage_for(engine: str) -> Storage:
    return ENGINES.get(engine, _NO_STORAGE)


def partition_columns(engine: str, cols: list[str], schema: StructType) -> tuple[str, ...]:
    """Validate a PARTITION BY clause against engine + schema.

    Capability extension past the reference's DDL (sql_parser.rs has
    no PARTITION BY): hive-partitioned files are how Spark prunes
    whole directory trees at planning time instead of scanning them
    (see the PartitionFilters plan gate in test_engine_sql.py)."""
    if not cols:
        return ()
    cols = tuple(cols)
    if not storage_for(engine).partitionable:
        raise UnsupportedStatement(
            f"PARTITION BY requires a partitionable file engine {PARTITIONABLE}, got {engine}"
        )
    missing = [c for c in cols if c not in schema.names]
    if missing:
        raise UnsupportedStatement(f"PARTITION BY column(s) {missing} not in table schema")
    if len(cols) == len(schema.fields):
        raise UnsupportedStatement("PARTITION BY cannot cover every column (no data columns left)")
    return cols
