"""Statement results as Arrow tables.

Engine.sql_collect returns a result as one pyarrow.Table
(collect_arrow); the wire servers encode their replies from its
columns. The Python values a Row holds are read back by `to_rows`, and
the column helpers here give the two places where a Row's values are
not Arrow's own: the host-local wall clock of a zoned timestamp, and
the digits of a decimal below 1e-6.
"""

from __future__ import annotations

import threading
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_row


_CONVERTERS: dict = {}  # JVM view -> the ArrowConverters object in that JVM
_ONE_ROW: dict = {}  # JVM view -> Seq(a LocalRelation of one empty row)


def collect_arrow(df: DataFrame) -> pa.Table:
    """The result of `df` as one Arrow table, typed as
    DataFrame.toArrow types it (string, not large_string, columns). A
    plan whose executed root is a LocalTableScanExec (resident tables,
    system tables, driver-built results) is converted on the driver
    from the scan's rows, as Spark Connect's SparkConnectPlanExecution
    does for a local relation: no Spark job, so it answers while every
    task slot is busy. Its batches come back as the py4j return values
    of the JVM iterator; a socket server per statement
    (PythonRDD.serveIterator) measured ~4 ms slower on a point lookup.
    A constant SELECT is answered there too (_constant_scan). Every
    other plan runs as a job through toArrow."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() != "LocalTableScan":
        plan = _constant_scan(df.sparkSession, qe.optimizedPlan())
        if plan is None:
            return df.toArrow()
    # a local relation is small (RESIDENT_BYTES, system tables): one
    # batch. The time zone only labels the column; the values are UTC
    # instants, and the cast below gives each column toArrow's type.
    streams = _arrow_streams(df.sparkSession._jvm, plan.rows().iterator(), plan.schema())
    tables = [pa.ipc.open_stream(s).read_all() for s in streams]
    schema = to_arrow_schema(df.schema)
    return pa.concat_tables(tables).cast(schema) if tables else schema.empty_table()


def _constant_scan(spark: SparkSession, plan):
    """The LocalTableScan of a constant SELECT (`SELECT 1`, the liveness
    check wire clients send): an optimized plan that is a deterministic
    Project over OneRowRelation, re-planned over a LocalRelation of one
    empty row, which Catalyst's ConvertToLocalRelation evaluates on the
    driver. OneRowRelation itself plans as a one-row RDD scan, a job.
    None for any other plan, or when the projection holds an expression
    the driver does not evaluate (a Python UDF)."""
    if plan.nodeName() != "Project" or plan.child().nodeName() != "OneRowRelation" or not plan.deterministic():
        return None
    jvm = spark._jvm
    if jvm not in _ONE_ROW:
        gateway = jvm._gateway_client
        rows = JavaClass("scala.jdk.javaapi.CollectionConverters", gateway).asScala(
            [JavaClass("org.apache.spark.sql.Row", gateway).empty()]
        )
        local = JavaClass("org.apache.spark.sql.catalyst.plans.logical.LocalRelation", gateway)
        _ONE_ROW[jvm] = plan.children().updated(0, local.fromExternalRows(plan.child().output(), rows.toSeq()))
    dataset = JavaClass("org.apache.spark.sql.classic.Dataset", jvm._gateway_client)
    scan = dataset.ofRows(spark._jsparkSession, plan.withNewChildren(_ONE_ROW[jvm])).queryExecution().executedPlan()
    return scan if scan.nodeName() == "LocalTableScan" else None


def _arrow_streams(jvm, rows, schema) -> list:
    """Arrow IPC streams (bytes) of a Scala iterator of InternalRows,
    written by the JVM's ArrowConverters with no record or byte cap."""
    if jvm not in _CONVERTERS:
        arrow = jvm.org.apache.spark.sql.execution.arrow
        _CONVERTERS[jvm] = getattr(arrow, "ArrowConverters$").__getattr__("MODULE$")
    batches = _CONVERTERS[jvm].toBatchWithSchemaIterator(rows, schema, 0, (1 << 63) - 1, "UTC", False, False)
    out = []
    while batches.hasNext():
        out.append(batches.next())
    return out


def preload(spark: SparkSession) -> None:
    """Load the JVM side of the Arrow conversion (its classes and buffer
    allocator: ~0.2 s on a JVM's first conversion) in a daemon thread,
    so the cost overlaps the caller's own set-up instead of delaying
    the first result. Once per JVM."""
    jvm = spark._jvm
    if jvm in _CONVERTERS:
        return

    def load():
        try:
            empty = getattr(jvm.scala.collection, "Iterator$").__getattr__("MODULE$").empty()
            _arrow_streams(jvm, empty, jvm.org.apache.spark.sql.types.StructType.fromDDL("x INT"))
        except Exception:  # noqa: BLE001 - only a warm-up; a real conversion raises its own errors
            pass

    threading.Thread(target=load, name="arrow-preload", daemon=True).start()


def local_micros(col: pa.Array) -> np.ndarray:
    """A zoned timestamp[us] column as microseconds of the naive
    HOST-LOCAL wall clock: what Row's TimestampType.fromInternal gives
    (datetime.fromtimestamp — the session timeZone conf does not change
    the Python conversion). The offset is taken per distinct second, so
    DST and historical changes land where localtime() puts them."""
    us = col.cast(pa.int64()).fill_null(0).to_numpy()
    if set(time.tzname) <= {"UTC"}:
        return us
    uniq, inverse = np.unique(us // 1_000_000, return_inverse=True)
    offsets = np.array([time.localtime(s).tm_gmtoff for s in uniq.tolist()], np.int64)
    return us + offsets[inverse] * 1_000_000


def decimal_text(col: pa.Array) -> pa.Array:
    """str() of the Decimal a Row holds. Below 1e-6 both Arrow and str()
    write the scientific form, but a Row's Decimal is parsed from Java's
    BigDecimal.toEngineeringString, whose exponent is a multiple of
    three: the coefficient keeps the trailing zeros that padding needs
    (2E-10 reads "2.00E-10"), while Arrow writes "2.E-10"."""
    text = col.cast(pa.string())
    parts = pc.extract_regex(text, r"^(?P<sign>-?)(?P<lead>\d)\.?(?P<rest>\d*)E(?P<exp>-\d+)$")
    sci = parts.is_valid()
    lead, rest, exp = parts.field("lead"), parts.field("rest"), pc.if_else(sci, parts.field("exp"), "0")
    digits = pc.utf8_length(rest).fill_null(0).to_numpy() + 1
    zero = pc.equal(lead, "0").fill_null(True).to_numpy(zero_copy_only=False)
    pad = np.where(zero, 0, np.maximum(0, exp.cast(pa.int64()).to_numpy() % 3 + 1 - digits))
    frac = pc.binary_join_element_wise(rest, pc.binary_repeat("0", pa.array(pad)), "")
    dot = pc.if_else(pc.greater(pc.utf8_length(frac), 0), ".", "")
    sci_text = pc.binary_join_element_wise(parts.field("sign"), lead, dot, frac, "E", exp, "")
    return pc.if_else(sci, sci_text, text)


def to_rows(table: pa.Table) -> list[Row]:
    """The rows of a result as DataFrame.collect() gives them: Rows
    holding the same Python values (naive host-local datetimes for zoned
    timestamps, Decimals with a Row's digits, dicts for maps and Rows
    for structs)."""
    columns = []
    for col in table.columns:
        col = col.combine_chunks()
        t = col.type
        if pa.types.is_timestamp(t) and t.tz:
            null = col.is_null().to_numpy(zero_copy_only=False)
            col = pa.array(local_micros(col), pa.timestamp("us"), mask=null)
        if pa.types.is_decimal(t):
            values = [None if v is None else Decimal(v) for v in decimal_text(col).to_pylist()]
        elif pa.types.is_map(t):
            values = [None if v is None else dict(v) for v in col.to_pylist()]
        elif pa.types.is_struct(t):
            values = [None if v is None else Row(**v) for v in col.to_pylist()]
        else:
            values = col.to_pylist()
        columns.append(values)
    return [_create_row(table.column_names, list(r)) for r in zip(*columns)]
