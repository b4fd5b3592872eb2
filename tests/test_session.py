"""The session factory's static settings (fuse_query_spark/session.py)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
from fuse_query_spark.session import get_spark
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

spark = get_spark("session-probe", cpus=1)
print(spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
c = (F.col("a").cast("int") + 1).alias("b")
spark.range(3).select((F.col("id") * 2).alias("x")).collect()
print(is_debugging_enabled(), "IPython" in sys.modules)
spark.stop()
"""


def test_factory_session_captures_no_call_sites():
    """DataFrame call-site capture is off in a factory session: building
    Columns on the main thread neither turns it on nor imports IPython.
    A fresh process, so nothing else has imported IPython or fixed the
    cached flag first."""
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["false", "False", "False"]


def test_failed_statement_logs_no_query_context(spark):
    """A failed statement raises its typed error but logs nothing
    through PySpark's query-context loggers, which would otherwise
    write the whole Java stack at ERROR for every bad statement."""
    import logging

    import pytest
    from pyspark.logger import PySparkLogger

    from fuse_query_spark.engine import Engine
    from fuse_query_spark.errors import UnknownTable

    records = []

    class Keep(logging.Handler):
        def emit(self, record):
            records.append(record)

    loggers = [
        PySparkLogger.getLogger(name)
        for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    ]
    handler = Keep(level=logging.DEBUG)
    for lg in loggers:
        lg.addHandler(handler)
    try:
        with pytest.raises(UnknownTable):
            Engine(spark).sql("SELECT * FROM system.nosuch")
        with pytest.raises(Exception, match="no_such_col"):
            spark.sql("SELECT no_such_col FROM range(1)")
    finally:
        for lg in loggers:
            lg.removeHandler(handler)
    assert records == []
