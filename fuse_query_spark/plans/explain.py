"""Physical-plan introspection — the engine's answer to the
reference's `EXPLAIN` / `EXPLAIN PIPELINE` tests
(tests/suites/0_stateless/04_*, 08_0000_optimizer.sql: projection/
limit pushdown assertions). We assert the *Spark* plan properties that
matter at 100 TB: filters pushed to the scan, scans column-pruned,
dimension joins broadcast, top-k planned as TakeOrderedAndProject.

Used by tests/test_plans.py as plan-regression gates so a future
refactor cannot silently de-optimize a query.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any scan carries a non-empty PushedFilters list."""
    return bool(re.search(r"PushedFilters: \[(?!\])", formatted_plan(df)))


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each parquet scan's ReadSchema (pruning check)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def shuffle_count(df: DataFrame, include_repartition: bool = True) -> int:
    """Number of exchanges in the plan — the scale-cost headline.
    (Each physical exchange appears twice in the formatted plan: once
    in the operator tree and once as a numbered detail block.)

    include_repartition=False excludes exchanges originating from an
    EXPLICIT repartition (REPARTITION_BY_NUM / REPARTITION_BY_COL —
    the r12 scale-adaptive scan spread, sources/tables.py:spread,
    which no-ops past its split-count gate at scale). The
    shuffle-free / bounded-shuffle plan gates assert the absence of
    ACCIDENTAL exchanges; an intentional spread of a one-row-group
    scan is not in that class."""
    plan = formatted_plan(df)
    total = len(re.findall(r"\bExchange\b", plan))
    if include_repartition:
        return total
    n_rep = len(re.findall(r"REPARTITION_BY_(?:NUM|COL)", plan))
    return total - 2 * n_rep
