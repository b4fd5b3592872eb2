"""Invariants of the measurement tools (tools/scaling_probe.py): the
replication scheme must preserve dup structure within copies and
create none across copies — otherwise its slopes measure an artifact."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from fuse_query_spark.sources.tables import table


def test_replicated_copies_are_disjoint_and_salted(spark, sf_dir):
    from scaling_probe import replicated

    base = table(spark, sf_dir, "documents").limit(100)
    # the probe's copy arithmetic assumes base ids < the 10M shift
    assert base.agg(F.max("doc_id")).first()[0] < 10_000_000
    rep = replicated(base, 3)
    n = base.count()
    assert rep.count() == 3 * n
    assert rep.select("doc_id").distinct().count() == 3 * n  # ids disjoint

    # no token is shared between copies (per-copy vocabulary salt):
    # tokens of copy 0 start with c0, copy 1 with c1, ...
    # restrict to word-bearing tokens: a pure-punctuation token has
    # nothing for the \w+ salt to rewrite and is legitimately shared
    toks = rep.select(
        (F.col("doc_id") / 10_000_000).cast("int").alias("copy"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok").rlike(r"\w"))
    cross = (
        toks.groupBy("tok")
        .agg(F.count_distinct("copy").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .count()
    )
    assert cross == 0


def test_reference_perf_suite_runs_verbatim():
    """The reference's own perfs.yaml runs unmodified through
    Engine.sql (scaled 10000x down for CI speed) with every closed-form
    verification green — the perf-side analog of the stateless golden
    suite."""
    import json
    import subprocess

    from ref_perfs import PERFS_YAML

    if not os.path.exists(PERFS_YAML):
        pytest.skip(f"needs the reference checkout: {PERFS_YAML} is absent")
    proc = subprocess.run(
        [sys.executable, "tools/ref_perfs.py", "--scale", "10000"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stdout[-800:] + proc.stderr[-800:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    assert lines[-1]["failed_verification"] == 0
    assert lines[-1]["queries"] == 7
    assert all(row.get("verified", True) for row in lines[:-1])
