"""Self-test of the benchmark's own arithmetic and bookkeeping.

    python3 perfbench/selftest.py

Checks, without the timed workloads:
  * the percentile rule (linear interpolation between ranks, as
    statistics.quantiles' inclusive method), the geometric mean and the
    order independence of the result checksum;
  * job-window attribution on a live session over the project's
    sf0.001 test corpus (a copy in perfbench/data-sf0.001/):
    the window around a registry row holds every job the row ran, where
    the job group set by the caller does not (Engine resets it);
  * that every workload produces exactly the metric names that
    BENCHMARK.json declares, for both the untraced and the traced run.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

import harness
import measure
import rows
import run
import serving
import spans


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_math() -> None:
    xs = [float(x) for x in range(1, 101)]
    random.Random(0).shuffle(xs)
    check(measure.percentile(xs, 50) == 50.5, "median of 1..100 is 50.5")
    q = statistics.quantiles(xs, n=4, method="inclusive")
    check([measure.percentile(xs, p) for p in (25, 50, 75)] == q,
          "percentile matches statistics.quantiles(method='inclusive')")
    check(measure.percentile([3.0], 95) == 3.0, "percentile of one sample")
    check(measure.percentile([1.0, 2.0, 3.0, 4.0], 75) == 3.25, "percentile interpolates between ranks")
    check(abs(measure.geomean([1.0, 100.0]) - 10.0) < 1e-12, "geomean(1, 100) = 10")
    check(abs(measure.geomean([2.0] * 7) - 2.0) < 1e-12, "geomean of equal values")
    try:
        measure.geomean([1.0, 0.0])
        check(False, "geomean rejects zero")
    except ValueError:
        check(True, "geomean rejects zero")
    data = [(1, "a", 0.1 + 0.2), (2, None, 1e-9), (3, "c", float("nan"))]
    shuffled = list(reversed(data))
    check(measure.result_checksum(data, ["x", "s", "v"]) == measure.result_checksum(shuffled, ["x", "s", "v"]),
          "checksum ignores row order")
    check(measure.result_checksum(data, ["x", "s", "v"]) == measure.result_checksum(
        [(a, c, b) for a, b, c in data], ["x", "v", "s"]), "checksum ignores column order")
    check(measure.result_checksum([(1, 0.30000000000000004)], ["x", "v"])
          == measure.result_checksum([(1, 0.3)], ["x", "v"]), "checksum rounds floats")
    check(measure.result_checksum(data[:2], ["x", "s", "v"]) != measure.result_checksum(data, ["x", "s", "v"]),
          "checksum sees a missing row")
    shape = measure.plan_shape(
        "AdaptiveSparkPlan isFinalPlan=false\n+- HashAggregate(keys=[k])\n"
        "   +- Exchange hashpartitioning(k, 8)\n      +- MapInArrow f\n"
        "         +- *(1) Project [k]\n            +- BatchEvalPython [f(x)]\n")
    check(shape == {"plan_nodes": 6, "exchanges": 1, "python_nodes": 2}, f"plan shape counts {shape}")


def test_job_windows(spark, registry, data: str) -> None:
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-selftest", "dialect row")
    lo = measure.next_job_id(spark)
    df = registry["dialect_combinators"].fn(spark, data)
    df.write.format("noop").mode("overwrite").save()
    hi = measure.next_job_id(spark)
    in_group = sc.statusTracker().getJobIdsForGroup("perfbench-selftest")
    sc.setJobGroup("", "")
    check(hi > lo, f"the dialect row ran jobs ({hi - lo} in its window)")
    check(len(in_group) < hi - lo,
          f"its job group lost jobs ({len(in_group)} of {hi - lo}): attribution must use windows")
    totals = measure.job_stage_totals(spark, range(lo, hi))
    check(totals["jobs"] == hi - lo and totals["numTasks"] > 0, f"status store has every window job {totals}")
    a = measure.next_job_id(spark)
    spark.range(100).selectExpr("sum(id)").collect()
    b = measure.next_job_id(spark)
    spark.range(100).repartition(3).selectExpr("sum(id)").collect()
    c = measure.next_job_id(spark)
    first = measure.job_stage_totals(spark, range(a, b))
    second = measure.job_stage_totals(spark, range(b, c))
    check(first["jobs"] == b - a and second["jobs"] == c - b and second["stages"] > first["stages"],
          f"back-to-back operations keep their own jobs and stages ({first['stages']} vs {second['stages']})")


def test_metric_names(spark, registry, data: str, spec: dict) -> None:
    e2e_names = {m["name"] for m in spec["end_to_end"]}
    layer_names = {m["name"] for m in spec["per_layer"]}
    order = ["agg_uniq", "embedding_random_projection"]
    win = rows.run_window(spark, registry, order, data, 0)
    e2e = rows.end_to_end(1.0, win, 1.0)
    check(set(e2e) == e2e_names, "rows workloads print every end_to_end metric")
    rec = spans.Recorder()
    undo = spans.instrument(rec)
    try:
        twin = rows.run_window(spark, registry, order, data, 0, rec=rec)
    finally:
        undo()
    layers = rows.per_layer(spark, rec, twin, e2e["wall_s"], 4)
    check(set(layers) == layer_names, f"rows workloads print every per_layer metric {set(layers) ^ layer_names}")
    check(layers["operators.python_nodes"] > 0 and layers["spark.tasks"] > 0,
          "a traced Python-worker row shows Python nodes and tasks")

    kinds = ["point_mysql", "point_ch", "agg_ch", "limitby_mysql", "bulk_mysql", "bulk_clickhouse",
             "ddl", "insert_memory", "insert_snapshot", "readback_memory", "readback_snapshot"]
    records, rounds = [], []
    for ph in ("check", "timed", "traced", "after"):
        for k in kinds:
            records.append({"i": len(records), "phase": ph, "kind": k, "rtt": 0.1, "ttfr": 0.05,
                            "rows": 10, "bytes": 100, "ok": True, "rows_in": 5})
        rounds.append({"phase": ph, "round": 0, "wall": 1.0, "files": 2, "disk_bytes": 10,
                       "snapshot_payload_bytes": 5})
    for n in range(1, 21):  # the short burst: 1..20 ms
        records.append({"i": len(records), "phase": "shorts", "kind": kinds[n % 4], "rtt": n / 1000,
                        "ttfr": None, "rows": 1, "bytes": 10, "ok": True})
    side = serving.EngineSide(spark, os.getpid())
    job = measure.next_job_id(spark)
    side.windows = {w: {"start": {"cpu": 0.0, "py_cpu": 0.0, "job": job},
                        "end": {"cpu": 1.0, "py_cpu": 0.0, "job": job}} for w in ("timed", "traced")}
    e2e = serving.end_to_end(1.0, records, rounds, side.windows["timed"], 1.0)
    check(set(e2e) == e2e_names, "serving prints every end_to_end metric")
    layers = serving.per_layer(side, records, rounds, 4)
    check(set(layers) == layer_names, f"serving prints every per_layer metric {set(layers) ^ layer_names}")
    check(abs(layers["servers.short_p50_ms"] - 10.5) < 1e-9 and abs(layers["servers.short_p95_ms"] - 19.05) < 1e-9,
          "short-statement p50/p95 come from the burst only")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    test_math()
    os.makedirs(run.WORK, exist_ok=True)
    harness.configure(run.ROOT, run.WORK)
    data = os.path.join(run.HERE, "data-sf0.001")
    from fuse_query_spark.queries import load_registry

    registry = load_registry()
    spark = harness.new_session()
    try:
        test_job_windows(spark, registry, data)
        test_metric_names(spark, registry, data, spec)
    finally:
        harness.shutdown_jvm()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
