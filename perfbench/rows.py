"""`curation`: registry rows forced to the noop sink.

One client thread runs a closed loop over the workload's rows in a
seeded order. An untimed first pass collects every row and checks its
row count and checksum against expected.json, and untimed warm passes
follow; the timed window then repeats whole passes, each row built with
its registry callable and forced with the noop sink, until the next
pass would overrun the window. A traced run adds a window with the
layer spans on, between two more untraced windows.
"""

from __future__ import annotations

import json
import os
import random
import time

import harness
import measure
import spans

# A subset of bench.py's 88 rows sized so that a run, with its set-up,
# its cold checking pass, its warm passes and its timed window, stays
# near a minute on 4 cores; NOTES.md lists what was left out and why.
CURATION = [
    "sample_dsir_importance", "embedding_random_projection", "multimodal_jpeg_progressive_decode",
]
# passes keep getting faster for the first six or seven after the
# checking pass (JIT; sample_dsir_importance most), and a window that
# took the median of that slope would move with the host's speed, so
# the timed window starts after WARM_PASSES untimed passes; one slow
# pass among two moves their median, so a window has MIN_PASSES at least
WARM_PASSES = 5
MIN_PASSES = 3

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def ready(data: str):
    """Set-up: the registry loaded and a session that has run a job."""
    from fuse_query_spark.queries import load_registry

    registry = load_registry()
    spark = harness.new_session()
    spark.range(1).collect()
    return spark, registry


def check_pass(spark, registry, order, corpus, expected, log) -> tuple[int, int]:
    """Collect every row once; returns (attempted, failed)."""
    failed = 0
    for name in order:
        try:
            df = registry[name].fn(spark, corpus)
            rows = df.collect()
            got = [len(rows), measure.result_checksum(rows, df.columns)]
        except Exception as e:  # a failing row is a result, not a crash
            got = [f"{type(e).__name__}: {str(e)[:200]}"]
        want = expected.get(name)
        if got != want:
            failed += 1
            log(f"MISMATCH {name}: got {got} want {want}")
        spark.catalog.clearCache()
    return len(order), failed


def run_window(spark, registry, order, corpus, seconds, rec=None, log=print, min_passes=1) -> dict:
    """Whole passes until the next one would overrun `seconds`, and at
    least `min_passes`."""
    cpu = lambda: measure.tree_cpu_s(os.getpid())  # noqa: E731
    jvm = measure.jvm_pid(spark)
    samples = {n: [] for n in order}
    passes, failed, attempted = [], 0, 0
    build_jobs = 0
    j_start = measure.next_job_id(spark)
    c0, p0 = cpu(), measure.tree_cpu_s(jvm, own=False)
    start = time.perf_counter()
    while True:
        tp = time.perf_counter()
        for i, name in enumerate(order):
            attempted += 1
            t0 = time.perf_counter()
            try:
                if rec is None:
                    df = registry[name].fn(spark, corpus)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rec.stmt = i
                    j0 = measure.next_job_id(spark)
                    with rec.span("queries.build"):
                        df = registry[name].fn(spark, corpus)
                    build_jobs += measure.next_job_id(spark) - j0
                    with rec.span("spark.plan"):
                        plan = df._jdf.queryExecution().executedPlan()
                    rec.plans.append(plan.treeString())
                    with rec.span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
            except Exception as e:
                failed += 1
                log(f"FAILED {name}: {type(e).__name__}: {str(e)[:200]}")
            spark.catalog.clearCache()
        passes.append(time.perf_counter() - tp)
        if len(passes) >= min_passes and time.perf_counter() - start + measure.median(passes) > seconds:
            break
    return {
        "passes": passes, "samples": samples, "attempted": attempted, "failed": failed,
        "cpu_s": cpu() - c0, "python_cpu_s": measure.tree_cpu_s(jvm, own=False) - p0,
        "jobs": (j_start, measure.next_job_id(spark)), "build_jobs": build_jobs,
    }


def end_to_end(setup_s: float, win: dict, rss_mb: float) -> dict:
    per_row = [measure.median(ts) for ts in win["samples"].values() if ts]
    return {
        "setup_s": setup_s,
        "wall_s": measure.median(win["passes"]),
        "query_geomean_s": measure.geomean(per_row),
        "cpu_s": win["cpu_s"] / len(win["passes"]),
        "driver_peak_rss_mb": rss_mb,
    }


def per_layer(spark, rec: spans.Recorder, win: dict, untraced_wall: float, cpus: int) -> dict:
    """Every per-layer metric of a traced window; the wire and write
    layers, which these workloads never enter, read 0."""
    out = spans.layer_metrics(rec, measure.job_stage_totals(spark, range(*win["jobs"])),
                              len(win["passes"]), cpus, {
                                  "queries.build_s": rec.total("queries.build"),
                                  "queries.build_jobs": win["build_jobs"],
                                  "operators.python_cpu_s": win["python_cpu_s"],
                              })
    out.update({k: 0.0 for k in SERVING_ONLY})
    out["trace.overhead_pct"] = 100.0 * (measure.median(win["passes"]) / untraced_wall - 1.0)
    return out


def run(name: str, state, setup_s: float, corpus: str, seed: int, seconds: float, trace: bool,
        settings: dict, work: str, log) -> dict:
    with open(EXPECTED) as f:
        expected = json.load(f)
    spark, registry = state
    order = list(CURATION)
    random.Random(seed).shuffle(order)
    t0 = time.perf_counter()
    attempted, failed = check_pass(spark, registry, order, corpus, expected, log)
    check_s = time.perf_counter() - t0
    warm = run_window(spark, registry, order, corpus, 0, log=log, min_passes=WARM_PASSES)
    attempted += warm["attempted"]
    failed += warm["failed"]
    harness.start_window(spark)
    win = run_window(spark, registry, order, corpus, seconds, log=log, min_passes=MIN_PASSES)
    attempted += win["attempted"]
    failed += win["failed"]
    rss = harness.peak_rss(spark)
    e2e = end_to_end(setup_s, win, rss["python"])
    detail = {"setup_s": setup_s, "check_s": check_s, "warm_passes": warm["passes"],
              "peak_rss_mb": rss, "passes": win["passes"],
              "order": order, "samples": win["samples"]}
    metrics = e2e
    if trace:
        # passes may still drift, so the traced window sits between two
        # untraced ones and the overhead compares it with both; the three
        # are half as long as the timed window to keep a traced run
        # within its limit
        before = run_window(spark, registry, order, corpus, seconds / 2, log=log)
        rec = spans.Recorder()
        undo = spans.instrument(rec)
        try:
            twin = run_window(spark, registry, order, corpus, seconds / 2, rec=rec, log=log)
        finally:
            undo()
        after = run_window(spark, registry, order, corpus, seconds / 2, log=log)
        for w in (before, twin, after):
            attempted += w["attempted"]
            failed += w["failed"]
        untraced = before["passes"] + after["passes"]
        metrics = per_layer(spark, rec, twin, measure.median(untraced), settings["cpus"])
        detail.update(untraced_passes=untraced, traced_passes=twin["passes"])
        rec.dump(os.path.join(work, f"spans-{name}-{seed}.jsonl"))
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "detail": detail}


# per-layer metrics only the serving workload can produce
SERVING_ONLY = [
    "servers.roundtrip_s", "servers.overhead_s", "servers.bytes_per_row", "servers.ttfr_s",
    "servers.short_p50_ms", "servers.short_p95_ms", "servers.bulk_rows_s.mysql",
    "servers.bulk_rows_s.clickhouse", "sources.insert_s", "sources.rows_written",
    "sources.files_written", "sources.write_amp", "sources.readback_tasks",
    "sources.insert_rows_s", "sources.readback_p50_ms",
]
