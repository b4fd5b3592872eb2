"""`serving`: the engine process behind MySQL and ClickHouse front ends.

This process builds the Engine over the corpus (Engine.attach_parquet_dir),
starts both wire servers in-process, and launches client.py as a
separate process that drives one connection per protocol in a closed
loop. The client announces its phases; on "traced" this process wraps
the layer entry points (spans.instrument) and takes a Spark job-id
window around every statement, and on the next phase it restores them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import harness
import measure
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
UNTRACED = ("timed", "after")  # the client's untraced windows of rounds


def ready(corpus: str):
    """Set-up: the Engine over the corpus and both servers answering."""
    import client as wire
    from fuse_query_spark.engine import Engine
    from fuse_query_spark.servers import ClickHouseServer, MySQLServer

    spark = harness.new_session()
    engine = Engine(spark)
    engine.attach_parquet_dir(corpus)
    my, ch = MySQLServer(engine, port=0), ClickHouseServer(engine, port=0)
    ports = (my.start(), ch.start())
    for conn in (wire.MySQL(ports[0]), wire.ClickHouse(ports[1])):
        conn.query("SELECT 1")
        conn.close()

    def stop():
        my.stop()
        ch.stop()
        spark.stop()

    return spark, ports, stop


class EngineSide:
    """Reacts to the client's phase announcements."""

    def __init__(self, spark, client_pid: int):
        self.spark = spark
        self.jvm = measure.jvm_pid(spark)
        self.exclude = frozenset({client_pid})
        self.rec = spans.Recorder()
        self.undo = None
        self.windows: dict[str, dict] = {}
        self.stmt_jobs: dict[int, list[int]] = {}
        self.current = None

    def _sample(self) -> dict:
        return {"cpu": measure.tree_cpu_s(os.getpid(), self.exclude),
                "py_cpu": measure.tree_cpu_s(self.jvm, own=False),
                "job": measure.next_job_id(self.spark)}

    def _on_statement(self, begin: bool) -> None:
        if begin:
            self.stmt_jobs[self.rec.stmt] = [measure.next_job_id(self.spark)]
        else:
            self.stmt_jobs[self.rec.stmt].append(measure.next_job_id(self.spark))

    def phase(self, name: str, sent: int) -> None:
        if name == "timed":
            harness.start_window(self.spark)
        now = self._sample()
        if self.current is not None:
            self.windows[self.current]["end"] = now
        if self.undo is not None:
            self.undo()
            self.undo = None
        self.current = name
        self.windows[name] = {"start": now}
        if name == "traced":
            self.rec.stmt = sent - 1
            self.undo = spans.instrument(self.rec, self._on_statement)


def _median(xs):
    return measure.median(xs) if xs else 0.0


def end_to_end(setup_s: float, records, rounds, win, rss_mb) -> dict:
    """query_geomean_s is over the SELECT kinds: DDL and INSERT take
    10-50 ms and would weigh as much as a 60k-row result in the mean;
    the write path has its own per-layer numbers."""
    timed = [r for r in records if r["phase"] == "timed"]
    walls = [r["wall"] for r in rounds if r["phase"] == "timed"]
    by_kind: dict[str, list[float]] = {}
    for r in timed:
        if r["kind"] != "ddl" and not r["kind"].startswith("insert"):
            by_kind.setdefault(r["kind"], []).append(r["rtt"])
    per_kind = {k: measure.median(v) for k, v in by_kind.items()}
    return {
        "setup_s": setup_s,
        "wall_s": measure.median(walls),
        "query_geomean_s": measure.geomean(per_kind.values()),
        "cpu_s": (win["end"]["cpu"] - win["start"]["cpu"]) / len(walls),
        "driver_peak_rss_mb": rss_mb,
    }


def wire_metrics(records, phases) -> dict:
    """The user-facing serving numbers, from the untraced windows of the
    client: large results and writes from its rounds, short-statement
    latency from its burst of short statements."""
    rs = [r for r in records if r["phase"] in phases]
    shorts = [r["rtt"] for r in records if r["phase"] == "shorts"]
    bulk = {p: [r for r in rs if r["kind"] == f"bulk_{p}"] for p in ("mysql", "clickhouse")}
    inserts = [r for r in rs if r["kind"].startswith("insert")]
    return {
        "servers.short_p50_ms": 1000 * _median(shorts),
        "servers.short_p95_ms": 1000 * measure.percentile(shorts, 95) if shorts else 0.0,
        "servers.bulk_rows_s.mysql": sum(r["rows"] for r in bulk["mysql"]) / sum(r["rtt"] for r in bulk["mysql"]),
        "servers.bulk_rows_s.clickhouse": sum(r["rows"] for r in bulk["clickhouse"])
        / sum(r["rtt"] for r in bulk["clickhouse"]),
        "sources.insert_rows_s": sum(r["rows_in"] for r in inserts) / sum(r["rtt"] for r in inserts),
        "sources.readback_p50_ms": 1000 * _median([r["rtt"] for r in rs if r["kind"].startswith("readback")]),
    }


def layer_metrics(side: EngineSide, records, rounds, cpus: int) -> dict:
    rec = side.rec
    win = side.windows["traced"]
    traced = [r for r in records if r["phase"] == "traced"]
    traced_rounds = [r for r in rounds if r["phase"] == "traced"]
    readback_jobs = [
        j for r in traced if r["kind"].startswith("readback") and r["i"] in side.stmt_jobs
        for j in range(*side.stmt_jobs[r["i"]])
    ]
    engine_time = rec.per_stmt("engine.sql_collect")
    out = spans.layer_metrics(
        rec, measure.job_stage_totals(side.spark, range(win["start"]["job"], win["end"]["job"])),
        len(traced_rounds), cpus, {
            "queries.build_s": 0.0,
            "queries.build_jobs": 0,
            "operators.python_cpu_s": win["end"]["py_cpu"] - win["start"]["py_cpu"],
            "servers.roundtrip_s": sum(r["rtt"] for r in traced),
            "servers.overhead_s": sum(r["rtt"] - engine_time.get(r["i"], 0.0) for r in traced),
            "sources.insert_s": rec.total("sources.append"),
            "sources.rows_written": sum(r.get("rows_in", 0) for r in traced),
            "sources.files_written": sum(r["files"] for r in traced_rounds),
            "sources.readback_tasks": measure.job_stage_totals(side.spark, readback_jobs)["numTasks"],
        })
    bulk = [r for r in traced if r["kind"].startswith("bulk")]
    payload = sum(r["snapshot_payload_bytes"] for r in traced_rounds)
    out.update({
        "servers.bytes_per_row": sum(r["bytes"] for r in bulk) / max(1, sum(r["rows"] for r in bulk)),
        "servers.ttfr_s": _median([r["ttfr"] for r in bulk if r["ttfr"] is not None]),
        "sources.write_amp": sum(r["disk_bytes"] for r in traced_rounds) / payload if payload else 0.0,
    })
    return out


def per_layer(side: EngineSide, records, rounds, cpus: int) -> dict:
    """Layer attribution from the traced window, the user-facing wire
    and write numbers from the untraced ones, and the tracing overhead:
    the traced rounds against the untraced rounds before and after."""
    out = layer_metrics(side, records, rounds, cpus)
    out.update(wire_metrics(records, UNTRACED))
    traced_wall = measure.median([r["wall"] for r in rounds if r["phase"] == "traced"])
    untraced_wall = measure.median([r["wall"] for r in rounds if r["phase"] in UNTRACED])
    out["trace.overhead_pct"] = 100.0 * (traced_wall / untraced_wall - 1.0)
    return out


def run(name: str, state, setup_s: float, corpus: str, seed: int, seconds: float, trace: bool,
        settings: dict, work: str, log) -> dict:
    spark, ports, stop = state
    cmd = [sys.executable, os.path.join(HERE, "client.py"), "--mysql", str(ports[0]),
           "--clickhouse", str(ports[1]), "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(int(trace)), "--corpus", corpus, "--work", work]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    side = EngineSide(spark, proc.pid)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PHASE "):
                _, name, sent = line.split()
                side.phase(name, int(sent))
                proc.stdin.write("OK\n")
                proc.stdin.flush()
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
    finally:
        if side.undo is not None:
            side.undo()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or result is None:
        raise RuntimeError(f"serving client exited with {proc.returncode}")
    records, rounds = result["records"], result["rounds"]
    failed = [r for r in records if not r["ok"]]
    for r in failed[:10]:
        log(f"FAILED statement {r['i']} {r['kind']} over {r['proto']}: {r.get('error', 'wrong result')}")
    rss = harness.peak_rss(spark)
    e2e = end_to_end(setup_s, records, rounds, side.windows["timed"], rss["python"])
    detail = {"setup_s": setup_s, "peak_rss_mb": rss, "rounds": rounds, "records": records,
              "short_burst_statements": sum(r["phase"] == "shorts" for r in records)}
    metrics = e2e
    if trace:
        metrics = per_layer(side, records, rounds, settings["cpus"])
        detail["readback_tasks"] = {
            r["i"]: measure.job_stage_totals(spark, range(*side.stmt_jobs[r["i"]]))["numTasks"]
            for r in records if r["kind"].startswith("readback") and r["i"] in side.stmt_jobs
        }
        side.rec.dump(os.path.join(work, f"spans-serving-{seed}.jsonl"))
    stop()
    return {"attempted": len(records), "failed": len(failed), "metrics": metrics, "detail": detail}
