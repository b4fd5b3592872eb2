"""Benchmark entry point.

    python3 perfbench/run.py --workload {curation,serving} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Reads the project's sf0.01 test corpus
from perfbench/data-sf0.01/, runs the workload, checks its outputs, and
prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics; with --trace 1 they
are its per_layer metrics, measured in further, traced windows. Each
metric is {"value", "unit"}. A per-run detail record (every sample,
the launch settings) goes to
.perfbench_work/detail-<workload>-<seed>-t<trace>.json, and a traced run
writes its spans beside it. A run with a failed or wrong operation
still prints its line, with "correct": false, and exits with 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# a byte copy of the project's sf0.01 test corpus (TESTDATA.md); the
# benchmark reads nothing outside its checkout
DATA = os.path.join(HERE, "data-sf0.01")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["curation", "serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fuse_query_spark", "engine.py")):
        log(f"no engine source under {ROOT}; run from the root of a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import harness

    if args.workload == "serving":
        import serving as workload
    else:
        import rows as workload

    for leftover in ("tmp", "serving-tables"):
        shutil.rmtree(os.path.join(WORK, leftover), ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    settings = harness.configure(ROOT, WORK)

    # Spark and its JVM inherit fd 1; point it at stderr for the run so
    # the result line is the only thing on stdout
    stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        log(f"settings {json.dumps(settings)}")
        state = workload.ready(DATA)
        # set-up runs from process start (interpreter, imports, JVM and
        # Spark launch) to the first answered statement
        setup_s = harness.since_process_start()
        res = workload.run(args.workload, state, setup_s, DATA, args.seed, args.seconds,
                           bool(args.trace), settings, WORK, log)
    finally:
        harness.shutdown_jvm()
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    res["detail"]["settings"] = settings
    res["detail"]["finished"] = time.time()
    with open(os.path.join(WORK, f"detail-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(res["detail"], f, indent=1, default=str)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out))
    if res["failed"]:
        log(f"{res['failed']} of {res['attempted']} operations failed or returned wrong results")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
