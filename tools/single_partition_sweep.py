"""Where a wide statement stops gaining from one partition.

Writes prefixes of a `lineitem.parquet` as single files, attaches each
as a Parquet table, and runs four wide shapes over it (aggregate,
window, sort, join) two ways in one JVM, interleaved: the exchange
plan (Engine.local_select, what Catalyst plans by itself) and the
one-task plan (engine.coalesce_leaves, whatever the size). Per prefix
and shape it prints one JSON line: wall ms, CPU ms of the driver JVM
plus this process, and Spark jobs and stages, medians over the
repetitions; rows are checked equal. SCALE.md "Single-partition
statements" holds a run.

    python tools/single_partition_sweep.py /path/to/sf0.1/lineitem.parquet \\
        --work /tmp/sweep --mb 0.25 0.5 1 2 4 8 --reps 7
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fuse_query_spark.engine import Engine, TableDef, coalesce_leaves  # noqa: E402
from fuse_query_spark.results import collect_arrow  # noqa: E402
from fuse_query_spark.session import get_spark  # noqa: E402
from fuse_query_spark.sources.storage import parquet_schema  # noqa: E402

SHAPES = {
    "aggregate": "SELECT l_returnflag, uniq(l_suppkey) AS u, sumIf(l_quantity, l_discount > 0.05) AS q, "
                 "countIf(l_quantity > 25) AS n FROM li GROUP BY l_returnflag",
    "window": "SELECT l_suppkey, l_orderkey, l_linenumber FROM li "
              "ORDER BY l_suppkey, l_orderkey, l_linenumber LIMIT 2 BY l_suppkey",
    "sort": "SELECT l_orderkey, l_linenumber, l_extendedprice FROM li WHERE l_quantity <= 5 "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber",
    "join": "SELECT a.l_returnflag, count(*) AS c, sum(b.l_quantity) AS q FROM li a "
            "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber + 1 "
            "GROUP BY a.l_returnflag",
}


def prefixes(source: str, work: str, sizes_mb: list[float]) -> list[tuple[str, int, int]]:
    """(path, rows, bytes) of one single-file prefix per target size,
    written with the source's row groups cut at the prefix."""
    import pyarrow.parquet as pq

    table = pq.read_table(source)
    per_row = os.path.getsize(source) / table.num_rows
    out = []
    for mb in sizes_mb:
        rows = min(table.num_rows, int(mb * 1024 * 1024 / per_row))
        path = os.path.join(work, f"lineitem_{rows}.parquet")
        pq.write_table(table.slice(0, rows), path)
        out.append((path, rows, os.path.getsize(path)))
    return out


def cpu_s(jvm_pid: int) -> float:
    """CPU-seconds (user + system) of the driver JVM and this process."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()


def measure(engine: Engine, run) -> tuple[float, float, int, int]:
    """(wall ms, CPU ms, jobs, stages) of run()."""
    sc = engine.spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    j0, c0, t0 = sched.nextJobId(), cpu_s(pid), time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    cpu = cpu_s(pid) - c0
    j1 = sched.nextJobId()
    tracker = sc.statusTracker()
    stages = sum(len(info.stageIds) for j in range(j0, j1) if (info := tracker.getJobInfo(j)))
    return wall * 1e3, cpu * 1e3, j1 - j0, stages


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("lineitem")
    ap.add_argument("--work", required=True)
    ap.add_argument("--mb", type=float, nargs="+", default=[0.25, 0.5, 1, 2, 4, 8])
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)
    spark = get_spark("single-partition-sweep", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark)
    for path, rows, size in prefixes(args.lineitem, args.work, args.mb):
        engine.catalog.db("default")["li"] = TableDef(
            name="li", database="default", engine="Parquet", schema=parquet_schema(path), location=path
        )
        for shape, sql in SHAPES.items():

            def exchange():
                return collect_arrow(engine.local_select(sql))

            def one_task():
                df = engine.local_select(sql)
                plan = df._jdf.queryExecution().analyzed()
                leaves = plan.collectLeaves()
                return collect_arrow(coalesce_leaves(spark, plan, [leaves.apply(i) for i in range(leaves.size())]))

            a, b = exchange(), one_task()  # warm, and the rows must agree
            key = [(c, "ascending") for c in a.column_names]
            assert a.sort_by(key).equals(b.sort_by(key)), (shape, rows)
            samples = {"exchange": [], "one_task": []}
            for rep in range(args.reps):
                order = ("exchange", "one_task") if rep % 2 == 0 else ("one_task", "exchange")
                for side in order:
                    samples[side].append(measure(engine, exchange if side == "exchange" else one_task))
            line = {"rows": rows, "bytes": size, "shape": shape}
            for side, runs in samples.items():
                wall, cpu, jobs, stages = (statistics.median(x) for x in zip(*runs))
                line[side] = {"wall_ms": round(wall, 1), "cpu_ms": round(cpu, 1), "jobs": jobs, "stages": stages}
            print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
