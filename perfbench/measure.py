"""Measurement primitives: summary statistics, result checksums,
process CPU and memory from /proc, and Spark job/stage accounting from
Spark's own status store.

Nothing here imports the engine; the Spark helpers take a live
SparkSession.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import time
from datetime import date, datetime
from decimal import Decimal

# ---------------------------------------------------------------- stats


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (the rule numpy calls 'linear')."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------- checksums


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(v, ".6g")
    if isinstance(v, Decimal):
        return format(float(v), ".6g")
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha1(bytes(v)).hexdigest()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_checksum(rows, columns) -> str:
    """Order-independent digest of a result: columns sorted by name,
    floats rounded to 6 significant digits, row lines sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def tree_cpu_s(root: int, exclude: frozenset = frozenset(), own: bool = True) -> float:
    """CPU-seconds (user + system) of `root` and its live descendants,
    plus what each of them has reaped from exited children. Subtrees
    rooted at a pid in `exclude` are skipped; own=False leaves out
    root's own user and system time (its children only)."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        fields = _stat_fields(pid)
        if fields:
            first = 13 if pid == root and not own else 11
            total += sum(int(x) for x in fields[first:15])  # utime stime cutime cstime
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_peak_rss(pid: int) -> None:
    """Restart VmHWM from the current resident set, so a later read
    gives the peak of what ran in between."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def process_start_epoch(pid: int) -> float:
    """Wall-clock time at which `pid` started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started_after_boot = int(_stat_fields(pid)[19]) / _TICK
    return time.time() - uptime + started_after_boot


# ------------------------------------------------------------------ spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def next_job_id(spark) -> int:
    """The id Spark gives the next submitted job. Ids are dense and
    increasing, so the jobs one caller submitted are the ids between
    two reads taken around its work (the caller must be the only
    thread submitting jobs)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def job_stage_totals(spark, job_ids) -> dict:
    """Sum Spark's per-stage metrics over the given jobs, read from the
    status store after the listener bus has drained. Skipped stages
    (reused shuffle output) are counted in neither stages nor tasks."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tot = {k: 0 for k in STAGE_FIELDS}
    tot.update(jobs=0, stages=0)
    seen: set[int] = set()
    for j in job_ids:
        try:
            job = store.job(int(j))
        except Exception:  # evicted or never posted
            continue
        tot["jobs"] += 1
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = int(ids.apply(i))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped)
                continue
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            for k in STAGE_FIELDS:
                tot[k] += int(getattr(st, k)())
    return tot


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?([A-Z][A-Za-z0-9]*)")
_PYTHON_NODE = re.compile(r"(Python|InPandas|InArrow)")


def plan_shape(plan_text: str) -> dict:
    """Node, exchange and Python-worker node counts of a physical plan
    tree string."""
    nodes = exchanges = python = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m or m.group(1) in ("Initial", "Final"):
            continue
        name = m.group(1)
        nodes += 1
        exchanges += "Exchange" in name
        python += bool(_PYTHON_NODE.search(name))
    return {"plan_nodes": nodes, "exchanges": exchanges, "python_nodes": python}
