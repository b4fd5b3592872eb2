"""Run the reference's OWN perf suite verbatim through the engine.

Reads /root/reference/tests/perfs/perfs.yaml (the reference's
performance harness input — perfs.py runs these over its MySQL wire;
we run them through Engine.sql, the same dialect path), optionally
scaling numbers_mt row counts down by --scale (default 100: the
reference's numbers are recorded on other hardware at 100B/10B rows;
dividing by 100 keeps every shape measurable in seconds on local[32]
while leaving sub-1e9 queries verbatim).

Each query's result is verified against the closed form where one
exists (range() aggregates and top-k are exact; the substring query
is verified against a Python recomputation of its own definition).

Output: one JSON line per query {name, query, rows, sec: [..],
verified} and a final summary line — an artifact that says "the
reference's perf suite runs unmodified through the dialect layer",
complementing the stateless golden suite (37/37) on the perf side.
"""

from __future__ import annotations

import json
import re
import sys
import time

import yaml

sys.path.insert(0, ".")

from fuse_query_spark.engine import Engine  # noqa: E402
from fuse_query_spark.results import to_rows  # noqa: E402

PERFS_YAML = "/root/reference/tests/perfs/perfs.yaml"


def scaled(query: str, divisor: int) -> tuple[str, int]:
    """Divide numbers_mt row counts >= 1e9 by `divisor` (leave small
    ones verbatim); returns (query, scaled_n)."""
    m = re.search(r"numbers_mt\((\d+)\)", query)
    n = int(m.group(1))
    if n >= 1_000_000_000:
        n //= divisor
        query = re.sub(r"numbers_mt\(\d+\)", f"numbers_mt({n})", query)
    return query, n


def verify(name: str, n: int, rows) -> bool:
    """Closed-form checks per suite entry."""
    if name == "Aggregation avg":
        return abs(float(rows[0][0]) - (n - 1) / 2) < max(1e-6 * n, 1e-6)
    if name == "Aggregation count":
        return int(rows[0][0]) == n
    if name == "Aggregation max":
        return int(rows[0][0]) == n - 1
    if name == "Aggregation sum":
        return int(rows[0][0]) == n * (n - 1) // 2
    if name == "Sort":
        return [int(r[0]) for r in rows] == list(range(n - 1, n - 11, -1))
    if name == "Substring":
        exp = [str(i)[2:] for i in range(n - 1, -1, -1) if i > 100][:10]
        return [r[0] for r in rows] == exp
    if name == "Group By":
        return len(rows) == 60 and max(int(r[0]) for r in rows) == n - 1
    return True


def main() -> int:
    divisor = 100
    for i, a in enumerate(sys.argv):
        if a == "--scale":
            divisor = int(sys.argv[i + 1])
    spec = yaml.safe_load(open(PERFS_YAML))
    default_iters = spec.get("config", {}).get("iterations", 3)
    eng = Engine()
    failures = 0
    total = 0.0
    for p in spec["perfs"]:
        query, n = scaled(p["query"].rstrip(";"), divisor)
        iters = p.get("iterations", default_iters)
        secs, table = [], None
        for _ in range(iters):
            t0 = time.monotonic()
            _, table = eng.sql_collect(query)  # (DataFrame, pyarrow.Table)
            secs.append(round(time.monotonic() - t0, 3))
        rows = to_rows(table)
        ok = verify(p["name"], n, rows)
        failures += 0 if ok else 1
        total += min(secs)
        print(
            json.dumps(
                {
                    "name": p["name"],
                    "query": query,
                    "rows": len(rows),
                    "sec": secs,
                    "best": min(secs),
                    "verified": ok,
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {"suite": "reference perfs.yaml", "scale_divisor": divisor,
             "queries": len(spec["perfs"]), "failed_verification": failures,
             "total_best_sec": round(total, 3)}
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
