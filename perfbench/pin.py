"""Re-pin expected.json: the row count and checksum of every
curation row on the benchmark corpus.

    python3 perfbench/pin.py

Each row must first match its DuckDB oracle SQL from the registry,
compared with the engine's own comparison helper, and then agree with
itself when collected twice, in two orders. A row that fails either
check is reported and nothing is written. Run it from the root of a
checkout; it rewrites perfbench/expected.json.
"""

from __future__ import annotations

import json
import os
import sys

import harness
import measure
import rows
import run


def main() -> int:
    os.makedirs(run.WORK, exist_ok=True)
    harness.configure(run.ROOT, run.WORK)
    from fuse_query_spark.queries import load_registry
    from fuse_query_spark.testing import compare_query, duckdb_conn

    registry = load_registry()
    spark = harness.new_session()
    names = rows.CURATION
    pinned: dict[str, list] = {}
    bad = []
    try:
        con = duckdb_conn(run.DATA)
        for name in names:
            _, problems = compare_query(spark, con, registry[name], run.DATA)
            if problems:
                bad.append(f"{name}: oracle {problems}")
        for attempt in (names, list(reversed(names))):
            for name in attempt:
                df = registry[name].fn(spark, run.DATA)
                got = df.collect()
                entry = [len(got), measure.result_checksum(got, df.columns)]
                if pinned.setdefault(name, entry) != entry:
                    bad.append(f"{name}: unstable {pinned[name]} vs {entry}")
                spark.catalog.clearCache()
    finally:
        harness.shutdown_jvm()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(rows.EXPECTED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pinned)} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
