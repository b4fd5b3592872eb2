"""Transparent distributed Engine.sql demo — the reference's
multi-node topology (interpreter_select.rs:40-73: same SQL, local or
rescheduled) run end-to-end on one machine:

  1. spawn two PEER engines, each its own JVM + Arrow Flight service
  2. register them on the coordinator (the /v1/cluster/add surface)
  3. run aggregates through Engine.sql — they fan out as per-peer
     partial stages over Flight and finalize coordinator-side
  4. kill one peer and run again — the stage runner (run_stages)
     regroups the source onto the survivor, same result
  5. remove the cluster — the same SQL runs locally, same result

Usage: python examples/distributed_query.py
Every stage is the machinery tests/test_engine_distributed.py pins;
this file only narrates it.
"""

import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PEER_SRC = """
import sys
sys.path.insert(0, ".")
from fuse_query_spark.engine import Engine
from fuse_query_spark.servers.flight_server import FuseQueryFlightService
from fuse_query_spark.session import get_spark

spark = get_spark("flight-peer", cpus=2)
srv = FuseQueryFlightService(Engine(spark), "grpc://0.0.0.0:0")
print(f"PORT={srv.port}", flush=True)
srv.serve()
"""


def spawn_peer():
    proc = subprocess.Popen(
        [sys.executable, "-c", PEER_SRC],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, cwd=ROOT, text=True,
    )
    box: list = []
    got = threading.Event()

    def _read():
        # capture the port, then keep DRAINING the pipe for the peer's
        # lifetime (an undrained stdout PIPE blocks the peer once it
        # logs past the ~64 KB OS buffer)
        for line in proc.stdout:
            if not got.is_set() and line.startswith("PORT="):
                box.append(int(line.strip().split("=", 1)[1]))
                got.set()
        got.set()

    threading.Thread(target=_read, daemon=True).start()
    got.wait(timeout=180)
    if not box:
        proc.terminate()
        raise RuntimeError("peer never reported its port")
    return proc, box[0]


def main() -> None:
    from fuse_query_spark.engine import Engine
    from fuse_query_spark.session import get_spark

    engine = Engine(get_spark("distributed-demo", cpus=4))
    sql = (
        "SELECT number % 3 AS g, max(number) AS m, count(*) AS c "
        "FROM numbers(1000000) GROUP BY number % 3 ORDER BY g"
    )
    t0 = time.time()
    local = [tuple(r) for r in engine.sql(sql).collect()]
    print(f"local           : {local}  [{time.time()-t0:.2f}s]")

    print("spawning two peer engines (JVM startup ~20-60s each)...")
    p0, port0 = spawn_peer()
    p1, port1 = spawn_peer()
    try:
        engine.cluster.add_node("peer0", 5, f"grpc://localhost:{port0}")
        engine.cluster.add_node("peer1", 5, f"grpc://localhost:{port1}")
        t0 = time.time()
        dist = [tuple(r) for r in engine.sql(sql).collect()]
        print(f"2 peers         : {dist}  [{time.time()-t0:.2f}s]  "
              f"equal: {dist == local}")

        # r10 surface: serialized distinct states + post-finalize
        # HAVING distribute through the same hook
        dsql = ("SELECT number % 3 AS g, uniq(number % 100) AS u "
                "FROM numbers(300000) GROUP BY number % 3 "
                "HAVING count(*) > 10 ORDER BY g")
        engine.cluster.remove_node("peer0")
        engine.cluster.remove_node("peer1")
        dlocal = [tuple(r) for r in engine.sql(dsql).collect()]
        engine.cluster.add_node("peer0", 5, f"grpc://localhost:{port0}")
        engine.cluster.add_node("peer1", 5, f"grpc://localhost:{port1}")
        t0 = time.time()
        ddist = [tuple(r) for r in engine.sql(dsql).collect()]
        print(f"uniq + HAVING   : {ddist}  [{time.time()-t0:.2f}s]  "
              f"equal: {ddist == dlocal}")

        # r10 surface: broadcast-join stage — a CTAS fact table sliced
        # by file, the small dim broadcast once per stage to every peer
        import tempfile

        d = tempfile.mkdtemp(prefix="dist_demo_")
        engine.sql(
            f"CREATE TABLE demo_fact ENGINE = Parquet location = '{d}/fact' AS "
            "SELECT number % 17 AS fk, number AS v FROM numbers(200000)"
        )
        engine.sql(
            f"CREATE TABLE demo_dim ENGINE = Parquet location = '{d}/dim' AS "
            "SELECT number AS id, CASE WHEN number % 2 = 0 THEN 'even' "
            "ELSE 'odd' END AS grp FROM numbers(17)"
        )
        jsql = ("SELECT d.grp AS g, count(*) AS c, sum(f.v) AS s "
                "FROM demo_fact AS f JOIN demo_dim AS d ON f.fk = d.id "
                "GROUP BY d.grp ORDER BY g")
        engine.cluster.remove_node("peer0")
        engine.cluster.remove_node("peer1")
        jlocal = [tuple(r) for r in engine.sql(jsql).collect()]
        engine.cluster.add_node("peer0", 5, f"grpc://localhost:{port0}")
        engine.cluster.add_node("peer1", 5, f"grpc://localhost:{port1}")
        t0 = time.time()
        jdist = [tuple(r) for r in engine.sql(jsql).collect()]
        print(f"broadcast join  : {jdist}  [{time.time()-t0:.2f}s]  "
              f"equal: {jdist == jlocal}")
        plan = engine.sql("EXPLAIN " + jsql).collect()[0].plan
        print("EXPLAIN (first 3 lines):")
        for line in plan.splitlines()[:3]:
            print(f"  {line}")
        engine.sql("DROP TABLE demo_fact")
        engine.sql("DROP TABLE demo_dim")

        p1.kill()
        p1.wait(timeout=30)
        t0 = time.time()
        surv = [tuple(r) for r in engine.sql(sql).collect()]
        print(f"peer1 killed    : {surv}  [{time.time()-t0:.2f}s]  "
              f"equal: {surv == local}  (dead peer dropped at the probe; "
              "the MID-stage death path is pinned in "
              "tests/test_engine_distributed.py)")

        engine.cluster.remove_node("peer0")
        engine.cluster.remove_node("peer1")
        t0 = time.time()
        back = [tuple(r) for r in engine.sql(sql).collect()]
        print(f"cluster removed : {back}  [{time.time()-t0:.2f}s]  "
              f"equal: {back == local}  (local path again)")
    finally:
        for p in (p0, p1):
            p.terminate()
            try:
                p.wait(timeout=30)
            except Exception:
                p.kill()


if __name__ == "__main__":
    main()
