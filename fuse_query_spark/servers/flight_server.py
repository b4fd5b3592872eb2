"""Arrow Flight wire surface: the reference's query-RPC endpoint
re-expressed over pyarrow.flight against the Spark engine, plus the
coordinator's one stage runner.

Reference parity (fusequery api/rpc):
- flight_service.rs:38  FuseQueryFlightService — do_get serves stream
  tickets, do_action runs stage actions, everything else answers
  "does not implement" (handshake/list_flights/get_flight_info/
  get_schema/do_put/do_exchange), list_actions advertises
  PrepareShuffleAction.
- flight_tickets.rs:13  StreamTicket {query_id, stage_id, stream},
  JSON in the ticket bytes.
- flight_actions.rs:15  ShuffleAction {query_id, stage_id, plan,
  sinks, scatters_expression} / BroadcastAction {.. minus scatter},
  JSON in the action body.
- flight_dispatcher.rs:38  FlightDispatcher.prepare executes the stage
  plan once and routes the result into named one-shot sink streams:
  hash-scatter (flight_scatter_hash.rs — the mod-N bucket contract
  implemented in cluster.scatter_bucket and pinned cross-process by
  the two-session test in test_engine_sql.py) or broadcast
  (flight_scatter_broadcast.rs); get_stream MOVES the receiver out of
  the registry, so a stream is consumable exactly once; an aborted
  dispatcher rejects new stage actions.
- plan_scheduler.rs:96  run_stages is the coordinator side for every
  distributed statement (aggregate, sort/limit converge, broadcast
  join): per attempt it runs the statement's broadcast stages on the
  first live peer, one partial per live peer scattering into sinks
  s0..s{P-1}, and gathers every stream; a failed attempt is drained
  and retried on the surviving peers.

Spark-first mapping: the reference ships a serialized PlanNode and
rebuilds a pipeline per stage; our plan wire format is the SQL text
itself — the engine's Catalyst session rebuilds the (optimized) plan
from it, which is the same contract at the semantic level without
inventing a parallel plan serialization. The stage executes ONCE
(one Catalyst job computes every sink's bucket), then FlightData
record batches stream zero-copy from Arrow memory; result blocks
never transit the Python driver row-by-row.

Scale note: this endpoint is the *coordination* surface. Big
shuffles stay inside Spark's exchange (SURVEY §3.3); Flight carries
final-stage results between engine front-ends, which are bounded by
the stage's output — the same division of labor the reference uses
its dispatcher channels for.
"""

from __future__ import annotations

import contextlib
import json
import threading

import pyarrow as pa
import pyarrow.flight as flight


class FlightDispatcher:
    """In-memory stage/stream registry (flight_dispatcher.rs:38).

    streams: "query_id/stage_id/stream" -> pyarrow.Table, REMOVED on
    fetch (the reference moves the mpsc receiver out: get_stream →
    streams.write().remove). abort() makes subsequent stage actions
    fail, mirroring the dispatcher's AtomicBool gate on new sessions.
    """

    def __init__(self):
        self._streams: dict[str, pa.Table] = {}
        self._lock = threading.Lock()
        self._aborted = False

    def abort(self) -> None:
        self._aborted = True

    def is_aborted(self) -> bool:
        return self._aborted

    def _require_live(self) -> None:
        if self._aborted:
            raise flight.FlightUnavailableError("dispatcher is aborted")

    @staticmethod
    def _to_arrow_nullable(df) -> pa.Table:
        """``df.toArrow()`` with the schema relaxed to fully nullable
        first. Spark's Arrow conversion casts batches to the ANALYZED
        schema, and a NULL value above a non-nullable child field —
        e.g. an arg-extremum partial ``max(CASE WHEN … THEN
        named_struct('c', cmp, 'r', number) END)`` over an all-NULL-cmp
        slice, where the generator's ``number`` makes field r
        non-null — fails Arrow's view with 'nulls in input cannot be
        viewed as non-nullable'. The wire carries values, not
        nullability contracts, so every stage result ships with
        relaxed nullability (the coordinator conforms to the local
        plan's schema at finalize anyway)."""
        from pyspark.sql.types import ArrayType, MapType, StructField, StructType

        def relax(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [StructField(f.name, relax(f.dataType), True) for f in dt.fields]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(relax(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(relax(dt.keyType), relax(dt.valueType), True)
            return dt

        return df.to(relax(df.schema)).toArrow()

    def prepare(self, engine, kind: str, action: dict) -> None:
        """One stage action: run the plan once, convert the result to
        Arrow and commit one stream per sink. A PrepareShuffleAction
        routes every row to the sink whose index equals the
        reference's scatter bucket (modulo(cast(expr AS UInt64),
        num_sinks) — flight_scatter_hash.rs:80-91 via
        cluster.scatter_bucket); a BroadcastAction gives every sink the
        full result (flight_scatter_broadcast.rs)."""
        from pyspark.sql import functions as F

        from fuse_query_spark.cluster import scatter_bucket

        self._require_live()
        sinks = list(action["sinks"])
        if len(set(sinks)) != len(sinks):
            raise flight.FlightServerError("duplicate sink names in one action")
        if not sinks:
            raise flight.FlightServerError(f"{kind} with no sinks")
        shuffle = kind == "PrepareShuffleAction"
        try:
            with _stage_action_scope(engine):
                df = engine.sql(action["plan"])
                if df is None:
                    raise flight.FlightServerError("plan produced no result set")
                if shuffle:
                    # one execution computes every sink's rows:
                    # materialize to Arrow WITH the bucket column,
                    # split by bucket in Arrow memory
                    expr = F.expr(action["scatters_expression"])
                    df = df.withColumn("__fq_bucket", scatter_bucket(expr, len(sinks)))
                table = self._to_arrow_nullable(df)
        finally:
            _drop_flight_stream_views(engine)
        if shuffle:
            buckets = table.column("__fq_bucket")
            table = table.drop_columns("__fq_bucket")
            parts = {
                sink: table.filter(pa.compute.equal(buckets, pa.scalar(i, buckets.type)))
                for i, sink in enumerate(sinks)
            }
        else:
            parts = dict.fromkeys(sinks, table)
        self._set_streams(action["query_id"], action["stage_id"], parts)

    def _set_streams(self, query_id: str, stage_id: str, parts: dict) -> None:
        """Commit a stage's sink streams ATOMICALLY: pre-check every key
        for collisions under the lock, then insert all-or-nothing — a
        duplicate sink must not leave a partially-prepared stage whose
        earlier streams are still consumable (the reference's tx/rx pair
        is created once per stage prepare; re-preparing is a logic
        error)."""
        staged = {f"{query_id}/{stage_id}/{s}": t for s, t in parts.items()}
        with self._lock:
            for key in staged:
                if key in self._streams:
                    raise flight.FlightServerError(f"stream already prepared: {key}")
            self._streams.update(staged)

    def get_stream(self, query_id: str, stage_id: str, stream: str):
        """One-shot fetch (flight_dispatcher.rs get_stream removes the
        entry — a Flight stream is consumed exactly once)."""
        key = f"{query_id}/{stage_id}/{stream}"
        with self._lock:
            table = self._streams.pop(key, None)
        if table is None:
            raise flight.FlightServerError("Stream is not found")
        return table


@contextlib.contextmanager
def _stage_action_scope(engine):
    """Mark the engine's CURRENT THREAD as executing a stage action's
    plan: flight_stream() table refs resolve only under this scope
    (advice r10 — from the general SQL surface they stay unresolved
    identifiers instead of server-initiated gRPC connects to
    client-chosen addresses). Thread-local, so concurrent user
    statements on other threads are unaffected; the flag clears on
    exit even when the plan fails. NOTE: the materialized view must
    outlive the scope (execution inside is lazy until toArrow) — view
    cleanup stays with _drop_flight_stream_views."""
    tl = getattr(engine, "_stage_action_tl", None)
    if tl is None:
        yield
        return
    prev = getattr(tl, "active", False)
    tl.active = True
    try:
        yield
    finally:
        tl.active = prev


def _drop_flight_stream_views(engine) -> None:
    """Drop the temp views the engine's flight_stream resolution
    registered on this thread — each holds a full broadcast table in
    memory under a query-unique name, so a stage action must clean up
    after materializing (code-review r10)."""
    pop = getattr(engine, "pop_flight_stream_views", None)
    if pop is None:
        return
    for v in pop():
        try:
            engine.spark.catalog.dropTempView(v)
        except Exception:
            pass


class FuseQueryFlightService(flight.FlightServerBase):
    """pyarrow.flight server speaking the reference's ticket/action
    JSON protocol (flight_service.rs:38). Construct with an Engine;
    `location` "grpc://0.0.0.0:0" picks an ephemeral port (read
    `.port` after construction)."""

    def __init__(self, engine, location: str = "grpc://0.0.0.0:0", **kw):
        super().__init__(location, **kw)
        self.engine = engine
        self.dispatcher = FlightDispatcher()

    # --- do_get: StreamTicket -> record-batch stream -------------------
    def do_get(self, context, ticket: flight.Ticket):
        try:
            body = json.loads(ticket.ticket.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise flight.FlightServerError(f"invalid ticket: {e}") from None
        # accept both the reference's enum-wrapped serde form
        # {"StreamTicket": {...}} and the bare object
        body = body.get("StreamTicket", body)
        for k in ("query_id", "stage_id", "stream"):
            if k not in body:
                raise flight.FlightServerError(f"ticket missing field {k!r}")
        table = self.dispatcher.get_stream(
            body["query_id"], body["stage_id"], body["stream"]
        )
        return flight.RecordBatchStream(table)

    # --- do_action: stage preparation ---------------------------------
    def do_action(self, context, action: flight.Action):
        kind = action.type
        if kind not in ("PrepareShuffleAction", "BroadcastAction"):
            raise NotImplementedError(f"UnImplement action {kind}")
        try:
            body = json.loads(action.body.to_pybytes().decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise flight.FlightServerError(f"invalid action body: {e}") from None
        self.dispatcher.prepare(self.engine, kind, body)
        # reference returns a single empty FlightResult (body: vec![])
        return iter([flight.Result(b"")])

    def list_actions(self, context):
        # flight_service.rs:157-169 advertises only PrepareShuffleAction
        return [
            flight.ActionType(
                "PrepareShuffleAction",
                "Prepare a query stage that can be sent to the remote "
                "after receiving data from remote",
            )
        ]

    # --- everything else: "does not implement" (flight_service.rs) ----
    def _unimplemented(self, what: str):
        raise NotImplementedError(f"FuseQuery does not implement {what}.")

    def list_flights(self, context, criteria):
        self._unimplemented("list_flights")

    def get_flight_info(self, context, descriptor):
        self._unimplemented("get_flight_info")

    def get_schema(self, context, descriptor):
        self._unimplemented("get_schema")

    def do_put(self, context, descriptor, reader, writer):
        self._unimplemented("do_put")

    def do_exchange(self, context, descriptor, reader, writer):
        self._unimplemented("do_exchange")


def stream_ticket(query_id: str, stage_id: str, stream: str) -> flight.Ticket:
    """Client-side helper: the reference's serde enum JSON form
    (flight_tickets.rs TryInto<Ticket>)."""
    body = {"StreamTicket": {"query_id": query_id, "stage_id": stage_id, "stream": stream}}
    return flight.Ticket(json.dumps(body).encode("utf-8"))


def shuffle_action(
    query_id: str, stage_id: str, plan: str, sinks: list[str], scatters_expression: str
) -> flight.Action:
    body = {
        "query_id": query_id,
        "stage_id": stage_id,
        "plan": plan,
        "sinks": sinks,
        "scatters_expression": scatters_expression,
    }
    return flight.Action("PrepareShuffleAction", json.dumps(body).encode("utf-8"))


def broadcast_action(
    query_id: str, stage_id: str, plan: str, sinks: list[str]
) -> flight.Action:
    body = {"query_id": query_id, "stage_id": stage_id, "plan": plan, "sinks": sinks}
    return flight.Action("BroadcastAction", json.dumps(body).encode("utf-8"))




def broadcast_refs(query_id: str, stage: str, peers: list[str], n: int) -> list[list[str]]:
    """Peer i's table refs to its broadcast streams: sink b{i} of each
    stage ``{stage}/bcast{d}`` (d < n) on peers[0], where the
    BroadcastActions run, as the flight_stream() calls a peer's engine
    resolves inside a stage action."""
    return [
        [f"flight_stream('{peers[0]}', '{query_id}', '{stage}/bcast{d}', 'b{i}')" for d in range(n)]
        for i in range(len(peers))
    ]


class StageError(Exception):
    """Typed coordinator-side stage failure (the analog of the
    reference dispatcher's error channel, flight_dispatcher.rs:54-61:
    when a stage's sender errors, the stage is aborted and its
    receivers torn down rather than left half-consumable). Carries the
    failing peer address and the underlying Flight error."""

    def __init__(self, peer: str, cause: Exception):
        super().__init__(f"stage failed at peer {peer}: {cause}")
        self.peer = peer
        self.cause = cause


class DistinctStateOverflow(Exception):
    """A peer's distinct-state guard tripped (the assert_true the
    partial plan carries when a group's collect_set would exceed
    DISTINCT_STATE_MAX_ELEMS — plans/distributed.py, advice r10). NOT
    retryable: every peer re-executes the same partial and re-trips
    the same guard, so the stage runner raises this immediately (after
    draining the attempt) and the coordinator reruns the statement
    locally, where Spark's own partial distinct aggregation has no
    single-row state bound."""


def _is_distinct_overflow(err: Exception) -> bool:
    from fuse_query_spark.plans.distributed import DISTINCT_OVERFLOW_MARKER

    return DISTINCT_OVERFLOW_MARKER in str(err)


class StageCoordinator:
    """One attempt's Flight clients, one per live peer. Every RPC
    failure surfaces as a StageError naming its peer. A client
    connects on its first RPC, so a peer that died after the probe
    fails that RPC at once instead of stalling a handshake."""

    def __init__(self, peers: list[str]):
        self.cons = {addr: flight.connect(addr) for addr in peers}

    def close(self) -> None:
        for con in self.cons.values():
            try:
                con.close()
            except Exception:
                pass

    def act(self, addr: str, action: flight.Action) -> None:
        try:
            list(self.cons[addr].do_action(action))
        except flight.FlightError as e:
            raise StageError(addr, e) from e

    def fetch(self, addr: str, query_id: str, stage_id: str, sink: str) -> pa.Table:
        try:
            return self.cons[addr].do_get(stream_ticket(query_id, stage_id, sink)).read_all()
        except flight.FlightError as e:
            raise StageError(addr, e) from e

    def drain(self, query_id: str, streams) -> None:
        """Best-effort teardown of (addr, stage_id, sinks) streams.
        Streams are one-shot (get_stream MOVES the entry out of the
        peer's registry), so fetching is the wire-level way to drop a
        stage remotely; without it a failed attempt's streams would sit
        in the survivors' registries forever. Already-fetched streams
        answer 'not found' and a dead peer fails fast."""
        for addr, stage_id, sinks in streams:
            for sink in sinks:
                try:
                    self.fetch(addr, query_id, stage_id, sink)
                except Exception:
                    pass


class _ActionRun:
    """One in-flight stage action on its own DAEMON thread. Plain
    threads, not a ThreadPoolExecutor: concurrent.futures registers
    its (non-daemon) workers for an atexit join, so a worker blocked
    in a never-answering peer's do_action would block interpreter
    exit (advice r11) — a daemon thread dies with the process, which
    is the bound the docstring promises. Errors are kept for the
    caller."""

    __slots__ = ("done", "err")

    def __init__(self, thunk):
        self.done = threading.Event()
        self.err: BaseException | None = None

        def _run():
            try:
                thunk()
            except BaseException as e:  # noqa: BLE001 — kept for the caller
                self.err = e
            finally:
                self.done.set()

        threading.Thread(target=_run, daemon=True).start()


def _run_actions_interruptibly(
    coord, query_id, jobs, abort_check, owned, extra_drains=()
) -> None:
    """Run an attempt's blocking do_action RPCs concurrently — a
    serial loop would make the stage cost the SUM of the partials
    instead of their MAX (code-review r9) — while POLLING the abort
    flag every ~100ms (advice r10: a KILL landing during a long
    synchronous stage action must surface at the poll interval, not
    after the slowest peer finishes its whole partial). `jobs` is a
    list of ((addr, stage_id, sinks), action); `extra_drains` is more
    (addr, stage_id, sinks) streams the post-abort watcher must ALSO
    drain — the broadcast stages, because a straggler partial that
    fails after the abort never consumes its b{i} broadcast stream,
    which would otherwise sit on the hosting peer for the peer's
    lifetime (advice r11).

    On abort with actions still in flight, ownership of the attempt
    moves to a daemon WATCHER: the coordinator's connections stay open
    (owned["v"] flips False so the caller's finally skips close), so
    each straggler completes exactly when its peer finished — and
    therefore has registered its streams; the watcher then drains
    every job's (and extra_drains') streams and closes the
    coordinator. ALL threads here are daemon (workers AND watcher), so
    a peer that never answers parks them until process death but can
    never block interpreter exit. Raises QueryAborted on abort, else
    the first action error after all actions complete."""
    runs = [_ActionRun(lambda s=stream, a=action: coord.act(s[0], a)) for stream, action in jobs]
    pending = [r for r in runs if not r.done.is_set()]
    while pending:
        pending[0].done.wait(timeout=0.1)
        pending = [r for r in pending if not r.done.is_set()]
        if abort_check is not None and pending and abort_check():
            from fuse_query_spark.errors import QueryAborted

            streams = [stream for stream, _a in jobs] + list(extra_drains)
            still = list(pending)

            def _watch():
                for r in still:
                    r.done.wait()
                coord.drain(query_id, streams)
                coord.close()

            owned["v"] = False
            threading.Thread(target=_watch, daemon=True).start()
            raise QueryAborted("distributed stage aborted by KILL")
    for r in runs:
        if r.err is not None:
            raise r.err


def probe_alive(candidates: list[str], timeout: float = 10.0) -> list[str]:
    """Peers that answer one Flight RPC (list_actions) within `timeout`
    seconds, probed CONCURRENTLY. The deadline only bounds a slow but
    live peer: a refused port fails the call at once, where waiting
    for the channel to become available would sit out the whole
    timeout. Shared by the stage runner's retries and the Engine.sql
    reachability check."""
    from concurrent.futures import ThreadPoolExecutor

    def _probe(p: str) -> str | None:
        try:
            c = flight.connect(p)
            try:
                list(c.list_actions(flight.FlightCallOptions(timeout=timeout)))
            finally:
                c.close()
            return p
        except pa.ArrowException:
            return None

    with ThreadPoolExecutor(max_workers=max(1, len(candidates))) as ex:
        return [p for p in ex.map(_probe, candidates) if p is not None]


# the first run of a stage plus two retries on the surviving peers
ATTEMPTS = 3


def run_stages(
    peers: list[str],
    query_id: str,
    partials,
    scatters_expression: str,
    broadcasts: list[str] = (),
    abort_check=None,
    _after_dispatch=None,
) -> dict:
    """Run one distributed statement's stages on the cluster and
    gather the result as {sink: pa.Table} — the one scheduler every
    statement form shares (plan_scheduler.rs:96 walks any stage tree).
    Each attempt takes the live peers (attempt 0 trusts `peers`, which
    the caller just probed; a retry probes the previous attempt's
    peers again) and, under attempt-scoped stage ids, runs:

      <stage>/bcast{d} — broadcasts[d] once on alive[0] as a
      BroadcastAction; sink b{i} holds the full result for peer i
      (joins only; the stages dispatch concurrently).
      <stage>/{i}      — partials(alive, refs)[i] on alive[i] as a
      PrepareShuffleAction scattering into s0..s{P-1}; refs[i] is
      peer i's broadcast_refs (one table ref per broadcast stage).

    then gathers every (peer x sink) stream into its sink. The scatter
    is a pure function of the row and `partials` regroups the same
    source over the survivors, so a retried result equals the
    no-failure result. Each attempt uses FRESH stage ids (no collision
    with a failed attempt's streams), and a failed attempt's streams —
    broadcast and output — are drained before it is retried or its
    error propagates. Recovery is the Spark-side extension to the
    reference's dispatcher, which only aborts (flight_dispatcher.rs:
    54-61), in the spirit of speculative re-execution of a lost task.

    A StageError names the failing peer; the last one is raised when
    no survivor set completes. DistinctStateOverflow is raised at once
    (every peer would re-trip it), and any other error — a KILL's
    QueryAborted, an ArrowInvalid from a dispatch thread — is not
    retried either. `abort_check` is polled between RPCs and every
    ~100ms during dispatch. `_after_dispatch(attempt)` is a test seam
    invoked between an attempt's dispatch and its gather — the only
    way a test can kill a peer at the exact point the reference's
    dispatcher error channel fires (stage live, streams registered,
    receiver not yet drained)."""
    from fuse_query_spark.errors import QueryAborted

    def check_abort():
        # KILL QUERY lands between RPCs (an in-flight do_get blocks
        # until the peer answers — the same unit the reference's
        # AbortStream tears down at a block boundary, stream_abort.rs:
        # 19-26); the except below drains the attempt
        if abort_check is not None and abort_check():
            raise QueryAborted("distributed stage aborted by KILL")

    last_err: StageError | None = None
    alive = list(peers)
    for attempt in range(ATTEMPTS):
        if attempt:
            alive = probe_alive(alive)
        if not alive:
            break
        stage = "stage0" if attempt == 0 else f"stage0~retry{attempt}"
        bsinks = [f"b{i}" for i in range(len(alive))]
        sinks = [f"s{i}" for i in range(len(alive))]
        bstages = [(alive[0], f"{stage}/bcast{d}", bsinks) for d in range(len(broadcasts))]
        outs = [(addr, f"{stage}/{i}", sinks) for i, addr in enumerate(alive)]
        plans = partials(alive, broadcast_refs(query_id, stage, alive, len(broadcasts)))
        coord = StageCoordinator(alive)
        owned = {"v": True}  # flips False when a post-abort watcher
        # takes over the coordinator's connections (stragglers in flight)
        try:
            check_abort()
            _run_actions_interruptibly(
                coord,
                query_id,
                [
                    (s, broadcast_action(query_id, s[1], plan, bsinks))
                    for s, plan in zip(bstages, broadcasts)
                ],
                abort_check,
                owned,
            )
            check_abort()
            _run_actions_interruptibly(
                coord,
                query_id,
                [
                    (s, shuffle_action(query_id, s[1], plan, sinks, scatters_expression))
                    for s, plan in zip(outs, plans)
                ],
                abort_check,
                owned,
                extra_drains=bstages,
            )
            check_abort()
            if _after_dispatch is not None:
                _after_dispatch(attempt)
            parts: dict[str, list] = {s: [] for s in sinks}
            for addr, sid, _sinks in outs:
                for sink in sinks:
                    check_abort()
                    parts[sink].append(coord.fetch(addr, query_id, sid, sink))
            return {s: pa.concat_tables(t) for s, t in parts.items()}
        except StageError as e:
            coord.drain(query_id, bstages + outs)
            if _is_distinct_overflow(e.cause):
                raise DistinctStateOverflow(str(e.cause)) from e.cause
            last_err = e
        except Exception:
            coord.drain(query_id, bstages + outs)
            raise
        finally:
            if owned["v"]:
                coord.close()
    raise last_err or StageError("<all peers>", RuntimeError("no peers reachable"))
