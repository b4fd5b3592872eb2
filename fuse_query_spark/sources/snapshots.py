"""Snapshot tables: versioned, time-travelable Parquet with
metadata-only commits — the lakehouse table-format core (Iceberg/Delta
shape) built on two invariants:

  1. data files are IMMUTABLE — every commit writes NEW files under
     data/<commit-uuid>/ and never touches existing bytes;
  2. the table's state IS its newest manifest — a tiny JSON listing the
     exact file set of that version (plus schema, parent, operation).

Everything else falls out: time travel is "read an old manifest";
rollback is "write a new manifest whose file list is an old one's"
(history is never destroyed — a rollback is itself a version);
readers are isolated from in-flight writes because a half-written
commit's files are unreachable until its manifest lands; and commits
are atomic via write-temp + rename on the manifest file.

At 100 TB the manifest is the only coordination point: commits move
O(KB) of metadata no matter how many TB the data files hold, readers
plan scans from the manifest's explicit file list (no directory
listing — the classic object-store pain), and VACUUM is a pure
metadata diff (files referenced by no kept manifest). Concurrency:
single-writer per table (optimistic — the version-file create is the
lock; a concurrent commit loses the rename race and raises). The
reference has no versioned tables (its Parquet engine is append-only,
parquet_table.rs); capability extension.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fuse_query_spark.sources.tables import local_rows

_SNAPDIR = "_snapshots"


def _manifest_path(location: str, version: int) -> str:
    return os.path.join(location, _SNAPDIR, f"v{version}.json")


def latest_version(location: str) -> int | None:
    d = os.path.join(location, _SNAPDIR)
    if not os.path.isdir(d):
        return None
    versions = [
        int(os.path.basename(p)[1:-5])
        for p in glob.glob(os.path.join(d, "v*.json"))
    ]
    return max(versions) if versions else None


def read_manifest(location: str, version: int) -> dict:
    p = _manifest_path(location, version)
    if not os.path.exists(p):
        have = latest_version(location)
        raise ValueError(
            f"snapshot version {version} does not exist at {location}"
            f" (latest: {have})"
        )
    with open(p) as f:
        return json.load(f)


def _write_manifest(location: str, manifest: dict) -> int:
    """Atomic commit: serialize to a temp file, then hard-link onto the
    version path — os.link fails with EEXIST if the version file
    already exists, so the create IS the lock (check-then-rename would
    race: os.rename silently replaces an existing target on POSIX, and
    two writers could both "win", silently losing one commit). On a
    lost race: raise (optimistic single-writer; retry at a higher
    version is the caller's policy)."""
    d = os.path.join(location, _SNAPDIR)
    os.makedirs(d, exist_ok=True)
    version = manifest["version"]
    target = _manifest_path(location, version)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    try:
        os.link(tmp, target)  # atomic create-exclusive commit point
    except FileExistsError:
        raise RuntimeError(
            f"concurrent snapshot commit detected: v{version} already exists"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def snapshot_commit(
    df: DataFrame,
    location: str,
    mode: str = "append",
    batch_id: int | None = None,
    operation: str | None = None,
) -> int:
    """Write df's rows as new immutable files under data/<uuid>/ and
    commit manifest v(latest+1). mode='append' keeps the parent's file
    list + the new files; 'overwrite' starts from just the new files.
    Returns the committed version. The data write is fully distributed
    (executors write parquet); only file NAMES pass through here.
    batch_id (streaming ingest) lands IN the atomically-committed
    manifest — stamping it afterwards would leave a crash window where
    the commit exists without the id and a checkpoint replay
    double-ingests the batch."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot mode must be append|overwrite, got {mode}")
    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(location, "data", commit_id)
    df.write.parquet(data_dir)
    new_files = sorted(
        os.path.relpath(p, location)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    parent = latest_version(location)
    # ONE parent-manifest read feeds files/stats/batch_ids (it was
    # parsed three times per commit — at tens of thousands of listed
    # files that tripled commit latency; code-review r8)
    parent_manifest = read_manifest(location, parent) if parent is not None else None
    files: list[str] = []
    if mode == "append" and parent_manifest is not None:
        files += parent_manifest["files"]
    files += new_files
    # per-file footer stats ride in the manifest (Iceberg's shape):
    # new files are stat'ed here (footer-only reads); inherited files
    # keep their existing entries — commit cost stays O(added files)
    stats: dict[str, dict] = {}
    if mode == "append" and parent_manifest is not None:
        stats.update(parent_manifest.get("stats", {}))
    for f in new_files:
        stats[f] = _file_stats(os.path.join(location, f))
    manifest = {
        "version": (parent + 1) if parent is not None else 0,
        "parent": parent,
        # `operation` is the HISTORY label (e.g. "optimize"); `mode`
        # stays the file-list semantic (append vs overwrite)
        "operation": operation or mode,
        "files": files,
        "stats": stats,
        "schema_ddl": df.schema.simpleString()[7:-1],  # struct<...> → ...
        "added_files": len(new_files),
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
    ids: set[int] = set()
    if parent_manifest is not None:
        # streamed-batch ids survive EVERY commit (incl. interleaved
        # DML): dropping them would let a checkpoint replay after a
        # mid-stream DELETE double-ingest a batch
        ids.update(parent_manifest.get("batch_ids", []))
    if batch_id is not None:
        ids.add(batch_id)
    if ids:
        manifest["batch_ids"] = sorted(ids)
    return _write_manifest(location, manifest)


def snapshot_read(
    spark: SparkSession,
    location: str,
    version: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read the table AS OF a version (None = latest). The scan plans
    from the manifest's explicit file list — no directory listing, and
    files from commits after `version` are invisible by construction."""
    v = latest_version(location) if version is None else version
    if v is None:
        if schema is None:
            raise ValueError(f"no snapshots at {location} and no schema given")
        return local_rows(spark, [], schema)
    m = read_manifest(location, v)
    if not m["files"]:
        return local_rows(spark, [], schema or m["schema_ddl"])
    paths = [os.path.join(location, f) for f in m["files"]]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def snapshot_rollback(location: str, to_version: int) -> int:
    """Restore the file list of `to_version` as a NEW version —
    time travel forward-written: nothing is deleted, the rollback is
    itself in the history and can be rolled back."""
    m = read_manifest(location, to_version)
    parent = latest_version(location)
    manifest = {
        "version": parent + 1,
        "parent": parent,
        "operation": f"rollback_to_v{to_version}",
        "files": m["files"],
        "stats": m.get("stats", {}),
        "schema_ddl": m["schema_ddl"],
        "added_files": 0,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
    head_ids = read_manifest(location, parent).get("batch_ids")
    if head_ids:
        manifest["batch_ids"] = head_ids  # replay safety (see snapshot_commit)
    return _write_manifest(location, manifest)


def snapshot_history(spark: SparkSession, location: str) -> DataFrame:
    """(version, parent, operation, n_files, added_files, committed_at)
    — one row per snapshot, the SHOW SNAPSHOTS surface."""
    rows = []
    d = os.path.join(location, _SNAPDIR)
    # enumerate the manifests that EXIST (vacuum retires the ones below
    # the keep window; range(latest+1) would raise on any vacuumed table)
    versions = sorted(
        int(os.path.basename(p)[1:-5]) for p in glob.glob(os.path.join(d, "v*.json"))
    )
    for i in versions:
        m = read_manifest(location, i)
        rows.append(
            (
                m["version"],
                m["parent"],
                m["operation"],
                len(m["files"]),
                m["added_files"],
                m["committed_at"],
            )
        )
    schema = (
        "version INT, parent INT, operation STRING, n_files INT,"
        " added_files INT, committed_at STRING"
    )
    return local_rows(spark, rows, schema)


def snapshot_vacuum(location: str, keep_last: int = 1) -> list[str]:
    """Delete data files referenced by NONE of the `keep_last` newest
    manifests, then drop the older manifests — the storage-reclaim
    pass. Time travel beyond keep_last is gone after this (that's the
    trade; production schedules it against the retention SLA). Pure
    metadata diff + unlinks; returns the deleted file list."""
    if keep_last < 1:
        # KEEP 0 would empty the keep-set and unlink the LIVE version's
        # data files — irrecoverable (code-review r8); the newest
        # manifest is never collectible
        raise ValueError(f"VACUUM keep_last must be >= 1, got {keep_last}")
    v = latest_version(location)
    if v is None:
        return []
    # intersect the numeric window with the manifests that EXIST — an
    # earlier tighter vacuum already deleted part of the range, and a
    # later vacuum with a larger keep_last must keep what's there
    # rather than raise on the gap (code-review r8)
    keep_versions = [
        k
        for k in range(max(0, v - keep_last + 1), v + 1)
        if os.path.exists(_manifest_path(location, k))
    ]
    keep: set[str] = set()
    for k in keep_versions:
        keep.update(read_manifest(location, k)["files"])
    deleted = []
    for p in glob.glob(os.path.join(location, "data", "*", "*.parquet")):
        rel = os.path.relpath(p, location)
        if rel not in keep:
            os.remove(p)
            deleted.append(rel)
    # drop empty commit dirs + retired manifests
    for d in glob.glob(os.path.join(location, "data", "*")):
        if os.path.isdir(d) and not os.listdir(d):
            shutil.rmtree(d)
    for i in range(keep_versions[0]):
        p = _manifest_path(location, i)
        if os.path.exists(p):
            os.remove(p)
    return sorted(deleted)


# --- Manifest file statistics + file skipping (r5, late) ------------------


def _file_stats(path: str) -> dict:
    """Per-column min/max/null_count from the parquet FOOTER (pyarrow
    metadata — no data pages read). Only scalar-typed columns with
    valid statistics participate; everything else is simply absent
    (absence = cannot prune on that column)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, list] = {}
    # a column is prunable ONLY if EVERY row group carries usable
    # stats for it: merging the subset that has them silently narrows
    # the file range and _prunable would skip files whose stat-less
    # row groups hold matching rows — silent wrong results
    # (code-review r8). Track completeness and drop partial columns.
    incomplete: set[str] = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None or not st.has_min_max:
                incomplete.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    incomplete.add(name)
                    continue
            if name in stats:
                cur = stats[name]
                cur[0], cur[1] = min(cur[0], mn), max(cur[1], mx)
            else:
                stats[name] = [mn, mx]
    return {
        k: {"min": v[0], "max": v[1]}
        for k, v in stats.items()
        if k not in incomplete
    }


def _prunable(stats: dict, predicates) -> bool:
    """True if the file can be SKIPPED: some predicate (col, op, val)
    is provably false over the file's [min, max]. Conservative — a
    column without stats never prunes."""
    for col, op, val in predicates:
        s = stats.get(col)
        if s is None:
            continue
        mn, mx = s["min"], s["max"]
        try:
            if (
                (op == "=" and (val < mn or val > mx))
                or (op == ">" and mx <= val)
                or (op == ">=" and mx < val)
                or (op == "<" and mn >= val)
                or (op == "<=" and mn > val)
            ):
                return True
        except TypeError:
            continue  # cross-type comparison: never prune
    return False


def snapshot_read_pruned(
    spark: SparkSession,
    location: str,
    predicates,
    version: int | None = None,
    schema: StructType | None = None,
) -> tuple[DataFrame, dict]:
    """Manifest-driven FILE SKIPPING: drop every file whose footer
    stats prove the conjunction of `predicates` [(col, op, literal)]
    matches nothing, then scan only the survivors (the predicate still
    applies in full — pruning is an optimization, never a filter).
    This is the table-format half of predicate pushdown: at 100 TB the
    planner eliminates files from the MANIFEST, before any task is
    scheduled or any footer re-read — the scan's file list is already
    minimal. Returns (df, {"kept": k, "pruned": p})."""
    from pyspark.sql import functions as F

    v = latest_version(location) if version is None else version
    if v is None:
        raise ValueError(f"no snapshots at {location}")
    m = read_manifest(location, v)
    kept, pruned = [], 0
    for f in m["files"]:
        st = m.get("stats", {}).get(f)
        if st is not None and _prunable(st, predicates):
            pruned += 1
        else:
            kept.append(os.path.join(location, f))
    if not kept:
        df = local_rows(spark, [], schema or m["schema_ddl"])
    else:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*kept)
    cond = None
    for col, op, val in predicates:
        c = {
            "=": F.col(col) == F.lit(val),
            ">": F.col(col) > F.lit(val),
            ">=": F.col(col) >= F.lit(val),
            "<": F.col(col) < F.lit(val),
            "<=": F.col(col) <= F.lit(val),
        }[op]
        cond = c if cond is None else (cond & c)
    return (df.filter(cond) if cond is not None else df), {
        "kept": len(kept),
        "pruned": pruned,
    }


# --- Streaming ingest (r5, late): exactly-once via batch-id commits -------


def snapshot_commit_batch(
    df: DataFrame, location: str, batch_id: int, mode: str = "append"
) -> int | None:
    """Idempotent commit for foreachBatch sinks: the manifest records
    the micro-batch id, and a commit whose batch_id already appears in
    the current history is SKIPPED (returns None). foreachBatch is
    at-least-once on restart — Structured Streaming may replay the
    last un-checkpointed batch — so idempotence here is what upgrades
    the pipeline to exactly-once: replaying batch k finds k in the
    manifest chain and lands nothing. The batch id rides INSIDE
    snapshot_commit's atomic temp+link manifest write (a post-commit
    rewrite would (a) leave a crash window between commit and stamp
    that replays the batch as a double-ingest and (b) tear the head
    manifest on a crash mid-rewrite). The check is one manifest read
    (the newest manifest carries the full id set)."""
    latest = latest_version(location)
    seen: set[int] = set()
    if latest is not None:
        seen = set(read_manifest(location, latest).get("batch_ids", []))
    if batch_id in seen:
        return None
    return snapshot_commit(df, location, mode, batch_id=batch_id)


def stream_into_snapshot(
    stream: DataFrame,
    location: str,
    checkpoint: str,
    available_now: bool = True,
):
    """writeStream → Snapshot table: each micro-batch becomes one
    snapshot version via the idempotent batch-id commit, so the sink
    is exactly-once end-to-end (checkpoint replays are no-ops) AND
    every micro-batch is time-travelable — a streaming table with
    full history, queryable mid-stream by any reader (snapshot
    isolation: a reader pinned to vN never sees a half-written batch
    because visibility is manifest membership). Returns the
    StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_commit_batch(batch_df, location, int(batch_id), "append")

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- Compaction + clustering (r6): OPTIMIZE [ZORDER BY] ------------------


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key over numeric columns as a pure Column
    expression: each column is affinely mapped onto a `bits`-bit grid
    using its CURRENT min/max (one tiny agg — 2*len(cols) scalars to
    the driver, like every Delta/Iceberg OPTIMIZE implementation),
    then the grid coordinates' bits are interleaved. Rows close in the
    key are close in EVERY clustered dimension, so files cut from a
    range-partition of the key get tight footer min/max on all of
    them — the property multi-dimensional file skipping needs (a sort
    by (a, b) gives tight ranges on `a` only).

    Per-column bits are clamped to `63 // len(cols)` so the interleaved
    key always fits signed int64 (the same clamp Delta's Z-cube applies)
    — with the default bits=16, 4+ columns would otherwise shift past
    bit 63 and flip the key's sign, breaking the range partitioning.
    An all-null / empty column contributes a constant 0 coordinate.

    Returns (key Column, stats row) — stats exposed for tests."""
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many ZORDER columns ({len(cols)}): need >=1 bit each")
    numeric = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")
    for c in cols:
        dt = dict(df.dtypes).get(c)
        if dt is None:
            raise ValueError(f"ZORDER column {c!r} not in schema")
        if not dt.startswith(numeric):
            # the affine grid map subtracts min from max driver-side; a
            # string/date column raised a raw TypeError deep inside
            # (code-review r8) — fail with the actual constraint
            raise ValueError(
                f"ZORDER column {c!r} has type {dt}; only numeric columns "
                "can be z-ordered (map dates/strings to numeric first)"
            )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    stats = df.agg(*aggs).collect()[0]
    key = F.lit(0).cast("long")
    n = len(cols)
    for ci, c in enumerate(cols):
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        if mn is None or mx is None:
            continue  # all-null/empty column: constant 0 coordinate
        span = (mx - mn) or 1
        # grid coordinate in [0, 2^bits)
        coord = F.least(
            F.lit((1 << bits) - 1),
            ((F.col(c) - F.lit(mn)).cast("double") * ((1 << bits) - 1) / span)
            .cast("long"),
        )
        coord = F.greatest(F.lit(0).cast("long"), coord)
        for b in range(bits):
            bit = F.shiftright(coord, b).bitwiseAND(F.lit(1).cast("long"))
            key = key + bit * F.lit(1 << (b * n + ci)).cast("long")
    return key, stats


def snapshot_optimize(
    spark: SparkSession,
    location: str,
    target_file_mb: int = 128,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
) -> int:
    """OPTIMIZE: rewrite the current version's files into ~target-size
    files as a NEW version with identical rows — the small-files
    compaction every streaming/batch-mixed table needs (a year of
    micro-batch commits leaves thousands of KB-scale files whose
    open/footer cost dominates the scan; at 100 TB the scan's task
    count is the file count). Optionally Z-ORDER the rewrite:
    range-partition + sort on the interleaved-bit key so every output
    file covers a tight box in all clustered dimensions, multiplying
    what manifest min/max skipping (snapshot_read_pruned) can prune
    for conjunctive box predicates.

    Forward-written like every other snapshot operation: the previous
    version (and time travel to it) is untouched until vacuum; a
    crash mid-rewrite leaves at worst orphan data files, never a torn
    table. Returns the committed version."""
    v = latest_version(location)
    if v is None:
        raise ValueError(
            f"OPTIMIZE: snapshot table at {location} has no commits yet"
        )
    m = read_manifest(location, v)
    df = snapshot_read(spark, location)
    total_bytes = sum(
        os.path.getsize(os.path.join(location, f)) for f in m["files"]
    )
    # explicit n_files overrides the byte-based sizing (operational
    # knob; also the only way to get >1 clustered file from a corpus
    # smaller than one target file)
    n_out = n_files or max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    if zorder_by:
        key, _ = zorder_key(df, zorder_by)
        out = (
            df.withColumn("_zkey", key)
            .repartitionByRange(n_out, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
        label = f"optimize_zorder({','.join(zorder_by)})"
    else:
        out = df.repartition(n_out)
        label = "optimize"
    return snapshot_commit(df=out, location=location, mode="overwrite", operation=label)
