"""Atomic transaction-log table format over plain parquet.

The reference keeps one parquet file per image and delegates table
semantics to the filesystem (export.py:377-422).  This module closes
that gap (README "Table format" design note) with a self-contained
Delta/Iceberg-style commit log — no external library — so table
mutations are **atomic**, readers get **snapshot isolation**
and **time travel**, and scans get **manifest-based file skipping**
instead of directory listing:

* ``_ome_log/{version:020d}.json`` — one JSON commit per version with
  ``add`` / ``remove`` file actions.  Commits are published with an
  atomic hard-link (``os.link`` fails with EEXIST if the version is
  taken), which is exactly optimistic concurrency control: two racing
  writers serialize, the loser raises :class:`ConcurrentCommit` and
  can retry on the new snapshot.  On an object store this maps to a
  conditional PUT (S3 ``If-None-Match``) or a commit service — the
  protocol is unchanged.
* Data files are immutable and uniquely named
  (``part-{version}-{seq}-{token}.parquet``); a "delete" is a log
  action, not an ``unlink``, so every historical snapshot stays
  readable until :func:`vacuum_table` reclaims unreferenced files.
* Each ``add`` carries row count, byte size, and per-column min/max /
  null-count harvested from the parquet **footer** (no data scan).
  :func:`read_table` prunes files against a predicate before Spark
  ever lists them — at 100 TB on object storage this manifest pruning
  is the single biggest scan-planning win (no O(files) LIST, no
  footer fetch for skipped files).
* Every ``CHECKPOINT_EVERY``-th commit also writes a checkpoint (the
  fully-replayed live-file set), so snapshot resolution reads one
  checkpoint + a bounded log suffix instead of replaying the whole
  history — commit count no longer degrades planning.

MERGE (:func:`upsert_table`) rewrites only the files that can hold an
update key — by key min/max range and, on bloomed tables, by Bloom
filter; untouched files are carried by reference.  That is the Delta
``MERGE INTO`` file-pruning shape: cost scales with the touched
fraction of the table, not table size.  MERGE, key deletes, id lookups
and index probes all ask :func:`_files_for_keys` which files can hold
a set of key values.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any, Callable, Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ome_arrow_spark.plans.tuning import (
    MAX_FANOUT_TASKS,
    TARGET_PARTITION_BYTES,
    files_for_bytes,
)

LOG_DIR = "_ome_log"
CHECKPOINT_EVERY = 10
# Columns of these Spark types get min/max stats in the manifest.
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType,
    T.BooleanType,
)


class ConcurrentCommit(RuntimeError):
    """Another writer committed this version first — reload and retry."""


class TableLogError(RuntimeError):
    pass


def retry_on_conflict(fn, attempts: int = 3):
    """Optimistic-concurrency retry loop: every write op re-resolves
    the snapshot on entry, so re-invoking it after a
    :class:`ConcurrentCommit` recomputes against the winner's state and
    claims the next version — e.g.
    ``retry_on_conflict(lambda: append_table(spark, df, t))``."""
    for i in range(attempts):
        try:
            return fn()
        except ConcurrentCommit:
            if i == attempts - 1:
                raise


# ---------------------------------------------------------------------------
# Commit protocol
# ---------------------------------------------------------------------------


def _log_path(table: str) -> str:
    return os.path.join(os.path.abspath(table), LOG_DIR)


def _version_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:020d}.json")


def _checkpoint_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:020d}.checkpoint.json")


def _list_versions(table: str) -> list[int]:
    log = _log_path(table)
    if not os.path.isdir(log):
        return []
    out = []
    for name in os.listdir(log):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            stem = name[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def current_version(table: str) -> int | None:
    versions = _list_versions(table)
    return versions[-1] if versions else None


class Committer:
    """Pluggable commit-file publish protocol.

    A table-log commit is ONE create-if-absent publish of the version
    file: exactly one of N racing writers may succeed, every loser must
    raise :class:`ConcurrentCommit`.  Everything above this seam
    (manifest pruning, MERGE, time travel, checkpoints) is
    storage-agnostic; only this primitive is storage-specific:

    * POSIX / HDFS / NFSv4: :class:`HardLinkCommitter` (default) —
      ``os.link`` is atomic create-if-absent.
    * S3 / GCS / ABFS: subclass with a real **conditional PUT**
      (S3 ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``,
      ABFS ``If-None-Match: *`` ETag precondition).
      :class:`ConditionalPutCommitter` is the local twin of that
      primitive (single ``O_CREAT|O_EXCL`` create of the final object,
      no temp name) so the protocol is exercised in its object-store
      shape in tests.
    * Stores with only last-writer-wins PUT: a write-then-read-back
      scheme can *detect* a lost race after the fact but cannot prevent
      a brief window where the loser's bytes are visible —
      :class:`tests.test_table_log_property.PlainPutCommitter` injects
      exactly that backend to prove the suite detects the broken
      protocol.  Production object-store deployments should use a
      conditional PUT or an external commit service, never plain PUT.
    """

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Publish ``data`` at ``path`` iff ``path`` does not exist;
        raise :class:`ConcurrentCommit` if it does."""
        raise NotImplementedError


class HardLinkCommitter(Committer):
    """Default POSIX committer: write+fsync a temp name, then hard-link
    to the final name.  ``os.link`` is atomic and fails with EEXIST
    when the version was taken by a racing writer."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentCommit(
                f"version file {os.path.basename(path)} already committed"
            ) from None
        finally:
            os.unlink(tmp)


class ConditionalPutCommitter(Committer):
    """Object-store-shaped committer: ONE conditional create of the
    final object, no temp name, no rename.  ``O_CREAT|O_EXCL`` is the
    POSIX twin of S3 ``PUT If-None-Match: *`` / GCS
    ``if-generation-match=0``; a real object-store subclass replaces
    the body with that HTTP call and the rest of the format is
    untouched.

    Local-emulation caveat: unlike a real object-store PUT (atomic
    whole-object) or the HardLinkCommitter (publishes fully-written
    bytes), create-exclusive-then-write briefly exposes an
    empty/partial version file to concurrent readers — ``_read_entry``
    absorbs that window by treating young undecodable version files as
    still-in-flight and retrying.  A writer that CRASHES between create
    and write leaves the slot poisoned; that failure mode cannot occur
    with the (default, production-local) HardLinkCommitter, and the
    object-store subclass inherits atomicity from the store."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            raise ConcurrentCommit(
                f"version file {os.path.basename(path)} already committed"
            ) from None
        with os.fdopen(fd, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())


_COMMITTER: Committer = HardLinkCommitter()


def set_committer(committer: Committer | None) -> Committer:
    """Install the commit publish protocol (None → POSIX default);
    returns the previous committer so tests can restore it."""
    global _COMMITTER
    prev = _COMMITTER
    _COMMITTER = committer if committer is not None else HardLinkCommitter()
    return prev


def _commit(table: str, version: int, entry: dict[str, Any]) -> None:
    log = _log_path(table)
    os.makedirs(log, exist_ok=True)
    entry.setdefault("ts", time.time())  # commit time: timestamp travel
    payload = json.dumps(entry, separators=(",", ":")).encode()
    _COMMITTER.put_if_absent(_version_file(table, version), payload)
    if version % CHECKPOINT_EVERY == 0 and version > 0:
        # Checkpoints are derived state: best-effort, never raced over
        # (a duplicate write produces identical content).
        snap = _resolve_snapshot(table, version, _replay=True)
        if snap.pop("pending_txn_versions", None):
            # a cross-table txn in range is still pending: its entries'
            # visibility may flip, so baking this resolution would be
            # wrong.  Defer — the next boundary after finalization
            # checkpoints normally.
            return
        with open(_checkpoint_file(table, version) + ".tmp", "w") as f:
            json.dump(snap, f, separators=(",", ":"))
        os.replace(
            _checkpoint_file(table, version) + ".tmp",
            _checkpoint_file(table, version),
        )


# How long a zero-length/undecodable version file is presumed to be a
# ConditionalPutCommitter write still in flight (created O_EXCL, payload
# not yet flushed) before _read_entry declares the slot corrupt.
_INFLIGHT_GRACE_S = 5.0


def _read_entry(table: str, version: int) -> dict[str, Any]:
    path = _version_file(table, version)
    deadline = time.time() + _INFLIGHT_GRACE_S
    while True:
        with open(path) as f:
            raw = f.read()
        if raw:
            try:
                return json.loads(raw)
            except ValueError:
                pass
        # Empty or truncated: a conditional-put writer may be between
        # create and write.  Age-gate on mtime so an old corrupt file
        # fails fast instead of sleeping the full grace window.
        try:
            age = time.time() - os.path.getmtime(path)
        except OSError:
            age = 0.0
        if age > _INFLIGHT_GRACE_S or time.time() > deadline:
            raise TableLogError(
                f"version file {os.path.basename(path)} of {table} is "
                "empty/undecodable past the in-flight grace window — "
                "likely a committer that crashed between create and "
                "write; restore it from a replica or remove the file "
                "to recommit the slot"
            )
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Cross-table transactions
# ---------------------------------------------------------------------------
# All-or-nothing commits across N log tables WITHOUT a central catalog,
# built from the same put_if_absent primitive as single-table commits.
# The shape (the use case is a table and its derived index staying
# snapshot-consistent):
#
#   1. every table except the first stages a PARTICIPANT entry at its
#      own next version, carrying ``txn = {id, coordinator,
#      coordinator_version}``;
#   2. the first table (the COORDINATOR) then commits normally — ONE
#      put_if_absent — with the same txn id in its entry.
#
# That single coordinator commit is the atomic visibility flip:
# a participant entry is EFFECTIVE iff the coordinator's version slot
# holds an entry with the matching txn id.  If the slot is empty the
# txn is PENDING (participant entries resolve to no-ops); once any
# OTHER entry takes the slot — a racing writer, or the abort helper —
# the txn is ABORTED permanently and deterministically.  There are no
# separate marker files and no mutable state: finalization is decided
# by whichever commit wins the coordinator slot.
#
# Consequences, by design:
# * resolution of a PENDING participant entry can change exactly once
#   (to committed or aborted) when the coordinator slot fills; time
#   travel / CDF over a still-pending range is therefore unstable
#   until finalization.  Checkpoints never bake pending entries —
#   _commit defers the checkpoint while any entry in range is pending.
# * coordinator slot contention aborts the txn (standard OCC) — the
#   committer retries with a fresh txn id and freshly staged
#   participant entries; the aborted slots stay as permanent no-ops.
# * vacuum retains files referenced by pending entries (it walks raw
#   log entries, not resolved snapshots), so a late commit never
#   resurrects deleted data files.

_TXN_OP = "txn_append"

# Catalog seam: participant entries reference their coordinator by the
# path that was current at commit time.  In a relocating deployment
# (table trees moved, mounted elsewhere, or addressed through a real
# catalog), install a resolver that maps that stored reference to the
# coordinator's CURRENT location; with no resolver the reference is
# used as a filesystem path directly (the single-host default).
_TABLE_RESOLVER: Any = None


def set_table_resolver(fn) -> Any:
    """Install ``fn(ref: str) -> str | None`` to translate stored
    coordinator references (e.g. old paths or catalog identifiers) to
    current table paths.  Returning ``None`` falls back to the stored
    reference verbatim.  Returns the previous resolver so tests can
    restore it."""
    global _TABLE_RESOLVER
    prev = _TABLE_RESOLVER
    _TABLE_RESOLVER = fn
    return prev


def _resolve_table_ref(ref: str) -> str:
    if _TABLE_RESOLVER is not None:
        p = _TABLE_RESOLVER(ref)
        if p:
            return p
    return ref


def _txn_state(txn: dict[str, Any], cache: dict | None = None) -> str:
    """'committed' | 'aborted' | 'pending' for a participant entry's
    transaction reference, resolved from the coordinator version slot
    (the stored coordinator reference goes through the catalog seam —
    :func:`set_table_resolver` — so relocated coordinators still
    finalize their participants)."""
    coord = _resolve_table_ref(txn["coordinator"])
    key = (coord, int(txn["coordinator_version"]))
    if cache is not None and key in cache:
        coord_entry = cache[key]
    else:
        try:
            coord_entry = _read_entry(coord,
                                      int(txn["coordinator_version"]))
        except FileNotFoundError:
            coord_entry = None
        if cache is not None:
            cache[key] = coord_entry
    if coord_entry is None:
        return "pending"
    if (coord_entry.get("txn") or {}).get("id") == txn["id"]:
        return "committed"
    return "aborted"


def _stage_participant(
    table: str, adds: list[dict[str, Any]], txn: dict[str, Any]
) -> int:
    """Publish a participant append entry at the table's next version
    (its own slot contention retries like a blind append — the txn
    reference is independent of the participant's version number)."""
    return _blind_append(
        table, adds, _TXN_OP, txn={**txn, "role": "participant"}
    )


def atomic_multi_append(
    spark: SparkSession,
    appends: Sequence[tuple[str, DataFrame]],
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> dict[str, int]:
    """All-or-nothing append across ``len(appends) >= 2`` log tables.
    Returns {table: committed version} ({} when a replay is skipped).
    Appends are blind (the new files never depend on the snapshot
    read), so retries re-reference the SAME data files at fresh
    versions — no rewrite under contention.  The first table
    coordinates (see section comment).

    ``txn_app``/``txn_batch`` give Delta's idempotent-writes contract
    for streaming foreachBatch sinks: the coordinator records
    ``txn.<app> = batch`` in its properties, and a replayed batch
    (restart after commit, before checkpoint advance) is detected
    there and skipped BEFORE any data file lands.  One check suffices
    for every table because visibility is atomic — the participants'
    entries flip with the same coordinator slot the property rides
    on."""
    if len(appends) < 2:
        raise TableLogError("atomic_multi_append needs >= 2 tables")
    appends = [(os.path.abspath(t), df) for t, df in appends]
    props = None
    if txn_app is not None:
        if txn_batch is None:
            raise TableLogError("txn_app requires txn_batch")
        props = {f"txn.{txn_app}": str(txn_batch)}
        if _replayed(_resolve_snapshot(appends[0][0]), props):
            return {}
    seen = set()
    for t, _ in appends:
        if t in seen:
            raise TableLogError(f"duplicate table in transaction: {t}")
        seen.add(t)
    # data files land once; only commit entries retry
    adds_by_table: dict[str, list[dict[str, Any]]] = {}
    for t, df in appends:
        snap = _resolve_snapshot(t)
        _check_schema(df.schema, snap, t)
        _enforce_constraints(df, snap, t)
        adds_by_table[t] = _write_data_files(
            df, t, snap["version"] + 1, _bloom_cols(snap)
        )
    coord = appends[0][0]
    for attempt in range(_COMMIT_ATTEMPTS):
        txn_id = uuid.uuid4().hex
        coord_snap = _resolve_snapshot(coord)
        txn_ref = {
            "id": txn_id,
            "coordinator": coord,
            "coordinator_version": coord_snap["version"] + 1,
        }
        staged = {
            t: _stage_participant(t, adds_by_table[t], txn_ref)
            for t, _ in appends[1:]
        }
        try:
            coord_version = _commit_files(
                coord, coord_snap, _TXN_OP, adds=adds_by_table[coord],
                txn={
                    "id": txn_id,
                    "role": "coordinator",
                    "participants": [[t, v] for t, v in staged.items()],
                },
                properties=props,
            )
            return {coord: coord_version, **staged}
        except ConcurrentCommit:
            # slot lost -> txn aborted (staged entries are now
            # permanent no-ops); retry with a fresh identity
            if attempt == _COMMIT_ATTEMPTS - 1:
                raise
    raise AssertionError("unreachable")


def finalize_stale_txns(table: str, max_age_s: float = 3600.0) -> int:
    """Maintenance: force a decision on transactions left pending by a
    crashed committer.  For each pending participant entry older than
    ``max_age_s``, try to take the coordinator slot with an explicit
    no-op abort entry — if a racing (slow) committer gets there first,
    the txn commits instead; either way it is finalized.  Returns the
    number of transactions finalized by this call."""
    now = time.time()
    cache: dict = {}
    done = 0
    for v in _list_versions(table):
        e = _read_entry(table, v)
        txn = e.get("txn")
        if not txn or txn.get("role") != "participant":
            continue
        if _txn_state(txn, cache) != "pending":
            continue
        ts = e.get("ts")
        if ts is None:
            # entries committed before the 'ts' field existed: fall
            # back to the version file's mtime (as version_at_timestamp
            # does) so they age out instead of pinning files forever
            try:
                ts = os.path.getmtime(_version_file(table, v))
            except OSError:
                ts = now
        age = now - float(ts)
        if age < max_age_s:
            continue
        cv = int(txn["coordinator_version"])
        coord = _resolve_table_ref(txn["coordinator"])
        try:
            _commit(
                coord,
                cv,
                {
                    "version": cv,
                    "operation": "txn_abort",
                    "actions": [],
                    "txn": {"id": f"abort-{uuid.uuid4().hex}",
                            "role": "abort"},
                },
            )
        except ConcurrentCommit:
            pass  # someone finalized it — equally done
        cache.pop((coord, cv), None)
        done += 1
    return done


# ---------------------------------------------------------------------------
# Deletion vectors
# ---------------------------------------------------------------------------
# A soft delete attaches a sidecar of deleted ROW POSITIONS to a data
# file instead of rewriting it: the commit re-adds the same path with a
# ``dv`` field (``{"path": sidecar, "cardinality": n}``), which
# replaces the prior add during snapshot resolution.  At 100 TB this
# is the difference between a point DELETE costing O(matched rows) of
# sidecar bytes and costing a rewrite of every touched 128 MB file
# (Delta Lake's deletion-vector feature has the same shape).  File
# stats stay valid for pruning — deleted rows can only make them
# conservative.  Readers drop DV positions with a broadcast anti-join
# on (file, row_index) against the (small, maintenance-bounded)
# position set; compaction rewrites DV'd files, materializing the
# deletes and clearing the vectors.

DV_DIR = "deletion_vectors"
_DV_MAGIC = b"OADV1\n"
# Above this many total deleted positions the read path decodes
# sidecars on the executors instead of the driver.
_DV_DRIVER_LOAD_CAP = 2_000_000


def _dv_encode(positions) -> bytes:
    """Sidecar bytes: magic, uint64 count, sorted uint64 positions
    (little-endian).  A production object-store format would use a
    roaring bitmap; the manifest contract (path + cardinality) is
    format-agnostic."""
    import numpy as np

    pos = np.unique(np.asarray(positions, dtype=np.uint64))
    return _DV_MAGIC + len(pos).to_bytes(8, "little") + pos.astype(
        "<u8"
    ).tobytes()


def _dv_decode(data: bytes):
    import numpy as np

    if data[: len(_DV_MAGIC)] != _DV_MAGIC:
        raise TableLogError("bad deletion-vector sidecar magic")
    n = int.from_bytes(data[len(_DV_MAGIC):len(_DV_MAGIC) + 8], "little")
    return np.frombuffer(data, dtype="<u8", offset=len(_DV_MAGIC) + 8,
                         count=n)


def _read_dv(table: str, rel_path: str):
    with open(os.path.join(table, rel_path), "rb") as f:
        return _dv_decode(f.read())


def _dv_rows(names: list[str], positions: list) -> pa.RecordBatch:
    """``(__dv_file, __dv_pos)`` rows of decoded deletion vectors: file
    ``names[i]`` once per position in ``positions[i]``."""
    import numpy as np

    file_of_row = np.repeat(np.arange(len(names)), [len(p) for p in positions])
    return pa.RecordBatch.from_pydict(
        {
            "__dv_file": pa.array(names, pa.string()).take(file_of_row),
            "__dv_pos": pa.array(np.concatenate(positions).astype(np.int64)),
        }
    )


def _scan(
    spark: SparkSession,
    table: str,
    files: dict[str, dict[str, Any]],
    paths: Sequence[str],
    schema: T.StructType,
) -> DataFrame:
    """DV-aware scan of ``paths`` (manifest-relative): files without a
    deletion vector are read as a plain pruned parquet scan; files
    WITH one are read carrying ``_metadata.(file_name, row_index)``
    and anti-joined against their deleted positions.  The DV side is
    broadcast — its volume is deletes-since-last-compaction, which the
    maintenance policy bounds (compaction always rewrites DV'd files,
    clearing the vectors)."""
    plain = [p for p in paths if not files.get(p, {}).get("dv")]
    dvd = [p for p in paths if files.get(p, {}).get("dv")]
    parts: list[DataFrame] = []
    if plain:
        parts.append(
            spark.read.schema(schema).parquet(
                *[os.path.join(table, p) for p in plain]
            )
        )
    if dvd:
        total_card = sum(
            files[p]["dv"].get("cardinality", 0) for p in dvd
        )
        small = total_card <= _DV_DRIVER_LOAD_CAP
        if small:
            rows = _dv_rows(
                [os.path.basename(p) for p in dvd],
                [_read_dv(table, files[p]["dv"]["path"]) for p in dvd],
            )
            dv_df = spark.createDataFrame(
                pa.Table.from_batches([rows]),
                "__dv_file string, __dv_pos long",
            )
        else:
            # large vectors: decode the sidecars ON the executors —
            # the driver never holds the position lists (manifest
            # cardinalities are known, so the split is free)
            abs_table = os.path.abspath(table)
            pairs = [
                (os.path.basename(p), files[p]["dv"]["path"]) for p in dvd
            ]

            def _decode_dv(batches):
                for batch in batches:
                    for fname, rel in zip(
                        batch.column("f").to_pylist(),
                        batch.column("rel").to_pylist(),
                    ):
                        yield _dv_rows([fname], [_read_dv(abs_table, rel)])

            dv_df = (
                spark.createDataFrame(pairs, "f string, rel string")
                .repartition(min(len(pairs), MAX_FANOUT_TASKS))
                .mapInArrow(_decode_dv, "__dv_file string, __dv_pos long")
            )
        # small vectors broadcast (the common case: deletes since the
        # last compaction); huge ones skip the hint so AQE can fall
        # back to a shuffled anti-join instead of OOMing the driver
        dv_side = F.broadcast(dv_df) if small else dv_df
        df = (
            spark.read.schema(schema)
            .parquet(*[os.path.join(table, p) for p in dvd])
            .withColumn("__dv_file", F.col("_metadata.file_name"))
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
            .join(dv_side, ["__dv_file", "__dv_pos"], "left_anti")
            .drop("__dv_file", "__dv_pos")
        )
        parts.append(df.select([f.name for f in schema.fields]))
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _resolve_snapshot(
    table: str, version: int | None = None, _replay: bool = False
) -> dict[str, Any]:
    """Live state at ``version`` (default: latest): schema JSON, table
    properties, and the live ``add`` actions keyed by relative path.
    Reads the newest checkpoint ≤ version and replays only the log
    suffix, so resolution cost is bounded by ``CHECKPOINT_EVERY``."""
    versions = _list_versions(table)
    if not versions:
        raise TableLogError(f"not a log table (no {LOG_DIR}): {table}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise TableLogError(f"version {version} does not exist in {table}")

    start = 0
    state: dict[str, Any] = {"schema": None, "properties": {}, "files": {}}
    if not _replay:
        for v in sorted(versions, reverse=True):
            if v <= version and os.path.exists(_checkpoint_file(table, v)):
                with open(_checkpoint_file(table, v)) as f:
                    state = json.load(f)
                start = v + 1
                break
    txn_cache: dict = {}
    pending: list[int] = []
    for v in versions:
        if v < start or v > version:
            continue
        entry = _read_entry(table, v)
        txn = entry.get("txn")
        if txn and txn.get("role") == "participant":
            # cross-table txn: effective iff the coordinator slot holds
            # the matching txn id (see the transactions section)
            st = _txn_state(txn, txn_cache)
            if st == "aborted":
                continue
            if st == "pending":
                pending.append(v)
                continue
        if entry.get("schema"):
            state["schema"] = entry["schema"]
        if entry.get("properties"):
            state["properties"].update(entry["properties"])
        for action in entry["actions"]:
            if "add" in action:
                state["files"][action["add"]["path"]] = action["add"]
            elif "remove" in action:
                state["files"].pop(action["remove"]["path"], None)
    state["version"] = version
    if pending:
        # surfaced so _commit defers checkpoints over unstable ranges;
        # never written to disk (checkpoints are skipped while set)
        state["pending_txn_versions"] = pending
    return state


def version_at_timestamp(table: str, ts: float) -> int:
    """Latest version whose commit time is ≤ ``ts`` — Delta's
    ``TIMESTAMP AS OF`` resolution rule.  Commits written before this
    field existed fall back to the version file's mtime."""
    best = None
    for v in _list_versions(table):
        e = _read_entry(table, v)
        cts = e.get("ts")
        if cts is None:
            try:
                cts = os.path.getmtime(_version_file(table, v))
            except OSError:
                continue
        if cts <= ts:
            best = v
    if best is None:
        raise TableLogError(
            f"no commit at or before timestamp {ts} in {table}"
        )
    return best


def table_history(table: str) -> list[dict[str, Any]]:
    """One row per commit: version, timestamp, operation, counts."""
    out = []
    for v in _list_versions(table):
        e = _read_entry(table, v)
        adds = sum(1 for a in e["actions"] if "add" in a)
        removes = sum(1 for a in e["actions"] if "remove" in a)
        out.append(
            {
                "version": v,
                "ts": e.get("ts"),
                "operation": e.get("operation", "unknown"),
                "added_files": adds,
                "removed_files": removes,
                "added_rows": sum(
                    a["add"].get("rows", 0) for a in e["actions"] if "add" in a
                ),
            }
        )
    return out


def table_properties(table: str) -> dict[str, str]:
    return dict(_resolve_snapshot(table)["properties"])


# ---------------------------------------------------------------------------
# Bloom filters (point-lookup file skipping)
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bits per file per column (1 KiB serialized)
_BLOOM_K = 6
BLOOM_PROP = "table.bloom.columns"


def _bloom_hashes(v: Any) -> tuple[int, int] | None:
    """Two stable 64-bit hashes (double hashing h1 + i*h2).  Python's
    ``hash()`` is per-process randomized for str, so never used."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, str, bytes)):
        return None
    if isinstance(v, int):
        x = v & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        y = (v & 0xFFFFFFFFFFFFFFFF) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
        y ^= y >> 29
        return x, y | 1
    data = v.encode() if isinstance(v, str) else v
    import hashlib

    d = hashlib.blake2b(data, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,
    )


def _build_bloom(values) -> str | None:
    """Values → base64 bitset, or None when any value is unhashable
    (absent bloom = conservative keep, never a wrong skip)."""
    import base64

    bits = bytearray(_BLOOM_M // 8)
    for v in values:
        hs = _bloom_hashes(v)
        if hs is None:
            if v is None:
                continue  # nulls never probed (stats carry null counts)
            return None
        h1, h2 = hs
        for i in range(_BLOOM_K):
            pos = (h1 + i * h2) % _BLOOM_M
            bits[pos >> 3] |= 1 << (pos & 7)
    return base64.b64encode(bytes(bits)).decode()


def _bloom_might_contain(bits: bytes, hs: tuple[int, int]) -> bool:
    """Probe a decoded bitset with a value's :func:`_bloom_hashes`."""
    h1, h2 = hs
    for i in range(_BLOOM_K):
        pos = (h1 + i * h2) % _BLOOM_M
        if not bits[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


# ---------------------------------------------------------------------------
# Data-file writing + footer stats
# ---------------------------------------------------------------------------


def _stats_columns(schema: T.StructType) -> list[str]:
    return [
        f.name for f in schema.fields if isinstance(f.dataType, _STATS_TYPES)
    ]


def _json_safe(v: Any, direction: int = 0) -> Any:
    """JSON-encodable stat value.  Dates/timestamps become ISO strings
    (lexicographic order == temporal order, so pruning literals are
    ISO strings too); decimals become floats widened OUTWARD by one
    ulp in ``direction`` (-1 for a min, +1 for a max) so the stored
    range remains a valid bound after rounding."""
    import datetime
    import decimal
    import math

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return math.nextafter(f, direction * math.inf) if direction else f
    if isinstance(v, bytes):
        return None  # binary min/max not useful for pruning
    return v


def _footer_stats(path: str, columns: Sequence[str]) -> dict[str, Any]:
    """Per-file stats from the parquet footer only — no data pages are
    read.  (On a cluster these would be harvested executor-side during
    the write and shipped back through the commit — the numbers are
    identical because they come from the same footers.)"""
    pf = pq.ParquetFile(path)
    md = pf.metadata
    names = {c: i for i, c in enumerate(pf.schema_arrow.names)}
    stats: dict[str, dict[str, Any]] = {}
    for col in columns:
        idx = names.get(col)
        if idx is None:
            continue
        mins, maxs, nulls = [], [], 0
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            try:
                if s is None or not s.has_min_max:
                    ok = False
                    break
                mins.append(s.min)
                maxs.append(s.max)
            except NotImplementedError:
                # pyarrow can't materialize min/max for some logical
                # types (e.g. certain decimals): degrade to statless —
                # the file is simply never pruned on this column
                ok = False
                break
            nulls += s.null_count or 0
        if ok and mins:
            stats[col] = {
                "min": _json_safe(min(mins), -1),
                "max": _json_safe(max(maxs), +1),
                "nulls": nulls,
            }
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "columns": stats,
    }


def _write_data_files(
    df: DataFrame,
    table: str,
    version: int,
    bloom_columns: Sequence[str] = (),
) -> list[dict[str, Any]]:
    """Write ``df`` as immutable uniquely-named parquet files inside
    the table directory and return their ``add`` actions.  The Spark
    job lands in a staging dir first; files are then renamed in (same
    filesystem, so renames are metadata-only).  A crash before commit
    leaves only unreferenced files, which vacuum reclaims — readers
    are never exposed to a partial write."""
    table = os.path.abspath(table)
    os.makedirs(table, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(table, f".staging-{token}")
    df.write.mode("overwrite").option("compression", "zstd").parquet(staging)
    cols = _stats_columns(df.schema)
    bc_present = [
        bc for bc in bloom_columns
        if bc in {f.name for f in df.schema.fields}
    ]
    try:
        parts = sorted(
            n for n in os.listdir(staging) if n.endswith(".parquet")
        )
        finals = []
        for i, name in enumerate(parts):
            final = f"part-{version:08d}-{i:05d}-{token}.parquet"
            os.rename(os.path.join(staging, name), os.path.join(table, final))
            finals.append(final)
        # Manifest stats: a footer read + (for bloom columns) a
        # one-column read per file.  Past a handful of files this is
        # driver-bound work, so fan it out as a Spark job over the file
        # list — the executors return only the small stat dicts
        # (exactly how a cluster harvests write-side stats; same bytes
        # either way because both paths read the same footers).
        if len(finals) > _DISTRIBUTED_STATS_THRESHOLD:
            sc = df.sparkSession.sparkContext
            adds = (
                sc.parallelize(finals, min(len(finals), MAX_FANOUT_TASKS))
                .map(
                    lambda fn, _t=table, _c=tuple(cols), _b=tuple(bc_present):
                        _file_add_action(_t, fn, _c, _b)
                )
                .collect()
            )
            adds.sort(key=lambda a: a["path"])
        else:
            adds = [
                _file_add_action(table, fn, tuple(cols), tuple(bc_present))
                for fn in finals
            ]
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # Spark writes one 0-row file for an empty frame.  It has no column
    # stats, so every later key pruner would keep and rewrite it: it is
    # deleted here, before any commit can reference it.
    for a in adds:
        if not a["rows"]:
            os.unlink(os.path.join(table, a["path"]))
    return [a for a in adds if a["rows"]]


_DISTRIBUTED_STATS_THRESHOLD = 32


def _file_add_action(
    table: str,
    final: str,
    cols: Sequence[str],
    bloom_columns: Sequence[str],
) -> dict[str, Any]:
    """One file's complete ``add`` action (footer stats + blooms) —
    pure function of the file, safe to evaluate on any executor."""
    full = os.path.join(table, final)
    add = {"path": final, **_footer_stats(full, list(cols))}
    blooms = {}
    for bc in bloom_columns:
        vals = pq.read_table(full, columns=[bc]).column(0).to_pylist()
        b = _build_bloom(vals)
        if b is not None:
            blooms[bc] = {"m": _BLOOM_M, "k": _BLOOM_K, "bits": b}
    if blooms:
        add["bloom"] = blooms
    return add


def _check_schema(
    got: T.StructType, snap: dict[str, Any], table: str
) -> None:
    want = T.StructType.fromJson(json.loads(snap["schema"]))
    if {(f.name, f.dataType.simpleString()) for f in want.fields} != {
        (f.name, f.dataType.simpleString()) for f in got.fields
    }:
        raise TableLogError(
            f"schema mismatch writing to {table}: table has "
            f"{want.simpleString()}, incoming rows have {got.simpleString()}"
        )


# ---------------------------------------------------------------------------
# Commit seam
# ---------------------------------------------------------------------------

# A blind append whose commit loses a version race re-commits the same
# files this many times before giving up.
_COMMIT_ATTEMPTS = 20

# The snapshot a table's version 0 is committed against.
_NO_TABLE: dict[str, Any] = {"version": -1, "properties": {}, "files": {}}


def _commit_files(
    table: str,
    snap: dict[str, Any],
    operation: str,
    rows: DataFrame | None = None,
    removes: Iterable[str] = (),
    adds: Iterable[dict[str, Any]] = (),
    **entry_fields: Any,
) -> int:
    """The one way written files become a commit.  ``rows`` are written
    with ``snap``'s Bloom columns as version ``snap["version"] + 1``;
    their ``add`` actions follow the already-built ``adds`` (re-added
    files, restored files) and precede a ``remove`` per path in
    ``removes``.  ``entry_fields`` (``schema``, ``properties``, ``txn``,
    ``stats``) go into the entry unless None.  Raises
    :class:`ConcurrentCommit` when the version is taken; the written
    files are then unreferenced and :func:`vacuum_table` reclaims
    them.  Returns the committed version."""
    version = snap["version"] + 1
    adds = list(adds)
    if rows is not None:
        adds += _write_data_files(rows, table, version, _bloom_cols(snap))
    entry = {
        "version": version,
        "operation": operation,
        "actions": [{"add": a} for a in adds]
        + [{"remove": {"path": p}} for p in removes],
        **{k: v for k, v in entry_fields.items() if v is not None},
    }
    _commit(table, version, entry)
    return version


def _replayed(snap: dict[str, Any], props: dict[str, str] | None) -> bool:
    """Whether a commit carrying ``props`` repeats a batch ``snap``
    already holds: its ``txn.<app>`` mark is not ahead of the table's
    (Delta's txnAppId/txnVersion idempotent-writes rule)."""
    for k, batch in (props or {}).items():
        prev = snap["properties"].get(k) if k.startswith("txn.") else None
        if prev is not None and int(prev) >= int(batch):
            return True
    return False


def _blind_append(
    table: str,
    adds: Iterable[dict[str, Any]] = (),
    operation: str = "append",
    snap: dict[str, Any] | None = None,
    schema: T.StructType | None = None,
    rows: DataFrame | None = None,
    **entry_fields: Any,
) -> int | None:
    """The one blind-append commit loop: commit ``adds`` (plus
    ``rows``, written once) at the head, and after a lost race re-read
    the head and re-commit the SAME files — an append never depends on
    the snapshot it was computed against, so a conflict costs no
    rewrite (Delta's blind-append rule).

    ``snap`` is the head to try first (default: read it).  Against
    every head: a replayed ``txn.<app>`` mark (:func:`_replayed`)
    returns None without committing; ``schema`` must match; ``rows``
    must satisfy the CHECK constraints, re-checked only when a
    concurrent commit changed the properties.  Without ``snap`` and
    with ``schema``, an absent table is created (version 0,
    ``create``).  ``operation="overwrite"`` also removes every live
    file.  Returns the committed version."""
    props = entry_fields.get("properties")
    adds, checked = list(adds), None
    for attempt in range(_COMMIT_ATTEMPTS):
        fields, op = dict(entry_fields), operation
        absent = snap is None and current_version(table) is None
        if absent and schema is not None:
            snap, op = _NO_TABLE, "create"
            fields.update(schema=schema.json(), properties=dict(props or {}))
        else:
            snap = snap or _resolve_snapshot(table)
            if _replayed(snap, props):
                return None
            if schema is not None:
                _check_schema(schema, snap, table)
            if rows is not None and snap["properties"] != checked:
                _enforce_constraints(rows, snap, table)
                checked = snap["properties"]
        if rows is not None and attempt == 0:
            adds += _write_data_files(
                rows, table, snap["version"] + 1, _bloom_cols(snap)
            )
        try:
            return _commit_files(
                table, snap, op, adds=adds,
                removes=list(snap["files"]) if op == "overwrite" else (),
                **fields,
            )
        except ConcurrentCommit:
            if attempt == _COMMIT_ATTEMPTS - 1:
                raise
            snap = None
    raise AssertionError("unreachable")


# ---------------------------------------------------------------------------
# Write operations
# ---------------------------------------------------------------------------


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    properties: dict[str, str] | None = None,
    overwrite: bool = False,
    bloom_columns: Sequence[str] | None = None,
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> int:
    """Commit version 0: data files + schema + table properties (the
    idiomatic carrier for the reference's ``ome.arrow.type/version``
    parquet key-value tags, export.py:405-414, at table scale).
    ``bloom_columns`` become a table property: every data file written
    by any later operation carries a per-file Bloom filter on them, so
    point lookups and MERGEs on high-cardinality keys skip files whose
    key RANGE overlaps but whose key SET provably misses — min/max
    stats alone cannot do that on uuid-like keys.

    ``txn_app``/``txn_batch`` record ``txn.<app> = batch`` in the v0
    properties — Delta's idempotent-writes contract applies to the
    INITIAL write too (txnAppId/txnVersion on the creating commit), so
    a streaming ``foreachBatch`` sink whose batch 0 creates the table
    can have a batch-0 replay (restart after commit, before checkpoint
    advance) detected and skipped by :func:`append_table`'s check."""
    if (txn_app is None) != (txn_batch is None):
        raise TableLogError("txn_app and txn_batch go together")
    if current_version(table) is not None:
        if not overwrite:
            raise TableLogError(f"table already exists: {table}")
        shutil.rmtree(table, ignore_errors=True)
    props = dict(properties or {})
    if txn_app is not None:
        props[f"txn.{txn_app}"] = str(txn_batch)
    if bloom_columns:
        props[BLOOM_PROP] = json.dumps(sorted(bloom_columns))
    return _commit_files(
        table, {**_NO_TABLE, "properties": props}, "create", df,
        schema=df.schema.json(), properties=props,
    )


def _bloom_cols(snap: dict[str, Any]) -> tuple[str, ...]:
    raw = snap.get("properties", {}).get(BLOOM_PROP)
    return tuple(json.loads(raw)) if raw else ()


def append_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> int:
    """Atomic append: new files + one commit; never rewrites data.

    Appends are READ-INDEPENDENT: the new files don't depend on the
    snapshot they were computed against, so a lost commit race is
    resolved by re-reading the head and re-committing the SAME file
    actions at the next version — no data rewrite, no starvation under
    contention (Delta's blind-append conflict rule).  Schema and
    constraints are re-validated against each fresh head in case a
    concurrent commit evolved them.

    ``txn_app``/``txn_batch`` give Delta's idempotent-writes contract
    (``txnAppId``/``txnVersion``) for streaming ``foreachBatch``
    sinks: the table records ``txn.<app> = batch`` in its properties
    inside the SAME commit as the data, so a replayed micro-batch
    (restart after commit, before checkpoint advance) is detected and
    skipped BEFORE any data file lands.  Returns the current version
    unchanged on a skipped replay.  This makes plain appends an
    exactly-once sink for append-only streams at O(new-data) cost —
    the MERGE (upsert) sink is only needed when arriving keys can
    COLLIDE with stored rows."""
    if (txn_app is None) != (txn_batch is None):
        raise TableLogError("txn_app and txn_batch go together")
    props = None if txn_app is None else {f"txn.{txn_app}": str(txn_batch)}
    version = _blind_append(
        table, snap=_resolve_snapshot(table), schema=df.schema, rows=df,
        properties=props,
    )
    # None: a replayed batch, skipped before any data file landed (or,
    # when a racing writer landed it first, leaving ours unreferenced)
    return current_version(table) if version is None else version


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    key: str,
    order_by: str | Sequence[str] | None = None,
    cluster_by: str | None = None,
) -> int:
    """MERGE by key with manifest pruning: only files that can hold an
    update key — by footer ``[min,max]`` range on ``key`` and, on
    bloomed tables, by Bloom filter (:func:`_files_for_key_set`) — are
    rewritten (kept-rows anti-join ∪ updates); every other file is
    carried by reference.  Over-selection is harmless (non-matching
    rows survive the anti-join); under-selection cannot happen because
    neither test has false negatives.  At most ``_DRIVER_KEY_CAP``
    update keys reach the driver.  Cost scales with the touched
    fraction of the table, not table size — the Delta ``MERGE INTO``
    shape (README design note, item 1).

    ``order_by`` makes the merge CONDITIONAL (Delta ``WHEN MATCHED AND
    s.ord > t.ord``): per key, the row with the greatest ``order_by``
    tuple wins, update rows beating existing rows on exact ties.  With
    it, out-of-order update batches (late CDC events, replayed
    micro-batches) converge to the same final state regardless of
    arrival order — the idempotence streaming ``foreachBatch`` sinks
    need.  The update batch must be key-unique either way.

    ``cluster_by`` overrides which column the REWRITTEN files are
    range-clustered on (default: the merge key).  Tables whose scan
    pruning rides a different column than the merge key — e.g. an IVF
    index merged by vector id but probed by centroid — keep their
    read-side clustering through maintenance."""
    snap = _resolve_snapshot(table)
    _check_schema(updates.schema, snap, table)
    _enforce_constraints(updates, snap, table)

    touched, has_keys = _files_for_key_set(spark, snap, key, updates)
    if not has_keys:
        return _commit_files(table, snap, "upsert")
    if touched:
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        existing = _scan(spark, table, snap["files"], touched, schema)
        if order_by is None:
            kept = existing.join(
                updates.select(F.col(key).alias("__uk")).distinct(),
                existing[key] == F.col("__uk"),
                "left_anti",
            )
            merged = kept.unionByName(updates)
        else:
            from pyspark.sql.window import Window

            ords = [order_by] if isinstance(order_by, str) else list(order_by)
            staged = existing.withColumn("__src", F.lit(0)).unionByName(
                updates.withColumn("__src", F.lit(1))
            )
            w = Window.partitionBy(key).orderBy(
                *[F.col(c).desc() for c in ords], F.col("__src").desc()
            )
            merged = (
                staged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )
    else:
        merged = updates
    # Rewrite range-clustered on the merge key: the touched files'
    # replacements keep tight key min/max (and Bloom) stats, so the
    # NEXT merge prunes as well as this one did — without this, every
    # upsert would progressively destroy the clustering that makes
    # manifest pruning work.  Sized to the churned bytes, ~128 MB per
    # output file.
    touched_bytes = sum(snap["files"][p].get("bytes", 0) for p in touched)
    n_out = files_for_bytes(touched_bytes)
    merged = merged.repartitionByRange(n_out, cluster_by or key)
    return _commit_files(table, snap, "upsert", merged, touched)


def delete_from_table(
    spark: SparkSession,
    table: str,
    predicate: str,
    prune_predicates: Iterable[tuple[str, str, Any]] | None = None,
    mode: str = "rewrite",
) -> int:
    """Delete rows matching a SQL ``predicate``.  When the caller also
    supplies the predicate's stats-checkable conjuncts as
    ``prune_predicates`` (same ``(col, op, literal)`` form as
    :func:`read_table`), files whose footer stats prove they contain
    NO matching row are carried by reference untouched; only the
    surviving candidates are touched.  Literal encoding follows
    :func:`read_table` (datetime or ISO string both accepted).

    A row is deleted only where ``predicate`` is TRUE; a NULL result
    keeps the row, as SQL ``DELETE … WHERE`` does, in both modes.
    ``mode="rewrite"`` (default) rewrites the touched files with every
    other row — the right move when the deleted fraction is large.
    ``mode="dv"`` writes DELETION VECTORS instead: each
    touched file gets a sidecar of deleted row positions and is
    re-added in place — a point delete then costs O(matched rows) of
    sidecar bytes, not a rewrite of every touched 128 MB file.  A file
    whose every row is deleted is removed outright (no sidecar).
    Sidecars are written executor-side (one task per touched file,
    merging any existing vector); only per-file (path, cardinality)
    rows reach the driver.  :func:`compact_table` rewrites DV'd files,
    materializing the deletes."""
    matched = _matches(predicate)
    return _delete_rows(
        spark, table, mode,
        lambda snap: _prune(snap["files"], prune_predicates),
        lambda df, keep: df.filter(~matched if keep else matched),
    )


def _matches(predicate: str) -> Column:
    """A SQL predicate as a row test that is TRUE or FALSE, never NULL:
    a row matches only when the predicate is TRUE (SQL ``DELETE …
    WHERE`` semantics), so a NULL result is no match."""
    return F.coalesce(F.expr(predicate), F.lit(False))


def _delete_rows(
    spark: SparkSession,
    table: str,
    mode: str,
    candidates: Callable[[dict[str, Any]], list[str]],
    select: Callable[[DataFrame, bool], DataFrame],
) -> int:
    """The one delete body.  ``candidates(snap)`` lists the live files
    that can hold a matched row; ``select(df, keep)`` returns the rows
    of ``df`` the delete matches (``keep=False``) or exactly the rest
    (``keep=True``).  ``mode="rewrite"`` rewrites the candidates'
    kept rows; ``mode="dv"`` writes deletion vectors for the matched
    physical positions (see :func:`_dv_delete_actions`)."""
    if mode not in ("rewrite", "dv"):
        raise TableLogError(f"delete mode must be 'rewrite' or 'dv': {mode!r}")
    snap = _resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    touched = candidates(snap)
    if not touched:
        return _commit_files(table, snap, "delete")
    if mode == "rewrite":
        existing = _scan(spark, table, snap["files"], touched, schema)
        return _commit_files(
            table, snap, "delete", select(existing, True), touched
        )
    raw = spark.read.schema(schema).parquet(
        *[os.path.join(table, p) for p in touched]
    ).select(
        "*",
        F.col("_metadata.file_name").alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    adds, removes = _dv_delete_actions(
        spark, table, snap, touched,
        select(raw, False).select("__dv_file", "__dv_pos"),
    )
    return _commit_files(table, snap, "delete", removes=removes, adds=adds)


def _dv_delete_actions(
    spark: SparkSession,
    table: str,
    snap: dict[str, Any],
    touched: list[str],
    matches: DataFrame,
) -> tuple[list[dict[str, Any]], list[str]]:
    """``(adds, removes)`` of a deletion-vector delete.  ``matches`` is a
    ``(__dv_file, __dv_pos)`` DataFrame of PHYSICAL row positions to
    delete (already-deleted rows may re-match; the position union
    dedups).  Writes one merged sidecar per file executor-side and
    re-adds each file in place with its new vector — or removes it
    when the vector covers every row."""
    version = snap["version"] + 1
    abs_table = os.path.abspath(table)
    os.makedirs(os.path.join(abs_table, DV_DIR), exist_ok=True)
    token = uuid.uuid4().hex[:12]
    existing_dv = {
        os.path.basename(p): snap["files"][p]["dv"]["path"]
        for p in touched
        if snap["files"][p].get("dv")
    }

    def _write_sidecars(key, rows):
        import hashlib

        import numpy as np

        fname = key[0].as_py()
        pos = rows.column("__dv_pos").to_numpy().astype(np.uint64)
        prior = existing_dv.get(fname)
        if prior is not None:
            pos = np.concatenate([pos, _read_dv(abs_table, prior)])
        data = _dv_encode(pos)
        card = int.from_bytes(data[len(_DV_MAGIC):len(_DV_MAGIC) + 8],
                              "little")
        digest = hashlib.md5(fname.encode()).hexdigest()[:12]
        rel = f"{DV_DIR}/dv-{version:08d}-{token}-{digest}.bin"
        with open(os.path.join(abs_table, rel), "wb") as f:
            f.write(data)
        return pa.table(
            {"file": [fname], "dv": [rel], "card": pa.array([card], pa.int64())}
        )

    written = (
        matches.groupBy("__dv_file")
        .applyInArrow(_write_sidecars, "file string, dv string, card long")
        .collect()
    )
    adds, removes = [], []
    for r in written:
        rows = snap["files"][r["file"]].get("rows")
        if rows is not None and r["card"] >= rows:
            removes.append(r["file"])
        else:
            adds.append({
                **snap["files"][r["file"]],
                "dv": {"path": r["dv"], "cardinality": r["card"]},
            })
    return adds, removes


def delete_keys_from_table(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key: str,
    mode: str = "rewrite",
) -> int:
    """Delete every row whose ``key`` appears in the (arbitrarily
    large) ``keys`` DataFrame — the driver-bounded twin of
    :func:`delete_from_table` for set-membership predicates.
    ``mode="dv"`` writes deletion vectors instead of rewriting the
    touched files (matched positions come from a LEFT SEMI join
    against the key set) — the shape of a GDPR-style point delete at
    100 TB: the cost is the matched rows' positions, not a rewrite of
    every file that contains one key.

    At most ``_DRIVER_KEY_CAP`` keys ever reach the driver:

    * file candidacy comes from :func:`_files_for_key_set` — a key set
      up to the cap is probed on the driver against each file's
      ``(min, max)`` stats range and Bloom filter; a larger one is
      joined against the manifest's ranges **distributively**, and only
      the O(touched-files) path list is collected,
    * the rewrite is a ``LEFT ANTI`` join of the touched files against
      the keys — no ``IN (...)`` literal list.

    Files that provably hold no key are carried by reference
    untouched, so cost still scales with the touched fraction.  (Files
    with no stats for ``key`` are conservatively rewritten.)"""
    kdf = keys.select(F.col(key).alias("_del_key")).distinct()
    return _delete_rows(
        spark, table, mode,
        lambda snap: _files_for_key_set(spark, snap, key, keys)[0],
        lambda df, keep: df.join(
            kdf, df[key] == kdf["_del_key"],
            "left_anti" if keep else "left_semi",
        ),
    )


def compact_table(
    spark: SparkSession,
    table: str,
    target_bytes: int = TARGET_PARTITION_BYTES,
    small_file_bytes: int | None = None,
) -> int:
    """Small-file compaction as a metadata swap: rewrite ONLY files
    under ``small_file_bytes`` (default: under ``target_bytes``, the
    Delta ``OPTIMIZE`` rule) into ~``target_bytes`` files; files
    already at target size are carried by reference — at 100 TB a
    compaction that rewrites the whole table would be the bug, not the
    maintenance.  Commit is remove(small)+add(new); readers on older
    snapshots are unaffected (old files stay until vacuum).  Returns
    the new version, or the current one unchanged when nothing
    qualifies."""
    snap = _resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    threshold = target_bytes if small_file_bytes is None else small_file_bytes
    # DV'd files always qualify: compaction is where deletion vectors
    # are materialized (rows dropped for real, sidecar retired).
    files = [
        p for p, a in snap["files"].items()
        if a.get("bytes", 0) < threshold or a.get("dv")
    ]
    if len(files) < 2 and not any(
        snap["files"][p].get("dv") for p in files
    ):  # nothing to gain from rewriting 0-1 DV-free files
        return snap["version"]
    total = sum(snap["files"][p].get("bytes", 0) for p in files)
    n = files_for_bytes(total, target_bytes)
    df = _scan(spark, table, snap["files"], files, schema)
    return _commit_files(table, snap, "compact", df.repartition(n), files)


def table_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots — Delta's
    ``table_changes`` semantics derived from the log's file-level
    deltas: rows present only in the newer snapshot are ``insert``,
    rows present only in the older one are ``delete`` (an update
    appears as its delete+insert pair).  Multiset semantics
    (``exceptAll``), so duplicate rows are counted, not collapsed.

    Scan cost note: both endpoint snapshots read only files that
    CHANGED between the versions — files carried by reference in both
    snapshots cancel out, so they are dropped from both sides before
    the exceptAll rather than scanned.  A file's identity here is
    (path, deletion-vector): a DV-only delete re-adds the same path
    with a new vector, so the file lands on BOTH sides — old live rows
    minus new live rows is exactly the newly-deleted set."""
    snap_new = _resolve_snapshot(table, to_version)
    snap_old = _resolve_snapshot(table, from_version)
    schema = T.StructType.fromJson(json.loads(snap_new["schema"]))
    only_new, only_old = _file_diff(snap_old["files"], snap_new["files"])
    cols = [f.name for f in schema.fields]

    def _read(paths, snap):
        if not paths:
            return spark.createDataFrame([], schema)
        s = T.StructType.fromJson(json.loads(snap["schema"]))
        df = _scan(spark, table, snap["files"], paths, s)
        # schema evolution: align older snapshots to the new schema
        for f in schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df.select(cols)

    new_rows = _read(only_new, snap_new)
    old_rows = _read(only_old, snap_old)
    inserts = new_rows.exceptAll(old_rows).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = old_rows.exceptAll(new_rows).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)


def table_changes_by_version(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Per-commit change feed — :func:`table_changes` with Delta's
    ``_commit_version`` attribution: one endpoint diff per consecutive
    version pair in ``(from_version, to_version]``, unioned.  Costs
    one changed-files diff per commit (each scans only that commit's
    churn), so a K-commit feed over an N-file table reads the K
    commits' touched files, never N."""
    versions = [
        v for v in _list_versions(table)
        if v >= from_version
        and (to_version is None or v <= to_version)
    ]
    if len(versions) < 2:
        snap = _resolve_snapshot(table, from_version)
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        empty = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    out = None
    for lo, hi in zip(versions, versions[1:]):
        part = table_changes(spark, table, lo, hi).withColumn(
            "_commit_version", F.lit(hi).cast("long")
        )
        out = part if out is None else out.unionByName(part)
    return out


def recluster_table(
    spark: SparkSession,
    table: str,
    by: str,
    n_files: int,
) -> int:
    """Full rewrite range-clustered on ``by`` into ``n_files``
    contiguous ranges — the maintenance move for tables whose READ
    pruning rides a clustering column that incremental MERGEs slowly
    fragment (inverted indexes, IVF lists).  One commit of
    remove-all + add-new; older snapshots stay readable until vacuum.
    Unlike :func:`compact_table` (which bin-packs small files with no
    ordering), this RESTORES per-file min/max tightness on ``by``."""
    snap = _resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    files = list(snap["files"])
    if not files:
        return snap["version"]
    df = _scan(spark, table, snap["files"], files, schema)
    return _commit_files(
        table, snap, "recluster", df.repartitionByRange(max(1, n_files), by),
        files,
    )


# ---------------------------------------------------------------------------
# Key-set file pruning
# ---------------------------------------------------------------------------

# Key sets up to this size are tested on the driver (range + Bloom per
# file); larger ones are matched against the file ranges by a
# distributed join and never reach the driver.
_DRIVER_KEY_CAP = 10_000


def _files_for_keys(
    files: dict[str, dict[str, Any]], col: str, values: Iterable[Any]
) -> list[str]:
    """Files that can hold a row whose ``col`` equals one of
    ``values``: a file is kept when some value lies inside its footer
    ``[min, max]`` range AND passes its Bloom filter.  Values are
    coerced through ``_json_safe``, the encoding the stats were stored
    with.  Missing stats or Bloom keep the file, and so does a value
    that cannot be ordered against the stats or hashed — a skip is
    always a proof."""
    import base64

    probes = [(v, _bloom_hashes(v)) for v in map(_json_safe, values)]
    out = []
    for path, add in files.items():
        st = add.get("columns", {}).get(col) or {}
        lo, hi = st.get("min"), st.get("max")
        bl = add.get("bloom", {}).get(col)
        bits = base64.b64decode(bl["bits"]) if bl is not None else None
        for v, hs in probes:
            if lo is not None and hi is not None:
                try:
                    if v < lo or v > hi:
                        continue
                except TypeError:
                    pass  # incomparable value/stat types: keep
            if bits is None or hs is None or _bloom_might_contain(bits, hs):
                out.append(path)
                break
    return out


def _files_for_key_set(
    spark: SparkSession, snap: dict[str, Any], key: str, keys: DataFrame
) -> tuple[list[str], bool]:
    """Live files of ``snap`` that can hold one of the non-null ``key``
    values of ``keys``, and whether ``keys`` has any such value.

    One probe fetches up to ``_DRIVER_KEY_CAP + 1`` keys.  Within the
    cap they go through :func:`_files_for_keys` (range + Bloom).  Past
    it the key set stays distributed: it is semi-joined against the
    broadcast per-file ``(min, max)`` ranges and only the matching
    paths are collected; files without stats are kept."""
    import datetime

    kcol = keys.select(F.col(key).alias("_k")).where(F.col("_k").isNotNull())
    probe = [r[0] for r in kcol.limit(_DRIVER_KEY_CAP + 1).collect()]
    if len(probe) <= _DRIVER_KEY_CAP:
        if isinstance(kcol.schema["_k"].dataType, T.TimestampType):
            # collected timestamps are naive local time; the footer
            # stats of a timestamp column are UTC-aware ISO strings
            probe = [v.astimezone(datetime.timezone.utc) for v in probe]
        return _files_for_keys(snap["files"], key, probe), bool(probe)
    ranged, touched = [], []
    for p, a in snap["files"].items():
        st = a.get("columns", {}).get(key)
        if st is not None and st["min"] is not None and st["max"] is not None:
            ranged.append((p, st["min"], st["max"]))
        else:
            touched.append(p)
    if ranged:
        key_dt = T.StructType.fromJson(json.loads(snap["schema"]))[key].dataType
        cmp_key = F.col("_k")
        if isinstance(key_dt, T.DecimalType):
            # decimal stats are floats widened outward by one ulp;
            # compare in double space (monotone rounding keeps the
            # bound conservative) instead of casting float→decimal.
            key_dt, cmp_key = T.DoubleType(), cmp_key.cast("double")
        # Ship the stats as strings and cast back: exact for numbers
        # (shortest round-trip repr) and for the ISO strings _json_safe
        # stores temporal stats as (ISO order == temporal order).
        ranges_df = spark.createDataFrame(
            [(p, str(lo), str(hi)) for p, lo, hi in ranged],
            "_path string, _lo string, _hi string",
        ).select(
            "_path",
            F.col("_lo").cast(key_dt).alias("_lo"),
            F.col("_hi").cast(key_dt).alias("_hi"),
        )
        touched += [
            r["_path"]
            for r in F.broadcast(ranges_df)
            .join(
                kcol.distinct(),
                (cmp_key >= F.col("_lo")) & (cmp_key <= F.col("_hi")),
                "left_semi",
            )
            .select("_path")
            .collect()
        ]
    return touched, True


# ---------------------------------------------------------------------------
# Read path
# ---------------------------------------------------------------------------

_OPS = ("<=", ">=", "=", "<", ">")


def _prune(
    files: dict[str, dict[str, Any]],
    predicates: Iterable[tuple[str, str, Any]] | None,
) -> list[str]:
    """Manifest file skipping: drop a file only when its footer stats
    PROVE no row can satisfy an AND-ed ``(column, op, literal)``
    conjunct; equality is :func:`_files_for_keys` (range + Bloom).
    Missing stats/bloom keep the file (conservative).

    Literals are coerced through the same ``_json_safe`` encoding the
    stats were stored with (date/datetime → ISO string), so callers
    may pass either a ``datetime`` object or its ISO string.  A
    literal that still cannot be ordered against a stored stat (e.g.
    int vs string-column stats) conservatively KEEPS the file rather
    than raising."""
    live = list(files)
    for col, op, lit in predicates or ():
        if op not in _OPS:
            raise TableLogError(f"unsupported prune op: {op}")
        if op == "=":
            live = _files_for_keys({p: files[p] for p in live}, col, [lit])
            continue
        lit = _json_safe(lit)
        out = []
        for path in live:
            st = files[path].get("columns", {}).get(col) or {}
            lo, hi = st.get("min"), st.get("max")
            try:
                if lo is not None and hi is not None and (
                    (op in ("<", "<=") and (lo > lit or (op == "<" and lo == lit)))
                    or (op in (">", ">=") and (hi < lit or (op == ">" and hi == lit)))
                ):
                    continue
            except TypeError:
                pass  # incomparable literal/stat types: keep the file
            out.append(path)
        live = out
    return live


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    predicates: Iterable[tuple[str, str, Any]] | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read (optionally time-traveled to ``version``, or to
    the latest commit at or before ``timestamp`` — Delta's
    ``TIMESTAMP AS OF``) with manifest pruning.  The returned plan scans ONLY the surviving
    files — Spark never lists the directory, so planning cost is
    O(log suffix), not O(files).  Each ``(column, op, literal)``
    predicate both PRUNES files via manifest stats/blooms and is
    applied as a row filter on the scan (where Catalyst additionally
    pushes it into parquet row-group pruning) — callers get complete
    predicate semantics from one argument.  Date/timestamp literals
    may be passed as ``datetime`` objects or ISO strings — pruning
    coerces them to the manifest's ISO encoding either way."""
    if timestamp is not None:
        if version is not None:
            raise TableLogError("pass version OR timestamp, not both")
        version = version_at_timestamp(table, timestamp)
    snap = _resolve_snapshot(table, version)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    preds = list(predicates) if predicates else []
    live = _prune(snap["files"], preds)
    df = _scan(spark, table, snap["files"], live, schema)
    _OP_FN = {
        "=": lambda c, v: c == v, "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v, ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }
    for col, op, lit in preds:
        df = df.filter(_OP_FN[op](F.col(col), F.lit(lit)))
    return df


def pruned_file_count(
    table: str,
    predicates: Iterable[tuple[str, str, Any]] | None = None,
    version: int | None = None,
) -> tuple[int, int]:
    """(surviving, total) live-file counts for a predicate — the
    observable for pruning tests and skew/cost reports."""
    snap = _resolve_snapshot(table, version)
    return len(_prune(snap["files"], predicates)), len(snap["files"])


CONSTRAINT_PROP_PREFIX = "table.constraint."


def set_table_properties(table: str, props: dict[str, str]) -> int:
    """Commit a metadata-only version merging ``props`` into the table
    properties (later commits win key-by-key, like Delta's ``ALTER
    TABLE SET TBLPROPERTIES``).  Data files are untouched."""
    return _commit_files(
        table, _resolve_snapshot(table), "set_properties",
        properties=dict(props),
    )


def add_table_constraint(
    spark: SparkSession, table: str, name: str, expr: str
) -> int:
    """Delta-style CHECK constraint: a SQL boolean expression every row
    of every FUTURE write must satisfy (existing rows are validated
    once, here and now).  Stored as a table property; enforced by
    :func:`_enforce_constraints` before any data lands, so a violating
    batch commits nothing."""
    snap = _resolve_snapshot(table)
    key = CONSTRAINT_PROP_PREFIX + name
    if key in snap["properties"]:
        raise TableLogError(f"constraint already exists: {name}")
    current = read_table(spark, table)
    bad = current.filter(f"NOT ({expr})").count()
    if bad:
        raise TableLogError(
            f"cannot add constraint {name!r}: {bad} existing rows violate ({expr})"
        )
    return _commit_files(
        table, snap, "add_constraint", properties={key: expr}
    )


def _enforce_constraints(df: DataFrame, snap: dict[str, Any], table: str) -> None:
    """One validation pass over the incoming batch BEFORE any file is
    written — a violation aborts with zero on-disk effects.  (The extra
    scan is the price of write-time guarantees; Delta pays the same.)"""
    checks = {
        k[len(CONSTRAINT_PROP_PREFIX):]: v
        for k, v in snap.get("properties", {}).items()
        if k.startswith(CONSTRAINT_PROP_PREFIX)
    }
    if not checks:
        return
    combined = " AND ".join(f"({v})" for v in checks.values())
    bad = df.filter(f"NOT ({combined})").count()
    if bad:
        raise TableLogError(
            f"write to {table} violates constraint(s) "
            f"{sorted(checks)}: {bad} row(s) rejected"
        )


def add_table_column(
    spark: SparkSession,
    table: str,
    name: str,
    ddl_type: str,
) -> int:
    """Metadata-only schema evolution: ADD COLUMN commits a new schema
    and touches ZERO data files.  Readers apply the snapshot schema to
    every live file; parquet files written before the evolution simply
    lack the column and Spark's schema-on-read fills it with null —
    so the commit is O(1) regardless of table size, exactly the
    Delta/Iceberg ``ALTER TABLE ADD COLUMN`` contract.  Writes after
    the evolution must carry the new column (schema check unchanged);
    time travel before it sees the old schema, because snapshot
    resolution replays schema updates in commit order."""
    snap = _resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    if name in schema.fieldNames():
        raise TableLogError(f"column already exists: {name}")
    new_schema = T.StructType(
        schema.fields + list(T.StructType.fromDDL(f"`{name}` {ddl_type}").fields)
    )
    return _commit_files(
        table, snap, "add_column", schema=new_schema.json()
    )


def optimize_table(
    spark: SparkSession,
    table: str,
    zorder_by: Sequence[str] | None = None,
    target_bytes: int = TARGET_PARTITION_BYTES,
    bits_per_col: int = 8,
) -> int:
    """Compaction with optional multi-column Z-ORDER clustering.

    Min/max file skipping only works on columns the file layout is
    sorted by; a table range-partitioned on ``a`` prunes nothing for a
    predicate on ``b``.  Z-ordering interleaves the bits of
    quantile-bucketed column ranks into one clustering key, so files
    end up tight on EVERY listed column at once and the same footer
    min/max stats prune multi-dimensionally — the Delta ``OPTIMIZE
    ZORDER BY`` shape.

    Scale notes: bucket boundaries come from ``approxQuantile`` (one
    pass, driver gets ``2^bits_per_col`` floats per column — never
    data); the z-value is a pure Catalyst bit-weave expression; the
    rewrite is one ``repartitionByRange`` shuffle on the z-value plus
    a within-partition sort.  No global single-partition window
    anywhere (``ntile`` over the whole table would be one).

    Without ``zorder_by`` this is :func:`compact_table`: files already
    at ``target_bytes`` are carried by reference."""
    if not zorder_by:
        return compact_table(spark, table, target_bytes=target_bytes)
    snap = _resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    numeric = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    for col in zorder_by:
        if col not in schema.fieldNames() or not isinstance(
            schema[col].dataType, numeric
        ):
            raise TableLogError(
                f"zorder_by column {col!r} must be a numeric table "
                "column (quantile bucketing); cluster strings via a "
                "numeric surrogate (e.g. xxhash64) or plain "
                "repartitionByRange before create"
            )
    files = list(snap["files"])
    df = _scan(spark, table, snap["files"], files, schema)
    total = sum(a.get("bytes", 0) for a in snap["files"].values())
    n = files_for_bytes(total, target_bytes)
    n_buckets = 1 << bits_per_col
    # quantile boundaries → equal-population buckets even on
    # skewed columns (plain min/max scaling would collapse); the
    # multi-column list form runs ONE Greenwald-Khanna job for all
    # zorder columns instead of one scan per column
    all_qs = df.stat.approxQuantile(
        list(zorder_by),
        [i / n_buckets for i in range(1, n_buckets)],
        0.001,
    )
    zcols = []
    for col, qs in zip(zorder_by, all_qs):
        bucket = F.lit(0)
        for b in qs:  # rank = #boundaries below the value
            bucket = bucket + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
        zcols.append(bucket.cast("long"))
    weave = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for ci, zc in enumerate(zcols):
            weave = weave.bitwiseOR(
                F.shiftleft(
                    F.shiftright(zc, bit).bitwiseAND(F.lit(1)),
                    bit * len(zcols) + ci,
                )
            )
    clustered = (
        df.withColumn("__z", weave)
        .repartitionByRange(max(n, 2), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return _commit_files(table, snap, "zorder", clustered, files)


# ---------------------------------------------------------------------------
# Incremental view maintenance
# ---------------------------------------------------------------------------


def version_delta_files(
    table: str, from_version: int, to_version: int
) -> tuple[list[str], list[str]]:
    """Net (added, removed) data files between the two snapshots.  A
    file both added and removed inside the range cancels to nothing; a
    removed file that predates the range lands in ``removed`` (it is
    still on disk until vacuum, which is exactly why vacuum retention
    must cover the refresh horizon).  File identity is (path,
    deletion-vector): a DV-only delete re-adds the same path with a
    new vector, so the file appears on BOTH sides — its new live rows
    count positive and its old live rows negative, netting to exactly
    the deleted rows."""
    versions = _list_versions(table)
    if from_version not in versions or to_version not in versions:
        raise TableLogError(
            f"delta range ({from_version}, {to_version}] not in log"
        )
    return _file_diff(
        _resolve_snapshot(table, from_version)["files"],
        _resolve_snapshot(table, to_version)["files"],
    )


def _file_diff(
    old: dict[str, dict[str, Any]], new: dict[str, dict[str, Any]]
) -> tuple[list[str], list[str]]:
    """``(added, removed)``: sorted paths whose file identity — (path,
    deletion-vector) — is in ``new`` but not ``old``, and in ``old``
    but not ``new``.  A file whose vector changed is on both sides."""
    def ident(files):
        return {(p, a.get("dv", {}).get("path")) for p, a in files.items()}

    o, n = ident(old), ident(new)
    return sorted(p for p, _ in n - o), sorted(p for p, _ in o - n)


def incremental_agg_delta(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int,
    group_cols: Sequence[str],
    sum_cols: dict[str, str],
    decimal_out: bool = False,
) -> DataFrame:
    """Delta of associative aggregates (COUNT + SUMs) between two
    snapshots, computed from CHANGED FILES ONLY: rows in net-added
    files count positive, rows in net-removed files negative.  Because
    every mutation is expressed as file adds/removes, ``old state +
    this delta == full recompute`` for ANY operation mix
    (append/upsert/delete/compact — compaction's adds and removes
    cancel row-for-row).  Refresh cost scales with the churned
    fraction of the table, not table size — the materialized-view
    maintenance story at 100 TB.  Returns one row per group:
    ``d_count`` plus ``d_<alias>`` per requested sum."""
    snap = _resolve_snapshot(table, to_version)
    snap_from = _resolve_snapshot(table, from_version)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    added, removed = version_delta_files(table, from_version, to_version)

    def _signed(paths: list[str], sign: int) -> DataFrame | None:
        if not paths:
            return None
        # positive side reads with the NEW snapshot's deletion vectors,
        # negative with the OLD — a DV-only delete thus nets to exactly
        # -1 × (newly deleted rows)
        files = (snap if sign > 0 else snap_from)["files"]
        df = _scan(spark, table, files, paths, schema)
        return df.withColumn("__sign", F.lit(sign))

    parts = [d for d in (_signed(added, 1), _signed(removed, -1)) if d is not None]
    if not parts:
        empty = T.StructType(
            [schema[c] for c in group_cols]
            + [T.StructField("d_count", T.LongType())]
            + [T.StructField(f"d_{a}", T.DoubleType()) for a in sum_cols]
        )
        return spark.createDataFrame([], empty)
    staged = parts[0]
    for p in parts[1:]:
        staged = staged.unionByName(p)
    def _out(c):  # decimal_out lets callers defer the double cast so
        return c if decimal_out else c.cast("double")  # state+delta adds stay exact

    aggs = [F.sum("__sign").cast("long").alias("d_count")] + [
        _out(F.sum(F.col(col).cast("decimal(30,6)") * F.col("__sign"))).alias(
            f"d_{alias}"
        )
        for alias, col in sum_cols.items()
    ]
    return staged.groupBy(*group_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# OME images on the log
# ---------------------------------------------------------------------------


def create_ome_table(
    spark: SparkSession,
    images: DataFrame,
    table: str,
    column: str = "ome_arrow",
    overwrite: bool = False,
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> int:
    """OME images table on the commit log.  The reference's
    ``ome.arrow.type``/``ome.arrow.version`` parquet file tags
    (export.py:405-414) ride as TABLE PROPERTIES — set once in the
    log, survive every rewrite, no per-file sidecar.  ``image_id`` is
    lifted to a top-level column so the manifest carries min/max id
    stats AND a per-file Bloom filter, so :func:`upsert_ome_table`
    merges and :func:`read_ome_table` point lookups touch only files
    that can actually contain the ids (id strings are
    high-cardinality, where range stats alone prune poorly)."""
    from ome_arrow_spark.meta import (
        META_KEY_TYPE,
        META_KEY_VERSION,
        OME_ARROW_TYPE,
        OME_ARROW_VERSION,
    )

    flat = images.select(
        F.col(f"{column}.id").alias("image_id"), F.col(column)
    )
    return create_table(
        spark,
        flat,
        table,
        properties={
            META_KEY_TYPE: OME_ARROW_TYPE,
            META_KEY_VERSION: OME_ARROW_VERSION,
        },
        overwrite=overwrite,
        bloom_columns=["image_id"],
        txn_app=txn_app,
        txn_batch=txn_batch,
    )


def upsert_ome_table(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    column: str = "ome_arrow",
) -> int:
    """MERGE OME images into a :func:`create_ome_table` table by image
    id: every image in ``updates`` replaces the stored image with the
    same id or is inserted, through :func:`upsert_table` keyed on the
    lifted ``image_id`` column.  Returns the committed version.

    ``updates`` is materialized once, eagerly (``localCheckpoint``),
    before the merge.  :func:`upsert_table` evaluates its updates
    twice (key probe, then rewrite), and for a streaming
    ``foreachBatch`` sink each evaluation would re-run the image
    decode plan; one eager local copy of a micro-batch — O(new data)
    by contract — is the source materialization a Delta MERGE
    performs too."""
    flat = updates.select(
        F.col(f"{column}.id").alias("image_id"), F.col(column)
    )
    return upsert_table(
        spark, flat.localCheckpoint(eager=True), table, key="image_id"
    )


def append_ome_table(
    spark: SparkSession,
    images: DataFrame,
    table: str,
    column: str = "ome_arrow",
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> int:
    """Append-only twin of :func:`upsert_ome_table` for acquisition
    streams whose image ids are NEW by construction (a microscope
    never re-drops a file): O(new-data) per micro-batch — no manifest
    prune, no anti-join rewrite — with exactly-once via the
    ``txn_app``/``txn_batch`` idempotent-writes contract instead of
    the merge key."""
    flat = images.select(
        F.col(f"{column}.id").alias("image_id"), F.col(column)
    )
    return append_table(
        spark, flat, table, txn_app=txn_app, txn_batch=txn_batch
    )


def read_ome_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    image_ids: Sequence[str] | None = None,
    column: str = "ome_arrow",
) -> DataFrame:
    """Snapshot read of the images table; an ``image_ids`` point-lookup
    list prunes files per id (range stats + Bloom filters, OR-ed
    across ids) before the scan — a k-image lookup on a million-image
    table reads k files, not the table.  An empty list reads nothing."""
    if image_ids is None:
        return read_table(spark, table, version=version).select(column)
    snap = _resolve_snapshot(table, version)
    live = _files_for_keys(snap["files"], "image_id", image_ids)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    df = _scan(spark, table, snap["files"], sorted(live), schema)
    return df.filter(F.col("image_id").isin(list(image_ids))).select(column)


def restore_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF``: commit a
    NEW version whose live file set (with deletion vectors), schema and
    properties equal the target snapshot's — a metadata-only roll-back
    that rewrites nothing and keeps the full history intact (the
    un-done versions stay time-travelable until vacuum).  Restoring to
    the current version is a no-op commit-free return."""
    if timestamp is not None:
        if version is not None:
            raise TableLogError("pass version OR timestamp, not both")
        version = version_at_timestamp(table, timestamp)
    if version is None:
        raise TableLogError("restore_table needs a version or timestamp")
    cur = _resolve_snapshot(table)
    if version == cur["version"]:
        return version
    target = _resolve_snapshot(table, version)
    # Check deletion-vector sidecars alongside data files: vacuum
    # retains only DVs referenced by the kept snapshots, so restoring
    # past it would otherwise commit a manifest whose _read_dv fails
    # on every read of the DV'd file.
    needed = list(target["files"]) + [
        a["dv"]["path"] for a in target["files"].values() if a.get("dv")
    ]
    missing = [
        p for p in needed if not os.path.exists(os.path.join(table, p))
    ]
    if missing:
        raise TableLogError(
            f"cannot restore {table} to v{version}: {len(missing)} "
            f"file(s) already vacuumed (e.g. {missing[0]})"
        )
    added, removed = _file_diff(cur["files"], target["files"])
    return _commit_files(
        table, cur, "restore",
        removes=[p for p in removed if p not in target["files"]],
        adds=[target["files"][p] for p in added],
        # properties merge key-by-key; explicit None would not delete,
        # so restore overwrites changed/added keys to the target values
        schema=target["schema"] if target["schema"] != cur["schema"] else None,
        properties=(target["properties"]
                    if target["properties"] != cur["properties"] else None),
    )


def sync_table(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    key: str,
    scope: str | None = None,
    prune_predicates: Iterable[tuple[str, str, Any]] | None = None,
) -> int:
    """Full three-clause MERGE — Delta\'s ``WHEN MATCHED UPDATE SET * /
    WHEN NOT MATCHED INSERT * / WHEN NOT MATCHED BY SOURCE DELETE``
    with every clause unconditional, i.e. SYNC: after the commit the
    table\'s content INSIDE ``scope`` is exactly ``source``; rows
    outside ``scope`` are untouched, and files whose footer stats
    prove them scope-free (via ``prune_predicates``) are carried by
    reference without a read.  With ``scope=None`` the whole table is
    the domain (a transactional overwrite).

    Because all three clauses are unconditional the rewrite is a
    wholesale replacement of the in-scope slice — no per-key
    reconciliation join is needed for the DATA; the ``key`` join runs
    only to report (updated, inserted, deleted) counts in the commit
    entry.  Source rows must satisfy ``scope`` (validated; one row
    outside would silently escape its own deletion domain on the next
    sync).  Cost scales with the scope\'s touched files, not table
    size — the same pruning contract as MERGE/DELETE."""
    snap = _resolve_snapshot(table)
    _check_schema(source.schema, snap, table)
    _enforce_constraints(source, snap, table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    cols = [f.name for f in schema.fields]
    if scope:
        bad = source.filter(~_matches(scope)).limit(1).count()
        if bad:
            raise TableLogError(
                f"sync_table: source rows violate scope {scope!r}"
            )
    touched = _prune(snap["files"], prune_predicates)
    existing = _scan(spark, table, snap["files"], touched, schema)
    in_scope = existing.filter(_matches(scope)) if scope else existing
    keep = existing.filter(~_matches(scope)) if scope else None
    src = source.select(cols)
    # commit-entry stats via the key join (metadata only)
    old_keys = in_scope.select(F.col(key).alias("__k")).distinct()
    new_keys = src.select(F.col(key).alias("__k")).distinct()
    n_upd = new_keys.join(old_keys, "__k").count()
    n_ins = new_keys.join(old_keys, "__k", "left_anti").count()
    n_del = old_keys.join(new_keys, "__k", "left_anti").count()
    new_content = keep.unionByName(src) if keep is not None else src
    return _commit_files(
        table, snap, "sync", new_content, touched,
        stats={"updated": n_upd, "inserted": n_ins, "deleted": n_del},
    )


def clone_table(
    spark: SparkSession,
    source: str,
    target: str,
    version: int | None = None,
    timestamp: float | None = None,
    shallow: bool = False,
) -> int:
    """Delta ``CREATE TABLE ... [SHALLOW|DEEP] CLONE src [VERSION AS
    OF v]``: commit the target's version 0 with the source snapshot's
    schema, properties, per-file stats and Blooms.

    DEEP (default) copies the data files into the clone — a fully
    independent table.  SHALLOW references the source's data files by
    ABSOLUTE path: zero data movement, instant, and copy-on-write —
    any later upsert/delete/compact on the clone writes NEW local
    files and merely drops the absolute references from its manifest,
    never touching the source.  Every path-resolving read goes through
    ``os.path.join(table, p)``, which passes absolute paths through
    unchanged, and vacuum only considers ``os.listdir`` names, so a
    clone's vacuum can never reclaim source data.  Deletion-vector
    sidecars are tiny and are copied locally in BOTH modes, so DV'd
    reads resolve inside the clone.

    The Delta caveat carries over: vacuuming the SOURCE reclaims files
    a shallow clone still references (reads then fail file-not-found);
    deep-clone or re-clone before vacuuming a shared source.  Cloning
    a shallow clone deep re-materializes the referenced bytes locally
    (absolute references are copied in under their base names)."""
    import copy as _copy

    if timestamp is not None:
        if version is not None:
            raise TableLogError("pass version OR timestamp, not both")
        version = version_at_timestamp(source, timestamp)
    if current_version(target) is not None:
        raise TableLogError(f"table already exists: {target}")
    snap = _resolve_snapshot(source, version)
    abs_src = os.path.abspath(source)
    abs_tgt = os.path.abspath(target)
    os.makedirs(abs_tgt, exist_ok=True)
    adds: list[dict[str, Any]] = []
    for rel, add in snap["files"].items():
        add = _copy.deepcopy(add)
        dv = add.get("dv")
        if dv:
            os.makedirs(os.path.join(abs_tgt, DV_DIR), exist_ok=True)
            shutil.copy2(
                os.path.join(abs_src, dv["path"]),
                os.path.join(abs_tgt, dv["path"]),
            )
        if shallow:
            add["path"] = os.path.join(abs_src, rel)
        else:
            local = os.path.basename(rel) if os.path.isabs(rel) else rel
            shutil.copy2(
                os.path.join(abs_src, rel), os.path.join(abs_tgt, local)
            )
            add["path"] = local
        adds.append(add)
    props = dict(snap["properties"])
    props.update(
        {
            "clone.source": abs_src,
            "clone.sourceVersion": str(snap["version"]),
            "clone.shallow": "true" if shallow else "false",
        }
    )
    return _commit_files(
        target, _NO_TABLE, "clone", adds=adds, schema=snap["schema"],
        properties=props,
    )


def vacuum_table(
    table: str,
    keep_versions: int = 1,
    dry_run: bool = False,
    retention_seconds: float = 3600.0,
) -> list[str]:
    """Reclaim data files referenced by NO retained snapshot (the last
    ``keep_versions`` versions stay readable; earlier time travel is
    given up).  Orphans from crashed pre-commit writes are removed by
    the same sweep.  ``dry_run=True`` only REPORTS what would go —
    nothing is touched.  Returns the (to-be-)deleted file names.

    ``retention_seconds`` guards the race Delta Lake's
    VACUUM retention check guards: a concurrent writer renames data
    files into the table dir BEFORE its commit lands, so an
    unreferenced file younger than the window may belong to an
    in-flight commit and is kept.  Pass ``0`` only when no concurrent
    writers exist (e.g. tests)."""
    table = os.path.abspath(table)
    versions = _list_versions(table)
    if not versions:
        raise TableLogError(f"not a log table: {table}")
    keep = versions[-max(1, keep_versions):]
    referenced: set[str] = set()
    referenced_dv: set[str] = set()
    for v in keep:
        snap_files = _resolve_snapshot(table, v)["files"]
        referenced.update(snap_files)
        referenced_dv.update(
            a["dv"]["path"] for a in snap_files.values() if a.get("dv")
        )
    # PENDING cross-table-txn entries resolve to no-ops today but may
    # commit later — their files must survive vacuum at ANY version
    # (resolution replays the whole log).  finalize_stale_txns bounds
    # how long this can hold files.
    txn_cache: dict = {}
    for v in versions:
        e = _read_entry(table, v)
        txn = e.get("txn")
        if (
            txn
            and txn.get("role") == "participant"
            and _txn_state(txn, txn_cache) == "pending"
        ):
            referenced.update(
                a["add"]["path"] for a in e["actions"] if "add" in a
            )
    cutoff = time.time() - max(0.0, retention_seconds)
    deleted = []
    for name in os.listdir(table):
        if name == LOG_DIR or name in referenced:
            continue
        full = os.path.join(table, name)
        try:
            if os.path.getmtime(full) > cutoff:
                continue  # possibly an in-flight writer's file — keep
        except OSError:
            continue  # raced a concurrent delete/rename — skip
        if name.startswith(".staging-"):
            if not dry_run:
                shutil.rmtree(full, ignore_errors=True)
            deleted.append(name)
        elif name.endswith(".parquet"):
            if not dry_run:
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    continue
            deleted.append(name)
    # deletion-vector sidecars referenced by no retained snapshot
    # (superseded vectors, vectors of removed files, crash orphans)
    dv_dir = os.path.join(table, DV_DIR)
    if os.path.isdir(dv_dir):
        for name in os.listdir(dv_dir):
            rel = f"{DV_DIR}/{name}"
            full = os.path.join(table, rel)
            if rel in referenced_dv:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight delete's sidecar
            except OSError:
                continue
            if not dry_run:
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    continue
            deleted.append(rel)
    return sorted(deleted)


def table_details(table: str) -> dict[str, Any]:
    """One-call observability: current version, live file count/bytes/
    rows, total versions, properties, constraint and bloom config —
    everything an operator dashboards about a table, from the manifest
    alone (no data scan)."""
    snap = _resolve_snapshot(table)
    files = snap["files"]
    props = snap["properties"]
    return {
        "version": snap["version"],
        "num_versions": len(_list_versions(table)),
        "num_files": len(files),
        "total_bytes": sum(a.get("bytes", 0) for a in files.values()),
        # live rows: physical row counts minus deletion-vector
        # cardinalities (a file's "rows" stat stays physical so the
        # full-file-deleted check and history stay meaningful)
        "total_rows": sum(
            a.get("rows", 0) - a.get("dv", {}).get("cardinality", 0)
            for a in files.values()
        ),
        "deleted_rows": sum(
            a.get("dv", {}).get("cardinality", 0) for a in files.values()
        ),
        "dv_files": sum(1 for a in files.values() if a.get("dv")),
        "properties": {
            k: v for k, v in props.items()
            if not k.startswith(CONSTRAINT_PROP_PREFIX) and k != BLOOM_PROP
        },
        "constraints": {
            k[len(CONSTRAINT_PROP_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(CONSTRAINT_PROP_PREFIX)
        },
        "bloom_columns": list(_bloom_cols(snap)),
        "stats_columns": sorted(
            {c for a in files.values() for c in a.get("columns", {})}
        ),
    }
