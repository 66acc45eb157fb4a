"""Cross-table transactions (table_log.atomic_multi_append): the
coordinator-slot protocol — all-or-nothing visibility, deterministic
abort on slot takeover, checkpoint deferral over pending ranges,
vacuum safety for pending files, stale-txn finalization."""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from ome_arrow_spark.sources import table_log as tl


def _mk(spark, tmp_path, name, n=10, offset=0):
    t = str(tmp_path / name)
    df = spark.range(offset, offset + n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tl.create_table(spark, df, t)
    return t


def _count(spark, t):
    return tl.read_table(spark, t).count()


def test_atomic_commit_lands_in_all_tables(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 105).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    versions = tl.atomic_multi_append(spark, [(ta, batch), (tb, batch)])
    assert set(versions) == {os.path.abspath(ta), os.path.abspath(tb)}
    assert _count(spark, ta) == 15 and _count(spark, tb) == 15
    # both entries carry the same txn id; roles are assigned correctly
    ea = tl._read_entry(ta, versions[os.path.abspath(ta)])
    eb = tl._read_entry(tb, versions[os.path.abspath(tb)])
    assert ea["txn"]["role"] == "coordinator"
    assert eb["txn"]["role"] == "participant"
    assert eb["txn"]["id"] == ea["txn"]["id"]


def _stage_only(spark, coord, part, batch):
    """Simulate a committer that crashed after staging the participant
    but before the coordinator commit."""
    adds = tl._write_data_files(
        batch, os.path.abspath(part),
        tl._resolve_snapshot(part)["version"] + 1, ()
    )
    cv = tl._resolve_snapshot(coord)["version"] + 1
    txn = {
        "id": uuid.uuid4().hex,
        "coordinator": os.path.abspath(coord),
        "coordinator_version": cv,
    }
    v = tl._stage_participant(os.path.abspath(part), adds, txn)
    return v, cv


def test_pending_txn_is_invisible_everywhere(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, _cv = _stage_only(spark, ta, tb, batch)
    # staged entry exists in b's log but resolves to a no-op
    assert v in tl._list_versions(tb)
    assert _count(spark, tb) == 10
    assert tl._resolve_snapshot(tb).get("pending_txn_versions") == [v]
    # history/CDF derived from snapshots see nothing
    ch = tl.table_changes(spark, tb, 0, v)
    assert ch.count() == 0


def test_slot_takeover_aborts_deterministically(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, _cv = _stage_only(spark, ta, tb, batch)
    # an unrelated commit takes the coordinator slot -> txn aborted
    other = spark.range(200, 201).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tl.append_table(spark, other, ta)
    assert _count(spark, tb) == 10  # still invisible, now permanently
    assert "pending_txn_versions" not in tl._resolve_snapshot(tb)
    # a real txn on the same tables still works afterwards
    tl.atomic_multi_append(spark, [(ta, other), (tb, other)])
    assert _count(spark, ta) == 12 and _count(spark, tb) == 11


@pytest.mark.heavy
def test_checkpoint_defers_while_pending_then_resumes(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(50, 53).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, cv = _stage_only(spark, ta, tb, batch)
    one = spark.range(300, 301).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # drive b to a checkpoint boundary while the txn is pending
    while tl.current_version(tb) % tl.CHECKPOINT_EVERY != 0:
        tl.append_table(spark, one, tb)
    bv = tl.current_version(tb)
    assert not os.path.exists(tl._checkpoint_file(tb, bv))
    # finalize (commit) the txn by writing the matching coordinator
    # entry, then the next boundary checkpoints normally
    txn_id = tl._read_entry(tb, v)["txn"]["id"]
    tl._commit(ta, cv, {
        "version": cv, "operation": "txn_append", "actions": [],
        "txn": {"id": txn_id, "role": "coordinator"},
    })
    assert _count(spark, tb) == 10 + 3 + (bv - v)
    tl.append_table(spark, one, tb)  # move off the skipped boundary
    while tl.current_version(tb) % tl.CHECKPOINT_EVERY != 0:
        tl.append_table(spark, one, tb)
    bv2 = tl.current_version(tb)
    assert os.path.exists(tl._checkpoint_file(tb, bv2))
    # checkpointed resolution == replay resolution
    snap_ck = tl._resolve_snapshot(tb)
    snap_rp = tl._resolve_snapshot(tb, _replay=True)
    assert snap_ck["files"].keys() == snap_rp["files"].keys()


def test_vacuum_keeps_pending_txn_files(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, cv = _stage_only(spark, ta, tb, batch)
    pending_files = {
        a["add"]["path"] for a in tl._read_entry(tb, v)["actions"]
    }
    gone = set(tl.vacuum_table(tb, keep_versions=1, retention_seconds=0))
    assert not (gone & pending_files)
    # late commit still lands intact
    txn_id = tl._read_entry(tb, v)["txn"]["id"]
    tl._commit(ta, cv, {
        "version": cv, "operation": "txn_append", "actions": [],
        "txn": {"id": txn_id, "role": "coordinator"},
    })
    assert _count(spark, tb) == 13


def test_finalize_stale_txns_aborts_old_pending(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, cv = _stage_only(spark, ta, tb, batch)
    # young txn: untouched
    assert tl.finalize_stale_txns(tb, max_age_s=3600) == 0
    # backdate the staged entry, then the reaper aborts it
    p = tl._version_file(tb, v)
    e = json.load(open(p))
    e["ts"] = time.time() - 7200
    os.chmod(p, 0o644)
    json.dump(e, open(p, "w"), separators=(",", ":"))
    assert tl.finalize_stale_txns(tb, max_age_s=3600) == 1
    assert _count(spark, tb) == 10
    assert tl._read_entry(ta, cv)["operation"] == "txn_abort"
    # abort is final: the crashed committer's late coordinator commit
    # now loses the slot race
    txn_id = tl._read_entry(tb, v)["txn"]["id"]
    with pytest.raises(tl.ConcurrentCommit):
        tl._commit(ta, cv, {
            "version": cv, "operation": "txn_append", "actions": [],
            "txn": {"id": txn_id, "role": "coordinator"},
        })


def test_txn_app_idempotent_replay_skipped(spark, tmp_path):
    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 105).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    got = tl.atomic_multi_append(
        spark, [(ta, batch), (tb, batch)], txn_app="app1", txn_batch=7
    )
    assert got and _count(spark, ta) == 15 and _count(spark, tb) == 15
    # replay of the same batch id: skipped before any files land
    assert tl.atomic_multi_append(
        spark, [(ta, batch), (tb, batch)], txn_app="app1", txn_batch=7
    ) == {}
    # an OLDER batch id is also a replay
    assert tl.atomic_multi_append(
        spark, [(ta, batch), (tb, batch)], txn_app="app1", txn_batch=3
    ) == {}
    assert _count(spark, ta) == 15 and _count(spark, tb) == 15
    # the next batch lands
    got = tl.atomic_multi_append(
        spark, [(ta, batch), (tb, batch)], txn_app="app1", txn_batch=8
    )
    assert got and _count(spark, ta) == 20 and _count(spark, tb) == 20


# ---- sync_table (WHEN NOT MATCHED BY SOURCE DELETE) ----------------------


@pytest.mark.heavy
def test_sync_table_three_clause_semantics(spark, tmp_path):
    tl_mod = tl
    t = str(tmp_path / "sync")
    base = spark.createDataFrame(
        [(1, "in", 10), (2, "in", 20), (3, "in", 30), (9, "out", 90)],
        "k long, zone string, v long",
    )
    tl_mod.create_table(spark, base, t)
    # source: k=1 updated, k=2 missing (-> deleted), k=4 new
    src = spark.createDataFrame(
        [(1, "in", 11), (4, "in", 40)], "k long, zone string, v long"
    )
    v = tl_mod.sync_table(spark, src, t, key="k", scope="zone = 'in'")
    rows = {
        r["k"]: (r["zone"], r["v"])
        for r in tl_mod.read_table(spark, t).collect()
    }
    assert rows == {1: ("in", 11), 4: ("in", 40), 9: ("out", 90)}
    e = tl_mod._read_entry(t, v)
    assert e["operation"] == "sync"
    assert e["stats"] == {"updated": 1, "inserted": 1, "deleted": 2}
    # old snapshot still time-travels
    old = {r["k"] for r in tl_mod.read_table(spark, t, version=0).collect()}
    assert old == {1, 2, 3, 9}


def test_sync_table_scope_violation_rejected(spark, tmp_path):
    t = str(tmp_path / "sync2")
    tl.create_table(
        spark,
        spark.createDataFrame([(1, "in", 10)], "k long, zone string, v long"),
        t,
    )
    src = spark.createDataFrame(
        [(2, "out", 20)], "k long, zone string, v long"
    )
    with pytest.raises(tl.TableLogError):
        tl.sync_table(spark, src, t, key="k", scope="zone = 'in'")


@pytest.mark.heavy
def test_sync_table_no_scope_is_transactional_overwrite(spark, tmp_path):
    t = str(tmp_path / "sync3")
    tl.create_table(
        spark,
        spark.createDataFrame(
            [(1, "a", 1), (2, "a", 2)], "k long, zone string, v long"
        ),
        t,
    )
    src = spark.createDataFrame([(7, "z", 7)], "k long, zone string, v long")
    tl.sync_table(spark, src, t, key="k")
    rows = [tuple(r) for r in tl.read_table(spark, t).collect()]
    assert rows == [(7, "z", 7)]


def test_coordinator_relocation_resolver(spark, tmp_path):
    """Catalog seam: participant entries store the coordinator path
    current AT COMMIT TIME; after the coordinator directory moves, an
    installed table resolver maps the stale reference to the new
    location and the txn still finalizes — a late coordinator commit
    at the NEW path flips the participant to visible, replay converges.
    Without a resolver the stored path is used verbatim (the
    single-host default)."""
    import shutil

    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(100, 103).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, cv = _stage_only(spark, ta, tb, batch)
    txn_id = tl._read_entry(tb, v)["txn"]["id"]
    old_path = os.path.abspath(ta)
    new_path = str(tmp_path / "a_moved")
    shutil.move(ta, new_path)
    prev = tl.set_table_resolver(
        lambda ref: new_path if ref == old_path else None
    )
    try:
        # still pending: the (relocated) coordinator slot is empty
        assert _count(spark, tb) == 10
        # the crashed committer's late coordinator commit lands at the
        # NEW location; the participant's stale reference resolves
        tl._commit(new_path, cv, {
            "version": cv, "operation": "txn_append", "actions": [],
            "txn": {"id": txn_id, "role": "coordinator"},
        })
        assert _count(spark, tb) == 13  # converged: replay sees committed
        # checkpoint-free replay from scratch agrees (fresh resolve)
        snap = tl._resolve_snapshot(tb, _replay=True)
        assert not snap.get("pending_txn_versions")
    finally:
        tl.set_table_resolver(prev)
    # default (no resolver): stored path is dangling -> pending again
    assert _count(spark, tb) == 10


def test_relocated_coordinator_stale_finalization(spark, tmp_path):
    """finalize_stale_txns writes its abort through the resolver too:
    a pending txn whose coordinator moved is aborted at the NEW path."""
    import shutil

    ta = _mk(spark, tmp_path, "a")
    tb = _mk(spark, tmp_path, "b")
    batch = spark.range(200, 202).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, cv = _stage_only(spark, ta, tb, batch)
    p = tl._version_file(tb, v)
    e = json.load(open(p))
    e["ts"] = time.time() - 7200
    json.dump(e, open(p, "w"), separators=(",", ":"))
    old_path = os.path.abspath(ta)
    new_path = str(tmp_path / "a_elsewhere")
    shutil.move(ta, new_path)
    prev = tl.set_table_resolver(
        lambda ref: new_path if ref == old_path else None
    )
    try:
        assert tl.finalize_stale_txns(tb, max_age_s=3600) == 1
        assert tl._read_entry(new_path, cv)["operation"] == "txn_abort"
        assert _count(spark, tb) == 10
    finally:
        tl.set_table_resolver(prev)
