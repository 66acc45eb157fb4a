"""Transaction-log table format (sources/table_log.py): atomic
commits, snapshot isolation + time travel, manifest file skipping,
MERGE pruning, compaction, vacuum, and the OME-table property carrier
(reference export.py:405-414 tags at table scale)."""

from __future__ import annotations

import base64
import json
import math
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark.sources import table_log as tl


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


@pytest.fixture(scope="module")
def ome_images_df(spark):
    from ome_arrow_spark import synth

    return synth.golden_images_df(
        spark, ids=["z-series", "single-channel", "multi-channel"]
    )


def _base(spark, n=1000):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("row-"), F.format_string("%06d", F.col("id"))).alias(
            "s"
        ),
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


class TestCommitProtocol:
    def test_create_read_roundtrip(self, spark, tdir):
        df = _base(spark).repartition(4)
        assert tl.create_table(spark, df, tdir) == 0
        assert _sorted(tl.read_table(spark, tdir)) == _sorted(df)
        assert tl.current_version(tdir) == 0

    def test_create_refuses_existing(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        with pytest.raises(tl.TableLogError, match="already exists"):
            tl.create_table(spark, _base(spark, 10), tdir)
        tl.create_table(spark, _base(spark, 5), tdir, overwrite=True)
        assert tl.read_table(spark, tdir).count() == 5

    def test_concurrent_commit_loses_cleanly(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        # Simulate a racing writer that claimed version 1 first.
        with open(tl._version_file(tdir, 1), "w") as f:
            json.dump({"version": 1, "operation": "append", "actions": []}, f)
        with pytest.raises(tl.ConcurrentCommit):
            tl._commit(tdir, 1, {"version": 1, "operation": "x", "actions": []})
        # The loser's temp file is cleaned up; log dir has no .tmp-*.
        assert not [
            n
            for n in os.listdir(tl._log_path(tdir))
            if n.startswith(".tmp-")
        ]

    def test_partial_write_invisible_to_readers(self, spark, tdir):
        """Files landed before a crash (no commit) are ignored by reads
        and reclaimed by vacuum."""
        tl.create_table(spark, _base(spark, 100), tdir)
        orphan = os.path.join(tdir, "part-99999999-00000-deadbeef.parquet")
        _base(spark, 7).coalesce(1).write.mode("overwrite").parquet(
            orphan + ".dir"
        )
        part = next(
            n for n in os.listdir(orphan + ".dir") if n.endswith(".parquet")
        )
        os.rename(os.path.join(orphan + ".dir", part), orphan)
        shutil.rmtree(orphan + ".dir")
        assert tl.read_table(spark, tdir).count() == 100
        deleted = tl.vacuum_table(tdir, retention_seconds=0)
        assert os.path.basename(orphan) in deleted
        assert tl.read_table(spark, tdir).count() == 100


class TestSnapshots:
    def test_append_and_time_travel(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100), tdir)
        tl.append_table(spark, _base(spark, 150).filter("k >= 100"), tdir)
        assert tl.read_table(spark, tdir, version=0).count() == 100
        assert tl.read_table(spark, tdir, version=1).count() == 150
        assert tl.read_table(spark, tdir).count() == 150

    def test_append_schema_enforced(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        bad = spark.range(5).select(F.col("id").alias("k"))
        with pytest.raises(tl.TableLogError, match="schema mismatch"):
            tl.append_table(spark, bad, tdir)

    def test_history(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100).coalesce(2), tdir)
        tl.append_table(spark, _base(spark, 110).filter("k >= 100").coalesce(1), tdir)
        hist = tl.table_history(tdir)
        assert [h["operation"] for h in hist] == ["create", "append"]
        assert hist[0]["added_files"] == 2
        assert hist[1]["added_rows"] == 10

    def test_checkpoint_resolution(self, spark, tdir):
        """Past CHECKPOINT_EVERY commits, snapshot resolution reads the
        checkpoint + suffix and still matches a full replay."""
        tl.create_table(spark, _base(spark, 20).coalesce(1), tdir)
        for i in range(12):
            tl.append_table(
                spark,
                spark.range(100 + i, 101 + i).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2).alias("v"),
                    F.lit(f"app-{i}").alias("s"),
                ).coalesce(1),
                tdir,
            )
        assert os.path.exists(tl._checkpoint_file(tdir, tl.CHECKPOINT_EVERY))
        fast = tl._resolve_snapshot(tdir)
        full = tl._resolve_snapshot(tdir, tl.current_version(tdir), _replay=True)
        assert fast["files"].keys() == full["files"].keys()
        assert tl.read_table(spark, tdir).count() == 32


class TestMerge:
    def test_upsert_values_and_inserts(self, spark, tdir):
        tl.create_table(spark, _base(spark, 1000).repartition(8), tdir)
        upd = spark.range(0, 30).union(spark.range(2000, 2010)).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit("upd").alias("s"),
        )
        tl.upsert_table(spark, upd, tdir, key="k")
        cur = tl.read_table(spark, tdir)
        assert cur.count() == 1010
        assert cur.filter("v = -1").count() == 40
        # untouched rows intact
        assert _sorted(cur.filter("k >= 30 AND k < 2000")) == _sorted(
            _base(spark, 1000).filter("k >= 30")
        )

    def test_upsert_prunes_disjoint_files(self, spark, tdir):
        """Range-partitioned files disjoint from the update key range
        are carried by reference, not rewritten."""
        base = _base(spark, 1000).repartitionByRange(10, "k")
        tl.create_table(spark, base, tdir)
        before = set(tl._resolve_snapshot(tdir)["files"])
        upd = spark.range(0, 5).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit("u").alias("s"),
        )
        tl.upsert_table(spark, upd, tdir, key="k")
        entry = tl._read_entry(tdir, 1)
        removed = {
            a["remove"]["path"] for a in entry["actions"] if "remove" in a
        }
        # only the file(s) covering k∈[0,5) were rewritten
        assert 1 <= len(removed) <= 2
        assert removed < before
        assert tl.read_table(spark, tdir).count() == 1000

    @pytest.mark.heavy
    def test_conditional_upsert_out_of_order(self, spark, tdir):
        """order_by merge: batches applied in ANY order converge to the
        per-key max-ordinal row (replayed/late CDC batches are safe)."""
        rows = [(k, ver, f"v{ver}-k{k}") for k in range(20) for ver in (1, 2, 3)]
        df = spark.createDataFrame(rows, "k long, ord long, s string")
        tl.create_table(spark, df.filter("ord = 2").select("k", "ord", "s"), tdir)
        # apply the NEWEST batch first, then an older one
        for ver in (3, 1):
            batch = df.filter(F.col("ord") == ver).select("k", "ord", "s")
            tl.upsert_table(spark, batch, tdir, key="k", order_by="ord")
        cur = tl.read_table(spark, tdir)
        assert cur.count() == 20
        assert cur.filter("ord = 3").count() == 20  # newest always wins

    def test_conditional_upsert_tie_prefers_update(self, spark, tdir):
        df = spark.createDataFrame(
            [(1, 5, "old")], "k long, ord long, s string"
        )
        tl.create_table(spark, df, tdir)
        upd = spark.createDataFrame(
            [(1, 5, "new")], "k long, ord long, s string"
        )
        tl.upsert_table(spark, upd, tdir, key="k", order_by="ord")
        assert tl.read_table(spark, tdir).collect()[0]["s"] == "new"

    def test_empty_update_batch(self, spark, tdir):
        tl.create_table(spark, _base(spark, 50), tdir)
        tl.upsert_table(
            spark, _base(spark, 50).filter("k < 0"), tdir, key="k"
        )
        assert tl.read_table(spark, tdir).count() == 50
        assert tl.table_history(tdir)[-1]["removed_files"] == 0

    def test_delete_with_pruning(self, spark, tdir):
        tl.create_table(
            spark, _base(spark, 1000).repartitionByRange(10, "k"), tdir
        )
        tl.delete_from_table(
            spark, tdir, "k >= 900", prune_predicates=[("k", ">=", 900)]
        )
        cur = tl.read_table(spark, tdir)
        assert cur.count() == 900
        assert cur.agg(F.max("k")).collect()[0][0] == 899
        entry = tl._read_entry(tdir, 1)
        removed = [a for a in entry["actions"] if "remove" in a]
        assert 1 <= len(removed) <= 2  # only the tail file(s) rewritten


class TestPruning:
    def test_stats_prune_matches_full_filter(self, spark, tdir):
        tl.create_table(
            spark, _base(spark, 1000).repartitionByRange(10, "k"), tdir
        )
        pruned = tl.read_table(
            spark, tdir, predicates=[("k", ">=", 250), ("k", "<", 400)]
        ).filter("k >= 250 AND k < 400")
        full = tl.read_table(spark, tdir).filter("k >= 250 AND k < 400")
        assert _sorted(pruned) == _sorted(full)
        surviving, total = tl.pruned_file_count(
            tdir, [("k", ">=", 250), ("k", "<", 400)]
        )
        assert total == 10 and surviving <= 3

    def test_string_stats_prune(self, spark, tdir):
        tl.create_table(
            spark, _base(spark, 1000).repartitionByRange(10, "s"), tdir
        )
        surviving, total = tl.pruned_file_count(
            tdir, [("s", "=", "row-000500")]
        )
        assert total == 10 and surviving == 1

    def test_boundary_ops_conservative(self, spark, tdir):
        tl.create_table(
            spark, _base(spark, 100).repartitionByRange(4, "k"), tdir
        )
        for op, lit, expect_rows in [
            ("<", 0, 0), ("<=", 0, 1), (">", 99, 0), (">=", 99, 1),
            ("=", 50, 1),
        ]:
            df = tl.read_table(spark, tdir, predicates=[("k", op, lit)])
            got = df.filter(f"k {'==' if op == '=' else op} {lit}").count()
            assert got == expect_rows, (op, lit)

    def test_scan_plan_reads_only_pruned_files(self, spark, tdir):
        """The physical scan's file list IS the pruned manifest — Spark
        never lists the directory, and skipped files never reach the
        executor (the object-store planning win at 100 TB)."""
        tl.create_table(
            spark, _base(spark, 1000).repartitionByRange(10, "k"), tdir
        )
        preds = [("k", "<", 100)]
        df = tl.read_table(spark, tdir, predicates=preds)
        surviving, total = tl.pruned_file_count(tdir, preds)
        assert len(df.inputFiles()) == surviving < total

    def test_missing_stats_keep_file(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10).coalesce(1), tdir)
        snap = tl._resolve_snapshot(tdir)
        # array columns / stats-less files must never be pruned away
        assert tl._prune(
            {"f": {"columns": {}}}, [("k", "=", 5)]
        ) == ["f"]
        assert len(tl._prune(snap["files"], [("missing_col", "=", 1)])) == 1


class TestSchemaEvolution:
    def test_add_column_metadata_only(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100).coalesce(2), tdir)
        files_before = set(tl._resolve_snapshot(tdir)["files"])
        tl.add_table_column(spark, tdir, "score", "double")
        # zero data files touched
        assert set(tl._resolve_snapshot(tdir)["files"]) == files_before
        cur = tl.read_table(spark, tdir)
        assert cur.schema["score"].dataType.simpleString() == "double"
        assert cur.filter("score IS NULL").count() == 100

    def test_writes_after_evolution_carry_column(self, spark, tdir):
        tl.create_table(spark, _base(spark, 50).coalesce(1), tdir)
        tl.add_table_column(spark, tdir, "score", "double")
        with pytest.raises(tl.TableLogError, match="schema mismatch"):
            tl.append_table(spark, _base(spark, 60).filter("k >= 50"), tdir)
        evolved = _base(spark, 60).filter("k >= 50").withColumn(
            "score", F.col("k") * 1.5
        )
        tl.append_table(spark, evolved, tdir)
        upd = _base(spark, 5).withColumn("score", F.lit(9.0))
        tl.upsert_table(spark, upd, tdir, key="k")
        cur = tl.read_table(spark, tdir)
        assert cur.count() == 60
        assert cur.filter("score = 9.0").count() == 5
        assert cur.filter("score IS NULL").count() == 45  # old rows

    def test_time_travel_sees_old_schema(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        tl.add_table_column(spark, tdir, "score", "double")
        v0 = tl.read_table(spark, tdir, version=0)
        assert "score" not in v0.columns
        assert "score" in tl.read_table(spark, tdir).columns

    def test_duplicate_column_rejected(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        with pytest.raises(tl.TableLogError, match="already exists"):
            tl.add_table_column(spark, tdir, "k", "long")


class TestConstraints:
    def test_violating_write_commits_nothing(self, spark, tdir):
        tl.create_table(spark, _base(spark, 20), tdir)
        tl.add_table_constraint(spark, tdir, "v_nonneg", "v >= 0")
        bad = spark.createDataFrame(
            [(100, -5, "x")], "k long, v long, s string"
        )
        files_before = set(tl._resolve_snapshot(tdir)["files"])
        with pytest.raises(tl.TableLogError, match="violates constraint"):
            tl.append_table(spark, bad, tdir)
        with pytest.raises(tl.TableLogError, match="violates constraint"):
            tl.upsert_table(spark, bad, tdir, key="k")
        # no version bump, no new files, table readable and unchanged
        assert tl.current_version(tdir) == 1
        assert set(tl._resolve_snapshot(tdir)["files"]) == files_before
        assert tl.read_table(spark, tdir).count() == 20

    def test_conforming_write_passes(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        tl.add_table_constraint(spark, tdir, "v_nonneg", "v >= 0")
        tl.add_table_constraint(spark, tdir, "s_prefix", "s LIKE 'row-%'")
        tl.append_table(spark, _base(spark, 15).filter("k >= 10"), tdir)
        assert tl.read_table(spark, tdir).count() == 15

    def test_add_rejects_when_existing_rows_violate(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        with pytest.raises(tl.TableLogError, match="existing rows violate"):
            tl.add_table_constraint(spark, tdir, "impossible", "k > 5")
        with pytest.raises(tl.TableLogError, match="already exists"):
            tl.add_table_constraint(spark, tdir, "ok", "k >= 0")
            tl.add_table_constraint(spark, tdir, "ok", "k >= 0")


class TestZOrder:
    @pytest.mark.heavy
    def test_zorder_enables_multicolumn_pruning(self, spark):
        """Laid out by `a` alone, predicates on `b` prune nothing;
        after OPTIMIZE ZORDER BY (a, b) the same footer stats prune
        BOTH dimensions, and the data is unchanged."""
        import tempfile

        tdir = tempfile.mkdtemp(prefix="zorder_") + "/t"
        # b is a decorrelated permutation of a (multiplicative shuffle)
        df = spark.range(0, 4096).select(
            F.col("id").alias("a"),
            ((F.col("id") * 1597) % 4096).alias("b"),
            (F.col("id") % 7).alias("payload"),
        )
        tl.create_table(spark, df.repartitionByRange(16, "a"), tdir)
        before = _sorted(tl.read_table(spark, tdir))
        b_pred = [("b", "<", 256)]
        surv_b0, total0 = tl.pruned_file_count(tdir, b_pred)
        assert surv_b0 == total0  # every file spans ~full b range
        # ~32 output files ≈ 5 z MSBs; a 1/16-selective predicate on
        # either column then fixes 2 of them → ~1/4 of files survive
        # (pruning power grows with file count on a Z-curve)
        live_bytes = sum(
            a["bytes"] for a in tl._resolve_snapshot(tdir)["files"].values()
        )
        tl.optimize_table(spark, tdir, zorder_by=["a", "b"],
                          target_bytes=max(1, live_bytes // 32))
        assert _sorted(tl.read_table(spark, tdir)) == before
        surv_a, total = tl.pruned_file_count(tdir, [("a", "<", 256)])
        surv_b, _ = tl.pruned_file_count(tdir, b_pred)
        assert total >= 24
        assert surv_a < total / 2 and surv_b < total / 2

    def test_zorder_rejects_non_numeric_column(self, spark, tdir):
        tl.create_table(spark, _base(spark, 50), tdir)
        with pytest.raises(tl.TableLogError, match="must be a numeric"):
            tl.optimize_table(spark, tdir, zorder_by=["s"])
        with pytest.raises(tl.TableLogError, match="must be a numeric"):
            tl.optimize_table(spark, tdir, zorder_by=["missing"])

    def test_optimize_without_zorder_is_compact(self, spark, tdir):
        tl.create_table(spark, _base(spark, 200).repartition(8), tdir)
        tl.optimize_table(spark, tdir)
        assert tl.table_history(tdir)[-1]["operation"] == "compact"
        assert tl.read_table(spark, tdir).count() == 200

    def test_optimize_without_zorder_carries_at_target_files(
        self, spark, tdir
    ):
        """No-zorder OPTIMIZE is the compaction policy: a file already
        at target size is carried by reference, only the small files
        are rewritten."""
        tl.create_table(spark, _base(spark, 2000).coalesce(1), tdir)
        (big,) = tl._resolve_snapshot(tdir)["files"].items()
        for lo in (2000, 2010, 2020):
            tl.append_table(
                spark,
                spark.range(lo, lo + 10).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2).alias("v"),
                    F.lit("x").alias("s"),
                ),
                tdir,
            )
        small = set(tl._resolve_snapshot(tdir)["files"]) - {big[0]}
        tl.optimize_table(spark, tdir, target_bytes=big[1]["bytes"])
        after = tl._resolve_snapshot(tdir)["files"]
        assert after[big[0]] == big[1]
        assert not small & set(after)
        removed = {
            a["remove"]["path"]
            for a in tl._read_entry(tdir, tl.current_version(tdir))["actions"]
            if "remove" in a
        }
        assert removed == small
        assert tl.read_table(spark, tdir).count() == 2030


class TestBloom:
    def test_bloom_prunes_absent_point_lookup(self, spark, tdir):
        """String keys with interleaved ranges: min/max overlap keeps
        every file, the bloom rejects the ones without the key."""
        df = spark.range(0, 2000).select(
            F.concat(F.lit("doc-"), F.format_string("%05d", F.col("id"))).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        tl.create_table(
            spark,
            df.repartition(8),  # round-robin → all ranges overlap
            tdir,
            bloom_columns=["k"],
        )
        present = "doc-00042"
        absent = "doc-99999"
        surv_p, total = tl.pruned_file_count(tdir, [("k", "=", present)])
        surv_a, _ = tl.pruned_file_count(tdir, [("k", "=", absent)])
        assert total == 8
        assert surv_a == 0  # bloom proves absence everywhere
        assert 1 <= surv_p <= 2  # the owning file (+ rare fp)
        got = tl.read_table(
            spark, tdir, predicates=[("k", "=", present)]
        ).filter(F.col("k") == present)
        assert got.count() == 1

    def test_bloom_survives_rewrites(self, spark, tdir):
        tl.create_table(
            spark,
            _base(spark, 500).repartition(4),
            tdir,
            bloom_columns=["k", "s"],
        )
        tl.upsert_table(
            spark,
            _base(spark, 500).filter("k < 10"),
            tdir,
            key="k",
        )
        snap = tl._resolve_snapshot(tdir)
        assert all("bloom" in a and set(a["bloom"]) == {"k", "s"}
                   for a in snap["files"].values())

    def test_bloom_merge_skips_disjoint_keysets(self, spark, tdir):
        """Files whose id RANGE overlaps the batch but whose id SET is
        disjoint are carried, not rewritten (uuid-key MERGE shape)."""
        evens = spark.range(0, 1000).select(
            (F.col("id") * 2).alias("k"), F.col("id").alias("v"),
            F.lit("x").alias("s"),
        )
        tl.create_table(spark, evens.repartition(6), tdir,
                        bloom_columns=["k"])
        odd_updates = spark.range(0, 50).select(
            (F.col("id") * 2 + 1).alias("k"),
            F.lit(-1).cast("long").alias("v"), F.lit("u").alias("s"),
        )
        tl.upsert_table(spark, odd_updates, tdir, key="k")
        hist = tl.table_history(tdir)[-1]
        assert hist["removed_files"] == 0  # every even-only file carried
        assert tl.read_table(spark, tdir).count() == 1050

    def test_bloom_hash_stability(self):
        """Serialized blooms must be probe-able by any later process —
        pin the hash functions with golden positions."""
        h1, h2 = tl._bloom_hashes(12345)
        assert (h1, h2) == (17540659726606785873, 11613906227481706999)
        h1s, h2s = tl._bloom_hashes("doc-00042")
        assert (h1s, h2s) == (16226788219323896761, 17343288595532086069)
        b = tl._build_bloom([1, "two", b"three"])
        assert b is not None
        bits = base64.b64decode(b)
        for v in (1, "two", b"three"):
            assert tl._bloom_might_contain(bits, tl._bloom_hashes(v))
        assert not tl._bloom_might_contain(bits, tl._bloom_hashes(999999))


def _files_holding(spark, table, key, keys):
    """Manifest paths of the live files that really hold a key."""
    snap = tl._resolve_snapshot(table)
    return {
        r[0]
        for r in spark.read.parquet(
            *[os.path.join(table, p) for p in snap["files"]]
        )
        .select(key, F.col("_metadata.file_name").alias("f"))
        .join(keys.select(key), key, "left_semi")
        .select("f")
        .distinct()
        .collect()
    }


def _removed_files(table):
    entry = tl._read_entry(table, tl.current_version(table))
    return {a["remove"]["path"] for a in entry["actions"] if "remove" in a}


class TestKeySetPruner:
    """One key-set file test (range + Bloom) behind MERGE, key deletes,
    id lookups and index probes."""

    def _case(self, spark, tdir, kind):
        """Create a 4-file table keyed on ``k`` of type ``kind`` and
        return a key set for it; the date, timestamp and decimal
        inputs follow TestTemporalKeyDelete."""
        day0 = F.lit("2024-01-01").cast("date")
        ts0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
        cols = {
            "int": (F.col("id") * 3).alias("k"),
            "string": F.md5(F.col("id").cast("string")).alias("k"),
            "date": F.date_add(day0, F.col("id").cast("int")).alias("k"),
            "timestamp": (
                ts0 + F.make_interval(hours=F.col("id").cast("int"))
            ).alias("k"),
            "decimal": (F.col("id").cast("decimal(10,2)") / 4).alias("k"),
        }
        df = spark.range(0, 120).select(cols[kind], F.col("id").alias("v"))
        if kind == "string":  # round-robin: every file spans the key space
            tl.create_table(spark, df.repartition(4), tdir, bloom_columns=["k"])
        else:
            tl.create_table(spark, df.repartitionByRange(4, "k"), tdir)
        if kind == "decimal":  # pyarrow keeps no decimal footer stats
            p = tl._version_file(tdir, 0)
            entry = json.load(open(p))
            for a in entry["actions"]:
                vals = pq.read_table(
                    os.path.join(tdir, a["add"]["path"]), columns=["k"]
                )["k"].to_pylist()
                a["add"]["columns"]["k"] = {
                    "min": math.nextafter(float(min(vals)), -math.inf),
                    "max": math.nextafter(float(max(vals)), math.inf),
                    "nulls": 0,
                }
            json.dump(entry, open(p, "w"), separators=(",", ":"))
        assert all(
            "k" in a["columns"]
            for a in tl._resolve_snapshot(tdir)["files"].values()
        )
        # the first file's min key, a key in the last file, and (int
        # only) an absent value and a null
        keys = df.filter("v IN (0, 110)").select("k")
        if kind == "int":
            keys = keys.union(
                spark.createDataFrame([(1,), (None,)], "k long")
            )
        return keys

    @pytest.mark.parametrize(
        "kind", ["int", "string", "date", "timestamp", "decimal"]
    )
    def test_driver_and_distributed_branches_agree(
        self, spark, tdir, kind, monkeypatch
    ):
        """Both branches keep every file that holds a key, and the
        driver branch (range + Bloom) keeps a subset of the distributed
        range join's files."""
        # timestamp footer stats need TIMESTAMP_MICROS (INT96 has none)
        old = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            keys = self._case(spark, tdir, kind)
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old)
        snap = tl._resolve_snapshot(tdir)
        driver, has = tl._files_for_key_set(spark, snap, "k", keys)
        monkeypatch.setattr(tl, "_DRIVER_KEY_CAP", 0)
        dist, has_d = tl._files_for_key_set(spark, snap, "k", keys)
        holders = _files_holding(spark, tdir, "k", keys)
        assert has and has_d
        assert holders and holders <= set(driver) <= set(dist)
        assert len(driver) < len(snap["files"])  # pruning engaged

    def test_key_delete_bloom_prunes_uuid_keys(self, spark, tdir):
        """uuid-like string keys: every file's min/max spans the key
        space, so only the Bloom filter can skip files; a small key
        delete rewrites just the files that hold a key."""
        df = spark.range(0, 400).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        tl.create_table(spark, df.repartition(8), tdir, bloom_columns=["k"])
        keys = df.filter("v IN (5, 250)").select("k")
        holders = _files_holding(spark, tdir, "k", keys)
        tl.delete_keys_from_table(spark, tdir, keys, key="k")
        assert _removed_files(tdir) == holders
        assert len(holders) <= 2
        assert tl.read_table(spark, tdir).count() == 398

    def test_upsert_job_count(self, spark, tdir):
        """One upsert of a 4-key batch into a bloomed table runs a
        single key probe: 7 jobs in all.  With a min/max aggregate plus
        a separate distinct-key Bloom probe, the same upsert ran 9."""
        tl.create_table(
            spark, _base(spark, 400).repartition(4), tdir, bloom_columns=["k"]
        )
        updates = spark.createDataFrame(
            [(k, -1, "u") for k in (3, 120, 233, 1000)],
            "k long, v long, s string",
        )
        sc = spark.sparkContext
        group = f"upsert-jobs-{time.time_ns()}"
        sc.setJobGroup(group, "upsert job count")
        try:
            tl.upsert_table(spark, updates, tdir, key="k")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
        assert tl.read_table(spark, tdir).count() == 401


class TestIncrementalAgg:
    def test_delta_matches_full_recompute_across_op_mix(self, spark, tdir):
        """append + upsert + delete + compact: state(v0) + delta equals
        a from-scratch aggregate at head, and compaction's add/remove
        pairs cancel instead of inflating the delta."""
        tl.create_table(spark, _base(spark, 400).repartitionByRange(4, "k"), tdir)
        v0_agg = {
            r["g"]: (r["n"], r["s"])
            for r in tl.read_table(spark, tdir, version=0)
            .groupBy((F.col("k") % 3).alias("g"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        tl.append_table(spark, _base(spark, 450).filter("k >= 400"), tdir)
        tl.upsert_table(
            spark,
            _base(spark, 20).withColumn("v", F.lit(-7).cast("long")),
            tdir, key="k",
        )
        tl.delete_from_table(spark, tdir, "k >= 440",
                             prune_predicates=[("k", ">=", 440)])
        tl.compact_table(spark, tdir)
        head = tl.current_version(tdir)
        delta_df = tl.incremental_agg_delta(
            spark, tdir, 0, head, ["s"], {"v": "v"}
        )
        # state0 + delta == full recompute (rolled up to totals)
        tot0 = sum(n for n, _ in v0_agg.values()), sum(s for _, s in v0_agg.values())
        d = delta_df.agg(
            F.sum("d_count").alias("dn"), F.sum("d_v").alias("dv")
        ).collect()[0]
        cur = tl.read_table(spark, tdir).agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        assert tot0[0] + d["dn"] == cur["n"]
        assert float(tot0[1]) + float(d["dv"]) == pytest.approx(float(cur["s"]))
        # compaction contributed nothing: delta from pre- to
        # post-compact version is empty
        added, removed = tl.version_delta_files(tdir, head - 1, head)
        assert added and removed  # compact did add+remove files…
        empty = tl.incremental_agg_delta(
            spark, tdir, head - 1, head, ["s"], {"v": "v"}
        )
        assert empty.filter("d_count != 0 OR d_v != 0").count() == 0  # …that cancel

    def test_delta_range_validation(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        with pytest.raises(tl.TableLogError, match="not in log"):
            tl.version_delta_files(tdir, 0, 99)


class TestDistributedStats:
    def test_many_file_manifest_matches_driver_path(self, spark, tdir):
        """Above the threshold the stat harvest runs as a Spark job;
        the manifest must be byte-identical to the driver-side path
        (same footers in, same actions out)."""
        df = _base(spark, 2000).repartition(40)  # > threshold files
        tl.create_table(spark, df, tdir, bloom_columns=["k"])
        snap = tl._resolve_snapshot(tdir)
        assert len(snap["files"]) == 40
        for path, add in snap["files"].items():
            recomputed = tl._file_add_action(tdir, path, ("k", "v", "s"), ("k",))
            assert recomputed == add
        # pruning works off the distributed-harvested stats
        surviving, total = tl.pruned_file_count(tdir, [("k", "=", 5)])
        assert surviving < total


class TestMaintenance:
    def test_compact_then_vacuum(self, spark, tdir):
        tl.create_table(spark, _base(spark, 500).repartition(16), tdir)
        tl.compact_table(spark, tdir)
        _, total = tl.pruned_file_count(tdir)
        assert total == 1
        # old snapshot still readable before vacuum
        assert tl.read_table(spark, tdir, version=0).count() == 500
        deleted = tl.vacuum_table(tdir, keep_versions=1, retention_seconds=0)
        assert len(deleted) == 16
        assert tl.read_table(spark, tdir).count() == 500

    def test_vacuum_dry_run_touches_nothing(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100).repartition(4), tdir)
        tl.compact_table(spark, tdir)
        would = tl.vacuum_table(tdir, keep_versions=1, dry_run=True, retention_seconds=0)
        assert len(would) == 4
        # dry run left the old snapshot fully readable
        assert tl.read_table(spark, tdir, version=0).count() == 100
        assert tl.vacuum_table(tdir, keep_versions=1, retention_seconds=0) == would

    def test_table_details(self, spark, tdir):
        tl.create_table(
            spark, _base(spark, 200).repartition(3), tdir,
            properties={"owner": "imaging"}, bloom_columns=["k"],
        )
        tl.add_table_constraint(spark, tdir, "v_nonneg", "v >= 0")
        d = tl.table_details(tdir)
        assert d["version"] == 1 and d["num_versions"] == 2
        assert d["num_files"] == 3 and d["total_rows"] == 200
        assert d["total_bytes"] > 0
        assert d["properties"] == {"owner": "imaging"}
        assert d["constraints"] == {"v_nonneg": "v >= 0"}
        assert d["bloom_columns"] == ["k"]
        assert set(d["stats_columns"]) == {"k", "v", "s"}

    def test_vacuum_keeps_retained_versions(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100).coalesce(1), tdir)
        tl.compact_table(spark, tdir)
        assert tl.vacuum_table(tdir, keep_versions=2, retention_seconds=0) == []
        assert tl.read_table(spark, tdir, version=0).count() == 100


class TestOmeTable:
    def test_properties_and_upsert(self, spark, tdir, ome_images_df):
        from ome_arrow_spark.meta import (
            META_KEY_TYPE,
            META_KEY_VERSION,
            OME_ARROW_TYPE,
            OME_ARROW_VERSION,
        )

        tl.create_ome_table(spark, ome_images_df, tdir)
        props = tl.table_properties(tdir)
        assert props[META_KEY_TYPE] == OME_ARROW_TYPE
        assert props[META_KEY_VERSION] == OME_ARROW_VERSION
        n0 = tl.read_ome_table(spark, tdir).count()
        # upsert the same images: count unchanged, new version
        tl.upsert_ome_table(spark, ome_images_df, tdir)
        assert tl.read_ome_table(spark, tdir).count() == n0
        assert tl.current_version(tdir) == 1

    def test_facade_dispatch(self, spark, tdir, ome_images_df):
        """OmeImages.export(how='table') creates then MERGEs; load()
        auto-detects the log dir and round-trips (K5 dispatch parity
        extended to the log format)."""
        from ome_arrow_spark.core import OmeImages

        imgs = OmeImages(ome_images_df)
        assert imgs.export("table", out=tdir) == 0
        assert imgs.export("ome-table", out=tdir) == 1  # second call MERGEs
        back = OmeImages.load(spark, tdir)
        assert back.count() == ome_images_df.count()
        assert sorted(
            r[0] for r in back.df.select("ome_arrow.id").collect()
        ) == sorted(r[0] for r in ome_images_df.select("ome_arrow.id").collect())

    def test_empty_id_list_reads_nothing(self, spark, tdir, ome_images_df):
        tl.create_ome_table(spark, ome_images_df, tdir)
        assert tl.read_ome_table(spark, tdir, image_ids=[]).count() == 0
        assert tl.read_ome_table(spark, tdir).count() == 3

    def test_point_lookup_prunes(self, spark, tdir, ome_images_df):
        tl.create_ome_table(
            spark,
            ome_images_df.repartitionByRange(2, F.col("ome_arrow.id")),
            tdir,
        )
        ids = [r[0] for r in ome_images_df.select("ome_arrow.id").collect()]
        one = tl.read_ome_table(spark, tdir, image_ids=[min(ids)])
        assert one.count() == 1
        assert one.select("ome_arrow.id").collect()[0][0] == min(ids)


class TestVacuumRetention:
    def test_recent_unreferenced_files_survive_retention_window(
        self, spark, tdir
    ):
        """A file a concurrent writer renamed into the table dir but has
        not yet committed must survive vacuum (Delta's retention-check
        race, ADVICE r6): files younger than retention_seconds are kept
        even when unreferenced."""
        tl.create_table(spark, _base(spark, 50).coalesce(1), tdir)
        # simulate an in-flight writer: unreferenced data file, just written
        stray = os.path.join(tdir, "part-inflight-test.parquet")
        with open(stray, "wb") as f:
            f.write(b"not-yet-committed")
        kept = tl.vacuum_table(tdir, keep_versions=1, dry_run=True)
        assert "part-inflight-test.parquet" not in kept
        # with the window collapsed it IS collected
        gone = tl.vacuum_table(tdir, keep_versions=1, retention_seconds=0)
        assert "part-inflight-test.parquet" in gone
        assert not os.path.exists(stray)
        assert tl.read_table(spark, tdir).count() == 50

    def test_old_unreferenced_files_collected_past_window(self, spark, tdir):
        tl.create_table(spark, _base(spark, 40).coalesce(1), tdir)
        stray = os.path.join(tdir, "part-old-orphan.parquet")
        with open(stray, "wb") as f:
            f.write(b"orphan")
        old = time.time() - 7200
        os.utime(stray, (old, old))
        gone = tl.vacuum_table(tdir, keep_versions=1)  # default 1h window
        assert "part-old-orphan.parquet" in gone
        assert not os.path.exists(stray)


class TestPruneLiteralCoercion:
    def test_datetime_literal_prunes_like_iso_string(self, spark, tdir):
        """Pruning coerces datetime literals through the manifest's ISO
        encoding instead of raising TypeError against string stats."""
        import datetime

        df = spark.createDataFrame(
            [(datetime.datetime(2024, 1, i + 1), i) for i in range(6)],
            "ts timestamp, v int",
        ).repartition(3, "v")
        tl.create_table(spark, df, tdir)
        lit_dt = datetime.datetime(2024, 1, 3)
        got_dt = {
            r["v"]
            for r in tl.read_table(
                spark, tdir, predicates=[("ts", "<=", lit_dt)]
            ).collect()
        }
        got_iso = {
            r["v"]
            for r in tl.read_table(
                spark, tdir, predicates=[("ts", "<=", lit_dt.isoformat())]
            ).collect()
        }
        assert got_dt == {0, 1, 2} or got_dt == got_iso  # same rows either way
        assert got_dt == got_iso

    @pytest.mark.heavy
    def test_incomparable_literal_keeps_files(self, spark, tdir):
        """An int literal against string-column stats must keep every
        file (conservative), not raise."""
        df = spark.createDataFrame(
            [(f"s{i}", i) for i in range(4)], "s string, v int"
        ).coalesce(1)
        tl.create_table(spark, df, tdir)
        live, total = tl.pruned_file_count(tdir, predicates=[("s", ">", 99)])
        assert live == total


class TestTableChanges:
    def test_upsert_produces_delete_insert_pairs(self, spark, tdir):
        tl.create_table(spark, _base(spark, 20).coalesce(2), tdir)
        ups = spark.createDataFrame(
            [(5, 999, "u5"), (100, 1, "new")], "k long, v long, s string"
        )
        tl.upsert_table(spark, ups, tdir, key="k")
        ch = tl.table_changes(spark, tdir, 0, 1).collect()
        by_type = {}
        for r in ch:
            by_type.setdefault(r["_change_type"], []).append((r["k"], r["v"]))
        assert sorted(by_type["insert"]) == [(5, 999), (100, 1)]
        # the old version of k=5 is the only deleted row
        assert [k for k, _ in by_type["delete"]] == [5]

    def test_changes_skip_untouched_files(self, spark, tdir):
        """Files carried by reference between versions are never read:
        the CDF scan touches only changed files."""
        df = _base(spark, 100).repartitionByRange(10, "k")
        tl.create_table(spark, df, tdir)
        ups = spark.createDataFrame([(3, -1, "x")], "k long, v long, s string")
        tl.upsert_table(spark, ups, tdir, key="k")
        ch = tl.table_changes(spark, tdir, 0, 1)
        read = {os.path.basename(f) for f in ch.inputFiles()}
        snap0 = tl._resolve_snapshot(tdir, 0)
        snap1 = tl._resolve_snapshot(tdir, 1)
        changed = (set(snap0["files"]) - set(snap1["files"])) | (
            set(snap1["files"]) - set(snap0["files"])
        )
        assert read <= changed
        assert len(read) < len(snap1["files"])

    def test_delete_only_change(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10).coalesce(1), tdir)
        tl.delete_from_table(spark, tdir, "k >= 8")
        ch = tl.table_changes(spark, tdir, 0, 1).collect()
        assert {r["_change_type"] for r in ch} == {"delete"}
        assert sorted(r["k"] for r in ch) == [8, 9]

    def test_noop_version_range_is_empty(self, spark, tdir):
        tl.create_table(spark, _base(spark, 5).coalesce(1), tdir)
        tl.set_table_properties(tdir, {"note": "x"})
        assert tl.table_changes(spark, tdir, 0, 1).count() == 0


class TestTimestampTravel:
    def test_timestamp_as_of(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100), tdir)
        t0 = tl._read_entry(tdir, 0)["ts"]
        time.sleep(0.05)
        tl.append_table(spark, _base(spark, 50), tdir)
        t1 = tl._read_entry(tdir, 1)["ts"]
        assert t1 > t0
        # between the commits -> v0; after the last -> v1
        mid = (t0 + t1) / 2
        assert tl.version_at_timestamp(tdir, mid) == 0
        assert tl.read_table(spark, tdir, timestamp=mid).count() == 100
        assert tl.read_table(spark, tdir, timestamp=t1 + 1).count() == 150
        with pytest.raises(tl.TableLogError, match="no commit"):
            tl.version_at_timestamp(tdir, t0 - 10)
        with pytest.raises(tl.TableLogError, match="not both"):
            tl.read_table(spark, tdir, version=0, timestamp=mid)

    def test_history_carries_ts(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        h = tl.table_history(tdir)
        assert h[0]["ts"] is not None and h[0]["ts"] > 0


class TestRestore:
    def test_restore_to_version_is_metadata_only(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100), tdir)
        tl.append_table(spark, _base(spark, 50), tdir)
        tl.delete_from_table(spark, tdir, "k < 10")
        files_before = set(os.listdir(tdir))
        v = tl.restore_table(spark, tdir, version=0)
        assert v == 3
        # nothing written or deleted on disk except the log entry
        assert set(os.listdir(tdir)) == files_before
        assert _sorted(tl.read_table(spark, tdir)) == _sorted(
            _base(spark, 100)
        )
        # undone versions stay time-travelable
        assert tl.read_table(spark, tdir, version=1).count() == 150
        assert tl.table_history(tdir)[-1]["operation"] == "restore"

    def test_restore_carries_deletion_vectors(self, spark, tdir):
        tl.create_table(spark, _base(spark, 100).coalesce(1), tdir)
        tl.delete_from_table(spark, tdir, "k < 10", mode="dv")  # v1
        tl.delete_from_table(spark, tdir, "k < 20", mode="dv")  # v2
        tl.restore_table(spark, tdir, version=1)
        assert tl.read_table(spark, tdir).count() == 90
        # restore to pre-DV state
        tl.restore_table(spark, tdir, version=0)
        assert tl.read_table(spark, tdir).count() == 100

    def test_restore_noop_and_vacuum_guard(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        assert tl.restore_table(spark, tdir, version=0) == 0  # no-op
        tl.upsert_table(
            spark,
            _base(spark, 10).withColumn("v", F.lit(-1).cast("long")),
            tdir, key="k",
        )
        tl.vacuum_table(tdir, keep_versions=1, retention_seconds=0)
        with pytest.raises(tl.TableLogError, match="vacuumed"):
            tl.restore_table(spark, tdir, version=0)


class TestIdempotentAppend:
    """Delta's txnAppId/txnVersion idempotent-writes contract on
    append_table (r11): replayed foreachBatch micro-batches are
    detected via the txn.<app> table property and skipped before any
    data lands — the exactly-once append-only streaming sink."""

    def test_replay_skipped(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        v1 = tl.append_table(
            spark, _base(spark, 20).filter("k >= 10"), tdir,
            txn_app="ingest", txn_batch=0,
        )
        assert tl.read_table(spark, tdir).count() == 20
        # replay of batch 0: no new rows, version unchanged
        v2 = tl.append_table(
            spark, _base(spark, 20).filter("k >= 10"), tdir,
            txn_app="ingest", txn_batch=0,
        )
        assert v2 == v1
        assert tl.read_table(spark, tdir).count() == 20
        # next batch advances
        v3 = tl.append_table(
            spark, _base(spark, 30).filter("k >= 20"), tdir,
            txn_app="ingest", txn_batch=1,
        )
        assert v3 == v1 + 1
        assert tl.read_table(spark, tdir).count() == 30
        assert tl.table_properties(tdir)["txn.ingest"] == "1"

    def test_apps_are_independent(self, spark, tdir):
        tl.create_table(spark, _base(spark, 10), tdir)
        tl.append_table(spark, _base(spark, 12).filter("k >= 10"), tdir,
                        txn_app="a", txn_batch=5)
        # a different app's batch counter doesn't collide
        tl.append_table(spark, _base(spark, 14).filter("k >= 12"), tdir,
                        txn_app="b", txn_batch=0)
        assert tl.read_table(spark, tdir).count() == 14
        props = tl.table_properties(tdir)
        assert props["txn.a"] == "5" and props["txn.b"] == "0"

    def test_txn_args_validated(self, spark, tdir):
        tl.create_table(spark, _base(spark, 5), tdir)
        with pytest.raises(tl.TableLogError, match="go together"):
            tl.append_table(spark, _base(spark, 5), tdir, txn_app="x")

    def test_append_ome_table_roundtrip(self, spark, tdir, ome_images_df):
        one = ome_images_df.limit(1)
        tl.create_ome_table(spark, one, tdir)
        tl.append_ome_table(
            spark, ome_images_df.filter("ome_arrow.id = 'multi-channel'"),
            tdir, txn_app="acq", txn_batch=0,
        )
        # replay skipped
        tl.append_ome_table(
            spark, ome_images_df.filter("ome_arrow.id = 'multi-channel'"),
            tdir, txn_app="acq", txn_batch=0,
        )
        ids = {
            r["image_id"]
            for r in tl.read_table(spark, tdir).select("image_id").collect()
        }
        assert len(ids) == 2 and "multi-channel" in ids


def _disk_files(table):
    """Data files and deletion-vector sidecars on disk, table-relative."""
    out = set()
    for root, dirs, names in os.walk(table):
        dirs[:] = [d for d in dirs if d != tl.LOG_DIR]
        rel = os.path.relpath(root, table)
        out.update(n if rel == "." else f"{rel}/{n}" for n in names)
    return out


def _seam_ops(spark, table):
    """Every data-writing table operation, with the history row
    ``(operation, added_files, removed_files)`` it commits on a 4-file
    table of 200 rows range-clustered on ``k``."""
    upd = _base(spark, 0).union(
        spark.createDataFrame([(3, -1, "u"), (150, -1, "u"), (500, -1, "u")],
                              "k long, v long, s string")
    )
    keys = spark.createDataFrame([(5,), (120,)], "k long")
    src = _base(spark, 40).withColumn("v", F.lit(-7).cast("long")).coalesce(1)
    return {
        "upsert": (lambda: tl.upsert_table(spark, upd, table, key="k"),
                   ("upsert", 1, 2)),
        "delete_rewrite": (
            lambda: tl.delete_from_table(spark, table, "k < 20"),
            ("delete", 4, 4),
        ),
        "delete_dv": (
            lambda: tl.delete_from_table(spark, table, "k < 20", mode="dv"),
            ("delete", 1, 0),
        ),
        "key_delete": (
            lambda: tl.delete_keys_from_table(spark, table, keys, key="k"),
            ("delete", 1, 2),
        ),
        "compact": (lambda: tl.compact_table(spark, table), ("compact", 1, 4)),
        "recluster": (lambda: tl.recluster_table(spark, table, "v", 2),
                      ("recluster", 2, 4)),
        "zorder": (
            lambda: tl.optimize_table(spark, table, zorder_by=["k", "v"]),
            ("zorder", 2, 4),
        ),
        "sync": (lambda: tl.sync_table(spark, src, table, key="k",
                                       scope="k < 50"),
                 ("sync", 4, 4)),
        "append": (
            lambda: tl.append_table(spark, _base(spark, 5).coalesce(1), table),
            ("append", 1, 0),
        ),
    }


class TestCommitSeam:
    """Every write ends in one commit helper: a crash between the data
    write and the commit leaves the table untouched and only
    vacuum-able files behind."""

    @pytest.mark.parametrize(
        "op",
        ["upsert", "delete_rewrite", "delete_dv", "key_delete", "compact",
         "recluster", "zorder", "sync", "append"],
    )
    def test_crash_between_write_and_commit(self, spark, tdir, op,
                                            monkeypatch):
        tl.create_table(spark, _base(spark, 200).repartitionByRange(4, "k"),
                        tdir)
        before_rows = _sorted(tl.read_table(spark, tdir))
        before_disk = _disk_files(tdir)
        run, (name, n_add, n_rm) = _seam_ops(spark, tdir)[op]

        def _crash(*_a, **_k):
            raise RuntimeError("crash before commit")

        monkeypatch.setattr(tl, "_commit", _crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            run()
        monkeypatch.undo()
        written = _disk_files(tdir) - before_disk
        assert written  # the data files had landed
        assert tl.current_version(tdir) == 0
        assert _sorted(tl.read_table(spark, tdir)) == before_rows
        assert set(tl.vacuum_table(tdir, retention_seconds=0)) >= written
        assert _disk_files(tdir) == before_disk

        assert run() == 1
        h = tl.table_history(tdir)[-1]
        assert (h["operation"], h["added_files"], h["removed_files"]) == (
            name, n_add, n_rm
        )

    def test_null_predicate_matches_nothing(self, spark, tmp_path):
        """A row whose predicate is NULL is not matched: both delete
        modes keep it, and sync keeps it outside the scope."""
        rows = [(1, 1), (2, 9), (3, None), (4, None)]

        def table(name):
            t = str(tmp_path / name)
            tl.create_table(
                spark, spark.createDataFrame(rows, "k long, v long"), t
            )
            return t

        def keys(t):
            return sorted(r["k"] for r in tl.read_table(spark, t).collect())

        rw, dv = table("rw"), table("dv")
        tl.delete_from_table(spark, rw, "v > 5")
        tl.delete_from_table(spark, dv, "v > 5", mode="dv")
        assert keys(rw) == keys(dv) == [1, 3, 4]

        sy = table("sy")
        tl.sync_table(
            spark, spark.createDataFrame([(2, 10)], "k long, v long"), sy,
            key="k", scope="v > 5",
        )
        assert sorted(
            tuple(r) for r in tl.read_table(spark, sy).collect()
        ) == [(1, 1), (2, 10), (3, None), (4, None)]
        with pytest.raises(tl.TableLogError, match="violate scope"):
            tl.sync_table(
                spark, spark.createDataFrame([(5, None)], "k long, v long"),
                sy, key="k", scope="v > 5",
            )

    def test_rewrite_to_no_rows_commits_no_file(self, spark, tdir):
        """An emptied rewrite commits no 0-row file, so later MERGEs and
        key deletes have nothing to rewrite."""
        tl.create_table(spark, _base(spark, 100).repartition(2), tdir)
        tl.delete_from_table(spark, tdir, "k >= 0")
        assert tl.table_details(tdir)["num_files"] == 0
        tl.delete_keys_from_table(
            spark, tdir, spark.createDataFrame([(7,)], "k long"), key="k"
        )
        assert tl.table_history(tdir)[-1]["removed_files"] == 0
        tl.upsert_table(spark, _base(spark, 3), tdir, key="k")
        h = tl.table_history(tdir)[-1]
        assert (h["added_files"], h["removed_files"]) == (1, 0)
        assert _sorted(tl.read_table(spark, tdir)) == _sorted(_base(spark, 3))
