"""Composed pipelines: near-dedup end-to-end, OME-Parquet table tags,
streaming sinks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark import synth
from ome_arrow_spark.operators.pipeline import drop_near_duplicates, near_dedup
from ome_arrow_spark.sources.ome_parquet import read_ome_parquet, write_ome_parquet


def _docs(spark):
    rows = []
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "spark engines shuffle data across wide clusters with partitioned joins",
        "pixels planes channels stacks volumes render microscopes acquire images",
    ]
    for i, t in enumerate(base):
        rows.append((i, t))
        rows.append((100 + i, t + " tail"))      # near-dup of i
        rows.append((200 + i, "unique text number %d entirely different words here ok" % i))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spread_small_input_guard(spark):
    """A small-split input spreads to exactly defaultParallelism
    partitions keyed on the id; an input already at or above slot width
    is returned as the same object (the at-scale no-op — the corpus is
    never shuffled there); MinHash signatures are identical with and
    without the spread."""
    from ome_arrow_spark.operators.dedup import minhash_signatures
    from ome_arrow_spark.plans.tuning import few_splits, spread_small_input

    docs = _docs(spark).coalesce(1)
    slots = spark.sparkContext.defaultParallelism
    assert few_splits(docs)
    spread = spread_small_input(docs, "doc_id")
    assert spread.rdd.getNumPartitions() == slots
    wide = _docs(spark).repartition(slots + 3)
    assert not few_splits(wide)
    assert spread_small_input(wide, "doc_id") is wide
    sig_spread = {
        tuple(r) for r in minhash_signatures(docs).collect()
    }
    sig_wide = {tuple(r) for r in minhash_signatures(wide).collect()}
    assert sig_spread == sig_wide and len(sig_spread) > 0


@pytest.mark.heavy
def test_near_dedup_pipeline(spark):
    docs = _docs(spark)
    out = near_dedup(docs, jaccard_threshold=0.4)
    comp = {r["doc_id"]: r["component"] for r in out.collect()}
    for i in range(3):
        assert comp[100 + i] == i, f"near-dup {100+i} should cluster with {i}"
        assert comp[200 + i] == 200 + i, "unique docs stay singleton"
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(docs, jaccard_threshold=0.4).collect())
    assert kept == [0, 1, 2, 200, 201, 202]


def test_table_tags_sidecar_roundtrip(spark, tmp_path):
    """write_ome_parquet tags multi-row Spark tables via the directory
    sidecar, and a foreign type warns (soft check) instead of failing."""
    import warnings

    from ome_arrow_spark.sources.ome_parquet import read_table_tags, write_table_tags

    path = str(tmp_path / "tagged")
    imgs = synth.golden_images_df(spark, ids=["z-series", "img-0001"])
    write_ome_parquet(imgs, path, mode="overwrite")
    tags = read_table_tags(path)
    assert tags.get("ome.arrow.type") == "ome.arrow"
    assert "ome.arrow.version" in tags

    # foreign tag → warn, still reads
    write_table_tags(path, {"ome.arrow.type": "something-else"})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert read_ome_parquet(spark, path).count() == 2
    assert any("something-else" in str(x.message) for x in w)


def test_foreach_batch_streaming_upsert(spark, tmp_path):
    """Streaming → foreachBatch → per-batch parquet upsert of per-user
    aggregates (the lakehouse MERGE pattern on plain files)."""
    from ome_arrow_spark.streaming.events import read_events_stream, run_foreach_batch

    out = str(tmp_path / "user_stats")
    ev = read_events_stream(spark, "/root/testdata/sf0.001")
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    run_foreach_batch(agg, write_batch, output_mode="complete")
    got = spark.read.parquet(out)
    import duckdb

    exp = duckdb.sql(
        "SELECT user_id, COUNT(*) n FROM '/root/testdata/sf0.001/events.parquet' GROUP BY 1"
    ).fetchall()
    assert got.count() == len(exp)
    g = {r["user_id"]: r["n"] for r in got.collect()}
    assert all(g[u] == n for u, n in exp)


@pytest.mark.parametrize("runner", ["run_foreach_batch", "run_available_now"])
def test_stream_start_failure_restores_shuffle_partitions(
    spark, tmp_path, runner
):
    """A query that fails at ``.start()`` (complete mode on a stream
    with no aggregation) must leave ``spark.sql.shuffle.partitions`` as
    it found it, not at the streaming floor."""
    from pyspark.errors import AnalysisException

    from ome_arrow_spark.streaming import events as EV

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")  # above the floor, so the run lowers it
    try:
        stream = spark.readStream.schema("x long").parquet(str(tmp_path))
        args = (lambda batch_df, batch_id: None,) if runner == "run_foreach_batch" else ()
        with pytest.raises(AnalysisException):
            getattr(EV, runner)(stream, *args, output_mode="complete")
        assert spark.conf.get(key) == "32"
    finally:
        spark.conf.set(key, prev)


def test_cluster_defaults_shape():
    from ome_arrow_spark.session import cluster_defaults

    conf = cluster_defaults(executors=1000, executor_cores=8)
    assert conf["spark.sql.shuffle.partitions"] == "16000"
    assert conf["spark.dynamicAllocation.maxExecutors"] == "1000"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.python.daemon.module"] == "ome_arrow_spark.worker_daemon"


def test_tiff_stream_exactly_once_restart(spark, tmp_path):
    """from_tiff_stream + a STABLE checkpoint: a restarted run MERGEs
    only files that arrived since the last run (no re-decode, no
    double-ingest), and the log-table version history shows it."""
    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.tiff import encode_ftif, from_tiff_stream
    from ome_arrow_spark.streaming.events import run_foreach_batch

    src = tmp_path / "drop"
    src.mkdir()
    table = str(tmp_path / "log_table")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = from_tiff_stream(spark, str(src), glob="*.ftif")

        def merge(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            if tl.current_version(table) is None:
                tl.create_ome_table(spark, batch_df, table)
            else:
                tl.upsert_ome_table(spark, batch_df, table)

        run_foreach_batch(
            stream, merge, output_mode="append", checkpoint=ckpt
        )

    for i in range(3):
        vol = np.full((1, 1, 1, 4, 4), i, dtype=np.int32)
        (src / f"acq_{i}.ftif").write_bytes(encode_ftif(vol, image_id=f"acq{i}"))
    run_once()
    assert tl.read_ome_table(spark, table).count() == 3
    v_after_first = tl.current_version(table)

    # restart with nothing new: no commits at all
    run_once()
    assert tl.current_version(table) == v_after_first

    # two late arrivals: exactly one incremental merge batch
    for i in (3, 4):
        vol = np.full((1, 1, 1, 4, 4), i, dtype=np.int32)
        (src / f"acq_{i}.ftif").write_bytes(encode_ftif(vol, image_id=f"acq{i}"))
    run_once()
    imgs = tl.read_ome_table(spark, table)
    assert imgs.count() == 5
    assert sorted(
        r[0] for r in imgs.select("ome_arrow.id").collect()
    ) == [f"acq{i}" for i in range(5)]
    assert tl.current_version(table) == v_after_first + 1


@pytest.mark.heavy
def test_tiff_stream_crash_replay_converges(spark, tmp_path):
    """Kill-mid-run soak (ADVICE r7 #7): the merge CRASHES after the
    table commit of micro-batch 1 but BEFORE Structured Streaming
    records that batch in the checkpoint — the worst replay window.
    On restart the batch replays; the id-keyed MERGE makes the replay
    idempotent, so the table converges to exactly-once, and
    vacuum(retention=0) sweeps the superseded duplicates from the
    replayed commit leaving zero unreferenced files."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.tiff import encode_ftif, from_tiff_stream
    from ome_arrow_spark.streaming.events import run_foreach_batch

    src = tmp_path / "drop"
    src.mkdir()
    table = str(tmp_path / "log_table")
    ckpt = str(tmp_path / "ckpt")
    n = 24
    for i in range(n):
        vol = np.full((1, 1, 1, 4, 4), i, dtype=np.int32)
        (src / f"acq_{i:02d}.ftif").write_bytes(
            encode_ftif(vol, image_id=f"acq{i:02d}")
        )

    crash = {"armed": True}

    def merge(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        if tl.current_version(table) is None:
            tl.create_ome_table(spark, batch_df, table)
        else:
            tl.upsert_ome_table(spark, batch_df, table)
        if crash["armed"] and batch_id == 1:
            crash["armed"] = False
            raise RuntimeError("injected crash after commit before checkpoint")

    def run():
        run_foreach_batch(
            from_tiff_stream(
                spark, str(src), glob="*.ftif", max_files_per_trigger=8
            ),
            merge,
            output_mode="append",
            checkpoint=ckpt,
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    assert tl.current_version(table) is not None  # batches 0+1 landed

    run()  # restart: batch 1 replays, MERGE dedups, batch 2 follows
    imgs = tl.read_ome_table(spark, table)
    ids = sorted(r[0] for r in imgs.select("ome_arrow.id").collect())
    assert ids == [f"acq{i:02d}" for i in range(n)]

    # a replayed image carries the right pixels (not a doubled merge)
    one = tl.read_ome_table(spark, table, image_ids=["acq09"])
    plane = one.select(F.expr("ome_arrow.planes[0].pixels")).first()[0]
    assert set(plane) == {9.0}

    # superseded duplicates from the replay are unreferenced → swept;
    # a second sweep finds nothing (no orphans left behind)
    tl.vacuum_table(table, keep_versions=1, retention_seconds=0.0)
    assert tl.read_ome_table(spark, table).count() == n
    assert tl.vacuum_table(table, keep_versions=1, retention_seconds=0.0) == []
