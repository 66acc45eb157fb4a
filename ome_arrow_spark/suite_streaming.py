"""Structured Streaming queries for the driver gate: each runs with
Trigger.AvailableNow into a memory sink (streaming/events.py) so the
result is a plain DataFrame the DuckDB oracle can check — the oracle
re-derives windowing semantics with batch SQL (date_trunc arithmetic,
lag/cumsum sessionization)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ome_arrow_spark import suite_llm as LLM
from ome_arrow_spark.streaming import events as EV
from ome_arrow_spark.suite import _t, register


@register(
    "stream_tumbling",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR AS we,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV.read_events_stream(spark, sf_dir)
    return EV.run_available_now(EV.tumbling_counts(ev))


@register(
    "stream_sliding",
    """
    WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h FROM events),
         w AS (SELECT h - to_hours(o) AS ws FROM e, (VALUES (0), (1)) AS t(o))
    SELECT ws, ws + INTERVAL 2 HOUR AS we, COUNT(*) AS n
    FROM w GROUP BY ws
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV.read_events_stream(spark, sf_dir)
    return EV.run_available_now(EV.sliding_counts(ev))


@register(
    "stream_session",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    m AS (SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM e),
    s AS (SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
    SELECT MIN(ts) AS ws,
           MAX(ts) + INTERVAL 30 MINUTE AS we,
           user_id,
           COUNT(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV.read_events_stream(spark, sf_dir)
    return EV.run_available_now(EV.session_counts(ev))


@register(
    "stream_dedup",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV.read_events_stream(spark, sf_dir)
    return EV.run_available_now(EV.dedup_events(ev), output_mode="complete")


@register(
    "stream_static_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV.read_events_stream(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    return EV.run_available_now(EV.stream_static_join(ev, cust))


@register(
    "stream_stream_join",
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = EV.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = EV.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return EV.run_available_now(
        EV.stream_stream_interval_join(clicks, purchases), output_mode="append"
    )


@register(
    "stream_stateful",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value,
           MAX(CAST(ts AS TIMESTAMP)) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running stats; AvailableNow single-batch output equals the batch
    group-by the oracle computes."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.streaming.stateful import user_running_stats

    ev = EV.read_events_stream(spark, sf_dir)
    out = EV.run_available_now(user_running_stats(ev), output_mode="update")
    return out.select(
        "user_id", "n_events", F.round("sum_value", 6).alias("sum_value"), "last_ts"
    )


@register(
    "stream_cdc_upsert",
    """
    WITH latest AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events)
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM latest WHERE rn = 1 GROUP BY event_type
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into the transaction-log table: foreachBatch
    reduces each micro-batch to its latest row per user and MERGEs it
    into the log (sources/table_log.py) keyed on user_id with a
    conditional (ts, event_id) winner — so replayed or out-of-order
    batches converge to the same snapshot (the Delta `WHEN MATCHED AND
    s.ts > t.ts` streaming-sink idiom). The driver then aggregates the
    COMMITTED current snapshot; matching the oracle's global
    latest-per-user proves the whole chain: stream → batch reduce →
    pruned conditional MERGE → atomic commit → snapshot read."""
    import shutil

    from pyspark.sql.window import Window

    from ome_arrow_spark.sources import table_log as tl

    path = f"/tmp/ome_arrow_rt_cdc_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)

    ev = EV.read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if tl.current_version(path) is None:
            tl.create_table(
                spark, latest.repartitionByRange(4, "user_id"), path
            )
        else:
            tl.upsert_table(
                spark, latest, path, key="user_id",
                order_by=("ts", "event_id"),
            )

    EV.run_foreach_batch(ev, merge_batch, output_mode="append")
    cur = tl.read_table(spark, path)
    return cur.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "stream_ome_ingest",
    """
    WITH s AS (
      SELECT CAST(SUM(i.i % 65536) AS BIGINT) AS psum
      FROM (SELECT unnest(generate_series(0, 167*439 - 1)) AS i) i)
    SELECT * FROM (
      SELECT 'multi-channel' AS image_id, CAST(3 AS INT) AS n_planes,
             psum AS first_plane_sum FROM s
      UNION ALL SELECT 'single-channel', CAST(1 AS INT), psum FROM s
      UNION ALL SELECT 'z-series', CAST(5 AS INT), psum FROM s)
    """,
)
def stream_ome_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous microscopy ingest, end to end: golden OME-TIFF files
    land in a watched directory → streaming binaryFile source +
    mapInArrow decode (sources/tiff.from_tiff_stream, one file per
    micro-batch) → foreachBatch MERGEs each batch into the
    transaction-log images table (Bloom-pruned by image_id) → the
    driver aggregates the committed snapshot. The oracle re-derives
    the plane sums from the FIXTURES.md pixel formula, so a hash match
    proves the whole chain: encode → stream → decode → atomic upsert →
    snapshot read."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark import synth
    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.tiff import from_tiff_stream
    from ome_arrow_spark.sources.tiff_minimal import (
        build_ome_xml,
        encode_tiff_baseline,
    )

    src = tempfile.mkdtemp(prefix="stream_ome_src_")
    table = f"/tmp/ome_arrow_rt_stream_ome_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    shapes = [
        ("z-series", 1, 1, 5, 167, 439),
        ("single-channel", 1, 1, 1, 167, 439),
        ("multi-channel", 1, 3, 1, 167, 439),
    ]
    try:
        for image_id, t, c, z, y, x in shapes:
            pages = np.stack(
                [
                    synth.pixel_plane(ti, ci, zi, y, x).reshape(y, x)
                    for ti in range(t)
                    for ci in range(c)
                    for zi in range(z)
                ]
            ).astype(np.uint16)
            xml = build_ome_xml(
                image_id=image_id, name=None, size_t=t, size_c=c,
                size_z=z, size_y=y, size_x=x,
            )
            with open(os.path.join(src, f"{image_id}.ome.tif"), "wb") as f:
                f.write(encode_tiff_baseline(pages, description=xml))

        stream = from_tiff_stream(
            spark, src, glob="*.ome.tif", max_files_per_trigger=1
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            # no isEmpty() guard (r14): AvailableNow over a static
            # drop dir plans only non-empty batches (replays carry
            # the same files); the guard cost one scheduled decode
            # job per micro-batch (OPTIMIZATION_r14.md §streaming)
            if tl.current_version(table) is None:
                tl.create_ome_table(spark, batch_df, table)
            else:
                tl.upsert_ome_table(spark, batch_df, table)

        EV.run_foreach_batch(stream, merge_batch, output_mode="append")
        imgs = tl.read_ome_table(spark, table)
        return imgs.select(
            F.col("ome_arrow.id").alias("image_id"),
            F.size("ome_arrow.planes").alias("n_planes"),
            F.aggregate(
                F.element_at("ome_arrow.planes", 1).pixels,
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("first_plane_sum"),
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


@register(
    "stream_append_ingest",
    """
    WITH s AS (
      SELECT CAST(SUM(i.i % 65536) AS BIGINT) AS psum
      FROM (SELECT unnest(generate_series(0, 149*311 - 1)) AS i) i)
    SELECT * FROM (
      SELECT 'ap-dual' AS image_id, CAST(2 AS INT) AS n_planes,
             psum AS first_plane_sum FROM s
      UNION ALL SELECT 'ap-plain', CAST(1 AS INT), psum FROM s
      UNION ALL SELECT 'ap-stack', CAST(3 AS INT), psum FROM s
      UNION ALL SELECT 'ap-tseries', CAST(4 AS INT), psum FROM s)
    """,
)
def stream_append_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-only acquisition sink end to end (the r11 streaming
    throughput path): OME-TIFF files land in a watched directory →
    streaming binaryFile decode → foreachBatch blind APPEND into the
    transaction-log table via the txnAppId/txnVersion idempotent-writes
    contract (table_log.append_ome_table) — O(new-data) per micro-batch,
    no manifest prune, no anti-join rewrite. Image ids are new by
    construction (a microscope never re-drops a file), which is exactly
    the case where MERGE is wasted work: the r11 profile measured the
    MERGE read side at ~0.35 s/batch vs the append sink's pure
    commit+engine floor of ~1.4 s/batch (PLANS.md). After the stream
    drains, a REPLAY of the last micro-batch (same txn ids) is
    attempted; the exactly-once contract must skip it BEFORE any data
    file lands, or the duplicate image rows break the oracle hash."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark import synth
    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.tiff import from_tiff_dir, from_tiff_stream
    from ome_arrow_spark.sources.tiff_minimal import (
        build_ome_xml,
        encode_tiff_baseline,
    )

    src = tempfile.mkdtemp(prefix="stream_append_src_")
    table = f"/tmp/ome_arrow_rt_stream_append_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    shapes = [
        ("ap-tseries", 4, 1, 1, 149, 311),
        ("ap-dual", 1, 2, 1, 149, 311),
        ("ap-stack", 1, 1, 3, 149, 311),
        ("ap-plain", 1, 1, 1, 149, 311),
    ]
    txn_app = "stream_append_ingest"
    last_append = {"id": None}  # last batch that went through the TXN sink
    try:
        for image_id, t, c, z, y, x in shapes:
            pages = np.stack(
                [
                    synth.pixel_plane(ti, ci, zi, y, x).reshape(y, x)
                    for ti in range(t)
                    for ci in range(c)
                    for zi in range(z)
                ]
            ).astype(np.uint16)
            xml = build_ome_xml(
                image_id=image_id, name=None, size_t=t, size_c=c,
                size_z=z, size_y=y, size_x=x,
            )
            with open(os.path.join(src, f"{image_id}.ome.tif"), "wb") as f:
                f.write(encode_tiff_baseline(pages, description=xml))

        stream = from_tiff_stream(
            spark, src, glob="*.ome.tif", max_files_per_trigger=2
        )

        def append_batch(batch_df: DataFrame, batch_id: int) -> None:
            # no isEmpty() guard (r14): AvailableNow over a static
            # drop dir plans only non-empty batches (replays carry
            # the same files); the guard cost one scheduled decode
            # job per micro-batch (OPTIMIZATION_r14.md §streaming)
            if tl.current_version(table) is None:
                # the creating commit records txn.<app>=batch_id too
                # (Delta: txnAppId/txnVersion apply to the initial
                # write) so a batch-0 replay is skippable like any other
                tl.create_ome_table(
                    spark, batch_df, table,
                    txn_app=txn_app, txn_batch=batch_id,
                )
            else:
                tl.append_ome_table(
                    spark, batch_df, table,
                    txn_app=txn_app, txn_batch=batch_id,
                )
            la = last_append["id"]
            last_append["id"] = batch_id if la is None else max(la, batch_id)

        EV.run_foreach_batch(stream, append_batch, output_mode="append")

        # replay BOTH the creating micro-batch (txn_batch=0: recorded by
        # create_ome_table's v0 commit) and the last micro-batch — same
        # txn ids → the commit-level idempotence check must return the
        # version UNCHANGED (else the duplicated image_ids double the
        # oracle's row count).
        if last_append["id"] is not None:
            v_before = tl.current_version(table)
            replay = from_tiff_dir(spark, src, glob="ap-plain.ome.tif")
            for replay_batch in (0, last_append["id"]):
                v_after = tl.append_ome_table(
                    spark, replay, table,
                    txn_app=txn_app, txn_batch=replay_batch,
                )
                assert v_after == v_before, (
                    f"replayed micro-batch {replay_batch} was not "
                    f"skipped: v{v_before} -> v{v_after}"
                )

        imgs = tl.read_ome_table(spark, table)
        return imgs.select(
            F.col("ome_arrow.id").alias("image_id"),
            F.size("ome_arrow.planes").alias("n_planes"),
            F.aggregate(
                F.element_at("ome_arrow.planes", 1).pixels,
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("first_plane_sum"),
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


@register(
    "stream_zarr_ingest",
    """
    WITH s AS (
      SELECT CAST(SUM(i.i % 65536) AS BIGINT) AS psum
      FROM (SELECT unnest(generate_series(0, 96*128 - 1)) AS i) i)
    SELECT * FROM (
      SELECT 'zs-stream' AS image_id, CAST(4 AS INT) AS n_planes,
             psum AS first_plane_sum FROM s
      UNION ALL SELECT 'sc-stream', CAST(1 AS INT), psum FROM s)
    """,
)
def stream_zarr_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NGFF-store ingest via a MANIFEST stream — Zarr stores
    are directories, so the control plane streams (a text source of
    newly-landed store paths, the pattern an acquisition system or
    object-store notification feed produces) while the data plane runs
    the batch manifest fan-out per micro-batch, MERGEd into the
    transaction-log images table. Completes the streaming×format
    matrix next to `stream_ome_ingest`'s binaryFile TIFF path; the
    oracle re-derives plane sums from the store pixel formula."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.zarr import from_zarr_manifest
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    base_dir = tempfile.mkdtemp(prefix="stream_zarr_src_")
    manifest_dir = os.path.join(base_dir, "manifest")
    os.makedirs(manifest_dir)
    table = f"/tmp/ome_arrow_rt_stream_zarr_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    y, x = 96, 128
    plane = (np.arange(y * x, dtype=np.int64) % 65536).reshape(y, x)
    try:
        for i, (image_id, z) in enumerate([("zs-stream", 4), ("sc-stream", 1)]):
            vol = np.stack(
                [(plane + zi * 7) % 65536 for zi in range(z)]
            ).astype("<u2")[np.newaxis, np.newaxis]
            store = os.path.join(base_dir, f"{image_id}.zarr")
            write_ngff_store(
                store, [vol], image_id=image_id, compressor="blosc",
                chunks=(1, 1, 1, 64, 64),
            )
            # one manifest file per store → one micro-batch per arrival
            with open(os.path.join(manifest_dir, f"m{i}.txt"), "w") as f:
                f.write(store + "\n")

        paths_stream = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(manifest_dir)
        )

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            paths = [r["value"].strip() for r in batch_df.collect() if r["value"].strip()]
            if not paths:
                return
            imgs = from_zarr_manifest(spark, paths)
            if tl.current_version(table) is None:
                tl.create_ome_table(spark, imgs, table)
            else:
                tl.upsert_ome_table(spark, imgs, table)

        EV.run_foreach_batch(paths_stream, merge_batch, output_mode="append")
        imgs = tl.read_ome_table(spark, table)
        return imgs.select(
            F.col("ome_arrow.id").alias("image_id"),
            F.size("ome_arrow.planes").alias("n_planes"),
            F.aggregate(
                F.element_at("ome_arrow.planes", 1).pixels,
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("first_plane_sum"),
        )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming ingest into the persistent BM25 text index
# (operators/text_index.py): documents arrive as parquet micro-batches
# (maxFilesPerTrigger=1 → three genuine batches); foreachBatch builds
# the index on the first batch and MERGEs postings + bumps corpus
# scalars on the rest.  The oracle scores the FULL corpus directly, so
# a hash match proves streaming maintenance converges to the rebuild
# state — the "index keeps up with the firehose" property.
# ---------------------------------------------------------------------------
def _stream_tix_oracle() -> str:
    from ome_arrow_spark.suite_llm import _bm25_oracle

    return _bm25_oracle(("scan", "data", "filter"), 8)


@register("stream_text_index", _stream_tix_oracle())
def stream_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ome_arrow_spark.operators import text_index as TI
    from ome_arrow_spark.sources import table_log as tl

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    step = max(1, (int(hi) - int(lo) + 1) // 3)
    src = tempfile.mkdtemp(prefix="stream_tix_src_")
    for i in range(3):
        a = int(lo) + i * step
        b = int(hi) + 1 if i == 2 else a + step
        docs.filter(
            (F.col("doc_id") >= a) & (F.col("doc_id") < b)
        ).coalesce(1).write.mode("append").parquet(src)

    table = f"/tmp/ome_arrow_rt_stix_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() guard (r14): AvailableNow over a static
        # drop dir plans only non-empty batches (replays carry
        # the same files); the guard cost one scheduled decode
        # job per micro-batch (OPTIMIZATION_r14.md §streaming)
        if tl.current_version(table) is None:
            TI.build_text_index(spark, batch_df, table, n_files=4)
        else:
            TI.add_to_text_index(spark, batch_df, table)

    EV.run_foreach_batch(stream, index_batch, output_mode="append")
    return TI.text_index_search(
        spark, table, ["scan", "data", "filter"], k=8
    )


# ---------------------------------------------------------------------------
# Streaming CDC with DELETE events (tombstone MERGE + deletion-vector
# purge): events whose latest value < 10 are deletes of their user.
# In-stream, deletes ride the SAME conditional MERGE as upserts as
# tombstone rows (deleted=1) — physical in-stream deletes would not
# converge (a stale upsert replayed after a delete would resurrect the
# row; the tombstone's (ts, event_id) guard rejects it). After the
# stream, the tombstones are purged PHYSICALLY with a deletion-vector
# delete (position sidecars, no file rewrite) — the maintenance move —
# and the driver aggregates the purged snapshot. The oracle computes
# the global latest-per-user state with delete semantics.
# ---------------------------------------------------------------------------
@register(
    "stream_cdc_deletes",
    """
    WITH latest AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events)
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM latest WHERE rn = 1 AND NOT (value < 10)
    GROUP BY event_type
    """,
)
def stream_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql.window import Window

    from ome_arrow_spark.sources import table_log as tl

    path = (
        f"/tmp/ome_arrow_rt_cdcdel_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)

    ev = EV.read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn(
                "deleted",
                F.when(F.col("value") < 10, F.lit(1))
                .otherwise(F.lit(0))
                .cast("int"),
            )
        )
        if tl.current_version(path) is None:
            tl.create_table(
                spark, latest.repartitionByRange(4, "user_id"), path
            )
        else:
            tl.upsert_table(
                spark, latest, path, key="user_id",
                order_by=("ts", "event_id"),
            )

    EV.run_foreach_batch(ev, merge_batch, output_mode="append")
    # maintenance: physically purge tombstones via deletion vectors
    tl.delete_from_table(spark, path, "deleted = 1", mode="dv")
    cur = tl.read_table(spark, path)
    return cur.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# The commit log AS a streaming source (streaming/log_source.py, Spark
# Python DataSource API): offsets are commit versions, each micro-batch
# reads only its commits' added files (executor-side Arrow, deletion
# vectors applied by position mask inside the scan — no join). The
# query creates the table (v0), appends a second slice (v1), DV-deletes
# one priority class (v2), then streams the whole thing AvailableNow
# and aggregates what arrived. Oracle: the same two slices minus the
# deleted class, straight from the raw table.
# ---------------------------------------------------------------------------
@register(
    "stream_table_log_source",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE (o_custkey % 10 = 0 OR o_custkey % 10 = 1)
      AND o_orderpriority <> '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def stream_table_log_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.streaming import log_source
    from ome_arrow_spark.suite import _t

    log_source.register(spark)
    base = (
        f"/tmp/ome_arrow_rt_logsrc_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = os.path.join(base, "tbl")
    ckpt = os.path.join(base, "ckpt")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice",
    )
    tl.create_table(
        spark,
        orders.filter(F.col("o_custkey") % 10 == 0)
        .repartitionByRange(4, "o_orderkey"),
        t,
    )
    tl.append_table(spark, orders.filter(F.col("o_custkey") % 10 == 1), t)
    tl.delete_from_table(
        spark, t, "o_orderpriority = '1-URGENT'", mode="dv"
    )
    name = f"logsrc_{os.getpid()}"
    q = (
        spark.readStream.format("ome_table_log").option("path", t).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# The commit log AS a streaming SINK (log_source.py streamWriter):
# events stream in micro-batches; each batch's tasks land uniquely-
# named parquet files and the driver publishes them in ONE atomic log
# commit carrying txn.<app>=batchId (Delta's idempotent-writes
# contract — a replayed batch is detected and skipped). The driver
# aggregates the committed table; the oracle recomputes from the raw
# events.
# ---------------------------------------------------------------------------
@register(
    "stream_table_log_sink",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_table_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.streaming import log_source

    log_source.register(spark)
    base = (
        f"/tmp/ome_arrow_rt_logsink_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = os.path.join(base, "tbl")
    ev = EV.read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    q = (
        ev.writeStream.format("ome_table_log")
        .option("path", t)
        .option("txnAppId", f"sink_{os.getpid()}")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return tl.read_table(spark, t).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Exactly-once MULTI-TABLE streaming sink: each micro-batch lands in a
# raw events table AND a per-type aggregate index table through ONE
# cross-table transaction (table_log.atomic_multi_append) carrying the
# txnAppId idempotence contract — the streaming composition of the
# coordinator-slot protocol. After the stream drains, the query
# replays batch 0 by hand (the restart-after-commit crash window) and
# asserts it is skipped before any file lands. Output folds the index
# partials per type next to the raw-table aggregate; they must agree
# with each other and with the oracle regardless of how the source
# batched, proving neither side ever saw a partial or doubled batch.
# ---------------------------------------------------------------------------
@register(
    "stream_txn_sink",
    """
    WITH e AS (SELECT event_type, value FROM events)
    SELECT 'raw' AS side, event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM e GROUP BY event_type
    UNION ALL
    SELECT 'index', event_type, COUNT(*),
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM e GROUP BY event_type
    """,
)
def stream_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    base = (
        f"/tmp/ome_arrow_rt_txnsink_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    raw_t = os.path.join(base, "raw")
    idx_t = os.path.join(base, "idx")
    tl.create_table(
        spark,
        spark.createDataFrame(
            [], "event_id bigint, event_type string, value double"
        ),
        raw_t,
    )
    tl.create_table(
        spark,
        spark.createDataFrame(
            [], "event_type string, n bigint, s decimal(38,6)"
        ),
        idx_t,
    )
    app = f"txnsink_{os.getpid()}"

    def _idx(bdf: DataFrame) -> DataFrame:
        return bdf.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
        )

    replayable = []

    def sink(bdf: DataFrame, bid: int) -> None:
        rows = bdf.select("event_id", "event_type", "value")
        rows.persist()  # scanned twice (raw + index aggregate)
        try:
            tl.atomic_multi_append(
                spark,
                [(raw_t, rows), (idx_t, _idx(rows))],
                txn_app=app,
                txn_batch=bid,
            )
            if bid == 0:
                replayable.append(rows.collect())
        finally:
            rows.unpersist()

    ev = EV.read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # crash-replay window: re-deliver batch 0 — must be skipped whole
    if replayable:
        rep = spark.createDataFrame(
            replayable[0], "event_id bigint, event_type string, value double"
        )
        skipped = tl.atomic_multi_append(
            spark, [(raw_t, rep), (idx_t, _idx(rep))],
            txn_app=app, txn_batch=0,
        )
        if skipped != {}:
            raise AssertionError("replayed batch was not skipped")

    raw_rows = (
        tl.read_table(spark, raw_t)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.lit("raw").alias("side"), "event_type", "n", "sum_value")
    )
    idx_rows = (
        tl.read_table(spark, idx_t)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").cast("double").alias("sum_value"),
        )
        .select(F.lit("index").alias("side"), "event_type", "n", "sum_value")
    )
    return raw_rows.unionByName(idx_rows)


# ---------------------------------------------------------------------------
# LEFT OUTER stream-stream join — the attribution join including
# never-converted clicks. The semantics the oracle must replay: a
# matched pair emits exactly once (inner semantics); an UNMATCHED
# click emits its null-extended row only when the join state can be
# finalized, i.e. the global watermark (min over both sides of
# max(event ts) - 1 hour, since watermarks advance per-side) has
# passed click_ts + the 30-minute join bound. Clicks younger than
# that at end-of-stream are still "maybe matchable" and are withheld
# — exactly what a restarted stream would need. The AvailableNow
# harness relies on the trailing no-data micro-batch (on by default)
# to flush finalized state.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_left_outer",
    """
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(ts AS TIMESTAMP) AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS u2,
                 CAST(ts AS TIMESTAMP) AS purchase_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(click_ts) FROM c),
                        (SELECT MAX(purchase_ts) FROM p))
                  - INTERVAL 1 HOUR AS w),
    m AS (SELECT click_id, purchase_id, user_id, click_ts, purchase_ts
          FROM c JOIN p ON user_id = u2
           AND purchase_ts >= click_ts
           AND purchase_ts <= click_ts + INTERVAL 30 MINUTE),
    un AS (SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
                  c.user_id, c.click_ts,
                  CAST(NULL AS TIMESTAMP) AS purchase_ts
           FROM c ANTI JOIN m USING (click_id)
           WHERE c.click_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
    SELECT * FROM m UNION ALL SELECT * FROM un
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = EV.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = EV.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    j = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
        ),
        "leftOuter",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return EV.run_available_now(j, output_mode="append")


# ---------------------------------------------------------------------------
# Streaming ANN index maintenance: embedding batches land as parquet
# files → a file stream (one file per micro-batch, the rate-limit
# contract) → foreachBatch builds the IVF index on the first batch and
# MERGEs every later batch to its nearest stored centroid → one
# optimize pass → FULL-probe search. Full probes make the search exact
# KNN whatever the arrival order, so the brute-force oracle certifies
# that the streaming build/add path lost and duplicated nothing — the
# continuous-embedding-pipeline composition (ann_index_incremental is
# the batch twin; the vectors here are identical, the lifecycle runs
# through Structured Streaming + the commit log instead).
# ---------------------------------------------------------------------------
@register(
    "stream_ann_ingest",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
               WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND(list_sum(list_transform(range(len(qe)),
                              i -> CAST(qe[i+1] AS DOUBLE) * CAST(ce[i+1] AS DOUBLE)))
                            / (sqrt(list_sum(list_transform(range(len(qe)),
                                 i -> CAST(qe[i+1] AS DOUBLE) * CAST(qe[i+1] AS DOUBLE))))
                               * sqrt(list_sum(list_transform(range(len(ce)),
                                 i -> CAST(ce[i+1] AS DOUBLE) * CAST(ce[i+1] AS DOUBLE))))),
                            6) AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ome_arrow_spark.operators import ann_index as AI
    from ome_arrow_spark.sources import table_log as tl

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    drop = tempfile.mkdtemp(prefix="stream_ann_drop_")
    table = (
        f"/tmp/ome_arrow_rt_annstream_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(table, ignore_errors=True)
    try:
        # four arrival waves, one parquet file each (the drop-dir shape
        # an embedding service produces)
        for m in range(4):
            corpus.filter(F.col("cid") % 4 == m).coalesce(1).write.mode(
                "append"
            ).parquet(drop)

        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )

        def index_batch(batch_df: DataFrame, batch_id: int) -> None:
            # no isEmpty() guard (r14): AvailableNow over a static
            # drop dir plans only non-empty batches (replays carry
            # the same files); the guard cost one scheduled decode
            # job per micro-batch (OPTIMIZATION_r14.md §streaming)
            if tl.current_version(table) is None:
                AI.build_ivf_index(
                    spark, batch_df, table, n_centroids=8, overwrite=True
                )
            else:
                AI.add_to_ivf_index(spark, batch_df, table)

        EV.run_foreach_batch(stream, index_batch, output_mode="append")
        AI.optimize_ivf_index(spark, table)
        return AI.ivf_index_search(spark, table, q, k=3, n_probe=8)
    finally:
        shutil.rmtree(drop, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming MinHash signature maintenance (r10) — the dedup-lane twin
# of stream_ann_ingest: documents arrive in four micro-batch waves;
# each batch computes MinHash signatures (the same md5 fold the batch
# pipeline uses) and appends them ATOMICALLY to a signature log table
# (exactly-once: files + one commit per batch). After the stream
# drains, banded LSH candidates run over the STORED signatures. The
# oracle is the batch neardup pair derivation over the full corpus —
# a hash match proves the incremental signature store converged to
# the batch result (no lost, duplicated, or stale signatures), which
# is the invariant a continuously-ingesting dedup service must keep.
# ---------------------------------------------------------------------------
@register(
    "stream_minhash_ingest",
    f"""
    WITH corpus AS ({LLM._MUTATED_SQL}),
    t AS (SELECT doc_id, {LLM._TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {LLM._MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2
      ON a.band = b2.band AND a.band_key = b2.band_key
         AND a.doc_id < b2.doc_id
    """,
)
def stream_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ome_arrow_spark.operators import dedup as DD
    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark import suite_llm as LLM2

    corpus = LLM2._mutated_docs(spark, sf_dir)
    drop = tempfile.mkdtemp(prefix="stream_mh_drop_")
    table = (
        f"/tmp/ome_arrow_rt_mhstream_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(table, ignore_errors=True)
    try:
        # pmod, not %: the r13 mirror ids are negative, and Spark's %
        # keeps the sign — a plain % 4 == m wave split would silently
        # drop every mirrored doc from the stream
        for m in range(4):
            corpus.filter(F.pmod(F.col("doc_id"), 4) == m).coalesce(
                1
            ).write.mode("append").parquet(drop)

        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )

        def sig_batch(batch_df: DataFrame, batch_id: int) -> None:
            # no isEmpty() guard (r14): AvailableNow over a static
            # drop dir plans only non-empty batches (replays carry
            # the same files); the guard cost one scheduled decode
            # job per micro-batch (OPTIMIZATION_r14.md §streaming)
            sig = DD.minhash_signatures(batch_df)
            if tl.current_version(table) is None:
                tl.create_table(spark, sig, table)
            else:
                tl.append_table(spark, sig, table)

        EV.run_foreach_batch(stream, sig_batch, output_mode="append")
        stored = tl.read_table(spark, table)
        return DD.lsh_candidates(stored)
    finally:
        shutil.rmtree(drop, ignore_errors=True)
