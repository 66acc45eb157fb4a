"""Structured Streaming surface over the events table (SURVEY.md §2C —
the reference has no streaming at all; README's "query" promise plus
BASELINE north-star asks for it).

Batch-testable design: every query runs with ``Trigger.AvailableNow``
into a memory sink and returns the materialized DataFrame, so the
DuckDB rows-only/oracle checks still apply. In production the same
plans run against a live file/Kafka source with the watermark bounding
state.

The events fixture has stored ``ts`` as parquet TIMESTAMP(NANOS) or
TIMESTAMP(MICROS) depending on testdata generation — the streaming
reader sniffs the footer (driver-side pyarrow, no scan) and builds the
matching explicit schema (``long`` + ``nanosAsLong`` conf for nanos,
``timestamp_ntz`` for micros), then normalizes to the regular
timestamp type, mirroring suite._events.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ome_arrow_spark.plans.tuning import stream_shuffle_floor

_COUNTER = itertools.count()

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.suite import _events_ts_info

    unit, utc_adjusted = _events_ts_info(sf_dir)
    if unit != "ns":
        # TIMESTAMP(MICROS): the explicit reader schema mirrors the
        # parquet logical type — TimestampType when isAdjustedToUTC
        # (instant semantics), TimestampNTZType otherwise — so the read
        # is value-preserving by construction, not by session-tz luck.
        ts_type = T.TimestampType() if utc_adjusted else T.TimestampNTZType()
        stream = (
            spark.readStream.schema(_events_schema(ts_type))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # TIMESTAMP(NANOS): read as long. The conf is consumed when the
    # source relation is defined; restoring it afterwards does not
    # affect micro-batch execution (verified).
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        # The file stream source requires a directory: scan sf_dir with a
        # glob filter selecting only the events file(s).
        stream = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def run_available_now(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion on the files present
    now; return the materialized result.

    Contract: EAGER and driver-materialized — the memory sink's rows
    are collected to the driver (then the sink's temp view is dropped,
    so repeated calls don't leak tables) and returned as a fresh local
    DataFrame. Size the driver for the full result, or for large
    complete-mode outputs write to a durable sink (parquet +
    foreachBatch) instead of this convenience wrapper."""
    spark = df.sparkSession
    name = f"stream_result_{next(_COUNTER)}_{os.getpid()}"
    # Fresh checkpoint per run → safe to lower the shuffle width.
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        with stream_shuffle_floor(spark):
            (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        # this wrapper owns the throwaway checkpoint — don't let
        # repeated runs accumulate state dirs under /tmp
        shutil.rmtree(ckpt, ignore_errors=True)
    # Materialize and drop the memory-sink table immediately: the sink
    # holds every run's result on the driver otherwise (one leaked table
    # per call in long-lived sessions).
    result = spark.table(name)
    rows = result.collect()
    schema = result.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type, watermarked."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events are within ``gap``."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "user_id",
            "n",
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream ⋈ static dimension (broadcast — the static side is a dim
    table; no state needed)."""
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )


def stream_stream_interval_join(
    clicks: DataFrame, purchases: DataFrame, bound: str = "30 minutes"
) -> DataFrame:
    """Stream ⋈ stream inner join on user with an event-time interval
    condition (purchase within ``bound`` after the click) — the
    attribution-join shape. Both sides carry watermarks; with the
    interval condition they bound the join state: a buffered click can
    be dropped once the purchase-side watermark passes click_ts +
    bound, so state is O(events within the bound window), not O(stream).
    Append output mode (stream-stream joins emit rows exactly once)."""
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
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {bound}")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def run_foreach_batch(
    df: DataFrame,
    batch_fn,
    output_mode: str = "update",
    checkpoint: str | None = None,
) -> None:
    """foreachBatch sink: apply an arbitrary batch function (upserts,
    MERGEs, multi-sink fan-out) per micro-batch — the pattern for
    streaming into plain-parquet/lakehouse tables where no native
    streaming sink exists.  Pass a stable ``checkpoint`` dir to get
    exactly-once across restarts: the source log remembers processed
    files, so a rerun ingests only what arrived since."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="ckpt_feb_")
    try:
        with stream_shuffle_floor(df.sparkSession):
            (
                df.writeStream.foreachBatch(batch_fn)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        if checkpoint is None:  # throwaway checkpoint: reclaim it
            shutil.rmtree(ckpt, ignore_errors=True)
