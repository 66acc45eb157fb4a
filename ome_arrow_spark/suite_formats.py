"""Format breadth + incremental-load patterns (SURVEY.md §2C scan/sink
rows): CSV and JSON-lines source/sink round-trips, CDC MERGE semantics
over plain parquet-style batches, and the cogrouped-applyInPandas API
surface (pandas merge_asof per key-group).

Round-trip queries prove the sources preserve values exactly: the
aggregate over the round-tripped copy must hash-match an oracle
computed from the ORIGINAL parquet. Sinks land under /tmp keyed by the
sf_dir basename (overwritten per call — the queries are rerunnable).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ome_arrow_spark.suite import _events, _t, register


def _rt_dir(sf_dir: str, tag: str) -> str:
    return f"/tmp/ome_arrow_rt_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"


# ---------------------------------------------------------------------------
# CSV source/sink round-trip: write a projected orders table to CSV
# (header, explicit date formatting), read it back with an explicit
# schema, aggregate. Hash-matching the original-parquet oracle proves
# the text round-trip is lossless for every carried type.
# ---------------------------------------------------------------------------
@register(
    "csv_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price,
           MIN(CAST(o_orderdate AS DATE)) AS first_date,
           MAX(CAST(o_orderdate AS DATE)) AS last_date
    FROM orders WHERE o_custkey % 20 = 0
    GROUP BY o_orderstatus
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _rt_dir(sf_dir, "csv")
    (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    back = spark.read.option("header", "true").schema(schema).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


# ---------------------------------------------------------------------------
# JSON-lines source/sink round-trip with a NESTED payload: each row is
# re-shaped into a struct + array before writing, read back with
# schema inference, then unpacked — exercising the nested-value path of
# the JSON reader, not just flat scalars.
# ---------------------------------------------------------------------------
@register(
    "jsonl_roundtrip",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_bal,
           CAST(SUM(length(c_name)) AS BIGINT) AS sum_name_len
    FROM customer WHERE c_custkey % 10 = 0
    GROUP BY c_mktsegment
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _rt_dir(sf_dir, "jsonl")
    (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("id"),
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("segment"),
            ).alias("profile"),
            F.array("c_acctbal").alias("balances"),
        )
        .write.mode("overwrite")
        .json(path)
    )
    back = spark.read.json(path)
    return (
        back.select(
            F.col("profile.segment").alias("c_mktsegment"),
            F.element_at("balances", 1).alias("bal"),
            F.length("profile.name").alias("name_len"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("bal").cast("decimal(30,6)")).cast("double").alias("sum_bal"),
            F.sum("name_len").cast("bigint").alias("sum_name_len"),
        )
    )


# ---------------------------------------------------------------------------
# CDC MERGE semantics over batch relations: an update batch (status
# flip + price bump on matched keys) plus an insert batch merged into
# the base by the shuffle-MERGE pattern — union with a source-priority
# column, one row_number window per key. This is exactly what
# Delta/Iceberg MERGE INTO compiles to when no file-pruning applies;
# on plain tables it is the scalable formulation (one shuffle on the
# merge key, no driver involvement).
# ---------------------------------------------------------------------------
@register(
    "merge_incremental",
    """
    WITH upd AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0),
    ins AS (
      -- offset safe to ~sf15 (orderkey max 6e7 at sf10 << 1e8); use the
      -- r13 mirror-id convention (-(key+1)) if fixtures ever grow past it
      SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
             o_totalprice AS o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0),
    merged AS (
      SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins)
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hit = F.col("o_orderkey") % 101 == 0
    upd = base.filter(hit).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    )
    ins = base.filter(hit).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    staged = (
        base.withColumn("__src", F.lit(0))
        .unionByName(upd.withColumn("__src", F.lit(1)))
        .unionByName(ins.withColumn("__src", F.lit(1)))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("__src").desc())
    merged = (
        staged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Cogrouped applyInPandas: per-user as-of merge executed by pandas
# merge_asof inside each cogroup — the API surface for custom two-sided
# per-key logic that exceeds SQL (here deliberately SQL-mirrorable so
# the oracle can check the machinery). Same semantics as
# asof_events_orders: latest order at-or-before the event, ties on
# orderdate broken by max orderkey.
# ---------------------------------------------------------------------------
@register(
    "cogrouped_asof",
    """
    SELECT event_id, ts, user_id, o_orderkey AS asof_orderkey,
           o_totalprice AS asof_totalprice
    FROM (
        SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
              FROM events WHERE user_id % 5 = 0) e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)
def cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 5 == 0)
        .select("event_id", "ts", "user_id")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )

    out_schema = (
        "event_id long, ts timestamp, user_id long, "
        "asof_orderkey long, asof_totalprice double"
    )

    def merge(ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        if ev.empty:
            return pd.DataFrame(
                columns=[
                    "event_id",
                    "ts",
                    "user_id",
                    "asof_orderkey",
                    "asof_totalprice",
                ]
            )
        ev = ev.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # epoch-µs keys on BOTH sides (the two columns may arrive at
        # different datetime64 resolutions)
        ev["__k"] = ev["ts"].astype("datetime64[us]").astype("int64")
        if od.empty:
            res = ev.copy()
            res["o_orderkey"] = pd.Series(dtype="float64")
            res["o_totalprice"] = pd.Series(dtype="float64")
        else:
            # sort orders ascending; merge_asof takes the LAST row at
            # equal keys, which realizes the (orderdate, orderkey) max
            # tiebreak
            od = od.sort_values(["o_orderdate", "o_orderkey"]).reset_index(
                drop=True
            )
            od["__k"] = od["o_orderdate"].astype("datetime64[us]").astype("int64")
            res = pd.merge_asof(
                ev, od[["__k", "o_orderkey", "o_totalprice"]], on="__k",
                direction="backward",
            )
        return pd.DataFrame(
            {
                "event_id": res["event_id"],
                "ts": res["ts"],
                "user_id": res["user_id"],
                "asof_orderkey": res["o_orderkey"].astype("Int64"),
                "asof_totalprice": res["o_totalprice"],
            }
        )

    return (
        events.groupBy("user_id")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(merge, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# Transaction-log table format (sources/table_log.py): the same CDC
# content as merge_incremental but executed AGAINST THE REAL ON-DISK
# LOG — create (v0, range-partitioned files), append (v1), MERGE with
# manifest key-range pruning (v2) — then aggregated from the committed
# current snapshot. Hash-matching the from-orders oracle proves the
# commit protocol, file-action replay, and pruned rewrite reproduce
# exact MERGE semantics.
# ---------------------------------------------------------------------------
def _build_log_table(spark: SparkSession, sf_dir: str, tag: str = "tlog") -> str:
    """Each caller gets its OWN table dir (tag) so queries stay
    independent even if a runner executes them concurrently."""
    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, tag)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    hit = F.col("o_orderkey") % 101 == 0
    ins = base.filter(hit).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    upd = base.filter(hit).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    )
    tl.create_table(
        spark,
        base.repartitionByRange(8, "o_orderkey"),
        path,
        overwrite=True,
    )
    tl.append_table(spark, ins.coalesce(1), path)
    tl.upsert_table(spark, upd, path, key="o_orderkey")
    return path


_TLOG_MERGED_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_custkey % 10 = 0),
    ins AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
             o_totalprice
      FROM base WHERE o_orderkey % 101 = 0),
    upd AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice
      FROM base WHERE o_orderkey % 101 = 0),
    merged AS (
      SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL SELECT * FROM ins
      UNION ALL SELECT * FROM upd)
"""


@register(
    "table_log_merge",
    _TLOG_MERGED_SQL
    + """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def table_log_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.sources import table_log as tl

    path = _build_log_table(spark, sf_dir, "tlog_merge")
    cur = tl.read_table(spark, path)
    return cur.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# Time travel: the SAME query at version 0 (pre-append, pre-merge) and
# at the current version out of one log — snapshot isolation made
# observable. The oracle derives both states independently from orders.
@register(
    "table_time_travel",
    _TLOG_MERGED_SQL
    + """
    SELECT * FROM (
      SELECT 0 AS version, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
      FROM base
      UNION ALL
      SELECT 2 AS version, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
      FROM merged)
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.sources import table_log as tl

    path = _build_log_table(spark, sf_dir, "tlog_tt")

    def _agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_price"),
        ).select(F.lit(version).alias("version"), "n", "sum_price")

    return _agg(tl.read_table(spark, path, version=0), 0).unionByName(
        _agg(tl.read_table(spark, path), 2)
    )


# OME images on the log: ome.arrow.* tags as TABLE PROPERTIES, image_id
# lifted for manifest stats, one create + one upsert (replace z-series,
# insert multi-channel), then per-image plane counts and the
# first-plane pixel sum from the committed snapshot. The oracle
# re-derives the sums arithmetically from the FIXTURES.md pixel
# formula ((base + i) % 65536 with base 0 for the t0/c0/z0 plane).
@register(
    "ome_table_log",
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
def ome_table_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark import synth
    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "ome_tlog")
    tl.create_ome_table(
        spark,
        synth.golden_images_df(
            spark, ids=["z-series", "single-channel"], include_conftest=False
        ),
        path,
        overwrite=True,
    )
    tl.upsert_ome_table(
        spark,
        synth.golden_images_df(
            spark, ids=["multi-channel", "z-series"], include_conftest=False
        ),
        path,
    )
    imgs = tl.read_ome_table(spark, path)
    return imgs.select(
        F.col("ome_arrow.id").alias("image_id"),
        F.size("ome_arrow.planes").alias("n_planes"),
        F.aggregate(
            F.element_at("ome_arrow.planes", 1).pixels,
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).alias("first_plane_sum"),
    )


# Incremental view maintenance from the commit log: a materialized
# per-status aggregate built at v0 is brought current by reading ONLY
# the files the v0→v2 commits touched (added rows positive, removed
# rows negative — correct for any append/upsert/delete/compact mix
# because mutations are expressed as whole-file adds/removes). The
# result must hash-match the oracle's from-scratch aggregation of the
# final MERGE state; refresh cost scales with churn, not table size.
@register(
    "table_incremental_agg",
    _TLOG_MERGED_SQL
    + """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def table_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.sources import table_log as tl

    path = _build_log_table(spark, sf_dir, "tlog_inc")
    state0 = (
        tl.read_table(spark, path, version=0)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n0"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("s0"),
        )
    )
    delta = tl.incremental_agg_delta(
        spark, path, 0, 2,
        group_cols=["o_orderstatus"],
        sum_cols={"price": "o_totalprice"},
        decimal_out=True,
    )
    return (
        state0.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("d_count"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("s0"), F.lit(0).cast("decimal(30,6)"))
                + F.coalesce(F.col("d_price"), F.lit(0).cast("decimal(30,6)"))
            )
            .cast("double")
            .alias("sum_price"),
        )
        .filter(F.col("n") > 0)
    )


# Schema evolution + predicate delete on the log, driver-grade: create
# (v0) → metadata-only ADD COLUMN (v1, zero files touched) → append a
# batch CARRYING the new column (v2) → pruned DELETE (v3). The final
# aggregate proves schema-on-read null fill (old rows), the evolved
# write path, and the delete rewrite in one hash-checked row set.
@register(
    "table_evolution",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey % 25 = 0),
    appended AS (
      SELECT o_orderkey + 200000000 AS o_orderkey, o_totalprice,
             o_totalprice * 0.1 AS discount
      FROM base WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS DOUBLE) AS discount FROM base
      UNION ALL SELECT * FROM appended),
    kept AS (SELECT * FROM merged WHERE o_orderkey % 7 <> 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price,
           ROUND(SUM(COALESCE(discount, 0)), 6) AS sum_discount
    FROM kept
    """,
)
def table_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "tlog_evo")
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 25 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    tl.create_table(
        spark, base.repartitionByRange(4, "o_orderkey"), path, overwrite=True
    )
    tl.add_table_column(spark, path, "discount", "double")
    appended = base.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
        "o_totalprice",
        (F.col("o_totalprice") * 0.1).alias("discount"),
    )
    tl.append_table(spark, appended, path)
    tl.delete_from_table(spark, path, "o_orderkey % 7 = 0")
    cur = tl.read_table(spark, path)
    return cur.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("discount").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
        F.round(F.sum(F.coalesce(F.col("discount"), F.lit(0.0))), 6).alias(
            "sum_discount"
        ),
    )


# ---------------------------------------------------------------------------
# ORC source/sink round-trip with hive-style partitioning: write a
# lineitem slice partitioned by l_returnflag, read back filtering on
# the partition column — the filter resolves at PLANNING time
# (directory-level partition pruning; the 'A'/'N' directories are
# never opened), then aggregate.  ORC is Spark's second native
# columnar format; at 100 TB the partitioned layout is what makes
# per-flag reads O(selected partitions).  Oracle: DuckDB re-derives
# the same aggregate straight from the parquet source.
# ---------------------------------------------------------------------------
@register(
    "orc_partitioned_roundtrip",
    """
    SELECT l_linestatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_orderkey % 16 = 0 AND l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _rt_dir(sf_dir, "orc")
    (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 16 == 0)
        .select(
            "l_orderkey", "l_returnflag", "l_linestatus",
            "l_quantity", "l_extendedprice",
        )
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .orc(path)
    )
    back = spark.read.orc(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Change data feed between snapshots (table_log.table_changes): create
# from an orders slice, MERGE a price-bump batch, and aggregate the
# row-level delete/insert pairs the CDF derives from file-level deltas.
# The oracle recomputes both sides of every updated key from the raw
# table — matching proves updates surface as exact delete+insert pairs.
# ---------------------------------------------------------------------------
@register(
    "table_change_feed",
    """
    WITH touched AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey % 20 = 0)
    SELECT 'delete' AS change_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM touched
    UNION ALL
    SELECT 'insert', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice + 1 AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM touched
    """,
)
def table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "cdf")
    shutil.rmtree(path, ignore_errors=True)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    tl.create_table(spark, base.repartitionByRange(4, "o_orderkey"), path)
    ups = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 20 == 0)
        .select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") + 1).alias("o_totalprice"),
        )
    )
    tl.upsert_table(spark, ups, path, key="o_orderkey")
    ch = tl.table_changes(spark, path, 0, 1)
    return ch.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Deletion-vector DELETE (table_log.delete_from_table mode="dv"): the
# delete writes position sidecars instead of rewriting data files —
# at 100 TB a point DELETE costs O(matched rows) of sidecar bytes, not
# a rewrite of every touched 128 MB file.  The query deletes one
# priority class, then aggregates BOTH a snapshot read (vectors
# applied) and the change feed's view of the same delete; the oracle
# recomputes each from the raw table.  Matching proves the DV read
# path drops exactly the deleted rows and the CDF derives the same
# rows from the (path, vector) file identity.
# ---------------------------------------------------------------------------
@register(
    "table_delete_dv",
    """
    WITH base AS (
      SELECT o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_custkey % 10 = 0)
    SELECT 'live' AS side, o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM base WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'deleted', o_orderstatus, COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM base WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def table_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "dv")
    shutil.rmtree(path, ignore_errors=True)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
    )
    tl.create_table(spark, base.repartitionByRange(4, "o_orderkey"), path)
    tl.delete_from_table(
        spark, path, "o_orderpriority = '1-URGENT'", mode="dv"
    )
    agg = [
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    ]
    live = (
        tl.read_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(*agg)
        .select(F.lit("live").alias("side"), "o_orderstatus", "n", "sum_price")
    )
    feed = (
        tl.table_changes(spark, path, 0, 1)
        .filter(F.col("_change_type") == "delete")
        .groupBy("o_orderstatus")
        .agg(*agg)
        .select(
            F.lit("deleted").alias("side"), "o_orderstatus", "n", "sum_price"
        )
    )
    return live.unionByName(feed)


# ---------------------------------------------------------------------------
# RESTORE TABLE TO VERSION (table_log.restore_table): create from an
# orders slice, DV-delete a priority class, then RESTORE to v0 — a
# metadata-only rollback (nothing rewritten; the delete stays
# time-travelable). The query aggregates the restored head UNION the
# still-readable deleted snapshot; the oracle recomputes both from the
# raw table. Matching proves restore re-exposes the exact pre-delete
# file set while history remains intact.
# ---------------------------------------------------------------------------
@register(
    "table_restore",
    """
    WITH base AS (
      SELECT o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_custkey % 10 = 3)
    SELECT 'restored' AS side, o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM base GROUP BY o_orderstatus
    UNION ALL
    SELECT 'deleted_snapshot', o_orderstatus, COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM base WHERE o_orderpriority <> '2-HIGH'
    GROUP BY o_orderstatus
    """,
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "restore")
    shutil.rmtree(path, ignore_errors=True)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
    )
    tl.create_table(spark, base.repartitionByRange(4, "o_orderkey"), path)
    tl.delete_from_table(
        spark, path, "o_orderpriority = '2-HIGH'", mode="dv"
    )
    tl.restore_table(spark, path, version=0)
    agg = [
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    ]
    head = (
        tl.read_table(spark, path)
        .groupBy("o_orderstatus").agg(*agg)
        .select(F.lit("restored").alias("side"), "o_orderstatus", "n",
                "sum_price")
    )
    old = (
        tl.read_table(spark, path, version=1)
        .groupBy("o_orderstatus").agg(*agg)
        .select(F.lit("deleted_snapshot").alias("side"), "o_orderstatus",
                "n", "sum_price")
    )
    return head.unionByName(old)


# ---------------------------------------------------------------------------
# Cross-table transaction (table_log.atomic_multi_append): a facts
# table and its derived index stay snapshot-consistent through an
# all-or-nothing commit. The query drives the full protocol: a
# committed txn (batch B lands in BOTH tables via one coordinator-slot
# flip), then an ABORTED txn (a participant entry staged by a
# "crashed" committer whose coordinator slot is then taken by a normal
# append of batch C) — the staged rows must appear NOWHERE while batch
# C lands normally. The oracle recomputes both tables from raw orders;
# matching proves atomic visibility and deterministic abort.
# ---------------------------------------------------------------------------
@register(
    "table_multi_txn",
    """
    WITH facts AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_custkey % 10 = 4)
    SELECT 'facts' AS side, o_orderstatus AS k1, '' AS k2,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM facts GROUP BY o_orderstatus
    UNION ALL
    SELECT 'index', b.batch, f.o_orderpriority,
           COUNT(*), CAST(CAST(SUM(CAST(f.o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM facts f
    JOIN (VALUES ('A', 0), ('B', 1)) AS b(batch, r)
      ON f.o_orderkey % 3 = b.r
    GROUP BY b.batch, f.o_orderpriority
    """,
)
def table_multi_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid as _uuid

    from ome_arrow_spark.sources import table_log as tl

    facts_path = _rt_dir(sf_dir, "txn_facts")
    index_path = _rt_dir(sf_dir, "txn_index")
    shutil.rmtree(facts_path, ignore_errors=True)
    shutil.rmtree(index_path, ignore_errors=True)

    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 4)
        .select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
    )

    def batch(r: int) -> DataFrame:
        return base.filter(F.col("o_orderkey") % 3 == r)

    def idx(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("s"),
        ).select(F.lit(tag).alias("batch"), "o_orderpriority", "n", "s")

    tl.create_table(spark, batch(0), facts_path)
    tl.create_table(spark, idx(batch(0), "A"), index_path)

    # committed txn: batch B into facts AND its index entries, atomically
    tl.atomic_multi_append(
        spark, [(facts_path, batch(1)), (index_path, idx(batch(1), "B"))]
    )

    # aborted txn: a committer stages the index side (re-indexing batch
    # A under tag X) and crashes before the coordinator commit ...
    index_abs = os.path.abspath(index_path)
    stale_adds = tl._write_data_files(
        idx(batch(0), "X"),
        index_abs,
        tl._resolve_snapshot(index_path)["version"] + 1,
        (),
    )
    txn_ref = {
        "id": _uuid.uuid4().hex,
        "coordinator": os.path.abspath(facts_path),
        "coordinator_version": tl._resolve_snapshot(facts_path)["version"]
        + 1,
    }
    tl._stage_participant(index_abs, stale_adds, txn_ref)
    # ... and a normal append of batch C takes the coordinator slot,
    # aborting the staged entry permanently
    tl.append_table(spark, batch(2), facts_path)

    fact_rows = (
        tl.read_table(spark, facts_path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.lit("facts").alias("side"),
            F.col("o_orderstatus").alias("k1"),
            F.lit("").alias("k2"),
            "n",
            "sum_price",
        )
    )
    index_rows = tl.read_table(spark, index_path).select(
        F.lit("index").alias("side"),
        F.col("batch").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        "n",
        F.col("s").cast("double").alias("sum_price"),
    )
    return fact_rows.unionByName(index_rows)


# ---------------------------------------------------------------------------
# Full three-clause MERGE (table_log.sync_table): WHEN MATCHED UPDATE
# SET * / WHEN NOT MATCHED INSERT * / WHEN NOT MATCHED BY SOURCE
# DELETE — Delta's sync semantics with a scope predicate. The query
# creates the table from an orders slice, then syncs the 'O'-status
# scope against a source that doubles prices of even orderkeys (odd
# ones therefore DELETE, new keys would insert); rows outside the
# scope are untouched. The oracle recomputes the expected final state
# from raw orders; matching proves the delete-by-source clause, the
# scope fence, and the wholesale-replacement rewrite all landed in one
# atomic commit.
# ---------------------------------------------------------------------------
@register(
    "table_sync",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_custkey % 10 = 6),
    final AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
      WHERE o_orderstatus <> 'O'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 2 FROM base
      WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0)
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS sum_price
    FROM final GROUP BY o_orderstatus
    """,
)
def table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    path = _rt_dir(sf_dir, "sync")
    shutil.rmtree(path, ignore_errors=True)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 6)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    tl.create_table(spark, base.repartitionByRange(4, "o_orderkey"), path)
    src = (
        base.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    tl.sync_table(
        spark, src, path, key="o_orderkey", scope="o_orderstatus = 'O'"
    )
    return (
        tl.read_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# SHALLOW CLONE + copy-on-write (table_log.clone_table): clone the
# source AS OF v0 with zero data movement (the clone's manifest
# references the source files by absolute path), then upsert the clone
# — the rewrite lands in clone-local files while the source stays
# byte-identical. The query reads BOTH tables after the divergence;
# the oracle recomputes each side from raw orders, so a hash match
# proves version-pinned clone contents AND copy-on-write isolation in
# one row set. (tests/test_table_clone.py carries the zero-copy /
# vacuum-safety assertions that SQL can't express.)
# ---------------------------------------------------------------------------
@register(
    "table_clone",
    """
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_custkey % 10 = 6 AND o_orderkey % 2 = 0),
    b AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_custkey % 10 = 6 AND o_orderkey % 2 = 1),
    cl AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM a)
    SELECT 'source' AS side, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS sum_price
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'clone', o_orderstatus, CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
    FROM cl GROUP BY o_orderstatus
    """,
)
def table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.sources import table_log as tl

    src = _rt_dir(sf_dir, "clone_src")
    dst = _rt_dir(sf_dir, "clone_dst")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 6)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    a = base.filter(F.col("o_orderkey") % 2 == 0)
    b = base.filter(F.col("o_orderkey") % 2 == 1)
    tl.create_table(spark, a.repartitionByRange(4, "o_orderkey"), src)  # v0
    tl.append_table(spark, b, src)  # v1
    tl.clone_table(spark, src, dst, version=0, shallow=True)
    mods = a.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    tl.upsert_table(spark, mods, dst, key="o_orderkey")  # COW divergence
    agg = [
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_price"),
    ]
    s_side = (
        tl.read_table(spark, src)
        .groupBy("o_orderstatus")
        .agg(*agg)
        .select(F.lit("source").alias("side"), "o_orderstatus", "n",
                "sum_price")
    )
    c_side = (
        tl.read_table(spark, dst)
        .groupBy("o_orderstatus")
        .agg(*agg)
        .select(F.lit("clone").alias("side"), "o_orderstatus", "n",
                "sum_price")
    )
    return s_side.unionByName(c_side)
