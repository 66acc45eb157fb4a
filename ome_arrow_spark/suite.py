"""The driver-facing query suite: every operator category from
SURVEY.md §2 as a (Spark query, ANSI-SQL oracle) pair.

Each Spark query is a callable ``(spark, sf_dir) -> DataFrame``; the
matching oracle is a DuckDB-runnable SQL string over the same parquet
tables. The driver compares row-count + schema + order-insensitive
value hash (CORRECTNESS_r{N}.json), so:

* every computed column is aliased identically on both sides;
* aggregates over floating-point columns use the decimal-sum pattern
  ``CAST(CAST(SUM(CAST(x AS DECIMAL(p,s))) AS VARCHAR(64)) AS DOUBLE)`` — decimal addition is
  exact and associative, so Spark's parallel partial/final aggregation
  and DuckDB's single-node aggregation produce bit-identical doubles
  regardless of summation order;
* per-row double arithmetic (``x * (1 - d)``) is IEEE-deterministic and
  needs no such guard;
* rankings / LIMIT cuts always carry a unique tiebreaker column.

Scale notes are attached per query — these run at sf0.01/sf0.1 locally
but are written for a 1000-executor cluster over 100 TB.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ome_arrow_spark.operators.asof import asof_join

QueryFn = Callable[[SparkSession, str], DataFrame]

# registry: name -> (query_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# The driver's correctness gate hashes the FIRST 50 registered queries
# against their DuckDB oracles. Registration order is import order, which
# would fill the whole window with suite.py's relational queries; this
# list pins a representative cross-section — core relational + OME format
# + LLM dedup/ANN + streaming + incremental formats — to the head of the
# ordering so the flagship differentiators get driver-verified rows.
# Rotation rule: the window stays at 50 names; a query whose code changed
# since it was last driver-graded takes the slot of the row that has been
# green the longest (the rotation history is in CHANGES.md).  Names not
# yet registered are skipped, so partial imports stay safe.
_DRIVER_WINDOW: tuple[str, ...] = (
    "span_dedup_3sent", "domain_mixture_reweight",
    "ccnet_ppl_buckets", "bloom_dedup_probe", "incremental_neardup",
    "cross_source_overlap", "minhash_jaccard_estimate",
    "knn_join_lsh", "semantic_dedup", "line_dedup_global",
    "ann_index_search", "ann_sharded_search",
    "simpson_diversity", "runs_test_daily",
    "generator_outer", "graph_bfs_trade", "graph_cheapest_route",
    "heavy_hitters_bigrams", "heavy_hitters_terms",
    "histogram_totalprice", "hll_union_distinct", "hybrid_retrieval_rrf",
    "join_lateral", "join_null_safe", "join_salted_skew", "kmeans_embeddings",
    "lm_bigram_score", "media_audio_features", "media_audio_resample",
    "media_dir_ingest", "media_features", "media_image_resize",
    "media_video_frames", "ome_pipeline", "ome_rgba_repack",
    "ome_slice_conftest", "ome_zarr_blosc_roundtrip",
    "orc_partitioned_roundtrip", "q1_pricing_summary",
    "q21_waiting_supplier", "skew_report", "knn_cosine_ivf",
    "sql_api_q1", "stratified_sample", "string_distance",
    "time_hierarchy_rollup", "udtf_sentences",
    "window_rank", "ann_ivfpq_rerank", "ann_pq_rerank",
)


def _ordered_names() -> list[str]:
    head = [n for n in _DRIVER_WINDOW if n in _REGISTRY]
    seen = set(head)
    return head + [n for n in _REGISTRY if n not in seen]


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered_names()
        if _REGISTRY[name][1] is not None
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_ts_info(sf_dir: str) -> tuple[str, bool]:
    """``(time unit, isAdjustedToUTC)`` of events.ts — a driver-side
    footer sniff (pyarrow, no JVM scan). Different testdata generations
    have stored either TIMESTAMP(NANOS) or TIMESTAMP(MICROS); both must
    ingest identically. Directory datasets are searched recursively
    (cluster layouts nest part files under partition subdirs), and a
    non-timestamp ``ts`` raises instead of being misread as seconds."""
    import glob as _glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # directory dataset at cluster scale
        parts = sorted(
            _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            raise FileNotFoundError(
                f"no *.parquet part files anywhere under {path}"
            )
        path = parts[0]
    t = pq.read_schema(path).field("ts").type
    unit = getattr(t, "unit", None)
    if unit is None:
        raise TypeError(
            f"events.ts has parquet type {t!r}, not a timestamp — refusing "
            "to guess an epoch unit for event-time ingest"
        )
    return unit, getattr(t, "tz", None) is not None


def _events_ts_unit(sf_dir: str) -> str:
    return _events_ts_info(sf_dir)[0]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with a proper (session-tz) timestamp ``ts``.

    TIMESTAMP(NANOS) fixtures: Spark's vectorized reader rejects nanos
    outright, so read them as long (legacy conf) and floor-convert to
    microseconds — the same truncation Python datetimes (and hence the
    DuckDB oracle results) apply. TIMESTAMP(MICROS) fixtures: Spark
    reads the un-adjusted micros as TIMESTAMP_NTZ; cast to the regular
    timestamp type (value-preserving under the UTC session timezone the
    whole oracle compare assumes) so every downstream plan sees one
    type regardless of which generation wrote the file.
    """
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_unit(sf_dir) != "ns":
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        # the conf is consumed at read/analysis time (schema conversion),
        # so restoring it afterwards does not affect later execution.
        df = spark.read.parquet(path)
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    # integer division: epoch-nanos overflow double's 53-bit mantissa,
    # so `/ 1000` (double) would corrupt the low microseconds.
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _dsum(col, alias: str, prec: int = 30, scale: int = 6):
    """Deterministic double sum: exact decimal accumulation, double result.

    Oracle-parity caveat (r11): Spark's decimal->double cast is
    correctly rounded, but DuckDB converts int128-backed decimals via
    hugeint->double THEN the 10^-scale divide — two roundings. Once the
    sum's integer units (value * 10^scale) exceed 2^53 the oracle can
    land 1 ulp off (first seen: join_range's 'large' band at sf1; hit
    q1's price sums at the r12 sf10 gate). r12 applies the remedy
    GLOBALLY: every ``CAST(SUM(..) AS DOUBLE)`` oracle expression now
    round-trips through VARCHAR (``CAST(CAST(SUM(..) AS VARCHAR(64))
    AS DOUBLE)`` — DuckDB's string->double parse is correctly rounded,
    and Spark parses the same text identically for the sql_api twin),
    so every oracle is scale-proof past 2^53 units. Full-registry
    sweeps at sf0.01/sf0.001 re-verified after the rewrite."""
    return F.sum(col.cast(f"decimal({prec},{scale})")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1-style pricing summary (scan → filter → hash agg).
# Scale: partial aggregation map-side (Catalyst automatic), 6 groups — the
# shuffle moves only #groups × #partitions rows. Filter pushes to parquet.
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(30,6)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Join + top-k: TPC-H Q3-style shipping priority.
# Scale: lineitem⋈orders is the big join (shuffle on orderkey); customer
# filter applied before the join (Catalyst pushes it); top-10 executes as
# TakeOrderedAndProject — no global sort materialization.
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-way join through the dimension chain, small dims broadcast.
# Scale: nation/region are tiny → explicit broadcast() removes two shuffles;
# the remaining shuffles are lineitem⋈orders⋈customer/supplier on keys.
# ---------------------------------------------------------------------------
@register(
    "q5_revenue_by_nation",
    """
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# Filter operator battery: IN / BETWEEN / LIKE / RLIKE / IS NOT NULL.
# Scale: all predicates push down to the parquet scan (PushedFilters) except
# rlike, which evaluates post-scan inside codegen; no shuffle at all.
# ---------------------------------------------------------------------------
@register(
    "filter_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 10000 AND 200000
      AND o_orderpriority LIKE '%URGENT%'
      AND regexp_matches(o_orderpriority, '^[12]-')
      AND o_custkey IS NOT NULL
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(F.col("o_totalprice").between(10000, 200000))
        .filter(F.col("o_orderpriority").like("%URGENT%"))
        .filter(F.col("o_orderpriority").rlike("^[12]-"))
        .filter(F.col("o_custkey").isNotNull())
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Semi / anti joins.
# Scale: left-semi/anti shuffle only the join keys of the right side;
# at 100 TB prefer these over IN-subquery + distinct.
# ---------------------------------------------------------------------------
@register(
    "join_semi",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Left outer join + aggregate with null handling (COALESCE).
# ---------------------------------------------------------------------------
@register(
    "join_left_order_counts",
    """
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 0) AS DOUBLE) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Distinct aggregation.
# Scale: COUNT(DISTINCT) expands to a two-phase aggregate in Spark
# (partial distinct per partition, then merge) — no driver collection.
# ---------------------------------------------------------------------------
@register(
    "agg_distinct",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP / CUBE grouping sets.
# ---------------------------------------------------------------------------
@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity"), "sum_qty"))
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice"), "sum_price"))
    )


# ---------------------------------------------------------------------------
# Statistical aggregates, numerically deterministic: moments from exact
# decimal sums (portable across engines, unlike engine-native stddev),
# exact interpolated median.
# ---------------------------------------------------------------------------
@register(
    "agg_stats",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS s1,
           CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS s2,
           SQRT((CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
                 - CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
                   * CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) AS stddev_qty,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = F.col("l_quantity")
    s1 = F.sum(q.cast("decimal(30,6)")).cast("double")
    s2 = F.sum((q * q).cast("decimal(30,6)")).cast("double")
    n = F.count("*")
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
            F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("stddev_qty"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            F.min(q).alias("min_qty"),
            F.max(q).alias("max_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions: ranking (top-N per group).
# Scale: single shuffle on the partition key; rank filter evaluates
# streaming per partition — no global sort.
# ---------------------------------------------------------------------------
@register(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.plans import tuning

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    # r15: when the scan yields fewer splits than task slots, the rank
    # filter's partial WindowGroupLimit SORTS THE WHOLE TABLE in the
    # scan's single effective task before the exchange (explain: Sort +
    # WindowGroupLimit(Partial) below Exchange).  Pre-partitioning by
    # the window key moves the one exchange BEFORE the sort (hash(
    # o_custkey) satisfies the window's distribution, so no second
    # exchange appears) and the sort runs slots-wide.  Measured
    # interleaved: sf1 1.29-1.52 -> 0.57-0.81 s, sf0.1 0.54 -> 0.34 s,
    # rowset hash-identical.  At scale (splits >= slots) the guard is
    # a NO-OP and the partial-limit-prunes-the-shuffle plan stays.
    return (
        tuning.spread_small_input(_t(spark, sf_dir, "orders"), "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# Window functions: analytic (lag/lead) + running frame sum.
# The running sum uses the decimal pattern inside the frame so segment-tree
# vs incremental evaluation order cannot change the result.
# ---------------------------------------------------------------------------
@register(
    "window_analytic",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR(64)) AS DOUBLE)
             AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .over(wf)
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Global top-k (TakeOrderedAndProject — per-partition top-k then merge on
# driver; never a full global sort).
# ---------------------------------------------------------------------------
@register(
    "sort_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set operations: UNION (distinct), INTERSECT, EXCEPT in one result,
# tagged by operation.
# ---------------------------------------------------------------------------
@register(
    "set_ops",
    """
    SELECT 'union' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "k")  # noqa: E731
    return (
        tag(c.union(s).distinct(), "union")
        .unionByName(tag(c.intersect(s), "intersect"))
        .unionByName(tag(c.subtract(s), "except"))
    )


# ---------------------------------------------------------------------------
# Scalar string functions.
# ---------------------------------------------------------------------------
@register(
    "scalar_string",
    """
    SELECT p_partkey,
           UPPER(p_brand)                          AS brand_u,
           LOWER(p_type)                           AS type_l,
           SUBSTRING(p_name, 1, 6)                 AS name_pre,
           CAST(LENGTH(p_name) AS INT)             AS name_len,
           CONCAT_WS('|', p_brand, p_type)         AS brand_type,
           regexp_extract(p_brand, '([0-9]+)', 1)  AS brand_num,
           LEN(string_split(p_name, ' '))          AS name_words,
           REPLACE(p_name, ' ', '_')               AS name_snake,
           LPAD(CAST(p_size AS VARCHAR), 4, '0')   AS size_pad,
           TRIM('  ' || p_brand || ' ')            AS brand_trim
    FROM part
    WHERE p_partkey % 7 = 0
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.lower("p_type").alias("type_l"),
            F.substring("p_name", 1, 6).alias("name_pre"),
            F.length("p_name").alias("name_len"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
            F.size(F.split("p_name", " ")).cast("long").alias("name_words"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
            F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar date/time functions.
# ---------------------------------------------------------------------------
@register(
    "scalar_date",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           EXTRACT(year FROM o_orderdate)   AS order_year,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS month_revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "month_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar math functions (only IEEE-deterministic ones: sqrt is correctly
# rounded, abs/floor/ceil/mod exact; transcendentals like ln/exp differ
# across libm implementations and are excluded from oracle checks).
# ---------------------------------------------------------------------------
@register(
    "scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05)            AS disc_dev,
           CAST(FLOOR(l_quantity) AS BIGINT) AS q_floor,
           CAST(CEIL(l_quantity) AS BIGINT)  AS q_ceil,
           SQRT(l_extendedprice)             AS price_sqrt,
           l_orderkey % 97                   AS key_mod,
           GREATEST(l_tax, l_discount)       AS max_rate,
           LEAST(l_tax, l_discount)          AS min_rate,
           ROUND(l_extendedprice, 1)         AS price_r1
    FROM lineitem
    WHERE l_orderkey % 11 = 0 AND l_linenumber = 1
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") % 11 == 0) & (F.col("l_linenumber") == 1))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
            F.floor("l_quantity").alias("q_floor"),
            F.ceil("l_quantity").alias("q_ceil"),
            F.sqrt("l_extendedprice").alias("price_sqrt"),
            (F.col("l_orderkey") % 97).alias("key_mod"),
            F.greatest("l_tax", "l_discount").alias("max_rate"),
            F.least("l_tax", "l_discount").alias("min_rate"),
            F.round(F.col("l_extendedprice"), 1).alias("price_r1"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction over events.props (get_json_object ↔ json_extract).
# ---------------------------------------------------------------------------
@register(
    "json_events",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _dsum(F.col("value"), "sum_value"))
    )


# ---------------------------------------------------------------------------
# As-of join (nearest order at-or-before each event) — the union+window
# implementation from operators/asof.py; oracle is the naive
# join+row_number formulation.
# Scale: exactly one shuffle on user_id; no row blowup (contrast the
# oracle's range-join intermediate, which explodes at 100 TB).
# ---------------------------------------------------------------------------
@register(
    "asof_events_orders",
    """
    SELECT event_id, ts, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
    FROM (
        SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)
def asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    return asof_join(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        value_aliases=["asof_orderkey", "asof_orderdate"],
        keep=["event_id", "ts", "user_id"],
    )


# ---------------------------------------------------------------------------
# Forward as-of: earliest order at-or-after each event (the "next
# action" attribution direction). Same one-shuffle union+window plan as
# backward, sort reversed; tie at equal orderdate → min orderkey.
# ---------------------------------------------------------------------------
@register(
    "asof_events_orders_forward",
    """
    SELECT event_id, ts, user_id, o_orderkey AS next_orderkey, o_orderdate AS next_orderdate
    FROM (
        SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    )
    WHERE rn = 1
    """,
)
def asof_events_orders_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    return asof_join(
        events,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        value_aliases=["next_orderkey", "next_orderdate"],
        keep=["event_id", "ts", "user_id"],
        direction="forward",
    )


# ---------------------------------------------------------------------------
# Theta/range join: fact rows against interval buckets. The bucket dim
# is tiny → Spark picks BroadcastNestedLoopJoin; at scale, bucketize
# instead (width_bucket-style precompute) to make it an equi-join.
# ---------------------------------------------------------------------------
@register(
    "join_range",
    """
    WITH bands(band, lo, hi) AS (VALUES
        ('small',  0.0,      50000.0),
        ('medium', 50000.0,  150000.0),
        ('large',  150000.0, 1e18))
    SELECT band, COUNT(*) AS n_orders,
           -- VARCHAR round-trip: DuckDB's int128-decimal -> DOUBLE cast
           -- double-rounds once the sum's integer units exceed 2^53
           -- (observed 1 ulp low at sf1: 341419040384.49994 vs the
           -- correctly rounded ...384.5 Spark/Python produce); its
           -- string -> double parse IS correctly rounded.
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS band_total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0), ("large", 150000.0, 1e18)],
        "band string, lo double, hi double",
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice"), "band_total"))
    )


# ---------------------------------------------------------------------------
# JSON → typed map: from_json + map functions (vs. string-level
# get_json_object in json_events).
# ---------------------------------------------------------------------------
@register(
    "scalar_map",
    """
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE event_id % 13 = 0
    """,
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_id") % 13 == 0)
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping() indicator columns.
# ---------------------------------------------------------------------------
@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Approximate distinct (HLL) — engine-specific sketch, no value oracle;
# the driver records a rows-only check. Exact twin lives in
# agg_distinct.
# ---------------------------------------------------------------------------
@register(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch vs exact: the estimate itself is engine-specific, so
    the gradeable contract is the exact count plus an in-engine
    |approx-exact|/exact <= 5% verdict; the oracle pins the verdict to
    TRUE, so a drifting sketch turns the row red. rsd=0.02 (measured
    max error 3.3% across sf0.001-0.1; the default 0.05 breaches 5% on
    this data — rsd is one σ, not a bound)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape): Catalyst decorrelates to a
# left-semi join — verify with test_plans; never a per-row subquery.
# ---------------------------------------------------------------------------
@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q4_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q4_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM __q4_orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM __q4_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (TPC-H Q14-style promo ratio): CASE inside
# SUM, ratio of two deterministic decimal sums.
# ---------------------------------------------------------------------------
@register(
    "q14_conditional_agg",
    """
    SELECT CAST(CAST(SUM(CAST(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS economy_revenue_share,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
    """,
)
def q14_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(promo.cast("decimal(30,6)")).cast("double")
                / F.sum(rev.cast("decimal(30,6)")).cast("double")
            ).alias("economy_revenue_share"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): per-part average as the
# predicate. Catalyst decorrelates into an aggregate + join.
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = l_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q17_li")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q17_part")
    return spark.sql(
        """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) / 7.0
                 AS avg_yearly,
               COUNT(*) AS n
        FROM __q17_li
        WHERE l_partkey IN (SELECT p_partkey FROM __q17_part WHERE p_brand = 'Brand#1')
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM __q17_li l2 WHERE l2.l_partkey = l_partkey)
        """
    )


# ---------------------------------------------------------------------------
# NOT EXISTS + uncorrelated scalar subquery (TPC-H Q22 shape):
# high-balance customers with no orders.
# ---------------------------------------------------------------------------
@register(
    "q22_global_sales_opportunity",
    """
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
                              / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # uncorrelated scalar: computed as a broadcastable 1-row aggregate;
    # deterministic via decimal mean (sum/count)
    avg_row = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double")
                / F.count("*")
            ).alias("avg_bal")
        )
        .first()
    )
    return (
        cust.filter(F.col("c_acctbal") > avg_row["avg_bal"])
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            _dsum(F.col("c_acctbal"), "totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Array-function battery: collect_list with deterministic ordering,
# then transform / filter / slice / zip_with / array_* over it.
# Scale: collect_list per small group (order lines ≤ 7) — bounded
# arrays, not whole-partition collects.
# ---------------------------------------------------------------------------
@register(
    "scalar_array",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             list(l_quantity ORDER BY l_linenumber, l_quantity, l_extendedprice) AS qtys,
             list(l_extendedprice ORDER BY l_linenumber, l_quantity, l_extendedprice) AS prices
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           len(qtys) AS n_lines,
           list_sort(qtys)[1] AS min_qty,
           list_sort(qtys)[len(qtys)] AS max_qty,
           array_to_string(list_transform(qtys,
                 q -> CAST(CAST(q * 2.0 AS DECIMAL(12,2)) AS VARCHAR)), ',')
             AS qtys_doubled_csv,
           len(list_filter(qtys, q -> q > 25)) AS n_big,
           array_to_string(list_transform(qtys[1:2],
                 q -> CAST(CAST(q AS DECIMAL(12,2)) AS VARCHAR)), ',')
             AS first_two_csv,
           list_contains(qtys, 1.0) AS has_one,
           ROUND(list_sum(list_transform(list_zip(qtys, prices),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))), 2)
             AS dot_qp,
           array_to_string(list_transform(list_reverse(qtys),
                 q -> CAST(CAST(q AS DECIMAL(12,2)) AS VARCHAR)), ',')
             AS qtys_rev_csv,
           array_to_string(list_transform(qtys, q -> CAST(CAST(q AS INT) AS VARCHAR)), ',')
             AS qty_csv
    FROM per_order
    WHERE l_orderkey % 101 = 0
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))
        ).alias("lines")
    ).select(
        "l_orderkey",
        F.transform("lines", lambda s: s["l_quantity"]).alias("qtys"),
        F.transform("lines", lambda s: s["l_extendedprice"]).alias("prices"),
    )
    qtys = F.col("qtys")
    return per_order.select(
        "l_orderkey",
        F.size(qtys).cast("long").alias("n_lines"),
        F.array_min(qtys).alias("min_qty"),
        F.array_max(qtys).alias("max_qty"),
        F.array_join(
            F.transform(qtys, lambda q: (q * 2.0).cast("decimal(12,2)").cast("string")),
            ",",
        ).alias("qtys_doubled_csv"),
        F.size(F.filter(qtys, lambda q: q > 25)).cast("long").alias("n_big"),
        F.array_join(
            F.transform(
                F.slice(qtys, 1, 2), lambda q: q.cast("decimal(12,2)").cast("string")
            ),
            ",",
        ).alias("first_two_csv"),
        F.array_contains(qtys, 1.0).alias("has_one"),
        F.round(
            F.aggregate(
                F.zip_with(qtys, F.col("prices"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            2,
        ).alias("dot_qp"),
        F.array_join(
            F.transform(
                F.reverse(qtys), lambda q: q.cast("decimal(12,2)").cast("string")
            ),
            ",",
        ).alias("qtys_rev_csv"),
        F.array_join(
            F.transform(qtys, lambda q: q.cast("int").cast("string")), ","
        ).alias("qty_csv"),
    )


# ---------------------------------------------------------------------------
# Window frames with RANGE BETWEEN on a numeric ordering key: sliding
# value-range aggregation (vs the ROWS frame in window_analytic).
# ---------------------------------------------------------------------------
@register(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey, price_i,
           CAST(CAST(SUM(CAST(price_i AS DECIMAL(30,6)))
                OVER (PARTITION BY o_custkey ORDER BY price_i
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS VARCHAR(64)) AS DOUBLE)
             AS near_price_sum,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY price_i
                          RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)
             AS near_price_count
    FROM (SELECT o_custkey, o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS price_i
          FROM orders WHERE o_custkey % 50 = 0)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.floor("o_totalprice").cast("bigint").alias("price_i"),
        )
    )
    w1 = (
        Window.partitionBy("o_custkey")
        .orderBy("price_i")
        .rangeBetween(-10000, Window.currentRow)
    )
    w2 = Window.partitionBy("o_custkey").orderBy("price_i").rangeBetween(-10000, 10000)
    return base.select(
        "o_custkey",
        "o_orderkey",
        "price_i",
        F.sum(F.col("price_i").cast("decimal(30,6)")).over(w1).cast("double").alias("near_price_sum"),
        F.count("*").over(w2).alias("near_price_count"),
    )


# ---------------------------------------------------------------------------
# Null-handling battery: COALESCE / NULLIF / null-safe equality /
# CASE over NULL-producing expressions.
# ---------------------------------------------------------------------------
@register(
    "scalar_nulls",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           (c_acctbal IS NOT DISTINCT FROM NULL) AS bal_is_null_safe,
           NULLIF(CAST(TRUNC(c_acctbal) AS INT) % 100, 0) AS bal_mod_nullif,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE ROUND(c_acctbal, 0) END AS bal_pos,
           IFNULL(NULLIF(c_name, c_name), 'same') AS name_ifnull
    FROM customer WHERE c_custkey % 17 = 0
    """,
)
def scalar_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 17 == 0)
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.col("c_acctbal").eqNullSafe(F.lit(None).cast("double")).alias("bal_is_null_safe"),
        F.nullif(F.col("c_acctbal").cast("int") % 100, F.lit(0)).alias("bal_mod_nullif"),
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(
            F.round("c_acctbal", 0)
        ).alias("bal_pos"),
        F.ifnull(F.nullif("c_name", F.col("c_name")), F.lit("same")).alias("name_ifnull"),
    )


# ---------------------------------------------------------------------------
# Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL over projections
# with duplicates (the distinct variants live in set_ops).
# ---------------------------------------------------------------------------
@register(
    "set_ops_all",
    """
    SELECT 'except_all' AS op, k, COUNT(*) AS n FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT ALL
        SELECT s_nationkey FROM supplier) GROUP BY k
    UNION ALL
    SELECT 'intersect_all' AS op, k, COUNT(*) AS n FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT ALL
        SELECT s_nationkey FROM supplier) GROUP BY k
    """,
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    tag = lambda df, op: df.groupBy("k").agg(F.count("*").alias("n")).select(  # noqa: E731
        F.lit(op).alias("op"), "k", "n"
    )
    return tag(c.exceptAll(s), "except_all").unionByName(
        tag(c.intersectAll(s), "intersect_all")
    )


# ---------------------------------------------------------------------------
# Date arithmetic battery: add/diff/truncate/extract/last_day.
# ---------------------------------------------------------------------------
@register(
    "scalar_date_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
           datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_95,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           EXTRACT(quarter FROM o_orderdate) AS q,
           EXTRACT(dow FROM o_orderdate) + 1 AS dow1
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).cast("bigint").alias("days_since_epoch_95"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow1"),
    )


# ---------------------------------------------------------------------------
# Pivot (long → wide conditional aggregation) and unpivot (wide → long
# via stack). Column names fixed by the known category domain — at
# scale always pass the pivot values explicitly to skip the extra
# distinct-scan Spark otherwise runs.
# ---------------------------------------------------------------------------
@register(
    "pivot_status_priority",
    """
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f"),
            F.coalesce("O", F.lit(0)).alias("o"),
            F.coalesce("P", F.lit(0)).alias("p"),
        )
    )


@register(
    "unpivot_nation_balance",
    """
    WITH w AS (
      SELECT n_nationkey,
             CAST(CAST(SUM(CAST(CASE WHEN c_acctbal >= 0 THEN c_acctbal ELSE 0 END
                      AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS pos_bal,
             CAST(CAST(SUM(CAST(CASE WHEN c_acctbal < 0 THEN -c_acctbal ELSE 0 END
                      AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS neg_bal
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY n_nationkey)
    SELECT n_nationkey, 'pos_bal' AS kind, pos_bal AS amount FROM w
    UNION ALL
    SELECT n_nationkey, 'neg_bal' AS kind, neg_bal AS amount FROM w
    """,
)
def unpivot_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    wide = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            _dsum(F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).otherwise(0), "pos_bal"),
            _dsum(F.when(F.col("c_acctbal") < 0, -F.col("c_acctbal")).otherwise(0), "neg_bal"),
        )
    )
    return wide.unpivot("n_nationkey", ["pos_bal", "neg_bal"], "kind", "amount")


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (iterative label
# propagation) — deterministic min-label semantics, so a DuckDB
# recursive CTE re-derives the exact clustering. Mirror ids follow
# the r13 collision-free convention (-(doc_id+1), see suite_llm
# _mutated_docs): the former +100000 offset chained unrelated docs
# into one component once the corpus passed 100k docs.
# ---------------------------------------------------------------------------
@register(
    "dedup_components",
    """
    WITH RECURSIVE pairs AS (
      SELECT doc_id AS id_a, -(doc_id + 1) AS id_b
      FROM documents WHERE doc_id % 5 = 0),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.node
      WHERE w.label < e.u  -- only propagate smaller labels
    )
    SELECT node, CAST(MIN(label) AS BIGINT) AS component
    FROM walk GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.clustering import connected_components

    # the planted near-dup pairs: (doc, mirrored copy at -(doc_id+1))
    pairs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (-(F.col("doc_id") + 1)).alias("id_b"),
        )
    )
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# Mini k-means over embeddings — iterative but fully re-derivable:
# deterministic init (k smallest ids), squared-L2 distances as
# sequential folds (Spark F.aggregate ≡ DuckDB list_sum, same order →
# IEEE-identical), centroid means in exact DECIMAL(38,12) accumulation
# (order-independent) — so the 3 fixed iterations unroll into plain SQL
# and the assignments hash-match bit-exactly.
# ---------------------------------------------------------------------------
def kmeans_cte_fragments(
    k: int, iterations: int, src: str = "e", id_col: str = "vec_id",
    prefix: str = "",
) -> tuple[list[str], str]:
    """Unrolled k-means as chained CTE strings mirroring
    operators/clustering.py (its one exact k-means, ``_kmeans``) stage for
    stage over a source CTE ``src(id_col, v DOUBLE[])``. Returns
    (cte_list, final_assignment_cte_name). Reused by the IVF oracle."""
    d2 = (
        f"list_sum(list_transform(list_zip({src}.v, c.ctr),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )

    def assign(a: str, cent: str) -> str:
        return f"""
    {a} AS (
      SELECT {id_col}, v, cluster FROM (
        SELECT {src}.{id_col}, {src}.v, c.cluster,
               row_number() OVER (PARTITION BY {src}.{id_col}
                                  ORDER BY {d2}, c.cluster) AS rk
        FROM {src}, {cent} c
      ) WHERE rk = 1
    )"""

    def update(cent: str, a: str) -> str:
        return f"""
    {cent} AS (
      SELECT cluster, list(m ORDER BY pos) AS ctr FROM (
        SELECT cluster, pos,
               CAST(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT cluster, unnest(range(1, len(v)+1)) AS pos,
                     unnest(v) AS val FROM {a})
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""

    ctes = [
        f"""
    {prefix}c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {id_col}) - 1 AS INT) AS cluster,
             v AS ctr
      FROM {src} ORDER BY {id_col} LIMIT {k}
    )""",
    ]
    for it in range(iterations):
        ctes.append(assign(f"{prefix}a{it + 1}", f"{prefix}c{it}"))
        if it < iterations - 1:
            ctes.append(update(f"{prefix}c{it + 1}", f"{prefix}a{it + 1}"))
    return ctes, f"{prefix}a{iterations}"


def _kmeans_oracle(k: int = 4, iterations: int = 3, id_max: int = 200) -> str:
    src = f"""
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {id_max}
    )"""
    ctes, final = kmeans_cte_fragments(k, iterations)
    return (
        "WITH " + ",".join([src] + ctes) + f"\n    SELECT vec_id, cluster FROM {final}"
    )


@register("kmeans_embeddings", _kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.clustering import kmeans

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return kmeans(emb, k=4, iterations=3)


# ---------------------------------------------------------------------------
# TPC-H breadth: Q7/Q8/Q9/Q10 shapes over the fixture join graph.
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    df = (
        _t(spark, sf_dir, "supplier")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(
            F.col("supp_nation").isin("NATION_1", "NATION_2")
            & F.col("cust_nation").isin("NATION_1", "NATION_2")
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
    )
    return (
        df.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q9_product_profit",
    """
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.6 * p_retailprice * l_quantity
                    AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    df = (
        part.join(_t(spark, sf_dir, "lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        df.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(_dsum(profit, "profit"))
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE)
             AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    df = (
        _t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        df.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window breadth: ntile / percent_rank / cume_dist / first / last / nth.
# ---------------------------------------------------------------------------
@register(
    "window_distribution",
    """
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 9) AS pr,
           ROUND(CUME_DIST() OVER w, 9) AS cd,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_ok,
           NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_ok
    FROM orders
    WHERE o_custkey % 40 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 40 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
    )


# ---------------------------------------------------------------------------
# String breadth: split_part / translate / repeat / left / right /
# instr / levenshtein / contains family.
# ---------------------------------------------------------------------------
@register(
    "scalar_string2",
    """
    SELECT p_partkey,
           split_part(p_name, ' ', 1)            AS first_word,
           split_part(p_name, ' ', 2)            AS second_word,
           translate(p_brand, '#', '-')          AS brand_dashed,
           repeat('*', p_size % 5)               AS stars,
           left(p_type, 3)                       AS type3,
           right(p_name, 4)                      AS name_tail,
           CAST(strpos(p_name, 'e') AS INT)      AS first_e,
           CAST(levenshtein(p_brand, 'Brand#1') AS INT) AS lev_to_b1,
           contains(p_name, 'red')               AS has_red,
           starts_with(p_type, 'ECO')            AS is_eco,
           ends_with(p_name, 'bolt')             AS is_bolt
    FROM part WHERE p_partkey % 13 = 0
    """,
)
def scalar_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 13 == 0)
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.left(F.col("p_type"), F.lit(3)).alias("type3"),
        F.right(F.col("p_name"), F.lit(4)).alias("name_tail"),
        F.instr("p_name", "e").cast("int").alias("first_e"),
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("int").alias("lev_to_b1"),
        F.contains("p_name", F.lit("red")).alias("has_red"),
        F.startswith("p_type", F.lit("ECO")).alias("is_eco"),
        F.endswith("p_name", F.lit("bolt")).alias("is_bolt"),
    )


# ---------------------------------------------------------------------------
# Aggregate breadth: min_by/max_by (unique keys → deterministic),
# count_if, bool_and/bool_or, ordered collect_set.
# ---------------------------------------------------------------------------
@register(
    "agg_extras",
    """
    SELECT l_returnflag,
           arg_min(l_orderkey, l_orderkey) AS min_order,
           arg_max(l_orderkey, l_orderkey) AS max_order,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax > 0.07) AS any_high_tax,
           array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
             AS statuses_csv
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", "l_orderkey").alias("min_order"),
        F.max_by("l_orderkey", "l_orderkey").alias("max_order"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses_csv"
        ),
    )


# ---------------------------------------------------------------------------
# Correlation/covariance, deterministically: moments from exact decimal
# sums → identical doubles on any engine/partitioning (engine-native
# corr/covar accumulate floats in arbitrary order).
# ---------------------------------------------------------------------------
@register(
    "agg_corr",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS VARCHAR(64)) AS DOUBLE) AS syy
      FROM lineitem)
    SELECT n,
           (sxy - sx * sy / n) / (n - 1) AS covar_samp_qty_price,
           (sxy - sx * sy / n)
             / (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n)) AS corr_qty_price
    FROM m
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q, e = F.col("l_quantity"), F.col("l_extendedprice")
    d = lambda c, p=30, s=6: F.sum(c.cast(f"decimal({p},{s})")).cast("double")  # noqa: E731
    m = li.agg(
        F.count("*").alias("n"),
        d(q).alias("sx"),
        d(e).alias("sy"),
        d(q * e).alias("sxy"),
        d(q * q).alias("sxx"),
        d(e * e, 38, 4).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "n",
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_samp_qty_price"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Event funnel: users progressing view → click → purchase in timestamp
# order (sequential min-over-filtered-window per stage).
# ---------------------------------------------------------------------------
@register(
    "funnel_events",
    """
    WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_view_click"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_view_click_purchase"))))
    )


# ---------------------------------------------------------------------------
# Full outer join: customers ∪ event-users with activity on either side
# (nulls where one side is absent).
# ---------------------------------------------------------------------------
@register(
    "join_full_outer",
    """
    WITH ev AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
         cu AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0)
    SELECT COALESCE(c_custkey, user_id) AS entity_id,
           c_mktsegment,
           n_events,
           (c_custkey IS NOT NULL AND user_id IS NOT NULL) AS in_both
    FROM cu FULL OUTER JOIN ev ON c_custkey = user_id
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).groupBy("user_id").agg(F.count("*").alias("n_events"))
    cu = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    j = cu.join(ev, cu.c_custkey == ev.user_id, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "user_id").alias("entity_id"),
        "c_mktsegment",
        "n_events",
        (F.col("c_custkey").isNotNull() & F.col("user_id").isNotNull()).alias("in_both"),
    )


# ---------------------------------------------------------------------------
# Grouped-map pandas UDF (applyInPandas) as a first-class query: per
# event-type top-3 by value, computed INSIDE the Python worker (sort +
# head per group) — the arbitrary-per-group-logic escape hatch when no
# built-in expresses the group computation.
# Scale: one shuffle on the group key; each group crosses the JVM↔Python
# boundary once as an Arrow batch. Fine when groups fit in worker memory
# (top-k per bounded key set); for unbounded groups prefer the window
# formulation (`window_rank`) — this query's oracle IS that formulation,
# proving both agree.
# ---------------------------------------------------------------------------
@register(
    "grouped_map_topk",
    """
    SELECT event_type, event_id, value, rk FROM (
      SELECT event_type, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS INT) AS rk
      FROM events)
    WHERE rk <= 3
    """,
)
def grouped_map_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_type", "event_id", "value")

    def topk(pdf):
        pdf = pdf.sort_values(
            ["value", "event_id"], ascending=[False, True]
        ).head(3)
        pdf = pdf.reset_index(drop=True)
        pdf["rk"] = pdf.index + 1
        return pdf[["event_type", "event_id", "value", "rk"]]

    return ev.groupBy("event_type").applyInPandas(
        topk, schema="event_type string, event_id bigint, value double, rk int"
    )


# ---------------------------------------------------------------------------
# min_by / max_by (argmin/argmax) aggregates. Ties in o_totalprice exist
# in the fixture, so the comparator packs (exact cents, orderkey) into
# one BIGINT — deterministic in both engines (Spark round and DuckDB
# ROUND agree half-up for positive values; cents < 2^53 are exact).
# ---------------------------------------------------------------------------
@register(
    "agg_minmax_by",
    """
    WITH o AS (
      SELECT *,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey
               AS cmp
      FROM orders)
    SELECT o_orderpriority,
           arg_max(o_orderkey, cmp)   AS top_order,
           arg_min(o_orderkey, cmp)   AS bottom_order,
           arg_max(o_totalprice, cmp) AS top_price,
           arg_min(o_totalprice, cmp) AS bottom_price
    FROM o GROUP BY o_orderpriority
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn(
        "cmp",
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(10000000000)
        + F.col("o_orderkey"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "cmp").alias("top_order"),
        F.min_by("o_orderkey", "cmp").alias("bottom_order"),
        F.max_by("o_totalprice", "cmp").alias("top_price"),
        F.min_by("o_totalprice", "cmp").alias("bottom_price"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill: dense (day × event_type) grid LEFT JOIN sparse
# daily counts, zeros coalesced in, plus running cumulative totals —
# the relational form of the zero-fill stack ingest applies to missing
# planes (SURVEY §2B).
# Scale: the calendar is a one-row aggregate exploded then broadcast
# against the distinct type set; daily counts shuffle once on
# (day, type); the window runs per type over |days| rows.
# ---------------------------------------------------------------------------
@register(
    "events_gapfill",
    """
    WITH e AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             event_type
      FROM events),
    b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM e),
    cal AS (
      SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM b),
    types AS (SELECT DISTINCT event_type FROM e),
    cnt AS (SELECT d, event_type, COUNT(*) AS n FROM e GROUP BY d, event_type)
    SELECT cal.day, types.event_type,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n,
           CAST(SUM(COALESCE(cnt.n, 0))
                  OVER (PARTITION BY types.event_type ORDER BY cal.day)
                AS BIGINT) AS cum
    FROM cal CROSS JOIN types
    LEFT JOIN cnt ON cnt.d = cal.day AND cnt.event_type = types.event_type
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.to_date("ts").alias("d"), "event_type"
    )
    bounds = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy("d", "event_type").agg(F.count("*").alias("n"))
    grid = F.broadcast(cal).crossJoin(F.broadcast(types)).withColumnRenamed(
        "event_type", "et"
    )
    joined = grid.join(
        cnt,
        (grid.day == cnt.d) & (grid.et == cnt.event_type),
        "left",
    ).select("day", F.col("et").alias("event_type"), F.coalesce("n", F.lit(0)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    return joined.select(
        "day", "event_type", "n", F.sum("n").over(w).alias("cum")
    )


# ---------------------------------------------------------------------------
# spark.sql() API surface: run the *exact oracle SQL text* of Q1 through
# Spark's SQL parser over temp views — one engine-agnostic ANSI string
# executed by both engines, demonstrating the DataFrame and SQL entry
# points converge on the same Catalyst plan (Spark parses/plans it
# identically to the q1_pricing_summary DataFrame build).
# ---------------------------------------------------------------------------
def _q1_oracle() -> str:
    return _REGISTRY["q1_pricing_summary"][1]


@register("sql_api_q1", None)  # oracle attached below after registration
def sql_api_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_q1_oracle())


# same text on both sides: the oracle IS the Spark query
_REGISTRY["sql_api_q1"] = (sql_api_q1, _q1_oracle())


# ---------------------------------------------------------------------------
# Time-hierarchy rollup (hypertable continuous-aggregate shape): one
# pass produces hourly, daily, and grand totals via ROLLUP(day, hour).
# Scale: Catalyst expands rollup groupings into a single shuffle with
# partial aggregation per grouping set — the batch equivalent of a
# TimescaleDB-style tiered rollup; materialize each tier as an LOD
# table for serving (same pattern as the OME multiscale pyramid).
# ---------------------------------------------------------------------------
@register(
    "time_hierarchy_rollup",
    """
    WITH e AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             value
      FROM events)
    SELECT day, hour, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
    FROM e GROUP BY ROLLUP(day, hour)
    """,
)
def time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    return ev.rollup("day", "hour").agg(
        F.count("*").alias("n"),
        _dsum(F.col("value"), "sum_value"),
    )


# ---------------------------------------------------------------------------
# Join-key skew report: per-key frequency for the hottest lineitem join
# keys plus each key's share of its column's rows — the diagnostic that
# decides when salting/AQE-skew-join engages at 100 TB (a key holding
# >~1/parallelism of the rows serializes its join partition).
# ---------------------------------------------------------------------------
@register(
    "skew_report",
    """
    WITH k AS (
      SELECT 'l_orderkey' AS key_col, CAST(l_orderkey AS BIGINT) AS key_val
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem),
    c AS (SELECT key_col, key_val, COUNT(*) AS n FROM k GROUP BY key_col, key_val),
    t AS (SELECT key_col, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY key_col),
    r AS (SELECT c.key_col, c.key_val, c.n,
                 CAST(c.n AS DOUBLE) / t.total AS share,
                 ROW_NUMBER() OVER (PARTITION BY c.key_col
                                    ORDER BY c.n DESC, c.key_val) AS rk
          FROM c JOIN t ON c.key_col = t.key_col)
    SELECT key_col, key_val, n, share, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    k = li.select(
        F.lit("l_orderkey").alias("key_col"),
        F.col("l_orderkey").cast("long").alias("key_val"),
    ).unionByName(
        li.select(
            F.lit("l_suppkey").alias("key_col"),
            F.col("l_suppkey").cast("long").alias("key_val"),
        )
    )
    c = k.groupBy("key_col", "key_val").agg(F.count("*").alias("n"))
    t = c.groupBy("key_col").agg(F.sum("n").alias("total"))
    w = Window.partitionBy("key_col").orderBy(F.desc("n"), F.col("key_val"))
    return (
        c.join(F.broadcast(t), "key_col")
        .select(
            "key_col",
            "key_val",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


# ---------------------------------------------------------------------------
# Column profiler: null fraction, distinct count, min/max per selected
# column — the data-quality scan a platform runs on every new table.
# One pass per profile (all aggregates fuse into a single partial/final
# pair; no per-column scans).
# ---------------------------------------------------------------------------
@register(
    "data_profile",
    """
    SELECT 'o_totalprice' AS col,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_totalprice) AS n_null,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_val,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    """,
)
def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")

    def prof(col: str):
        c = F.col(col)
        return o.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("double").alias("min_val"),
            F.max(c).cast("double").alias("max_val"),
        )

    out = prof("o_totalprice").unionByName(prof("o_custkey"))
    return out.select("col", "n_rows", "n_null", "n_distinct", "min_val", "max_val")


# ---------------------------------------------------------------------------
# approx_percentile (t-digest-backed) vs exact percentile_disc: the
# estimate is engine-specific, so the gradeable contract is the exact
# discrete percentile plus an in-engine relative-rank-error verdict
# the oracle pins TRUE (accuracy=10000 -> rank error <= 1/10000; the
# verdict allows the corresponding value-rank slack by recomputing the
# approx value's true rank and bounding its distance from the target
# rank). Mergeable-sketch percentiles are the 100 TB path — exact
# percentile_disc needs a global sort, the sketch one pass + merge.
# ---------------------------------------------------------------------------
@register(
    "agg_approx_percentile",
    """
    WITH r AS (SELECT o_orderpriority,
                      o_totalprice,
                      PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                           ORDER BY o_totalprice) AS pr
               FROM orders)
    SELECT o_orderpriority,
           MIN(CASE WHEN pr >= 0.5 THEN o_totalprice END) AS exact_p50,
           MIN(CASE WHEN pr >= 0.9 THEN o_totalprice END) AS exact_p90,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
    FROM r GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
    )
    exact = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("pr") >= 0.5, F.col("o_totalprice"))).alias(
            "exact_p50"
        ),
        F.min(F.when(F.col("pr") >= 0.9, F.col("o_totalprice"))).alias(
            "exact_p90"
        ),
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("a50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("a90"),
    )
    # verdict: the approx value's true percent-rank must sit within
    # 1% of the target rank (generous vs the 1/accuracy guarantee,
    # tight enough that a broken sketch goes red). Computed as a
    # broadcast join of the tiny approx table back onto the ranked
    # rows + conditional max — no per-group row collection, so the
    # verdict machinery itself scales.
    j = ranked.join(F.broadcast(approx), "o_orderpriority")
    verdict = j.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("o_totalprice") <= F.col("a50"), F.col("pr"))
        ).alias("pr50"),
        F.max(
            F.when(F.col("o_totalprice") <= F.col("a90"), F.col("pr"))
        ).alias("pr90"),
    )
    return exact.join(verdict, "o_orderpriority").select(
        "o_orderpriority",
        "exact_p50",
        "exact_p90",
        (F.abs(F.col("pr50") - 0.5) <= 0.01).alias("p50_rank_ok"),
        (F.abs(F.col("pr90") - 0.9) <= 0.01).alias("p90_rank_ok"),
    )
