"""Partition, task and file counts — the one place the engine decides
them — plus plan-inspection helpers for tests.

Pixel-bearing rows are MB-scale (a 2048² uint16 plane ≈ 8.4 MB as
int32 in executor memory), so generic row-count heuristics misfire by
orders of magnitude: output files and scan splits are sized by BYTES
(``TARGET_PARTITION_BYTES``), small inputs are spread to one task wave
(:func:`spread_small_input`), driver-side fan-outs are capped
(``MAX_FANOUT_TASKS``) and fixture-scale streaming runs lower the
shuffle width (:func:`stream_shuffle_floor`)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Bytes per output file and per scan split (the Delta/Parquet norm;
#: also the session's ``spark.sql.files.maxPartitionBytes``).
TARGET_PARTITION_BYTES = 128 * 1024 * 1024

#: Task cap for jobs that fan a driver-side list (deletion-vector
#: sidecars, footer stats, Zarr stores) out one item per task: past it
#: a task takes several items instead of paying one more launch.
MAX_FANOUT_TASKS = 64

#: Shuffle-partition floor for fixture-scale streaming runs: every
#: shuffle partition is a state-store instance, so fewer = less
#: per-batch overhead; 8 still exercises multi-partition state. A real
#: cluster deployment sets spark.sql.shuffle.partitions itself and this
#: floor never engages (it only lowers, never raises).
STREAM_PARTITIONS = 8


def files_for_bytes(n_bytes: int, target_bytes: int = TARGET_PARTITION_BYTES) -> int:
    """Output file count for ``n_bytes`` of data at ``target_bytes``
    each: ``max(1, ceil(n_bytes / target_bytes))``."""
    return max(1, -(-n_bytes // target_bytes))


def few_splits(df: DataFrame) -> bool:
    """True when ``df`` arrives in fewer partitions than the cluster has
    task slots (``defaultParallelism``) — a small input read as 1-2
    parquet splits (one row group = one effective split).  At corpus
    scale the scan yields thousands of splits and this is False.  A
    failing probe reads as "not few", so callers keep their at-scale
    plan."""
    sc = df.sparkSession.sparkContext
    try:
        return df.rdd.getNumPartitions() < sc.defaultParallelism
    except Exception:  # noqa: BLE001 — planning-only probe; never fatal
        return False


def spread_small_input(df: DataFrame, id_col: str) -> DataFrame:
    """Parallelism guard for per-row work that runs in the INPUT
    relation's partitions: hash-repartition ``df`` by ``id_col`` to
    ``defaultParallelism`` partitions (one task wave) when
    :func:`few_splits` says it arrived narrower; otherwise return ``df``
    itself, so at scale the input is never shuffled.

    Callers, and what the spread buys each:

    * ``dedup.minhash_signatures`` and ``pipeline.near_dedup`` — the
      shingle explode + md5-per-(shingle, seed) map (8.4 s of
      single-task md5 at a 50k-doc fixture while 31 cores idled); the
      hash(id) partitioning also satisfies the downstream
      ``groupBy(id_col)``, so that aggregate runs single-phase;
    * ``pq_index.build_pq_index``, ``pq_index.build_ivfpq_index`` and
      ``ann_index.build_ivf_index`` — the Arrow encode/assign UDF pass
      (per-row, so stored rows are unchanged);
    * ``suite.window_rank`` — the rank filter's partial
      WindowGroupLimit otherwise sorts the whole table in the scan's
      one task before the exchange; spreading by the window key moves
      the one exchange before the sort.

    The target width is ``defaultParallelism``, not the ambient
    ``spark.sql.shuffle.partitions``: 200 tasks over a few thousand
    docs measured slower than no spread (1.66 s vs 0.99 s) where
    slots-wide took 0.30 s.  The fixed-count repartition is not
    coalesced by AQE, and it shuffles the whole input — the right
    trade only while the input is small, which is what the guard
    tests."""
    if not few_splits(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))


@contextmanager
def stream_shuffle_floor(spark: SparkSession):
    """Run a streaming query with ``spark.sql.shuffle.partitions``
    lowered to ``STREAM_PARTITIONS`` (never raised); the previous value
    is restored on exit, also when the query fails to start or run.
    Streaming exchanges get no AQE coalescing and every shuffle
    partition is a state-store instance, so a vanilla session's 200 is
    pure task/state overhead at fixture scale."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, "200")
    if int(prev) > STREAM_PARTITIONS:
        spark.conf.set(key, str(STREAM_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from the formatted physical plan — for
    asserting scan-level pushdown in tests."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return [
        line.strip()
        for line in plan.splitlines()
        if line.strip().startswith("PushedFilters:")
    ]


def read_schema_columns(df: DataFrame) -> list[str]:
    """ReadSchema column lists per scan — for asserting column pruning."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return [
        line.strip()
        for line in plan.splitlines()
        if line.strip().startswith("ReadSchema:")
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString()


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) left side into
    ``salt_buckets`` sub-keys and explode the (smaller) right side
    across all buckets. Use when one key dominates (AQE skew-join
    handles sort-merge skew automatically, but salting also fixes
    skewed aggregations and broadcast-ineligible cases).

    Cost model: right side replicates ×salt_buckets — keep it the
    smaller input."""
    l2 = left.withColumn(
        "__salt", (F.abs(F.hash(F.col(key), F.monotonically_increasing_id())) % salt_buckets)
    )
    r2 = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = l2.join(r2, [key, "__salt"], how)
    return out.drop("__salt")
