"""SparkSession construction and scale-oriented tuning.

The engine targets 100 TB on a 1000-executor cluster; tests run on
``local[32]``. The settings split into two groups:

* build-time (must be set before the session exists): codegen, parquet
  codec defaults, and ``spark.python.daemon.module`` — the Python
  workers fork from :mod:`ome_arrow_spark.worker_daemon`, so the
  package must be importable by them (as it already is for its UDF
  closures) — applied in :func:`get_spark`.
* runtime-settable: AQE, shuffle partitions, arrow transfer — applied by
  :func:`tune_session`, which is safe to call on a session we did not
  create (the driver harness owns its own session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ome_arrow_spark.plans.tuning import TARGET_PARTITION_BYTES

# Runtime-settable configs, safe on any live session.
_RUNTIME_CONF: dict[str, str] = {
    # AQE: runtime re-planning — broadcast conversion, partition
    # coalescing, skew-join splitting. Essential at 100 TB where static
    # stats are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-schema pruning so describe-style queries over the OME struct
    # never read `planes` (the multi-MB pixel payload).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # ANSI off: we want permissive casts like the reference's forgiving
    # reads (SURVEY.md §1.2).
    "spark.sql.ansi.enabled": "false",
    # Deterministic session timezone so timestamp semantics match the
    # DuckDB oracle regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
}

_BUILD_CONF: dict[str, str] = {
    # zstd to match the reference's parquet sink default (export.py:383).
    "spark.sql.parquet.compression.codec": "zstd",
    # Pixel-bearing rows are MB-scale; keep scan partitions ~128MB.
    "spark.sql.files.maxPartitionBytes": str(TARGET_PARTITION_BYTES),
    # Python workers fork from the package's daemon, which stops every
    # task re-reading pyspark.zip's directory (worker_daemon.py).
    "spark.python.daemon.module": "ome_arrow_spark.worker_daemon",
}


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — fine, it's advisory
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "ome-arrow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no session exists yet.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    for k, v in {**_BUILD_CONF, **_RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    spark = builder.getOrCreate()
    return tune_session(spark, shuffle_partitions)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the fixture parquet tables as a dict of DataFrames."""
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}


def cluster_defaults(executors: int = 1000, executor_cores: int = 8) -> dict[str, str]:
    """Recommended submit-time configs for the 100 TB / 1000-executor
    deployment this engine targets. Local runs ignore these; they are
    the documented production posture (spark-submit --conf pairs).

    Rationale per group:
    * shuffle: initial partition count ≈ 2–3× total cores so AQE can
      coalesce DOWN (never splits up); skew-join on for pixel-payload
      and hot-key skew.
    * memory: pixel arrays are large contiguous allocations — more
      overhead headroom than typical rows-of-scalars jobs.
    * files: 128 MB scan targets; zstd everywhere; nested pruning and
      vectorized nested reads are what keep describe-class queries off
      the pixel payload.
    * python workers: forked from the package's daemon, so a task does
      not re-read pyspark.zip's directory ~16 times (worker_daemon.py).
    """
    total_cores = executors * executor_cores
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(total_cores * 3),
        "spark.sql.files.maxPartitionBytes": str(TARGET_PARTITION_BYTES),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.parquet.enableNestedColumnVectorizedReader": "true",
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.executor.memoryOverheadFactor": "0.2",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",  # MB-scale rows
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.shuffle.service.enabled": "true",
        # Runtime Bloom-filter join pruning: on selective fact-dim
        # joins the probe-side scan gets a might_contain(xxhash64(key))
        # filter built from the filtered build side. Defaults only
        # activate past a 10 GB probe scan — exactly the 100 TB regime;
        # tests/test_plans.py proves the injection shape by lowering
        # the threshold locally. Left at defaults here on purpose.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.python.daemon.module": "ome_arrow_spark.worker_daemon",
    }
