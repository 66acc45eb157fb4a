"""Custom aggregates (SURVEY.md §2C "UDAF custom agg over pixels"):
grouped-aggregate ``arrow_udf`` functions over plane rows.

Prefer built-in aggregates wherever expressible (every oracle-checked
query does); these exist for genuinely custom math — here, per-image
pixel statistics that fold whole plane arrays per group.

UDFs are built lazily: ``arrow_udf`` resolves its DDL return type
against the active SparkSession, so module-import-time decoration
would require a session before any test/driver creates one."""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa  # module-level so arrow_udf type hints resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf


def _planes(pixels: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) of a group's plane arrays: plane ``i`` is the
    view ``values[offsets[i]:offsets[i + 1]]`` of one values buffer."""
    values = pixels.values.to_numpy(zero_copy_only=False)
    return pixels.offsets.to_numpy(), values


@lru_cache(maxsize=1)
def _udafs():
    @arrow_udf("double")
    def mean_of_plane_means(pixels: pa.Array) -> float:
        # grouped aggregate: each group's plane arrays arrive as one
        # Arrow array; numpy folds views of its values buffer.
        if len(pixels) == 0:
            return float("nan")
        off, vals = _planes(pixels)
        return float(
            np.mean([np.mean(vals[a:b]) for a, b in zip(off[:-1], off[1:])])
        )

    @arrow_udf("double")
    def pixel_stddev(pixels: pa.Array) -> float:
        # population stddev across every pixel of the group
        if len(pixels) == 0:
            return float("nan")
        off, vals = _planes(pixels)
        return float(vals[off[0]:off[-1]].std())

    @arrow_udf("long")
    def plane_count(pixels: pa.Array) -> int:
        # Spark disallows mixing grouped-aggregate Python UDFs with
        # built-in aggregates in one agg, so the count is an Arrow UDAF
        # too.
        return len(pixels)

    return mean_of_plane_means, pixel_stddev, plane_count


def image_pixel_stats(planes: DataFrame) -> DataFrame:
    """Per-image custom aggregate over the exploded planes relation."""
    mean_of_plane_means, pixel_stddev, plane_count = _udafs()
    return planes.groupBy("image_id").agg(
        mean_of_plane_means(F.col("pixels")).alias("mean_of_means"),
        pixel_stddev(F.col("pixels")).alias("px_stddev"),
        plane_count(F.col("pixels")).alias("n_planes"),
    )
