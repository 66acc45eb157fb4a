"""OME-Parquet source/sink (reference S5 ``from_ome_parquet``
ingest.py:814-932 and K2 ``to_ome_parquet`` export.py:377-422).

Two tiers:

* **Table tier (Spark, many images):** ``read_ome_parquet`` /
  ``write_ome_parquet`` — distributed scans/writes of the canonical
  one-row-per-image table. The reference's single-row files are just
  1-row instances and read through the same path (forgiving column
  auto-detect by field-name set, ingest.py:872-912).
* **Record tier (driver, one image):** ``read_ome_record`` /
  ``write_ome_record_compat`` — pyarrow round-trip byte-compatible
  with the reference: unsigned Arrow types (uint16 pixels, uint32
  color_rgba), ``ome.arrow.type``/``ome.arrow.version`` file metadata
  (export.py:405-414), zstd, optional row_group_size. Spark cannot
  write parquet file-level key-value metadata; the record tier covers
  that contract, and table properties (Delta/Iceberg) are the
  idiomatic carrier at table scale.
"""

from __future__ import annotations

import os
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ome_arrow_spark.meta import (
    DEFAULT_COLUMN,
    META_KEY_TYPE,
    META_KEY_VERSION,
    OME_ARROW_TYPE,
    OME_ARROW_VERSION,
    OME_FIELD_NAMES,
    ome_arrow_struct,
)


def detect_ome_columns(schema: T.StructType) -> list[str]:
    """Struct columns whose top-level field-name set matches the OME
    record, order-insensitive (reference auto-detect,
    ingest.py:872-875)."""
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            if frozenset(x.name for x in f.dataType.fields) == OME_FIELD_NAMES:
                out.append(f.name)
    return out


def read_ome_parquet(
    spark: SparkSession,
    path: str,
    column_name: str = DEFAULT_COLUMN,
    strict_schema: bool = False,
) -> DataFrame:
    """Read an images table from parquet. Column resolution is
    forgiving like the reference: prefer ``column_name`` if it matches
    by field-name set; otherwise auto-detect any matching struct
    column; error when none or ambiguous (ingest.py:879-912). The
    matched column is renamed to the canonical ``ome_arrow``."""
    df = spark.read.parquet(path)
    candidates = detect_ome_columns(df.schema)
    if column_name in candidates:
        chosen = column_name
    elif len(candidates) == 1:
        chosen = candidates[0]
    elif not candidates:
        raise ValueError(f"No OME-Arrow struct column found in {path}")
    else:
        raise ValueError(
            f"Ambiguous OME-Arrow columns {candidates} in {path}; pass column_name"
        )
    if strict_schema and df.schema[chosen].dataType != ome_arrow_struct():
        raise ValueError(
            f"strict_schema: column {chosen} does not equal the canonical OME-Arrow type"
        )
    if os.path.isdir(path):
        check_table_tags(path)
    out = df.select(F.col(chosen).alias(DEFAULT_COLUMN))
    return out


SIDECAR_NAME = "_ome_arrow_meta.json"


def write_table_tags(path: str, extra: dict[str, str] | None = None) -> None:
    """Write the ``ome.arrow.*`` tags for a *table* (directory) write as
    a ``_ome_arrow_meta.json`` sidecar. Spark cannot attach parquet
    file-level key-value metadata, so the directory carrier mirrors the
    reference's per-file tags (export.py:405-414); on a lakehouse the
    idiomatic equivalent is table properties (Delta/Iceberg), which
    this sidecar stands in for. Underscore-prefixed → invisible to
    Spark/Hadoop listings, so scans are unaffected."""
    import json

    tags = {META_KEY_TYPE: OME_ARROW_TYPE, META_KEY_VERSION: OME_ARROW_VERSION}
    tags.update(extra or {})
    with open(os.path.join(path, SIDECAR_NAME), "w") as f:
        json.dump(tags, f, indent=1, sort_keys=True)


def read_table_tags(path: str) -> dict[str, str]:
    """Tags from a table directory's sidecar ({} when absent)."""
    import json

    p = os.path.join(path, SIDECAR_NAME)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {str(k): str(v) for k, v in json.load(f).items()}


def check_table_tags(path: str) -> None:
    """Soft check like the reference's ingest (ingest.py:922-930):
    wrong/foreign tags warn, absent or matching tags pass silently."""
    import warnings

    tags = read_table_tags(path)
    if not tags:
        return
    if tags.get(META_KEY_TYPE) != OME_ARROW_TYPE:
        warnings.warn(
            f"{path}: sidecar {META_KEY_TYPE}={tags.get(META_KEY_TYPE)!r} "
            f"is not {OME_ARROW_TYPE!r}",
            stacklevel=3,
        )
    elif tags.get(META_KEY_VERSION) != OME_ARROW_VERSION:
        warnings.warn(
            f"{path}: sidecar version {tags.get(META_KEY_VERSION)!r} != "
            f"{OME_ARROW_VERSION!r} (reading anyway)",
            stacklevel=3,
        )


def write_ome_parquet(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_cols: list[str] | None = None,
    target_rows_per_file: int | None = None,
) -> None:
    """Distributed images-table sink: zstd parquet, many images per
    file, ``ome.arrow.*`` tags in a directory sidecar.
    ``target_rows_per_file`` bounds file size for pixel-heavy rows (a
    2048² uint16 plane is ~8.4 MB as int32 in memory — at 100 TB keep
    files ~128–512 MB via maxRecordsPerFile rather than
    one-file-per-image)."""
    w = df.write.mode(mode).option("compression", "zstd")
    if target_rows_per_file:
        w = w.option("maxRecordsPerFile", target_rows_per_file)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
    write_table_tags(path)


# ---------------------------------------------------------------------------
# Record tier (driver-side pyarrow; reference byte-level contract)
# ---------------------------------------------------------------------------


def unsigned_arrow_struct() -> pa.StructType:
    """The reference's exact Arrow type (meta.py:18-90): uint16 pixel
    lists, uint32 color, int16 channel counts, null-typed masks."""
    channel = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("emission_um", pa.float32()),
            ("excitation_um", pa.float32()),
            ("illumination", pa.string()),
            ("color_rgba", pa.uint32()),
        ]
    )
    pixels_meta = pa.struct(
        [
            ("dimension_order", pa.string()),
            ("type", pa.string()),
            ("size_x", pa.int32()),
            ("size_y", pa.int32()),
            ("size_z", pa.int32()),
            ("size_c", pa.int16()),
            ("size_t", pa.int32()),
            ("physical_size_x", pa.float32()),
            ("physical_size_y", pa.float32()),
            ("physical_size_z", pa.float32()),
            ("physical_size_x_unit", pa.string()),
            ("physical_size_y_unit", pa.string()),
            ("physical_size_z_unit", pa.string()),
            ("channels", pa.list_(channel)),
        ]
    )
    plane = pa.struct(
        [
            ("z", pa.int32()),
            ("t", pa.int32()),
            ("c", pa.int16()),
            ("pixels", pa.list_(pa.uint16())),
        ]
    )
    return pa.struct(
        [
            ("type", pa.string()),
            ("version", pa.string()),
            ("id", pa.string()),
            ("name", pa.string()),
            ("acquisition_datetime", pa.timestamp("us")),
            ("pixels_meta", pixels_meta),
            ("planes", pa.list_(plane)),
            ("masks", pa.null()),
        ]
    )


def write_ome_record_compat(
    record: dict[str, Any],
    out_path: str,
    column_name: str = "image",
    file_metadata: dict[str, str] | None = None,
    compression: str = "zstd",
    row_group_size: int | None = None,
) -> None:
    """Single-record, single-column parquet exactly like the reference
    sink (export.py:377-422): unsigned types, tagged file metadata."""
    rec = dict(record)
    rec["masks"] = None
    arr = pa.array([rec], type=unsigned_arrow_struct())
    table = pa.table({column_name: arr})
    meta = {
        META_KEY_TYPE.encode(): OME_ARROW_TYPE.encode(),
        META_KEY_VERSION.encode(): OME_ARROW_VERSION.encode(),
    }
    for k, v in (file_metadata or {}).items():
        meta[k.encode()] = str(v).encode()
    existing = table.schema.metadata or {}
    table = table.replace_schema_metadata({**existing, **meta})
    pq.write_table(
        table,
        out_path,
        compression=compression,
        row_group_size=row_group_size,
    )


def read_file_tags(path: str) -> dict[str, str]:
    """File-level metadata tags; soft-checked like the reference
    (ingest.py:922-930 — mismatches warn, never fail)."""
    md = pq.read_schema(path).metadata or {}
    return {
        k.decode(): v.decode()
        for k, v in md.items()
        if k.decode().startswith("ome.arrow.")
    }


def read_ome_record(
    path: str,
    column_name: str = DEFAULT_COLUMN,
    row_index: int = 0,
    strict_schema: bool = False,
) -> dict[str, Any]:
    """Driver-side single-record read with the reference's forgiving
    resolution: named column if its field-name set matches, else
    auto-detect; ``row_index`` picks the record (ingest.py:879-916)."""
    table = pq.read_table(path)
    chosen = None
    for name in [column_name] + [c for c in table.column_names if c != column_name]:
        if name not in table.column_names:
            continue
        typ = table.schema.field(name).type
        if pa.types.is_struct(typ) and frozenset(
            typ.field(i).name for i in range(typ.num_fields)
        ) == OME_FIELD_NAMES:
            chosen = name
            break
    if chosen is None:
        raise ValueError(f"No OME-Arrow struct column found in {path}")
    if strict_schema and table.schema.field(chosen).type != unsigned_arrow_struct():
        raise ValueError("strict_schema: column type mismatch")
    if row_index < 0 or row_index >= table.num_rows:
        raise IndexError(f"row_index {row_index} out of range ({table.num_rows} rows)")
    rec = table.column(chosen)[row_index].as_py()
    return rec


def spark_table_from_records(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Records → canonical Spark table (signed widenings applied)."""
    from ome_arrow_spark.sources.arrow_records import (
        ome_arrow_field_type,
        records_to_arrow_batch,
    )

    batch = records_to_arrow_batch(
        [{**r, "masks": None} for r in records], DEFAULT_COLUMN, ome_arrow_field_type()
    )
    return spark.createDataFrame(pa.Table.from_batches([batch]))


def exists(path: str) -> bool:
    return os.path.exists(path)
