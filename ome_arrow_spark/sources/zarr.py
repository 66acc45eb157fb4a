"""OME-Zarr source/sink (reference S4 ``from_ome_zarr``
ingest.py:695-811 and K4 ``to_ome_zarr`` export.py:231-374).

A zarr store is a DIRECTORY (attrs JSON + chunk files), so ingest is
manifest-based, not ``binaryFile``: a DataFrame of store paths fans out
to executors which each open one store locally (shared filesystem /
object store mount — the standard cluster layout for NGFF).

Codecs: REAL Zarr v2 AND v3 / OME-NGFF stores read and write built-in
via ``zarr_minimal`` — v2 C-order arrays with raw/zlib/gzip/zstd/lz4/
blosc chunks (blosc1 frames with zlib/zstd/lz4/snappy inner codecs,
byte-shuffle, both split regimes — zstd/lz4/snappy ride pyarrow's
bundled C codecs, already a hard engine dependency), v3 ``zarr.json``
layouts with bytes+gzip/zstd/blosc codec chains and
``sharding_indexed`` shards (CRC-32C indexes), multiscale group attrs
in either layout — no zarr package needed; byte- AND bit-shuffle
filters both directions; blosclz inner codecs decode through
``blosclz_minimal``.

The sink writes an NGFF-style multiscale pyramid: level k halves Y and
X by mean-pooling (see operators/multiscale.py for the query-side LOD
operator; export.py:316-337 computes the same shapes)."""

from __future__ import annotations

import os
from datetime import datetime
from typing import Any

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from ome_arrow_spark.meta import ome_images_schema
from ome_arrow_spark.plans.tuning import MAX_FANOUT_TASKS
from ome_arrow_spark.sources.numpy_ingest import from_numpy

try:  # pragma: no cover
    import zarr  # type: ignore

    HAVE_ZARR = True
except ImportError:
    zarr = None
    HAVE_ZARR = False

def decode_store(store_path: str, level: int = 0) -> dict[str, Any]:
    """One store directory → OME-Arrow record dict."""
    if HAVE_ZARR:  # pragma: no cover - real NGFF path
        grp = zarr.open_group(store_path, mode="r")
        arr = np.asarray(grp[str(level)])
        while arr.ndim < 5:
            arr = arr[np.newaxis, ...]
        return from_numpy(arr, dim_order="TCZYX", image_id=os.path.basename(store_path))
    from ome_arrow_spark.sources.zarr_minimal import (
        is_zarr_store,
        read_ngff_attrs,
        read_zarr_array,
    )

    if is_zarr_store(store_path):
        # real Zarr v2 or v3 / NGFF store, no zarr package: built-in
        # codec (v2 C-order raw/zlib/gzip chunks; v3 bytes+gzip chain —
        # what this repo's sink and zarr-python's default-adjacent
        # configs produce)
        attrs = read_ngff_attrs(store_path)
        arr = read_zarr_array(os.path.join(store_path, str(level)))
        while arr.ndim < 5:
            arr = arr[np.newaxis, ...]
        oa = attrs.get("ome_arrow", {})
        # omero channels live flat in NGFF 0.4 .zattrs, under the "ome"
        # wrapper in NGFF 0.5 v3 groups
        omero = attrs.get("omero") or attrs.get("ome", {}).get("omero") or {}
        ch = [c.get("label") for c in omero.get("channels", [])] or None
        return from_numpy(
            arr.astype(np.int64),
            dim_order="TCZYX",
            image_id=oa.get("id") or os.path.basename(store_path).removesuffix(".zarr"),
            name=oa.get("name"),
            channel_names=ch,
            acquisition_datetime=datetime(2025, 1, 1),
        )
    raise NotImplementedError(
        f"Cannot decode {store_path!r}: not a Zarr v2/v3 store root (v2 "
        "raw/zlib/gzip/zstd/lz4/blosc and v3 bytes+gzip/zstd/blosc incl. "
        "sharded decode built-in)."
    )


def from_zarr_manifest(
    spark: SparkSession,
    store_paths: list[str],
    level: int = 0,
    column: str = "ome_arrow",
) -> DataFrame:
    """Manifest-parallel ingest: one store per task row. Contrast S3's
    binaryFile path — directories can't stream as single blobs, so the
    manifest IS the scan."""
    schema = ome_images_schema(column)
    if not store_paths:
        return spark.createDataFrame([], schema)
    manifest = spark.createDataFrame(
        [(os.path.abspath(p),) for p in store_paths], "store_path string"
    ).repartition(min(len(store_paths), MAX_FANOUT_TASKS))

    from ome_arrow_spark.sources.arrow_records import (
        ome_arrow_field_type,
        records_to_arrow_batch,
    )

    ome_type = ome_arrow_field_type()

    def decode(batches):
        for batch in batches:
            recs = [
                decode_store(sp.as_py(), level)
                for sp in batch.column("store_path")
            ]
            yield records_to_arrow_batch(recs, column, ome_type)

    return manifest.mapInArrow(decode, schema=schema)


def build_pyramid(
    vol: np.ndarray, levels: int, factor: int = 2, downscale_z: bool = False
) -> list[np.ndarray]:
    """Mean-pooled multiscale levels; level 0 is the input.

    Level-k spatial dims follow the reference's ``max(1, dim // factor)``
    floor (export.py:317-330), so deep pyramids over small planes bottom
    out at 1×1 instead of producing zero-size levels. The reference's
    exporter downscales all three spatial axes (Z included); pass
    ``downscale_z=True`` for that parity — the default keeps Z so every
    level preserves per-plane (t,c,z) addressing, which the query-side
    LOD operator (operators/multiscale.py) relies on."""
    out = [np.clip(vol, 0, 65535).astype(np.int64)]
    for _ in range(1, levels):
        cur = out[-1]
        lz, ly, lx = cur.shape[-3], cur.shape[-2], cur.shape[-1]
        ny, nx = max(1, ly // factor), max(1, lx // factor)
        fy = factor if ly >= factor else max(1, ly)
        fx = factor if lx >= factor else max(1, lx)
        nxt = (
            cur[..., : ny * fy, : nx * fx]
            .reshape(*cur.shape[:-2], ny, fy, nx, fx)
            .sum(axis=(-3, -1))
            // (fy * fx)
        )
        if downscale_z:
            nz = max(1, lz // factor)
            fz = factor if lz >= factor else max(1, lz)
            nxt = (
                nxt[..., : nz * fz, :, :]
                .reshape(*nxt.shape[:-3], nz, fz, ny, nx)
                .sum(axis=-3)
                // fz
            )
        out.append(nxt)
    return out


def to_zarr_dir(
    images: DataFrame,
    out_dir: str,
    column: str = "ome_arrow",
    multiscale_levels: int = 1,
    downscale_spatial_by: int = 2,
    compressor: str | None = "zlib",
    compression_level: int = 1,
    chunks: tuple[int, ...] | None = None,
    downscale_z: bool = False,
    zarr_format: int = 2,
    shards: tuple[int, ...] | None = None,
) -> list[str]:
    """One REAL Zarr / OME-NGFF store per image, written from executors
    through ``densify.write_per_image`` via the built-in codec —
    ``zarr_format`` ∈ {2, 3} picks the store layout (the reference's
    exporter exposes the same switch, export.py:361), ``compressor`` ∈
    {None, "zlib", "gzip", "blosc", "zstd", "lz4"} and ``chunks`` select
    the codec matrix (blosc writes zlib-inner-codec frames; zstd/lz4
    ride pyarrow's bundled codecs)."""
    from ome_arrow_spark.operators.densify import write_per_image
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    def write_one(rec: dict[str, Any], vol: np.ndarray) -> str:
        store = os.path.join(out_dir, f"{rec['id']}.zarr")
        write_ngff_store(
            store,
            [
                lv.astype("<u2")
                for lv in build_pyramid(
                    vol,
                    multiscale_levels,
                    downscale_spatial_by,
                    downscale_z=downscale_z,
                )
            ],
            image_id=rec["id"],
            name=rec["name"],
            channel_names=[ch["name"] for ch in rec["pixels_meta"]["channels"]],
            downscale=downscale_spatial_by,
            compressor=compressor,
            compression_level=compression_level,
            chunks=chunks,
            zarr_format=zarr_format,
            shards=shards,
        )
        return store

    return write_per_image(images, out_dir, write_one, column)
