"""Distributed TIFF ingest (reference S3 ``from_tiff``
ingest.py:293-400) and the matching sink (reference K3 ``to_ome_tiff``
export.py:116-228).

Canonical distributed shape: ``binaryFile`` scan → ``mapInArrow``
decode → one OME struct row per file. One task per
image; a 1000-executor cluster decodes 1000 TIFFs concurrently and the
scan parallelism comes from file listing, not file splitting (TIFFs
aren't splittable).

Codecs: real ``.ome.tif``/``.tif`` bytes decode AND encode built-in via
``tiff_minimal`` (uncompressed/PackBits/LZW/Deflate/JPEG/CCITT-fax,
striped or tiled, Predictor-2, grayscale/RGB chunky+planar, bilevel +
8/16-bit int + float32, either endianness, classic or BigTIFF layout);
``tifffile``, when importable, takes over for anything outside that
subset (old-style-JPEG table fragments, tiled/planar predictor-3). A
deterministic FTIF container (magic + JSON header + raw uint16 LE
payload) additionally exercises the Spark plumbing (schema,
partitioning, UDF signature, Arrow batch shape) in tests.
"""

from __future__ import annotations

import io
import json
import os
from datetime import datetime
from typing import Any

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from ome_arrow_spark.meta import ome_images_schema
from ome_arrow_spark.sources.numpy_ingest import from_numpy

try:  # pragma: no cover - not present in this container
    import tifffile  # type: ignore

    HAVE_TIFFFILE = True
except ImportError:
    tifffile = None
    HAVE_TIFFFILE = False

FTIF_MAGIC = b"FTIF1\n"


# ---------------------------------------------------------------------------
# FTIF: deterministic fake TIFF container for plumbing tests
# ---------------------------------------------------------------------------


def encode_ftif(
    arr: np.ndarray,
    *,
    image_id: str,
    name: str | None = None,
    channel_names: list[str] | None = None,
    physical_size_x: float = 1.0,
    physical_size_y: float = 1.0,
    physical_size_z: float = 1.0,
) -> bytes:
    """Encode a (T,C,Z,Y,X) array as the FTIF test container."""
    arr = np.asarray(arr)
    if arr.ndim != 5:
        raise ValueError("encode_ftif expects a 5D (T,C,Z,Y,X) array")
    header = {
        "shape": list(arr.shape),
        "id": image_id,
        "name": name or image_id,
        "channel_names": channel_names,
        "physical_size": [physical_size_x, physical_size_y, physical_size_z],
    }
    payload = np.clip(arr, 0, 65535).astype("<u2").tobytes()
    return FTIF_MAGIC + (json.dumps(header) + "\n").encode() + payload


def decode_volume_bytes(
    path: str, data: bytes
) -> tuple[np.ndarray, tuple[float, float, float], list[str] | None, dict[str, Any]]:
    """bytes → ((T,C,Z,Y,X) volume, physical sizes, channel names,
    header extras). Real TIFF needs tifffile; FTIF always decodes."""
    if data[: len(FTIF_MAGIC)] == FTIF_MAGIC:
        rest = data[len(FTIF_MAGIC):]
        nl = rest.index(b"\n")
        header = json.loads(rest[:nl].decode())
        shape = tuple(header["shape"])
        vol = np.frombuffer(rest[nl + 1 :], dtype="<u2").reshape(shape)
        px, py, pz = header.get("physical_size", [1.0, 1.0, 1.0])
        return vol, (px, py, pz), header.get("channel_names"), header
    from ome_arrow_spark.sources.tiff_minimal import (
        decode_tiff_pages,
        is_tiff,
        pages_to_tczyx,
        parse_ome_xml_dims,
    )

    if HAVE_TIFFFILE:
        with tifffile.TiffFile(io.BytesIO(data)) as tf:  # pragma: no cover
            series = tf.series[0]
            vol = series.asarray()
            axes = series.axes.upper().replace("S", "C").replace("Q", "Z")
            keep = "".join(a for a in axes if a in "TCZYX")
            vol = vol.reshape([s for a, s in zip(axes, vol.shape) if a in "TCZYX"])
            from ome_arrow_spark.sources.numpy_ingest import normalize_axes

            # OME metadata parity with the built-in branch (reference
            # ingest.py:340-346 carries channel names + physical sizes
            # through every TIFF read): parse the first-page
            # ImageDescription OME-XML when present.
            desc = getattr(tf, "ome_metadata", None)
            if desc is None and tf.pages:
                desc = getattr(tf.pages[0], "description", None)
            dims = parse_ome_xml_dims(desc)
            phys = (1.0, 1.0, 1.0)
            chans = None
            if dims is not None:
                phys = (
                    dims["physical_size_x"],
                    dims["physical_size_y"],
                    dims["physical_size_z"],
                )
                chans = dims["channel_names"]
            return normalize_axes(vol, keep), phys, chans, {}

    if is_tiff(data):
        # real TIFF bytes, no tifffile: the built-in decoder covers
        # uncompressed/PackBits/LZW/Deflate segments, striped or tiled,
        # Predictor-2, grayscale or RGB (chunky/planar), 8/16-bit int
        # (either endianness) and float32. OME-TIFF ImageDescription XML
        # maps pages to (T,C,Z) per DimensionOrder; plain TIFF pages
        # become a z-stack (RGB samples become channels) — the
        # reference's full fixture class.
        pages, desc = decode_tiff_pages(data)
        if pages.dtype.kind == "f":
            pages = np.rint(pages)  # OME pixel model is uint16
        dims = parse_ome_xml_dims(desc)
        if pages.ndim == 4:  # (N,Y,X,S) → samples as channels
            vol = pages.transpose(3, 0, 1, 2)[np.newaxis]
            if dims is not None:
                return (
                    vol,
                    (
                        dims["physical_size_x"],
                        dims["physical_size_y"],
                        dims["physical_size_z"],
                    ),
                    dims["channel_names"],
                    {},
                )
            return vol, (1.0, 1.0, 1.0), None, {}
        if dims is not None:
            vol = pages_to_tczyx(pages, dims)
            return (
                vol,
                (
                    dims["physical_size_x"],
                    dims["physical_size_y"],
                    dims["physical_size_z"],
                ),
                dims["channel_names"],
                {},
            )
        return pages[np.newaxis, np.newaxis], (1.0, 1.0, 1.0), None, {}
    raise NotImplementedError(
        f"Cannot decode {path!r}: not an FTIF container and not a TIFF byte "
        "stream. Exotic TIFF corners (old-style-JPEG table fragments) "
        "need tifffile (uncompressed/PackBits/LZW/Deflate/JPEG/CCITT, "
        "striped/tiled, grayscale/RGB, 1/8/16-bit/float32 decode built-in)."
    )


def decode_image_bytes(path: str, data: bytes) -> dict[str, Any]:
    """bytes → OME-Arrow record dict (one image per file)."""
    vol, (px, py, pz), channel_names, header = decode_volume_bytes(path, data)
    return from_numpy(
        vol,
        dim_order="TCZYX",
        image_id=header.get("id") or _stem(path),
        name=header.get("name"),
        channel_names=channel_names,
        physical_size_x=px,
        physical_size_y=py,
        physical_size_z=pz,
        acquisition_datetime=datetime(2025, 1, 1),
    )


def _stem(path: str) -> str:
    base = os.path.basename(path)
    for ext in (".ome.tiff", ".ome.tif", ".tiff", ".tif", ".ftif"):
        if base.lower().endswith(ext):
            return base[: -len(ext)]
    return os.path.splitext(base)[0]


# ---------------------------------------------------------------------------
# Distributed ingest
# ---------------------------------------------------------------------------


def from_tiff_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*.tif*",
    column: str = "ome_arrow",
    on_error: str = "fail",
) -> DataFrame:
    """binaryFile scan + mapInArrow decode → images table.

    Scale: ``binaryFile`` gives (path, length, content) rows; Spark
    packs small files per task (maxPartitionBytes) and Arrow ships each
    batch to the Python worker once. Decode output is one struct row
    per file — no driver involvement.

    ``on_error="skip"`` drops undecodable files (truncated/unsupported)
    instead of failing the job — at archive scale one corrupt file must
    cost one row, not the ingest; pair with a separate
    ``media_table_from_dir`` + ``media_features(on_error="row")`` pass
    to INVENTORY the corrupt files when you need the report."""
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return bin_df.mapInArrow(
        _decode_arrow_fn(column, on_error),
        schema=ome_images_schema(column),
    )


def _decode_arrow_fn(column: str, on_error: str):
    """mapInArrow decode: each batch's records become one Arrow batch
    through ``arrow_records.records_to_arrow_batch``."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail/skip, got {on_error!r}")
    from ome_arrow_spark.sources.arrow_records import (
        ome_arrow_field_type,
        records_to_arrow_batch,
    )

    ome_type = ome_arrow_field_type()

    def decode_batches(batches):
        for batch in batches:
            paths = batch.column("path")
            contents = batch.column("content")
            records = []
            for i in range(batch.num_rows):
                try:
                    records.append(
                        decode_image_bytes(
                            paths[i].as_py(), contents[i].as_py()
                        )
                    )
                except (ValueError, NotImplementedError):
                    if on_error == "fail":
                        raise
            yield records_to_arrow_batch(records, column, ome_type)

    return decode_batches


def from_tiff_stream(
    spark: SparkSession,
    path: str,
    glob: str = "*.tif*",
    column: str = "ome_arrow",
    max_files_per_trigger: int | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """Streaming twin of :func:`from_tiff_dir`: a ``readStream``
    binaryFile source watches the directory and every new TIFF becomes
    one decoded OME row in the micro-batch — continuous microscope
    ingest.  Pair with ``foreachBatch`` + the transaction-log table
    (``table_log.upsert_ome_table``) for an end-to-end acquisition
    pipeline with atomic, re-ingest-safe commits; Structured
    Streaming's source log tracks which files were already processed,
    so restarts neither drop nor double-ingest images.
    ``max_files_per_trigger`` bounds micro-batch size (decode memory ∝
    files per batch, not directory size)."""
    from pyspark.sql.types import StructType

    src_schema = StructType.fromDDL(
        "path string, modificationTime timestamp, length long, content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(src_schema)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    bin_df = reader.load(path).select("path", "content")
    return bin_df.mapInArrow(
        _decode_arrow_fn(column, on_error),
        schema=ome_images_schema(column),
    )


# ---------------------------------------------------------------------------
# Sink (K3): per-image files written from executors
# ---------------------------------------------------------------------------


def to_tiff_dir(
    images: DataFrame,
    out_dir: str,
    column: str = "ome_arrow",
    compression: str = "none",
    predictor: bool = False,
    tile: tuple[int, int] | None = None,
) -> list[str]:
    """Write one file per image from the executors through
    ``densify.write_per_image`` (the reference writes one image eagerly
    on one core, export.py:219-228). Every volume becomes a REAL OME-TIFF via the
    built-in encoder: multi-page TIFF with the OME-XML ImageDescription
    carrying (T,C,Z) dims, channel names, and physical sizes — pages in
    XYCZT order, readable by any OME-aware reader (and re-ingested
    exactly by from_tiff_dir). ``compression`` ∈ {"none", "lzw",
    "packbits", "deflate", "jpeg"}, ``predictor`` and ``tile=(w, h)`` select the
    built-in codec matrix — the same options the reference forwards to
    tifffile (export.py:203-210)."""
    from ome_arrow_spark.operators.densify import write_per_image
    from ome_arrow_spark.sources.tiff_minimal import (
        build_ome_xml,
        encode_tiff_baseline,
    )

    def write_one(rec: dict[str, Any], vol: np.ndarray) -> str:
        pm = rec["pixels_meta"]
        t, c, z, y, x = vol.shape
        xml = build_ome_xml(
            image_id=rec["id"],
            name=rec["name"],
            size_t=t, size_c=c, size_z=z, size_y=y, size_x=x,
            channel_names=[ch["name"] for ch in pm["channels"]],
            physical_size_x=pm["physical_size_x"],
            physical_size_y=pm["physical_size_y"],
            physical_size_z=pm["physical_size_z"],
        )
        # pages in XYCZT order (C fastest) to match the XML
        pages = vol.transpose(0, 2, 1, 3, 4).reshape(t * z * c, y, x)
        suffix = ".ome.tif" if (t > 1 or c > 1) else ".tif"
        path = os.path.join(out_dir, f"{rec['id']}{suffix}")
        with open(path, "wb") as f:
            f.write(
                encode_tiff_baseline(
                    pages,
                    description=xml,
                    compression=compression,
                    predictor=predictor,
                    tile=tile,
                )
            )
        return path

    return write_per_image(images, out_dir, write_one, column)
