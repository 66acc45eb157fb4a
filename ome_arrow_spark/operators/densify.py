"""Densify (reference K1 ``to_numpy`` export.py:14-113): planes →
dense (T, C, Z, Y, X) ndarray, zero-initialized, scattered by (t,c,z),
with the reference's strictness/clamp options.

Two tiers:
* ``record_to_numpy`` — one record on the driver (parity with the
  reference's eager API; used by export sinks and viewers).
* ``densify_to_files`` — distributed: each image row becomes one tensor
  inside a ``mapInArrow`` task writing .npy files; executors hold one
  Arrow batch of images at a time, never the table.

``write_per_image`` is that task loop, shared by every per-image sink
(``.npy`` here, ``tiff.to_tiff_dir``, ``zarr.to_zarr_dir``).
"""

from __future__ import annotations

import os
from typing import Any, Callable

import numpy as np

from pyspark.sql import DataFrame


def record_to_numpy(
    record: dict[str, Any],
    dtype=np.uint16,
    strict: bool = True,
    clamp: bool = False,
) -> np.ndarray:
    """Reference semantics (export.py:64-111): zeros-init, bounds-check
    plane keys, strict length check (or pad/truncate), optional clamp
    to dtype range, last-write-wins scatter."""
    pm = record["pixels_meta"]
    t, c, z = pm["size_t"], pm["size_c"], pm["size_z"]
    y, x = pm["size_y"], pm["size_x"]
    out = np.zeros((t, c, z, y, x), dtype=dtype)
    expected = x * y
    info = np.iinfo(dtype) if np.issubdtype(dtype, np.integer) else None
    for p in record["planes"] or []:
        ti, ci, zi = p["t"], p["c"], p["z"]
        if not (0 <= ti < t and 0 <= ci < c and 0 <= zi < z):
            raise IndexError(f"plane key ({ti},{ci},{zi}) out of bounds")
        px = np.asarray(p["pixels"])
        if px.size != expected:
            if strict:
                raise ValueError(f"plane has {px.size} pixels; expected {expected}")
            px = np.pad(px, (0, max(0, expected - px.size)))[:expected]
        if clamp and info is not None:
            px = np.clip(px, info.min, info.max)
        out[ti, ci, zi] = px.astype(dtype, copy=False).reshape(y, x)
    return out


def write_per_image(
    images: DataFrame,
    out_dir: str,
    write_one: Callable[[dict[str, Any], np.ndarray], str],
    column: str = "ome_arrow",
    dtype=np.uint16,
    strict: bool = True,
) -> list[str]:
    """The one per-image sink loop: ``mapInArrow`` over
    ``images.select(column)``; each row becomes a record
    (``arrow_records.arrow_to_records``, pixels stay numpy views of the
    Arrow buffer) and a dense volume (``record_to_numpy``), and
    ``write_one(rec, vol)`` writes it and returns its path.  Returns the
    written paths in row order.  Arrow, not ``.rdd``: the RDD bridge
    boxes every pixel into a Python int (a 2048² T3·C2·Z8 image row is
    ~200M ints ≈ 6 GB boxed, a worker OOM in tests/test_mega_image.py).

    The image id names the file, so an id that is empty, ``.``/``..``
    or not a bare file name (``a/b``, ``../x``) raises ``ValueError``
    before anything is written for it.

    .. warning::
        ``out_dir`` is opened with plain ``os`` paths *on the executors*,
        so on a multi-node cluster it must be a shared filesystem (NFS,
        Lustre, a FUSE-mounted object store) visible at the same path on
        every executor AND the driver — otherwise the files land on
        executor-local disks and the returned paths are not
        driver-accessible. Works unconditionally in local mode.
    """
    import pyarrow as pa

    from ome_arrow_spark.sources.arrow_records import arrow_to_records

    os.makedirs(out_dir, exist_ok=True)
    out_schema = pa.schema([("path", pa.string())])

    def write(batches):
        for batch in batches:
            paths = []
            for rec in arrow_to_records(batch.column(0)):
                image_id = rec["id"]
                if (
                    not image_id
                    or image_id in (".", "..")
                    or image_id != os.path.basename(image_id)
                ):
                    raise ValueError(
                        f"image id {image_id!r} is not a bare file name; "
                        f"refusing to write it under {out_dir!r}"
                    )
                vol = record_to_numpy(rec, dtype=dtype, strict=strict)
                paths.append(write_one(rec, vol))
            yield pa.RecordBatch.from_pydict({"path": paths}, schema=out_schema)

    return [
        r["path"]
        for r in images.select(column).mapInArrow(write, "path string").collect()
    ]


def densify_to_files(
    images: DataFrame,
    out_dir: str,
    column: str = "ome_arrow",
    dtype_name: str = "uint16",
    strict: bool = True,
) -> list[str]:
    """Write one ``{image_id}.npy`` dense tensor per image, in
    parallel on the executors (one task per partition; images are
    independent) through :func:`write_per_image`. Returns the written
    paths."""

    def write_one(rec: dict[str, Any], vol: np.ndarray) -> str:
        path = os.path.join(out_dir, f"{rec['id']}.npy")
        np.save(path, vol)
        return path

    return write_per_image(
        images, out_dir, write_one, column,
        dtype=np.dtype(dtype_name), strict=strict,
    )
