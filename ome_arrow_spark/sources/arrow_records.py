"""Decoded OME records ⇄ Arrow, the one conversion each way: every
ingest path builds its batches with ``records_to_arrow_batch``, every
per-image sink reads its batches back with ``arrow_to_records``.  The
vector operators' Arrow UDFs read and write their fixed-width list
columns through the matrix pair ``list_to_matrix`` / ``matrix_to_list``.

A record dict (built by ``numpy_ingest.to_ome_arrow``) becomes one
element of the ``ome_arrow`` struct column.  The PLANES subtree is
built from buffers — pixels as ONE concatenated int32 buffer plus
offsets, plane/struct wrappers via ``pa.StructArray.from_arrays`` — so
no pixel is ever boxed into a Python int, and ``mapInArrow`` decodes
hand the batch straight to Spark with no pandas detour.

The per-image metadata fields (a handful of scalars + the channels
list) convert via ``pa.array``'s python-object path — negligible at
~10 fields per image."""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa


def ome_arrow_field_type() -> pa.DataType:
    """Arrow type Spark expects for the ``ome_arrow`` struct column in
    a ``mapInArrow`` exchange — derived from the declared Spark schema
    with the same helper Spark's serializer uses, so field order,
    integer widths and the timestamp unit/zone all match exactly."""
    from pyspark.sql.pandas.types import to_arrow_type

    from ome_arrow_spark.meta import ome_arrow_struct

    return to_arrow_type(ome_arrow_struct())


def records_to_arrow_batch(
    records: list[dict[str, Any]], column: str, ome_type: pa.DataType
) -> pa.RecordBatch:
    """One decoded-image-records list → a single-column RecordBatch of
    ``ome_type`` (the ``ome_arrow_struct()`` Arrow twin).  ``pixels``
    entries may be numpy integer arrays or sequences; they are
    flattened into one int32 values buffer."""
    n = len(records)
    struct_t = ome_type
    plane_list_t = struct_t.field("planes").type
    plane_t = plane_list_t.value_type
    pix_list_t = plane_t.field("pixels").type

    # --- planes subtree via buffers -----------------------------------
    zs: list[int] = []
    ts: list[int] = []
    cs: list[int] = []
    pix_parts: list[np.ndarray] = []
    pix_offsets = [0]
    plane_offsets = [0]
    for rec in records:
        planes = rec.get("planes") or []
        for p in planes:
            zs.append(p["z"])
            ts.append(p["t"])
            cs.append(p["c"])
            px = np.ascontiguousarray(p["pixels"], dtype=np.int32)
            pix_parts.append(px)
            pix_offsets.append(pix_offsets[-1] + len(px))
        plane_offsets.append(plane_offsets[-1] + len(planes))
    pix_values = (
        np.concatenate(pix_parts) if pix_parts else np.empty(0, np.int32)
    )
    pixels_arr = pa.ListArray.from_arrays(
        pa.array(pix_offsets, pa.int32()),
        pa.array(pix_values, pix_list_t.value_type),
    )
    plane_children = [
        pa.array(np.asarray(zs, np.int32), plane_t.field("z").type),
        pa.array(np.asarray(ts, np.int32), plane_t.field("t").type),
        pa.array(np.asarray(cs, np.int16), plane_t.field("c").type),
        pixels_arr,
    ]
    plane_struct = pa.StructArray.from_arrays(
        plane_children, fields=list(plane_t)
    )
    planes_arr = pa.ListArray.from_arrays(
        pa.array(plane_offsets, pa.int32()), plane_struct
    )

    # --- everything else via the python-object path -------------------
    children = []
    for field in struct_t:
        if field.name == "planes":
            children.append(planes_arr)
        else:
            children.append(
                pa.array([rec.get(field.name) for rec in records], field.type)
            )
    top = pa.StructArray.from_arrays(children, fields=list(struct_t))
    if n == 0:
        top = pa.array([], type=struct_t)
    return pa.RecordBatch.from_arrays([top], [column])


def arrow_to_records(
    column: pa.Array | pa.ChunkedArray,
) -> list[dict[str, Any] | None]:
    """Inverse of :func:`records_to_arrow_batch`: an ``ome_arrow``
    struct column → record dicts.  Each plane's ``pixels`` is a numpy
    view into the column's one values buffer (no pixel is boxed); the
    per-image metadata comes from ``to_pylist``.  A null struct cell
    becomes ``None``."""
    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    names = [f.name for f in column.type if f.name != "planes"]
    meta = {name: column.field(name).to_pylist() for name in names}
    planes = column.field("planes")
    plane_offsets = planes.offsets.to_numpy()
    plane_struct = planes.values
    zs = plane_struct.field("z").to_numpy(zero_copy_only=False)
    ts = plane_struct.field("t").to_numpy(zero_copy_only=False)
    cs = plane_struct.field("c").to_numpy(zero_copy_only=False)
    pixels = plane_struct.field("pixels")
    pix_offsets = pixels.offsets.to_numpy()
    pix_values = pixels.values.to_numpy(zero_copy_only=False)
    records: list[dict[str, Any] | None] = []
    for i, valid in enumerate(column.is_valid().to_pylist()):
        if not valid:
            records.append(None)
            continue
        rec = {name: meta[name][i] for name in names}
        rec["planes"] = [
            {
                "z": int(zs[j]),
                "t": int(ts[j]),
                "c": int(cs[j]),
                "pixels": pix_values[pix_offsets[j] : pix_offsets[j + 1]],
            }
            for j in range(plane_offsets[i], plane_offsets[i + 1])
        ]
        records.append(rec)
    return records


def list_to_matrix(
    column: pa.Array | pa.ChunkedArray, name: str, dtype=np.float64
) -> np.ndarray:
    """A fixed-width list column (sliced or not; float32, float64 or
    integer elements) as an ``(n, d)`` ``dtype`` matrix read straight
    from its values buffer — zero-copy, hence read-only, when ``dtype``
    is already the element type.  A null row, or a row whose width
    differs from row 0's, raises one ``ValueError`` naming ``name`` and
    the first bad row.  Zero rows give a ``(0, 0)`` matrix."""
    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    n = len(column)
    if column.null_count:
        bad = int(np.argmin(column.is_valid().to_numpy(zero_copy_only=False)))
        raise ValueError(f"{name}: row {bad} is null; expected a vector")
    if n == 0:
        return np.empty((0, 0), dtype)
    offsets = column.offsets.to_numpy()
    widths = np.diff(offsets)
    d = int(widths[0])
    if (widths != d).any():
        bad = int(np.argmax(widths != d))
        raise ValueError(
            f"{name}: row {bad} has {widths[bad]} elements, row 0 has {d}; "
            "expected fixed-width vectors"
        )
    flat = column.values.slice(int(offsets[0]), n * d)
    return flat.to_numpy(zero_copy_only=False).reshape(n, d).astype(
        dtype, copy=False
    )


def matrix_to_list(
    mat: np.ndarray, valid: np.ndarray | None = None
) -> pa.ListArray:
    """Inverse of :func:`list_to_matrix`: a ``ListArray`` of the rows of
    ``mat`` with its element type.  With a boolean ``valid`` mask the
    array has ``len(valid)`` entries, null where ``valid`` is False, and
    ``mat`` holds only the valid entries' rows, in order."""
    n, d = mat.shape
    widths = np.full(n, d) if valid is None else np.where(valid, d, 0)
    offsets = np.zeros(len(widths) + 1, np.int32)
    np.cumsum(widths, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(mat.reshape(-1)),
        mask=None if valid is None else pa.array(~np.asarray(valid)),
    )
