"""Decoded OME records → Arrow, the one conversion every ingest path uses.

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
