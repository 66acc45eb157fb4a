"""NumPy → OME-Arrow ingest (reference S2 ``from_numpy``
ingest.py:136-290 and S7 ``to_ome_arrow`` ingest.py:22-133).

Axis semantics: the input's axes are named by ``dim_order`` (a subset
of "TCZYX" in any order, e.g. "YX", "ZYX", "CYX", "TCYX"); missing
axes become singletons and axes are permuted to canonical TCZYX
(ingest.py:210-233). Values clamp to [0, 65535] (ingest.py:236-237);
planes emit t-major (ingest.py:256-263); dimension_order records
"XYZCT" iff Z>1 else "XYCT" (ingest.py:267).

Every record in the package is built by :func:`to_ome_arrow` (one image
is one row) and becomes Arrow through
``arrow_records.records_to_arrow_batch``: locally via
``spark_table_from_records``, on executors inside the ``mapInArrow``
decodes of sources/tiff.py, zarr.py and stack_pattern.py.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any, Sequence

import numpy as np

from ome_arrow_spark.meta import OME_ARROW_TYPE, OME_ARROW_VERSION, dimension_order

CANONICAL = "TCZYX"

#: Default white channel synthesized when none specified
#: (reference ingest.py:83-93).
WHITE_RGBA = 4294967295


def default_channel(i: int) -> dict:
    return {
        "id": f"ch-{i}",
        "name": f"C{i}",
        "emission_um": 0.0,
        "excitation_um": 0.0,
        "illumination": "Unknown",
        "color_rgba": WHITE_RGBA,
    }


def normalize_axes(arr: np.ndarray, dim_order: str = "TCZYX") -> np.ndarray:
    """Insert singleton axes and permute to (T, C, Z, Y, X)."""
    dim_order = dim_order.upper()
    if len(dim_order) != arr.ndim:
        raise ValueError(
            f"dim_order {dim_order!r} has {len(dim_order)} axes, array has {arr.ndim}"
        )
    if len(set(dim_order)) != len(dim_order) or any(d not in CANONICAL for d in dim_order):
        raise ValueError(f"dim_order must be a subset of {CANONICAL}: {dim_order!r}")
    if "X" not in dim_order or "Y" not in dim_order:
        raise ValueError("dim_order must include Y and X")
    # add missing axes at the front, then permute
    full = dim_order
    for d in CANONICAL:
        if d not in full:
            arr = arr[np.newaxis, ...]
            full = d + full
    perm = [full.index(d) for d in CANONICAL]
    return np.transpose(arr, perm)


def clamp_uint16(arr: np.ndarray) -> np.ndarray:
    """The universal ingest clamp (ingest.py:236-237)."""
    return np.clip(arr, 0, 65535).astype(np.int32)


def from_numpy(
    arr: np.ndarray,
    *,
    dim_order: str = "TCZYX",
    image_id: str = "unnamed",
    name: str | None = None,
    clamp_to_uint16: bool = True,
    physical_size_x: float = 1.0,
    physical_size_y: float = 1.0,
    physical_size_z: float = 1.0,
    physical_size_unit: str = "µm",
    channel_names: Sequence[str] | None = None,
    acquisition_datetime: datetime | None = None,
) -> dict[str, Any]:
    """ndarray → OME-Arrow record dict (S2), built by :func:`to_ome_arrow`."""
    vol = normalize_axes(np.asarray(arr), dim_order)
    vol = clamp_uint16(vol) if clamp_to_uint16 else vol.astype(np.int32)
    t, c, z, y, x = vol.shape
    channels = [default_channel(i) for i in range(c)]
    if channel_names is not None:
        for ch, n in zip(channels, channel_names):
            ch["name"] = str(n)
    planes = [
        {"z": zi, "t": ti, "c": ci, "pixels": vol[ti, ci, zi].ravel()}
        for ti in range(t)
        for ci in range(c)
        for zi in range(z)
    ]
    return to_ome_arrow(
        image_id=image_id,
        name=name,
        size_x=x,
        size_y=y,
        size_z=z,
        size_c=c,
        size_t=t,
        channels=channels,
        planes=planes,
        acquisition_datetime=acquisition_datetime,
        physical_size_x=float(physical_size_x),
        physical_size_y=float(physical_size_y),
        physical_size_z=float(physical_size_z),
        physical_size_x_unit=physical_size_unit,
        physical_size_y_unit=physical_size_unit,
        physical_size_z_unit=physical_size_unit,
    )


def to_ome_arrow(
    *,
    image_id: str = "unnamed",
    name: str | None = None,
    size_x: int = 1,
    size_y: int = 1,
    size_z: int = 1,
    size_c: int = 1,
    size_t: int = 1,
    channels: list[dict] | None = None,
    planes: list[dict] | None = None,
    acquisition_datetime: datetime | None = None,
    **pixel_meta_overrides: Any,
) -> dict[str, Any]:
    """Record constructor with the reference's defaults (S7,
    ingest.py:22-133): one synthesized channel, one zero plane,
    now-UTC timestamp, string coercions."""
    if channels is None:
        channels = [default_channel(i) for i in range(size_c)]
    if planes is None:
        planes = [
            {
                "z": 0,
                "t": 0,
                "c": 0,
                "pixels": np.zeros(size_x * size_y, dtype=np.int32),
            }
        ]
    if acquisition_datetime is None:
        acquisition_datetime = datetime.now(timezone.utc).replace(tzinfo=None)
    pm = {
        "dimension_order": dimension_order(size_z),
        "type": "uint16",
        "size_x": int(size_x),
        "size_y": int(size_y),
        "size_z": int(size_z),
        "size_c": int(size_c),
        "size_t": int(size_t),
        "physical_size_x": 1.0,
        "physical_size_y": 1.0,
        "physical_size_z": 1.0,
        "physical_size_x_unit": "µm",
        "physical_size_y_unit": "µm",
        "physical_size_z_unit": "µm",
        "channels": channels,
    }
    pm.update(pixel_meta_overrides)
    return {
        "type": OME_ARROW_TYPE,
        "version": OME_ARROW_VERSION,
        "id": str(image_id),
        "name": str(name if name is not None else image_id),
        "acquisition_datetime": acquisition_datetime,
        "pixels_meta": pm,
        "planes": planes,
        "masks": None,
    }
