"""Deterministic synthesis of golden OME image tables (FIXTURES.md §B).

The reference's golden fixtures are TIFF/Zarr files absent from this
environment; their shapes and metadata are fully specified in
``/root/reference/tests/test_core.py:14-248`` and
``tests/conftest.py:10-70``, so we synthesize byte-deterministic
equivalents: ``pixel(t,c,z,y,x) = (t*31 + c*17 + z*7 + y*size_x + x)
% 65536``.

Records come from ``numpy_ingest.to_ome_arrow`` and become Arrow through
``arrow_records.records_to_arrow_batch`` (numpy pixel buffers, then
``spark.createDataFrame`` on the Arrow table) — building 16M pixel
values as Python lists would dominate test runtime.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pyarrow as pa

from ome_arrow_spark.meta import DEFAULT_COLUMN, OME_ARROW_TYPE
from ome_arrow_spark.sources.arrow_records import (
    ome_arrow_field_type,
    records_to_arrow_batch,
)
from ome_arrow_spark.sources.numpy_ingest import (  # noqa: F401 (re-exported)
    default_channel,
    to_ome_arrow,
)

#: (image_id, T, C, Z, Y, X) — one per golden fixture shape
#: (reference tests/test_core.py:14-248; FIXTURES.md §B1).
GOLDEN_SHAPES: list[tuple[str, int, int, int, int, int]] = [
    ("z-series", 1, 1, 5, 167, 439),
    ("time-series", 7, 1, 1, 167, 439),
    ("single-channel", 1, 1, 1, 167, 439),
    ("multi-channel", 1, 3, 1, 167, 439),
    ("multi-channel-z", 1, 3, 5, 167, 439),
    ("multi-channel-time", 7, 3, 1, 167, 439),
    ("multi-channel-4d", 7, 3, 5, 167, 439),
    ("4d-series", 7, 1, 5, 167, 439),
    ("nviz-2ch-stack", 1, 2, 22, 128, 128),
    ("nviz-1ch-stack", 1, 1, 22, 128, 128),
    ("nviz-2ch-single", 1, 2, 1, 128, 128),
    ("examplehuman-d0", 1, 1, 1, 512, 512),
    ("examplehuman-d1", 1, 1, 1, 512, 512),
    ("examplehuman-d2", 1, 1, 1, 512, 512),
]

_SYNTH_DT = datetime(2025, 1, 1, 0, 0, 0)


def pixel_plane(t: int, c: int, z: int, size_y: int, size_x: int) -> np.ndarray:
    """Deterministic flattened Y×X plane (FIXTURES.md formula)."""
    plane = np.arange(size_y * size_x, dtype=np.int64)
    plane += t * 31 + c * 17 + z * 7  # in place: an 8192² plane is 0.5 GB
    plane %= 65536
    return plane.astype(np.int32)


def golden_record(
    image_id: str, t: int, c: int, z: int, y: int, x: int, with_pixels: bool = True
) -> dict:
    """One OME-Arrow record dict for a golden shape; planes dense over
    the (t,c,z) cross product in t-major order (reference
    ingest.py:258-263)."""
    planes = [
        {
            "z": zi,
            "t": ti,
            "c": ci,
            "pixels": pixel_plane(ti, ci, zi, y, x) if with_pixels
            else np.zeros(0, dtype=np.int32),
        }
        for ti in range(t)
        for ci in range(c)
        for zi in range(z)
    ]
    return to_ome_arrow(
        image_id=image_id,
        size_x=x,
        size_y=y,
        size_z=z,
        size_c=c,
        size_t=t,
        planes=planes,
        acquisition_datetime=_SYNTH_DT,
    )


def conftest_record() -> dict:
    """The reference's only asserted-known-pixels fixture
    (tests/conftest.py:10-70): 4×3, 2 channels, pixels 0..23/100..123."""
    return {
        "type": OME_ARROW_TYPE,
        "version": "1.0.0",
        "id": "img-0001",
        "name": "Example image",
        "acquisition_datetime": datetime(2025, 1, 1, 12, 0, 0),
        "pixels_meta": {
            "dimension_order": "XYCT",
            "type": "uint16",
            "size_x": 4,
            "size_y": 3,
            "size_z": 1,
            "size_c": 2,
            "size_t": 1,
            "physical_size_x": 0.65,
            "physical_size_y": 0.65,
            "physical_size_z": 1.0,
            "physical_size_x_unit": "µm",
            "physical_size_y_unit": "µm",
            "physical_size_z_unit": "µm",
            "channels": [
                {
                    "id": "C0",
                    "name": "DNA",
                    "emission_um": 0.46,
                    "excitation_um": 0.40,
                    "illumination": "Epifluorescence",
                    "color_rgba": 0x0000FFFF,
                },
                {
                    "id": "C1",
                    "name": "Mito",
                    "emission_um": 0.59,
                    "excitation_um": 0.54,
                    "illumination": "Epifluorescence",
                    "color_rgba": 0xFF0000FF,
                },
            ],
        },
        "planes": [
            {"z": 0, "t": 0, "c": 0,
             "pixels": np.array([0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23], dtype=np.int32)},
            {"z": 0, "t": 0, "c": 1,
             "pixels": np.array([100, 101, 102, 103, 110, 111, 112, 113, 120, 121, 122, 123],
                                dtype=np.int32)},
        ],
        "masks": None,
    }


def arrow_ome_struct() -> pa.StructType:
    """Arrow twin of meta.ome_arrow_struct() (signed widenings applied)."""
    return ome_arrow_field_type()


def golden_arrow_table(
    ids: list[str] | None = None,
    with_pixels: bool = True,
    include_conftest: bool = True,
    column_name: str = DEFAULT_COLUMN,
) -> pa.Table:
    records = [
        golden_record(i, t, c, z, y, x, with_pixels)
        for (i, t, c, z, y, x) in GOLDEN_SHAPES
        if ids is None or i in ids
    ]
    if include_conftest and (ids is None or "img-0001" in ids):
        records.append(conftest_record())
    return pa.Table.from_batches(
        [records_to_arrow_batch(records, column_name, ome_arrow_field_type())]
    )


def golden_images_df(spark, ids=None, with_pixels=True, include_conftest=True):
    """Golden image table as a Spark DataFrame (one struct row per image)."""
    return spark.createDataFrame(golden_arrow_table(ids, with_pixels, include_conftest))
