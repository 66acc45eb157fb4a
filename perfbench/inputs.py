"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, index)``: the same seed gives
byte-identical TIFF files, OME records and embedding tables.  The package
under test only ever receives the files and DataFrames built here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: Pixel values stay 12-bit, like a typical camera, so the stored uint16
#: planes are realistic for the table's zstd pages.
PIXEL_MAX = 4096


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


@dataclass(frozen=True)
class ImageSpec:
    """One generated image: its id and (T, C, Z, Y, X) shape."""

    image_id: str
    t: int
    c: int
    z: int
    y: int
    x: int

    @property
    def planes(self) -> int:
        return self.t * self.c * self.z

    @property
    def raw_bytes(self) -> int:
        return 2 * self.planes * self.y * self.x


def volume(seed: int, stream: int, index: int, spec: ImageSpec) -> np.ndarray:
    """(T, C, Z, Y, X) uint16 pixels for image ``index`` of ``stream``."""
    shape = (spec.t, spec.c, spec.z, spec.y, spec.x)
    return rng(seed, stream, index).integers(0, PIXEL_MAX, size=shape, dtype=np.uint16)


def plane_sums(vol: np.ndarray) -> np.ndarray:
    """Per-plane pixel sums in (t, c, z) order, as int64."""
    t, c, z = vol.shape[:3]
    return vol.reshape(t * c * z, -1).sum(axis=1, dtype=np.int64)


def ome_tiff_bytes(vol: np.ndarray, image_id: str) -> bytes:
    """A real OME-TIFF (one IFD per plane, XYCZT page order) written
    with the package's own baseline encoder."""
    from ome_arrow_spark.sources.tiff_minimal import build_ome_xml, encode_tiff_baseline

    t, c, z, y, x = vol.shape
    # XYCZT: C varies fastest across pages, then Z, then T.
    pages = vol.transpose(0, 2, 1, 3, 4).reshape(t * z * c, y, x)
    xml = build_ome_xml(
        image_id=image_id, name=image_id, size_t=t, size_c=c, size_z=z, size_y=y, size_x=x
    )
    return encode_tiff_baseline(pages, description=xml)


def write_tiff(directory: str, vol: np.ndarray, image_id: str) -> int:
    """Write ``<image_id>.ome.tif`` atomically (the stream must never see
    a partial file); returns the file size."""
    data = ome_tiff_bytes(vol, image_id)
    final = os.path.join(directory, f"{image_id}.ome.tif")
    tmp = os.path.join(directory, f".{image_id}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, final)
    return len(data)


def ome_record(spec: ImageSpec, vol: np.ndarray) -> dict:
    """OME-Arrow record dict (the ``synth.golden_record`` layout) with
    the given pixels; planes are dense in t-major, then c, then z order."""
    from ome_arrow_spark.synth import _SYNTH_DT, default_channel
    from ome_arrow_spark.meta import OME_ARROW_TYPE, OME_ARROW_VERSION, dimension_order

    planes = [
        {"z": zi, "t": ti, "c": ci, "pixels": vol[ti, ci, zi].reshape(-1).astype(np.int32)}
        for ti in range(spec.t)
        for ci in range(spec.c)
        for zi in range(spec.z)
    ]
    return {
        "type": OME_ARROW_TYPE,
        "version": OME_ARROW_VERSION,
        "id": spec.image_id,
        "name": spec.image_id,
        "acquisition_datetime": _SYNTH_DT,
        "pixels_meta": {
            "dimension_order": dimension_order(spec.z),
            "type": "uint16",
            "size_x": spec.x,
            "size_y": spec.y,
            "size_z": spec.z,
            "size_c": spec.c,
            "size_t": spec.t,
            "physical_size_x": 1.0,
            "physical_size_y": 1.0,
            "physical_size_z": 1.0,
            "physical_size_x_unit": "µm",
            "physical_size_y_unit": "µm",
            "physical_size_z_unit": "µm",
            "channels": [default_channel(i) for i in range(spec.c)],
        },
        "planes": planes,
        "masks": None,
    }


def arrow_images(records: list[dict]):
    """pyarrow table with one ``ome_arrow`` struct column."""
    import pyarrow as pa

    from ome_arrow_spark.synth import arrow_ome_struct

    return pa.table({"ome_arrow": pa.array(records, type=arrow_ome_struct())})


# ---------------------------------------------------------------------------
# link: clustered per-image embeddings with planted near-duplicates
# ---------------------------------------------------------------------------


def embeddings(seed: int, n: int, dim: int, clusters: int, dup_share: float) -> np.ndarray:
    """``n × dim`` float64 vectors around ``clusters`` seeded centres; a
    ``dup_share`` of the rows are near-copies of another row."""
    g = rng(seed, 4)
    centres = g.normal(size=(clusters, dim))
    emb = centres[g.integers(0, clusters, size=n)] + 0.35 * g.normal(size=(n, dim))
    n_dup = int(n * dup_share)
    dst = g.choice(n, size=n_dup, replace=False)
    src = g.integers(0, n, size=n_dup)
    emb[dst] = emb[src] + 0.01 * g.normal(size=(n_dup, dim))
    return emb


def brute_force_topk(emb: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k neighbour indices per row (self included, as
    the operator's self-join includes it); ties break on the lower index."""
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sim = np.round(unit @ unit.T, 6)
    order = np.argsort(-sim, axis=1, kind="stable")
    return order[:, :k]
