"""Bio-Formats-style filename-pattern stack ingest (reference S6
``from_stack_pattern_path``, ingest.py:403-692).

Grammar (matched behavior, fresh implementation):

* ``<...>`` tokens expand to choices: numeric range ``a-b[:step]`` with
  zero-padding to the wider bound (ingest.py:436-451), or a comma list
  (numeric or literal names).
* The token's dimension comes from the immediately preceding letters:
  c/ch/w/wavelength→C, t/tl/tp/timepoint→T, z/zs/sec/fp/focal→Z,
  s/sp/series→S (ingest.py:418-434); S remaps via ``map_series_to``
  (default T); unrecognized → ``default_dim_for_unspecified``.
* A file's (t,c,z) indices are the POSITIONS of its token values in
  each choices list, not the numeric values (ingest.py:498-511).
* A non-numeric C token's choices become channel names
  (ingest.py:519-524).
* No ``<>`` at all → the string is a regex; matching files sort by
  name and enumerate as Z (ingest.py:527-529).
* Sizes are max(index)+1 over matched files; missing combos zero-fill
  (ingest.py:534-536, 584-589).
* A file holding a Z-stack (T=C=1, Z>1) spills planes from its base z
  (ingest.py:629-645); multi-T/C pages in one file are rejected
  (ingest.py:646-655).

Distributed shape: pattern expansion is a driver-side compile against
one directory listing (O(#choices) + O(#files), no file I/O). A
binaryFile scan of exactly the matched files, joined to a
(path→t,c,z) manifest, decodes on the executors in one ``mapInArrow``
into one row per file (its planes as an Arrow int32 buffer). One
assembly task then checks that all files share a plane shape,
zero-fills a dense (T,C,Z,Y,X)
volume (ingest.py:584-589) and emits the record through
``from_numpy`` + ``records_to_arrow_batch``, like every other ingest
path. Errors in the files (multi-page T/C, shape mismatch) surface when
the result is evaluated. Note one deliberate divergence: when an
in-file Z-stack bumps size_z, we zero-fill the FULL (t,c,z) cross
product of the final sizes; the reference only fills combos visited
before the bump (a loop-ordering artifact).
"""

from __future__ import annotations

import itertools
import os
import re
from datetime import datetime
from typing import Any, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ome_arrow_spark.meta import ome_images_schema
from ome_arrow_spark.sources.numpy_ingest import from_numpy

DIM_TOKENS = {
    "C": {"c", "ch", "w", "wavelength"},
    "T": {"t", "tl", "tp", "timepoint"},
    "Z": {"z", "zs", "sec", "fp", "focal", "focalplane"},
    "S": {"s", "sp", "series"},
}
_NUM_RANGE = re.compile(r"^(?P<a>\d+)\-(?P<b>\d+)(?::(?P<step>\d+))?$")


def _detect_dim(before: str) -> str | None:
    m = re.search(r"([A-Za-z]+)$", before)
    if not m:
        return None
    tok = m.group(1).lower()
    for dim, names in DIM_TOKENS.items():
        if tok in names:
            return dim
    return None


def _expand_token(raw: str) -> tuple[list[str], bool]:
    raw = raw.strip()
    if "," in raw and not _NUM_RANGE.match(raw):
        parts = [p.strip() for p in raw.split(",")]
        return parts, all(p.isdigit() for p in parts)
    m = _NUM_RANGE.match(raw)
    if m:
        a, b = m.group("a"), m.group("b")
        step = int(m.group("step") or "1")
        if int(b) < int(a):
            raise ValueError(f"Inverted range not supported: <{raw}>")
        width = max(len(a), len(b))
        return [str(v).zfill(width) for v in range(int(a), int(b) + 1, step)], True
    return [raw], raw.isdigit()


def parse_pattern(pattern: str) -> tuple[str, list[dict[str, Any]]]:
    """Pattern string → (format template, placeholder descriptors)."""
    out: list[str] = []
    placeholders: list[dict[str, Any]] = []
    i = 0
    while i < len(pattern):
        if pattern[i] == "<":
            j = pattern.find(">", i + 1)
            if j == -1:
                raise ValueError("Unclosed '<' in pattern.")
            raw = pattern[i + 1 : j]
            choices, is_num = _expand_token(raw)
            placeholders.append(
                {
                    "dim": _detect_dim("".join(out)) or "?",
                    "choices": choices,
                    "is_numeric": is_num,
                }
            )
            out.append(f"{{{len(placeholders) - 1}}}")
            i = j + 1
        else:
            out.append(pattern[i])
            i += 1
    return "".join(out), placeholders


def expand_matches(
    folder: str,
    pattern: str,
    default_dim_for_unspecified: str = "C",
    map_series_to: str | None = "T",
) -> tuple[dict[tuple[int, int, int], str], list[str] | None]:
    """Driver-side compile: (t,c,z) → existing file path, plus literal
    channel names if a non-numeric C token provided them."""
    listing = set(os.listdir(folder)) if os.path.isdir(folder) else set()
    matched: dict[tuple[int, int, int], str] = {}
    literal_channels: list[str] | None = None

    if "<" in pattern and ">" in pattern:
        template, placeholders = parse_pattern(pattern)
        for ph in placeholders:
            if ph["dim"] == "?":
                ph["dim"] = default_dim_for_unspecified.upper()
        for combo in itertools.product(*[ph["choices"] for ph in placeholders]):
            fname = template.format(*combo)
            if fname not in listing:
                continue
            t = c = z = 0
            for ph, val in zip(placeholders, combo):
                idx = ph["choices"].index(val)
                dim = ph["dim"]
                if dim == "S":
                    if not map_series_to:
                        raise ValueError("Encountered 'series' but map_series_to=None")
                    dim = map_series_to.upper()
                if dim == "T":
                    t = idx
                elif dim == "C":
                    c = idx
                elif dim == "Z":
                    z = idx
            if literal_channels is None:
                for ph in placeholders:
                    dim_eff = ph["dim"] if ph["dim"] != "S" else (map_series_to or "S")
                    if dim_eff == "C" and not ph["is_numeric"]:
                        literal_channels = list(ph["choices"])
                        break
            matched[(t, c, z)] = os.path.join(folder, fname)
    else:
        rx = re.compile(pattern)
        for z, fname in enumerate(sorted(f for f in listing if rx.fullmatch(f))):
            matched[(0, 0, z)] = os.path.join(folder, fname)

    if not matched:
        raise FileNotFoundError(f"No files matched pattern: {pattern!r} in {folder}")
    return matched, literal_channels


def from_stack_pattern(
    spark: SparkSession,
    pattern_path: str,
    default_dim_for_unspecified: str = "C",
    map_series_to: str | None = "T",
    clamp_to_uint16: bool = True,
    channel_names: list[str] | None = None,
    image_id: str | None = None,
    name: str | None = None,
    column: str = "ome_arrow",
) -> DataFrame:
    """Assemble ONE image from a filename-pattern stack, distributed:
    every matched file decodes in parallel on the executors."""
    folder, line = os.path.split(pattern_path)
    matched, literal_channels = expand_matches(
        folder or ".", line, default_dim_for_unspecified, map_series_to
    )
    size_t = max(k[0] for k in matched) + 1
    size_c = max(k[1] for k in matched) + 1
    size_z0 = max(k[2] for k in matched) + 1

    if channel_names and len(channel_names) != size_c:
        raise ValueError(
            f"channel_names length {len(channel_names)} != size_c {size_c}"
        )
    channel_names = channel_names or literal_channels

    manifest = spark.createDataFrame(
        [Row(path=os.path.abspath(p), t=k[0], c=k[1], z=k[2]) for k, p in matched.items()]
    )
    bin_df = (
        spark.read.format("binaryFile")
        .load(sorted(os.path.abspath(p) for p in matched.values()))
        .select(F.regexp_replace("path", "^file:", "").alias("path"), "content")
    )
    files = bin_df.join(manifest, "path")

    clamp = bool(clamp_to_uint16)
    img_id = image_id or os.path.splitext(os.path.basename(pattern_path))[0]
    display_name = name or pattern_path

    # one row per file: its (t, c, z) slot, its (Z, Y, X) shape and
    # its planes as one int32 list (an Arrow buffer, never boxed)
    file_schema = pa.schema(
        [(n, pa.int32()) for n in ("t", "c", "z")]
        + [("shape", pa.list_(pa.int32())), ("pixels", pa.list_(pa.int32()))]
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ome_arrow_spark.sources.tiff import decode_volume_bytes

        for batch in batches:
            cols = batch.to_pydict()
            shapes, pixels = [], []
            for path, blob in zip(cols.pop("path"), cols.pop("content")):
                vol, _, _, _ = decode_volume_bytes(path, blob)
                tn, cn = vol.shape[:2]
                if tn > 1 or cn > 1:
                    raise ValueError(
                        f"{os.path.basename(path)} contains multiple pages across "
                        f"T/C={tn},{cn}; only Z>1 with T=C=1 is supported inside "
                        "one file. Express T/C via the filename pattern."
                    )
                shapes.append(list(vol.shape[2:]))
                v = np.clip(vol, 0, 65535) if clamp else vol
                pixels.append(v.astype(np.int32).ravel())
            yield pa.RecordBatch.from_pydict(
                {**cols, "shape": shapes, "pixels": pixels}, schema=file_schema
            )

    def assemble(tbl: pa.Table) -> pa.Table:
        from ome_arrow_spark.sources.arrow_records import (
            ome_arrow_field_type,
            records_to_arrow_batch,
        )

        shapes = tbl["shape"].to_pylist()
        if len({tuple(s[1:]) for s in shapes}) != 1:
            raise ValueError("Shape mismatch across stack files")
        _, yy, xx = shapes[0]
        t, c, z = (tbl[n].to_pylist() for n in ("t", "c", "z"))
        size_z = max(size_z0, max(zi + s[0] for zi, s in zip(z, shapes)))
        vol = np.zeros((size_t, size_c, size_z, yy, xx), np.int32)
        pixels = tbl["pixels"].combine_chunks()
        # (t, c, z) order: where an in-file Z-stack runs into the next
        # file's slot, the later file wins on every run
        for i in np.lexsort((z, c, t)):
            depth = shapes[i][0]
            vol[t[i], c[i], z[i] : z[i] + depth] = (
                pixels[int(i)].values.to_numpy().reshape(depth, yy, xx)
            )
        rec = from_numpy(
            vol,
            image_id=img_id,
            name=display_name,
            clamp_to_uint16=False,
            channel_names=channel_names,
            acquisition_datetime=datetime(2025, 1, 1),
        )
        return pa.Table.from_batches(
            [records_to_arrow_batch([rec], column, ome_arrow_field_type())]
        )

    files_df = files.mapInArrow(
        decode, "t int, c int, z int, shape array<int>, pixels array<int>"
    )
    return files_df.groupBy(F.lit(img_id)).applyInArrow(
        assemble, ome_images_schema(column)
    )
