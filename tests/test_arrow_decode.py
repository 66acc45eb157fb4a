"""Focused tests for the direct-Arrow decode assembly
(sources/arrow_records.py): the mapInArrow ingest paths must produce
EXACTLY the rows Spark's own python-object conversion of the same
records produces."""

import os
import tempfile

import numpy as np
import pytest

from ome_arrow_spark.meta import ome_arrow_struct


@pytest.fixture(scope="module")
def tiff_dir(spark):
    d = tempfile.mkdtemp(prefix="t_arrowdec_")
    from ome_arrow_spark.sources.tiff import encode_ftif
    from ome_arrow_spark.sources.tiff_minimal import (
        build_ome_xml,
        encode_tiff_baseline,
    )

    side = 32
    base = (np.arange(side * side, dtype=np.int64) % 65536).reshape(
        1, 1, 1, side, side
    )
    for i in range(4):
        with open(os.path.join(d, f"i{i}.ftif"), "wb") as f:
            f.write(encode_ftif((base + i) % 65536, image_id=f"i{i}"))
    xml = build_ome_xml(
        image_id="omx", name="nm", size_t=1, size_c=1, size_z=1,
        size_y=side, size_x=side,
    )
    with open(os.path.join(d, "o0.ome.tif"), "wb") as f:
        f.write(encode_tiff_baseline(base[0, 0].astype(np.uint16), description=xml))
    return d


def _reference_rows(spark, recs):
    """Reference conversion: build the DataFrame from record dicts
    through createDataFrame (Spark's own python→Catalyst conversion)."""
    from pyspark.sql import types as T

    # createDataFrame's python verifier rejects numpy arrays; the
    # VALUES are what is under test, so list-ify for the reference
    recs = [
        {
            **r,
            "planes": [
                {**pl, "pixels": [int(x) for x in pl["pixels"]]} for pl in r["planes"]
            ],
        }
        for r in recs
    ]
    schema = T.StructType([T.StructField("ome_arrow", ome_arrow_struct())])
    return spark.createDataFrame([(r,) for r in recs], schema).collect()


def _expected_rows(spark, d, glob):
    """Decode in-process, then the reference conversion."""
    import glob as g

    from ome_arrow_spark.sources.tiff import decode_image_bytes

    recs = []
    for p in sorted(g.glob(os.path.join(d, glob))):
        with open(p, "rb") as f:
            recs.append(decode_image_bytes(p, f.read()))
    return _reference_rows(spark, recs)


def _key(rows):
    return sorted(
        (
            r[0]["id"],
            r[0]["type"],
            r[0]["version"],
            r[0]["name"],
            r[0]["acquisition_datetime"],
            r[0]["masks"],
            tuple(sorted(r[0]["pixels_meta"].asDict(recursive=True).items(), key=str)),
            tuple(
                (p["z"], p["t"], p["c"], tuple(p["pixels"]))
                for p in r[0]["planes"]
            ),
        )
        for r in rows
    )


def test_ftif_decode_matches_reference_conversion(spark, tiff_dir):
    from ome_arrow_spark.sources.tiff import from_tiff_dir

    got = from_tiff_dir(spark, tiff_dir, glob="*.ftif").collect()
    want = _expected_rows(spark, tiff_dir, "*.ftif")
    assert _key(got) == _key(want)


def test_ometiff_decode_matches_reference_conversion(spark, tiff_dir):
    """Real OME-TIFF exercises name + acquisition_datetime + channel
    metadata through the Arrow assembly (timestamp unit/zone parity)."""
    from ome_arrow_spark.sources.tiff import from_tiff_dir

    got = from_tiff_dir(spark, tiff_dir, glob="*.ome.tif").collect()
    want = _expected_rows(spark, tiff_dir, "*.ome.tif")
    assert _key(got) == _key(want)


def test_empty_batch_yields_typed_empty(spark, tiff_dir):
    from ome_arrow_spark.sources.tiff import from_tiff_dir

    df = from_tiff_dir(spark, tiff_dir, glob="*.nomatch")
    assert df.count() == 0
    assert df.schema[0].dataType == ome_arrow_struct()


def test_on_error_skip_drops_bad_file(spark, tiff_dir):
    from ome_arrow_spark.sources.tiff import from_tiff_dir

    bad = os.path.join(tiff_dir, "bad.ftif")
    with open(bad, "wb") as f:
        f.write(b"not a tiff at all")
    try:
        df = from_tiff_dir(spark, tiff_dir, glob="*.ftif", on_error="skip")
        ids = sorted(r[0]["id"] for r in df.collect())
        assert ids == ["i0", "i1", "i2", "i3"]
        with pytest.raises(Exception):
            from_tiff_dir(spark, tiff_dir, glob="*.ftif", on_error="fail").collect()
    finally:
        os.remove(bad)


def test_zarr_decode_matches_reference_conversion(spark):
    from ome_arrow_spark.sources.zarr import from_zarr_manifest
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    d = tempfile.mkdtemp(prefix="t_arrowdec_z_")
    side = 32
    base = (np.arange(side * side, dtype=np.int64) % 65536).reshape(
        1, 1, 1, side, side
    )
    stores = []
    for i in range(2):
        store = os.path.join(d, f"s{i}.zarr")
        write_ngff_store(
            store, [((base + i) % 65536).astype("<u2")], image_id=f"s{i}",
            compressor="blosc", chunks=(1, 1, 1, 16, 16),
        )
        stores.append(store)
    df = from_zarr_manifest(spark, stores)
    rows = df.collect()
    assert sorted(r[0]["id"] for r in rows) == ["s0", "s1"]
    px = next(
        p["pixels"] for r in rows if r[0]["id"] == "s0" for p in r[0]["planes"]
    )
    assert list(px[:5]) == [0, 1, 2, 3, 4]
    assert len(px) == side * side


def test_zarr_empty_manifest_yields_typed_empty(spark):
    from ome_arrow_spark.meta import ome_images_schema
    from ome_arrow_spark.sources.zarr import from_zarr_manifest

    df = from_zarr_manifest(spark, [])
    assert df.count() == 0
    assert df.schema == ome_images_schema()


def test_stack_pattern_matches_reference_conversion(spark, tmp_path):
    """Full-row parity of stack ingest with a numpy-assembled volume
    through ``from_numpy``: a missing file (zero plane), inputs above
    65535 (clamped), literal channel names, and an in-file Z-stack that
    bumps size_z (the full (t,c,z) cross product zero-fills)."""
    from datetime import datetime

    from ome_arrow_spark.sources.numpy_ingest import from_numpy
    from ome_arrow_spark.sources.stack_pattern import from_stack_pattern
    from ome_arrow_spark.sources.tiff import encode_ftif

    rng = np.random.default_rng(11)
    y, x = 6, 7
    want = np.zeros((1, 2, 4, y, x), np.int64)
    files = {("DAPI", 0): 1, ("DAPI", 2): 1, ("GFP", 0): 1, ("GFP", 1): 1, ("GFP", 2): 2}
    for (ch, z), depth in files.items():
        vol = rng.integers(0, 70000, size=(1, 1, depth, y, x))
        (tmp_path / f"st_w{ch}_z{z}.tif").write_bytes(encode_ftif(vol, image_id="f"))
        want[0, ["DAPI", "GFP"].index(ch), z : z + depth] = np.clip(vol[0, 0], 0, 65535)

    pattern = str(tmp_path / "st_w<DAPI,GFP>_z<0-2>.tif")
    got = from_stack_pattern(spark, pattern, image_id="st").collect()
    ref = _reference_rows(
        spark,
        [
            from_numpy(
                want, image_id="st", name=pattern, channel_names=["DAPI", "GFP"],
                acquisition_datetime=datetime(2025, 1, 1),
            )
        ],
    )
    assert want.max() == 65535
    assert _key(got) == _key(ref)


def test_arrow_to_records_inverts_records_to_arrow_batch():
    """records → Arrow → records keeps ids, metadata, plane keys and
    pixels, for a multi-plane record, a zero-plane record, a sliced
    batch and a zero-record batch."""
    from datetime import datetime

    from ome_arrow_spark.sources.arrow_records import (
        arrow_to_records,
        ome_arrow_field_type,
        records_to_arrow_batch,
    )
    from ome_arrow_spark.sources.numpy_ingest import from_numpy

    ome_type = ome_arrow_field_type()
    rng = np.random.default_rng(5)
    recs = [
        from_numpy(
            rng.integers(0, 65536, size=(2, 3, 2, 4, 5)), image_id="multi",
            name="nm", channel_names=["a", "b", "c"], physical_size_x=0.5,
            acquisition_datetime=datetime(2025, 1, 1),
        ),
        {**from_numpy(np.zeros((1, 1, 1, 2, 2)), image_id="noplanes"), "planes": []},
        from_numpy(rng.integers(0, 65536, size=(1, 1, 3, 3, 3)), image_id="last"),
    ]
    batch = records_to_arrow_batch(recs, "ome_arrow", ome_type)

    back = arrow_to_records(batch.column(0))
    assert [r["id"] for r in back] == ["multi", "noplanes", "last"]
    for want, got in zip(recs, back):
        for k in ("type", "version", "name", "pixels_meta", "masks"):
            assert got[k] == want[k], k
        assert [(p["z"], p["t"], p["c"]) for p in got["planes"]] == [
            (p["z"], p["t"], p["c"]) for p in want["planes"]
        ]
        for pw, pg in zip(want["planes"], got["planes"]):
            assert isinstance(pg["pixels"], np.ndarray)
            np.testing.assert_array_equal(pg["pixels"], pw["pixels"])
    assert back[0]["acquisition_datetime"].replace(tzinfo=None) == datetime(2025, 1, 1)
    assert back[1]["planes"] == []
    assert records_to_arrow_batch(back, "ome_arrow", ome_type).equals(batch)

    # a sliced batch (non-zero Arrow offsets) reads only its own rows
    sliced = arrow_to_records(batch.slice(1).column(0))
    assert [r["id"] for r in sliced] == ["noplanes", "last"]
    np.testing.assert_array_equal(
        sliced[1]["planes"][2]["pixels"], recs[2]["planes"][2]["pixels"]
    )

    empty = records_to_arrow_batch([], "ome_arrow", ome_type)
    assert arrow_to_records(empty.column(0)) == []
