"""Source/sink round-trips: OME-Parquet (reference-compat single-record
and distributed table tiers), NumPy ingest, FTIF binaryFile ingest."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark import synth
from ome_arrow_spark.operators.describe import describe
from ome_arrow_spark.operators.densify import record_to_numpy
from ome_arrow_spark.operators.views import plane_stats
from ome_arrow_spark.sources import ome_parquet as OP
from ome_arrow_spark.sources import tiff as TF
from ome_arrow_spark.sources.numpy_ingest import from_numpy, normalize_axes, to_ome_arrow


def test_record_compat_roundtrip(spark, tmp_path):
    """reference-format single-row file → Spark table read → same
    metadata and pixels."""
    rec = synth.conftest_record()
    rec["planes"] = [
        {**p, "pixels": np.asarray(p["pixels"]).tolist()} for p in rec["planes"]
    ]
    path = str(tmp_path / "one.parquet")
    OP.write_ome_record_compat(rec, path, file_metadata={"who": "test"})

    # file-level tags written like export.py:405-414
    tags = OP.read_file_tags(path)
    assert tags["ome.arrow.type"] == "ome.arrow"

    # driver-side record read (forgiving column detect: column is "image")
    back = OP.read_ome_record(path)
    assert back["id"] == "img-0001"
    assert back["planes"][1]["pixels"][:3] == [100, 101, 102]

    # Spark table read of the same file
    df = OP.read_ome_parquet(spark, path)
    d = describe(df).first()
    assert d["summary"].startswith("2D image, multi-channel (2 channels)")
    st = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(df).collect()}
    assert st[(0, 0, 0)] == sum(range(4)) + sum(range(10, 14)) + sum(range(20, 24))


def test_row_index_and_errors(tmp_path):
    rec = synth.conftest_record()
    path = str(tmp_path / "one.parquet")
    OP.write_ome_record_compat(rec, path)
    with pytest.raises(IndexError):
        OP.read_ome_record(path, row_index=5)
    # a wrong column_name falls back to auto-detect (forgiving read,
    # reference ingest.py:894-912)
    assert OP.read_ome_record(path, column_name="nope")["id"] == "img-0001"


def test_table_roundtrip_distributed(spark, tmp_path):
    ids = ["z-series", "nviz-2ch-single", "img-0001"]
    imgs = synth.golden_images_df(spark, ids=ids)
    out = str(tmp_path / "imgs")
    OP.write_ome_parquet(imgs, out, mode="overwrite", target_rows_per_file=2)
    back = OP.read_ome_parquet(spark, out)
    assert back.count() == 3
    a = {r["image_id"]: r["summary"] for r in describe(imgs).collect()}
    b = {r["image_id"]: r["summary"] for r in describe(back).collect()}
    assert a == b
    sa = {(r["image_id"], r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(imgs).collect()}
    sb = {(r["image_id"], r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(back).collect()}
    assert sa == sb


def test_numpy_axis_normalization():
    a = np.arange(12).reshape(3, 4)  # YX
    v = normalize_axes(a, "YX")
    assert v.shape == (1, 1, 1, 3, 4)
    zyx = np.arange(24).reshape(2, 3, 4)
    assert normalize_axes(zyx, "ZYX").shape == (1, 1, 2, 3, 4)
    # permuted input order
    xyc = np.arange(24).reshape(4, 3, 2)  # X,Y,C
    v = normalize_axes(xyc, "XYC")
    assert v.shape == (1, 2, 1, 3, 4)
    assert v[0, 1, 0, 2, 3] == xyc[3, 2, 1]
    with pytest.raises(ValueError):
        normalize_axes(a, "TC")


def test_from_numpy_clamp_and_planes():
    a = np.array([[-5, 70000], [1, 2]], dtype=np.int64)
    rec = from_numpy(a, dim_order="YX", image_id="clampy")
    px = np.asarray(rec["planes"][0]["pixels"])
    assert px.tolist() == [0, 65535, 1, 2]
    assert rec["pixels_meta"]["dimension_order"] == "XYCT"
    rec2 = from_numpy(np.zeros((2, 1, 3, 4, 5)), dim_order="TCZYX", image_id="d5")
    assert rec2["pixels_meta"]["dimension_order"] == "XYZCT"
    assert len(rec2["planes"]) == 2 * 1 * 3


def test_to_ome_arrow_defaults():
    rec = to_ome_arrow(image_id=123, size_x=2, size_y=2)
    assert rec["id"] == "123"
    assert rec["pixels_meta"]["channels"][0]["name"] == "C0"
    assert list(rec["planes"][0]["pixels"]) == [0, 0, 0, 0]


def test_densify_matches_reference_model():
    rec = synth.golden_record("d", 2, 1, 3, 4, 5)
    vol = record_to_numpy(rec)
    assert vol.shape == (2, 1, 3, 4, 5)
    assert vol[1, 0, 2].ravel().tolist() == synth.pixel_plane(1, 0, 2, 4, 5).tolist()
    # strict length check
    rec["planes"][0]["pixels"] = rec["planes"][0]["pixels"][:-1]
    with pytest.raises(ValueError):
        record_to_numpy(rec, strict=True)
    out = record_to_numpy(rec, strict=False)  # pad path
    assert out[0, 0, 0, 3, 4] == 0


def test_densify_to_files_matches_record_to_numpy(spark, tmp_path):
    """Each written .npy equals ``record_to_numpy`` of its row;
    ``strict=False`` zero-pads a short plane, the default refuses it."""
    from ome_arrow_spark.meta import ome_images_schema
    from ome_arrow_spark.operators.densify import densify_to_files

    recs = [synth.golden_record("a", 2, 1, 3, 4, 5), synth.golden_record("b", 1, 2, 1, 3, 3)]
    short = synth.golden_record("short", 1, 1, 2, 4, 4)
    short["planes"][1]["pixels"] = short["planes"][1]["pixels"][:-3]
    def frame(records):
        # createDataFrame's verifier rejects numpy pixel arrays
        return spark.createDataFrame(
            [
                ({**r, "planes": [{**p, "pixels": p["pixels"].tolist()} for p in r["planes"]]},)
                for r in records
            ],
            ome_images_schema(),
        )

    imgs = frame(recs)
    paths = densify_to_files(imgs, str(tmp_path / "npy"))
    assert sorted(os.path.basename(p) for p in paths) == ["a.npy", "b.npy"]
    for rec in recs:
        got = np.load(str(tmp_path / "npy" / f"{rec['id']}.npy"))
        assert got.dtype == np.uint16
        np.testing.assert_array_equal(got, record_to_numpy(rec))

    short_df = frame([short])
    with pytest.raises(Exception, match="expected 16"):
        densify_to_files(short_df, str(tmp_path / "strict"))
    (path,) = densify_to_files(short_df, str(tmp_path / "pad"), strict=False)
    got = np.load(path)
    np.testing.assert_array_equal(got, record_to_numpy(short, strict=False))
    assert got[0, 0, 1, 3, 1:].tolist() == [0, 0, 0]


def test_ftif_binaryfile_ingest(spark, tmp_path):
    d = tmp_path / "tiffs"
    d.mkdir()
    shapes = {"imgA": (1, 2, 1, 6, 7), "imgB": (2, 1, 3, 4, 5)}
    for iid, shp in shapes.items():
        vol = np.arange(np.prod(shp)).reshape(shp) % 65536
        (d / f"{iid}.ftif").write_bytes(
            TF.encode_ftif(vol, image_id=iid, channel_names=["DAPI", "GFP"])
        )
    imgs = TF.from_tiff_dir(spark, str(d), glob="*.ftif")
    got = {r["image_id"]: r for r in describe(imgs).collect()}
    assert got["imgA"]["size_c"] == 2 and got["imgB"]["size_z"] == 3
    # channel names survive
    ch = imgs.filter(F.col("ome_arrow.id") == "imgA").select(
        F.col("ome_arrow.pixels_meta.channels.name").alias("names")
    ).first()["names"]
    assert ch == ["DAPI", "GFP"]
    # pixel fidelity
    st = {(r["image_id"], r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(imgs).collect()}
    volB = np.arange(np.prod(shapes["imgB"])).reshape(shapes["imgB"]) % 65536
    assert st[("imgB", 1, 0, 2)] == int(volB[1, 0, 2].sum())


def test_tiff_sink_roundtrip(spark, tmp_path):
    """Multi-channel volumes round-trip as REAL OME-TIFF: XYCZT pages +
    OME-XML dims/channel names, re-ingested bit-identically."""
    imgs = synth.golden_images_df(spark, ids=["nviz-2ch-single"], include_conftest=False)
    out = str(tmp_path / "sink")
    paths = TF.to_tiff_dir(imgs, out)
    assert len(paths) == 1 and paths[0].endswith(".ome.tif")
    back = TF.from_tiff_dir(spark, out, glob="*.ome.tif")
    sa = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(imgs).collect()}
    sb = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(back).collect()}
    assert sa == sb
    # channel names survive through the OME-XML
    names = back.select(F.col("ome_arrow.pixels_meta.channels.name")).first()[0]
    orig = imgs.select(F.col("ome_arrow.pixels_meta.channels.name")).first()[0]
    assert names == orig


def test_sink_rejects_ids_that_are_not_file_names(spark, tmp_path):
    """The image id names the output file: an id that would leave the
    output directory or name a subdirectory fails the write, naming the
    id, and nothing lands outside the directory."""
    imgs = synth.golden_images_df(spark, ids=["nviz-2ch-single"], include_conftest=False)
    out = tmp_path / "sink"
    for bad in ["../x", "a/b", "..", ""]:
        renamed = imgs.withColumn(
            "ome_arrow", F.col("ome_arrow").withField("id", F.lit(bad))
        )
        with pytest.raises(Exception, match="ValueError") as err:
            TF.to_tiff_dir(renamed, str(out))
        assert repr(bad) in str(err.value)
    assert list(out.iterdir()) == []
    assert not list(tmp_path.glob("x*"))


def test_tiff_decode_gates():
    """Baseline uncompressed grayscale decodes built-in (see
    test_tiff_minimal); everything else still gates cleanly: compressed
    TIFF → NotImplementedError (needs tifffile), garbage → error."""
    if TF.HAVE_TIFFFILE:
        pytest.skip("tifffile present; gate not active")
    from ome_arrow_spark.sources.tiff_minimal import encode_tiff_baseline

    blob = encode_tiff_baseline(np.zeros((4, 4), dtype=np.uint16))
    # flip Compression=1 to 9 (JBIG, TIFF/IT) — PackBits/LZW/Deflate/
    # JPEG/CCITT/old-style-JPEG are now built-in, so the gate must trip
    # on a codec the minimal decoder really lacks
    ccitt = blob.replace(
        b"\x03\x01\x03\x00\x01\x00\x00\x00\x01\x00\x00\x00",
        b"\x03\x01\x03\x00\x01\x00\x00\x00\x09\x00\x00\x00",
    )
    assert ccitt != blob
    with pytest.raises(NotImplementedError, match="compression"):
        TF.decode_image_bytes("x.tif", ccitt)
    with pytest.raises(ValueError, match="malformed"):
        TF.decode_image_bytes("x.tif", b"II*\x00garbage")
    with pytest.raises(NotImplementedError, match="not a TIFF"):
        TF.decode_image_bytes("x.bin", b"not an image at all")


def test_partitioned_table_write(spark, tmp_path):
    """Partitioned images sink: partition column derived from metadata
    (classification), pruned on read."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.describe import describe

    ids = ["z-series", "time-series", "img-0001"]
    imgs = synth.golden_images_df(spark, ids=ids)
    with_kind = imgs.withColumn(
        "img_kind",
        F.when(
            (F.col("ome_arrow.pixels_meta.size_t") > 1), "timelapse"
        ).otherwise("static"),
    )
    out = str(tmp_path / "parted")
    OP.write_ome_parquet(with_kind, out, mode="overwrite", partition_cols=["img_kind"])
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("img_kind=")) == [
        "img_kind=static",
        "img_kind=timelapse",
    ]
    back = spark.read.parquet(out).filter(F.col("img_kind") == "timelapse")
    # partition pruning: only the timelapse directory is scanned
    assert back.count() == 1
    assert describe(back.select("ome_arrow")).first()["image_id"] == "time-series"


def test_repr_html(spark):
    from ome_arrow_spark.operators.view_ops import repr_html

    html = repr_html(synth.conftest_record())
    assert "img-0001" in html and "multi-channel (2 channels)" in html
    assert "DNA" in html and "Mito" in html


def test_reference_null_masks_interop(spark, tmp_path):
    """The reference writes masks as Arrow null type (meta.py:88);
    Spark reads it as an always-NULL int column — reads, describe, and
    slice must all tolerate it (SURVEY §7 hard-part #2)."""
    from ome_arrow_spark.operators.slice_op import slice_images

    path = str(tmp_path / "ref.parquet")
    OP.write_ome_record_compat(synth.conftest_record(), path)
    df = OP.read_ome_parquet(spark, path)
    assert df.selectExpr("ome_arrow.masks").first()[0] is None
    sliced = slice_images(df, 0, 2, 0, 2)
    rec = sliced.first()["ome_arrow"]
    assert rec["masks"] is None
    assert rec["pixels_meta"]["size_x"] == 2


def test_many_images_table_ops(spark):
    """Row-wise scaling smoke: 200 small images through describe,
    slice, planes explode, and a pixel aggregate in one go."""
    from ome_arrow_spark.operators.slice_op import slice_images

    recs = [synth.golden_record(f"m{i:03d}", 1, 2, 2, 8, 9) for i in range(200)]
    imgs = OP.spark_table_from_records(spark, recs)
    assert describe(imgs).count() == 200
    sliced = slice_images(imgs, 2, 6, 1, 7, c_indices=[1])
    st = plane_stats(sliced)
    assert st.count() == 200 * 2  # 1 channel × 2 z × 200 images
    row = st.filter((F.col("image_id") == "m007") & (F.col("z") == 1)).first()
    expected = (
        synth.pixel_plane(0, 1, 1, 8, 9).reshape(8, 9)[1:7, 2:6].sum()
    )
    assert row["px_sum"] == int(expected)


def test_ambiguous_ome_columns_rejected(spark, tmp_path):
    imgs = synth.golden_images_df(spark, ids=["img-0001"])
    two = imgs.select(
        F.col("ome_arrow").alias("a"), F.col("ome_arrow").alias("b")
    )
    out = str(tmp_path / "two")
    two.write.parquet(out)
    with pytest.raises(ValueError, match="Ambiguous"):
        OP.read_ome_parquet(spark, out)
    # naming one of them resolves it
    assert OP.read_ome_parquet(spark, out, column_name="b").count() == 1


def test_nanos_conf_captured_at_read_definition(spark, tmp_path):
    """Regression pin for the scoped nanosAsLong restore in
    suite._events / streaming.events: the legacy conf must be consumed
    when the parquet relation is DEFINED (schema conversion), so
    restoring it immediately afterwards — before any action — must not
    break execution-time reads of TIMESTAMP(NANOS) parquet. The driver's
    current testdata generation stores micros, so synthesize a nanos
    fixture here to keep the nanos branch exercised either way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ome_arrow_spark import suite

    base = 1_700_000_000_000_000_000  # epoch nanos
    ns = [base + i * 1_000_000_007 for i in range(5)]  # sub-micro tails
    tbl = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([float(i) for i in range(5)]),
            "props": pa.array(["{}"] * 5),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), version="2.6")
    assert suite._events_ts_unit(str(tmp_path)) == "ns"

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = suite._events(spark, str(tmp_path))  # defines read + restores conf
    assert spark.conf.get(key, None) is None  # restore happened
    rows = df.select("ts").orderBy("event_id").collect()  # runs AFTER restore
    got = [int(r["ts"].timestamp() * 1_000_000 + 0.5) for r in rows]
    assert got == [v // 1000 for v in ns]  # floor-truncated to micros


def test_events_ts_info_error_paths(tmp_path):
    """_events_ts_info must find part files nested under partition
    subdirectories, raise clearly when a directory dataset has no part
    files, and refuse a non-timestamp ts instead of guessing a unit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ome_arrow_spark import suite

    # nested directory dataset: part file one level down
    d = tmp_path / "nested"
    (d / "events.parquet" / "day=1").mkdir(parents=True)
    tbl = pa.table({"ts": pa.array([0, 1], pa.timestamp("us"))})
    pq.write_table(tbl, str(d / "events.parquet" / "day=1" / "part0.parquet"))
    assert suite._events_ts_info(str(d)) == ("us", False)

    # empty directory dataset → clear FileNotFoundError
    e = tmp_path / "empty"
    (e / "events.parquet").mkdir(parents=True)
    (e / "events.parquet" / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match="part files"):
        suite._events_ts_info(str(e))

    # non-timestamp ts → TypeError, not a silent 'us' default
    b = tmp_path / "badtype"
    b.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([0, 1], pa.int64())}),
        str(b / "events.parquet"),
    )
    with pytest.raises(TypeError, match="not a timestamp"):
        suite._events_ts_info(str(b))

    # tz-aware micros reports isAdjustedToUTC
    u = tmp_path / "utc"
    u.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([0, 1], pa.timestamp("us", tz="UTC"))}),
        str(u / "events.parquet"),
    )
    assert suite._events_ts_info(str(u)) == ("us", True)


def test_events_micros_generation(spark, sf_dir):
    """The current driver testdata stores ts as TIMESTAMP(MICROS):
    _events must read it without any legacy conf and normalize to the
    regular timestamp type with the naive values DuckDB sees."""
    from ome_arrow_spark import suite

    if suite._events_ts_unit(sf_dir) == "ns":
        pytest.skip("fixture generation stores nanos")
    df = suite._events(spark, sf_dir)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = df.select("ts").limit(5).collect()
    assert len(rows) == 5 and all(r["ts"] is not None for r in rows)


def test_from_tiff_dir_error_isolation(spark, tmp_path):
    """on_error='skip': a corrupt file in the directory costs its row,
    not the scan; default keeps the fail-fast contract."""
    import numpy as np

    from ome_arrow_spark.sources.tiff import encode_ftif, from_tiff_dir

    for i in range(3):
        vol = np.full((1, 1, 1, 4, 4), i, dtype=np.int32)
        (tmp_path / f"ok_{i}.ftif").write_bytes(
            encode_ftif(vol, image_id=f"ok{i}")
        )
    (tmp_path / "bad.ftif").write_bytes(b"FTIF1\n{broken json")
    good = from_tiff_dir(spark, str(tmp_path), glob="*.ftif", on_error="skip")
    ids = sorted(r[0] for r in good.select("ome_arrow.id").collect())
    assert ids == ["ok0", "ok1", "ok2"]
    import pytest as _pytest

    with _pytest.raises(Exception):
        from_tiff_dir(spark, str(tmp_path), glob="*.ftif").select(
            "ome_arrow.id"
        ).collect()
    with _pytest.raises(ValueError, match="on_error"):
        from_tiff_dir(spark, str(tmp_path), glob="*.ftif", on_error="x")
