"""Real-TIFF ingest without tifffile: the pure-Python baseline codec
(sources/tiff_minimal.py) must produce/consume genuine TIFF 6.0 bytes —
both endians, multi-page, multi-strip, 8- and 16-bit — and plug into
the distributed from_tiff_dir path with results identical to
from_numpy (the reference's fixture contract, reference
tests/test_core.py:199-246)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark.operators.describe import describe
from ome_arrow_spark.operators.views import plane_stats
from ome_arrow_spark.sources import tiff as TF
from ome_arrow_spark.sources.tiff_minimal import (
    decode_tiff_baseline,
    encode_tiff_baseline,
    is_tiff,
)


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("rows_per_strip", [None, 3])
def test_roundtrip_uint16(big_endian, rows_per_strip):
    rng = np.random.default_rng(7)
    vol = rng.integers(0, 65536, size=(4, 10, 7), dtype=np.uint16)
    blob = encode_tiff_baseline(
        vol, big_endian=big_endian, rows_per_strip=rows_per_strip
    )
    assert is_tiff(blob)
    assert blob[:2] == (b"MM" if big_endian else b"II")
    back = decode_tiff_baseline(blob)
    assert back.shape == (1, 1, 4, 10, 7)
    np.testing.assert_array_equal(back[0, 0], vol)


def test_roundtrip_uint8_and_2d():
    vol = (np.arange(30).reshape(5, 6) % 256).astype(np.uint8)
    back = decode_tiff_baseline(encode_tiff_baseline(vol))
    assert back.dtype == np.uint16
    np.testing.assert_array_equal(back[0, 0, 0], vol.astype(np.uint16))


@pytest.mark.parametrize("compression", ["lzw", "packbits", "deflate"])
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
@pytest.mark.parametrize(
    "layout",
    [
        {"rows_per_strip": 3},
        {"rows_per_strip": 3, "predictor": True},
        {"tile": (16, 16)},
        {"tile": (16, 16), "predictor": True},
    ],
    ids=["strips", "strips+pred", "tiled", "tiled+pred"],
)
def test_roundtrip_codec_matrix(compression, dtype, layout):
    """Every built-in codec × layout × dtype must round-trip exactly on
    data that mixes compressible runs with random noise (the noise
    exercises LZW literal paths; the runs exercise table growth)."""
    rng = np.random.default_rng(int(np.dtype(dtype).itemsize * 100 + len(compression)))
    hi = 256 if dtype == np.uint8 else 65536
    vol = rng.integers(0, hi, size=(3, 21, 37), dtype=dtype)
    vol[0, :7] = 42  # constant run → replicate/table-reuse paths
    vol[1, :, ::2] = np.arange(21)[:, None] % hi  # smooth → predictor win
    blob = encode_tiff_baseline(vol, compression=compression, **layout)
    assert is_tiff(blob)
    back = decode_tiff_baseline(blob)
    np.testing.assert_array_equal(back[0, 0], vol.astype(np.uint16))


def test_roundtrip_lzw_kwkwk_and_table_flush():
    """The two LZW stress cases: cScSc patterns hit the KwKwK code
    (code == len(table)) and >4094 distinct phrases force a mid-stream
    table flush + ClearCode; both must survive encode→decode, at every
    code-width boundary (511/1023/2047)."""
    kwkwk = np.frombuffer(b"\x01\x02\x01\x02\x01" * 1000, dtype=np.uint8)
    rng = np.random.default_rng(99)
    noisy = rng.integers(0, 256, size=60_000, dtype=np.uint8)  # > 4094 phrases
    for arr in (kwkwk, noisy):
        side = int(len(arr) ** 0.5)
        plane = arr[: side * side].reshape(side, side)
        back = decode_tiff_baseline(encode_tiff_baseline(plane, compression="lzw"))
        np.testing.assert_array_equal(back[0, 0, 0], plane.astype(np.uint16))


@pytest.mark.parametrize("big_endian", [False, True])
def test_roundtrip_bigtiff(big_endian):
    """BigTIFF (magic 43): 8-byte offsets, 20-byte IFD entries, LONG8
    offset arrays — multi-page + multi-strip + compression must
    round-trip exactly, and the header must be genuine BigTIFF."""
    import struct as _struct

    rng = np.random.default_rng(41)
    vol = rng.integers(0, 65536, size=(3, 14, 9), dtype=np.uint16)
    blob = encode_tiff_baseline(
        vol, bigtiff=True, big_endian=big_endian, rows_per_strip=5,
        compression="lzw", description="bigtiff fixture",
    )
    assert is_tiff(blob)
    bo = ">" if big_endian else "<"
    assert _struct.unpack(bo + "H", blob[2:4])[0] == 43
    assert _struct.unpack(bo + "HH", blob[4:8]) == (8, 0)
    back = decode_tiff_baseline(blob)
    np.testing.assert_array_equal(back[0, 0], vol)
    # description survives the BigTIFF IFD layout
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    _, desc = decode_tiff_pages(blob)
    assert desc == "bigtiff fixture"


def test_codec_property_roundtrip():
    """Hypothesis sweep: any (pages, height, width, samples) shape —
    including degenerate 1×N rows — through any codec/layout/predictor
    combination must round-trip exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        z=st.integers(1, 3),
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        s=st.sampled_from([1, 3]),
        dtype=st.sampled_from([np.uint8, np.uint16]),
        compression=st.sampled_from(["none", "lzw", "packbits", "deflate"]),
        layout=st.sampled_from(["strips", "tiled"]),
        predictor=st.booleans(),
        big_endian=st.booleans(),
        bigtiff=st.booleans(),
        seed=st.integers(0, 2**31),
    )
    def check(z, h, w, s, dtype, compression, layout, predictor, big_endian,
              bigtiff, seed):
        rng = np.random.default_rng(seed)
        hi = 256 if dtype == np.uint8 else 65536
        shape = (z, h, w) if s == 1 else (z, h, w, s)
        vol = rng.integers(0, hi, size=shape, dtype=dtype)
        kw = {"tile": (16, 16)} if layout == "tiled" else {"rows_per_strip": 5}
        blob = encode_tiff_baseline(
            vol, compression=compression, predictor=predictor,
            big_endian=big_endian, bigtiff=bigtiff, **kw,
        )
        back = decode_tiff_baseline(blob)
        expect = vol if s == 1 else np.moveaxis(vol, -1, 0)
        got = back[0, 0] if s == 1 else back[0]
        np.testing.assert_array_equal(got, expect.astype(np.uint16))

    check()


def test_lzw_eoi_on_width_boundary():
    """Regression: incompressible segments whose FINAL data code lands
    exactly on the 511-entry early-change boundary made the encoder
    write EOI in 9 bits while the decoder (which appends a table entry
    for every received code, including the last) already read 10.
    Sweep lengths around the boundary so every tail offset is hit."""
    from ome_arrow_spark.sources.tiff_minimal import lzw_decode, lzw_encode

    rng = np.random.default_rng(1234)
    for n in range(245, 265):
        seg = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        assert lzw_decode(lzw_encode(seg)) == seg, f"len={n}"


@pytest.mark.parametrize("planar", [False, True])
@pytest.mark.parametrize("compression", ["none", "lzw"])
def test_roundtrip_rgb_chunky_and_planar(planar, compression):
    """SamplesPerPixel=3 (RGB), both PlanarConfigurations: decode yields
    (N,Y,X,3) pages and decode_tiff_baseline maps samples to channels
    (1,3,N,Y,X) — the last common real-world TIFF class (reference reads
    via BioIO, ingest.py:321-330)."""
    rng = np.random.default_rng(5)
    vol = rng.integers(0, 256, size=(2, 9, 13, 3), dtype=np.uint8)
    blob = encode_tiff_baseline(
        vol, compression=compression, predictor=(compression == "lzw"),
        planar=planar, rows_per_strip=4,
    )
    back = decode_tiff_baseline(blob)
    assert back.shape == (1, 3, 2, 9, 13)
    for s in range(3):
        np.testing.assert_array_equal(back[0, s], vol[..., s].astype(np.uint16))


def _make_float_tiff(arr: np.ndarray) -> bytes:
    """Hand-rolled single-page float32 TIFF (SampleFormat=3) — the
    encoder writes only the uint16 OME pixel model, so float decode gets
    its fixture built tag-by-tag here."""
    import struct

    h, w = arr.shape
    payload = arr.astype("<f4").tobytes()
    out = bytearray(b"II*\x00" + struct.pack("<I", 0))
    strip_off = len(out)
    out += payload
    if len(out) % 2:
        out += b"\x00"
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 32), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, strip_off), (277, 3, 1, 1),
        (278, 4, 1, h), (279, 4, 1, len(payload)), (339, 3, 1, 3),
    ]
    struct.pack_into("<I", out, 4, len(out))
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHI", tag, typ, cnt)
        out += struct.pack("<I", val) if typ == 4 else struct.pack("<HH", val, 0)
    out += struct.pack("<I", 0)
    return bytes(out)


def test_float32_decode():
    """SampleFormat=3 float pages decode as float32 and round-clamp into
    the uint16 volume (matching the reference's BioIO→uint16 coercion)."""
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    arr = np.array([[0.4, 1.6, 70000.0], [-3.0, 255.49, 255.51]], dtype=np.float32)
    pages, _ = decode_tiff_pages(_make_float_tiff(arr))
    assert pages.dtype == np.float32
    np.testing.assert_allclose(pages[0], arr)
    back = decode_tiff_baseline(_make_float_tiff(arr))
    np.testing.assert_array_equal(
        back[0, 0, 0], np.array([[0, 2, 65535], [0, 255, 256]], dtype=np.uint16)
    )


def test_tifffile_branch_metadata_parity(monkeypatch):
    """A cluster WITH tifffile must not silently lose OME metadata the
    built-in path preserves (reference ingest.py:340-346 carries channel
    names + physical sizes through every TIFF read). Monkeypatch a fake
    tifffile module whose decode mirrors the built-in one and assert
    decode_volume_bytes returns identical (volume, physical sizes,
    channel names) on both branches."""
    import io

    from ome_arrow_spark.sources import tiff as TFmod
    from ome_arrow_spark.sources.tiff_minimal import (
        build_ome_xml,
        decode_tiff_pages,
        pages_to_tczyx,
        parse_ome_xml_dims,
    )

    rng = np.random.default_rng(31)
    vol = rng.integers(0, 65536, size=(1, 2, 3, 8, 10), dtype=np.uint16)
    xml = build_ome_xml(
        image_id="par", name="par", size_t=1, size_c=2, size_z=3, size_y=8,
        size_x=10, channel_names=["DAPI", "GFP"],
        physical_size_x=0.25, physical_size_y=0.25, physical_size_z=1.5,
    )
    pages = vol.transpose(0, 2, 1, 3, 4).reshape(6, 8, 10)  # XYCZT order
    blob = encode_tiff_baseline(pages, description=xml)

    builtin_vol, builtin_phys, builtin_chans, _ = TFmod.decode_volume_bytes(
        "par.ome.tif", blob
    )

    class _FakePage:
        def __init__(self, desc):
            self.description = desc

    class _FakeSeries:
        # tifffile reports plain multi-page stacks as QYX; the branch
        # must still recover TCZ from the OME-XML it parses itself
        axes = "QYX"

        def __init__(self, arr):
            self._arr = arr

        def asarray(self):
            return self._arr

    class _FakeTiffFile:
        def __init__(self, fh):
            data = fh.read() if hasattr(fh, "read") else open(fh, "rb").read()
            p, desc = decode_tiff_pages(data)
            dims = parse_ome_xml_dims(desc)
            self._arr = pages_to_tczyx(p, dims).astype(np.uint16) if dims else p
            # collapse to the page stack like tifffile's plain series
            self._pages_arr = p
            self.pages = [_FakePage(desc)]
            self.ome_metadata = desc
            self.series = [_FakeSeries(self._pages_arr)]

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(TFmod, "tifffile", type("M", (), {"TiffFile": _FakeTiffFile}))
    monkeypatch.setattr(TFmod, "HAVE_TIFFFILE", True)
    tf_vol, tf_phys, tf_chans, _ = TFmod.decode_volume_bytes("par.ome.tif", blob)

    assert tf_phys == builtin_phys == (0.25, 0.25, 1.5)
    assert tf_chans == builtin_chans == ["DAPI", "GFP"]
    np.testing.assert_array_equal(np.asarray(builtin_vol), vol)
    # the fake series is the flat page stack (1,1,6,8,10); metadata
    # parity is the contract here — the volume reshape is tifffile's job
    assert np.asarray(tf_vol).size == vol.size


def test_from_tiff_dir_real_bytes_matches_from_numpy(spark, tmp_path):
    """End-to-end: hand-rolled REAL .tif files through the distributed
    binaryFile+mapInArrow path; pixels/planes identical to building
    the record from the same array via from_numpy."""
    rng = np.random.default_rng(11)
    d = tmp_path / "real_tiffs"
    d.mkdir()
    vols = {}
    for i, z in enumerate((1, 5)):
        vol = rng.integers(0, 65536, size=(z, 12, 9), dtype=np.uint16)
        vols[f"cells_{i}"] = vol
        (d / f"cells_{i}.tif").write_bytes(
            encode_tiff_baseline(vol, big_endian=(i % 2 == 1))
        )

    imgs = TF.from_tiff_dir(spark, str(d), glob="*.tif")
    got = {r["image_id"]: r for r in describe(imgs).collect()}
    assert got["cells_0"]["size_z"] == 1 and got["cells_1"]["size_z"] == 5
    assert got["cells_1"]["size_c"] == 1 and got["cells_1"]["size_t"] == 1

    # per-plane pixel fidelity vs the numpy source of truth
    st = {
        (r["image_id"], r["t"], r["c"], r["z"]): (r["px_sum"], r["px_min"], r["px_max"])
        for r in plane_stats(imgs).collect()
    }
    for iid, vol in vols.items():
        for z in range(vol.shape[0]):
            plane = vol[z]
            assert st[(iid, 0, 0, z)] == (
                int(plane.sum()),
                int(plane.min()),
                int(plane.max()),
            )

    # and vs from_numpy through the same record builder
    from ome_arrow_spark.sources.numpy_ingest import from_numpy

    rec = from_numpy(vols["cells_1"][np.newaxis, np.newaxis], dim_order="TCZYX",
                     image_id="cells_1")
    spark_planes = (
        imgs.filter(F.col("ome_arrow.id") == "cells_1")
        .select(F.explode("ome_arrow.planes").alias("p"))
        .select("p.z", "p.t", "p.c", "p.pixels")
        .collect()
    )
    by_z = {r["z"]: r["pixels"] for r in spark_planes}
    for p in rec["planes"]:
        assert by_z[p["z"]] == list(p["pixels"])


def test_sink_writes_real_tif_for_grayscale(spark, tmp_path):
    """to_tiff_dir emits genuine .tif for C=T=1 stacks and the ingest
    side reads them back bit-identically."""
    from ome_arrow_spark import synth

    imgs = synth.golden_images_df(spark, ids=["z-series"], include_conftest=False)
    out = str(tmp_path / "sink")
    paths = TF.to_tiff_dir(imgs, out)
    assert len(paths) == 1 and paths[0].endswith(".tif")
    raw = open(paths[0], "rb").read()
    assert is_tiff(raw)
    back = TF.from_tiff_dir(spark, out, glob="*.tif")
    sa = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(imgs).collect()}
    sb = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(back).collect()}
    assert sa == sb


@pytest.mark.parametrize(
    "sink_kw",
    [{}, {"compression": "lzw", "predictor": True, "tile": (16, 16)}],
    ids=["uncompressed", "lzw+pred+tiled"],
)
def test_ome_tiff_4d_roundtrip(spark, tmp_path, sink_kw):
    """T, C, and Z all >1: the writer's XYCZT page order and the
    reader's DimensionOrder mapping must invert each other exactly —
    through the whole built-in codec matrix (to_tiff_dir forwards the
    same compression choices the reference passes to tifffile,
    export.py:203-210)."""
    from ome_arrow_spark.sources.numpy_ingest import from_numpy
    from ome_arrow_spark.sources.ome_parquet import spark_table_from_records

    rng = np.random.default_rng(23)
    vol = rng.integers(0, 65536, size=(3, 2, 4, 9, 11), dtype=np.uint16)
    rec = from_numpy(vol, dim_order="TCZYX", image_id="four_d",
                     channel_names=["DAPI", "GFP"])
    imgs = spark_table_from_records(spark, [rec])
    out = str(tmp_path / "sink4d")
    paths = TF.to_tiff_dir(imgs, out, **sink_kw)
    assert paths[0].endswith(".ome.tif")
    back = TF.from_tiff_dir(spark, out, glob="*.ome.tif")
    rows = (
        back.select(F.explode("ome_arrow.planes").alias("p"))
        .select("p.t", "p.c", "p.z", "p.pixels")
        .collect()
    )
    assert len(rows) == 3 * 2 * 4
    for r in rows:
        np.testing.assert_array_equal(
            np.asarray(r["pixels"]).reshape(9, 11), vol[r["t"], r["c"], r["z"]]
        )


def _build_classic_tiff(tags_list, trailing=b""):
    """Hand-build a little-endian classic TIFF: header + one IFD whose
    out-of-line values/payloads the caller placed in ``trailing`` at
    offsets relative to its start (returned base)."""
    import struct as _s

    n = len(tags_list)
    ifd_off = 8
    trailing_base = 8 + 2 + 12 * n + 4
    out = bytearray(b"II*\x00" + _s.pack("<I", ifd_off))
    out += _s.pack("<H", n)
    for tag, typ, cnt, val in sorted(tags_list):
        out += _s.pack("<HHI", tag, typ, cnt)
        out += _s.pack("<I", val)
    out += _s.pack("<I", 0)  # next IFD
    out += trailing
    return bytes(out), trailing_base


def test_old_style_jpeg_interchange_decodes():
    """Compression=6 with JPEGInterchangeFormat (tags 513/514) — the
    dominant wild old-style layout: one complete JPEG stream per page."""
    import numpy as np

    from ome_arrow_spark.sources.jpeg_minimal import jpeg_encode
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    g = ((np.arange(24 * 32) * 5) % 256).reshape(24, 32).astype(np.uint8)
    stream = jpeg_encode(g, quality=100)
    tags = [
        (256, 3, 1, 32), (257, 3, 1, 24), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, 1), (277, 3, 1, 1),
    ]
    blob, base = _build_classic_tiff(
        tags + [(513, 4, 1, 0), (514, 4, 1, len(stream))], trailing=stream
    )
    # patch 513's value to the real trailing offset
    blob = blob.replace(
        (513).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + (0).to_bytes(4, "little"),
        (513).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + base.to_bytes(4, "little"),
    )
    pages, _ = decode_tiff_pages(blob)
    assert pages.shape == (1, 24, 32)
    assert int(np.abs(pages[0] - g.astype(int)).max()) <= 2


def test_old_style_jpeg_without_interchange_gates():
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    tags = [
        (256, 3, 1, 8), (257, 3, 1, 8), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, 1), (277, 3, 1, 1),
        (273, 4, 1, 200), (279, 4, 1, 10),
    ]
    blob, _ = _build_classic_tiff(tags, trailing=bytes(300))
    with pytest.raises(NotImplementedError, match="old-style"):
        decode_tiff_pages(blob)


def _split_jpeg_stream(stream):
    """Dissect a baseline interchange stream into the TIFF 6.0 §22
    fragment pieces: zigzag quant tables by id, DC/AC huffman fragments
    (16 counts + values) by id, per-component table assignments from
    SOF0/SOS, and the raw entropy-coded bytes."""
    import struct as _s

    pos = 2
    q, dc, ac = {}, {}, {}
    comp_q, comp_dc, comp_ac = [], [], []
    while True:
        assert stream[pos] == 0xFF, hex(stream[pos])
        m = stream[pos + 1]
        ln = _s.unpack(">H", stream[pos + 2 : pos + 4])[0]
        payload = stream[pos + 4 : pos + 2 + ln]
        if m == 0xDB:
            i = 0
            while i < len(payload):
                q[payload[i] & 0x0F] = payload[i + 1 : i + 65]
                i += 65
        elif m == 0xC4:
            i = 0
            while i < len(payload):
                cls, tid = payload[i] >> 4, payload[i] & 0x0F
                counts = payload[i + 1 : i + 17]
                n = sum(counts)
                frag = payload[i + 1 : i + 17 + n]
                (dc if cls == 0 else ac)[tid] = frag
                i += 17 + n
        elif m == 0xC0:
            nf = payload[5]
            for ci in range(nf):
                comp_q.append(payload[6 + 3 * ci + 2])
        elif m == 0xDA:
            ns = payload[0]
            for ci in range(ns):
                b = payload[2 + 2 * ci]
                comp_dc.append(b >> 4)
                comp_ac.append(b & 0x0F)
            entropy = stream[pos + 2 + ln : -2]  # up to EOI
            return q, dc, ac, comp_q, comp_dc, comp_ac, entropy
        pos += 2 + ln


def _build_fragment_tiff(streams, width, height, rows_per_strip, spp,
                         photo, subsampling=None):
    """Assemble a table-fragment old-style JPEG TIFF (tags 519-521, no
    JPEGInterchangeFormat) whose strips carry the entropy data of the
    given per-strip interchange ``streams`` (identical tables)."""
    import struct as _s

    q, dc, ac, comp_q, comp_dc, comp_ac, _ = _split_jpeg_stream(streams[0])
    entropies = [_split_jpeg_stream(s)[6] for s in streams]
    tags = [
        (256, 3, 1, width), (257, 3, 1, height), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, photo), (277, 3, 1, spp),
        (278, 3, 1, rows_per_strip), (512, 3, 1, 1),
    ]
    if subsampling is not None:
        tags.append((530, 3, 2, subsampling[0] | (subsampling[1] << 16)))
    n_tags = len(tags) + 5  # + 273, 279, 519, 520, 521
    base = 8 + 2 + 12 * n_tags + 4
    trailing = bytearray()

    def place(blob):
        off = base + len(trailing)
        trailing.extend(blob)
        return off

    q_offs = {tid: place(bytes(frag)) for tid, frag in q.items()}
    dc_offs = {tid: place(bytes(frag)) for tid, frag in dc.items()}
    ac_offs = {tid: place(bytes(frag)) for tid, frag in ac.items()}
    strip_offs = [place(e) for e in entropies]
    strip_lens = [len(e) for e in entropies]

    def offsets_value(offs):
        # cnt>1 LONG arrays live out-of-line; single values are inline
        if len(offs) == 1:
            return offs[0]
        return place(b"".join(_s.pack("<I", o) for o in offs))

    tags.append((519, 4, spp, offsets_value([q_offs[comp_q[i]] for i in range(spp)])))
    tags.append((520, 4, spp, offsets_value([dc_offs[comp_dc[i]] for i in range(spp)])))
    tags.append((521, 4, spp, offsets_value([ac_offs[comp_ac[i]] for i in range(spp)])))
    tags.append((273, 4, len(strip_offs), offsets_value(strip_offs)))
    tags.append((279, 4, len(strip_lens),
                 strip_lens[0] if len(strip_lens) == 1
                 else place(b"".join(_s.pack("<I", n) for n in strip_lens))))
    blob, got_base = _build_classic_tiff(tags, trailing=bytes(trailing))
    assert got_base == base
    return blob


def test_old_style_jpeg_table_fragments_grayscale_two_strips():
    """Compression=6 WITHOUT JPEGInterchangeFormat: tables from the
    519/520/521 fragments, strips of bare entropy data — must decode
    bit-equal to jpeg_decode of the source streams."""
    import numpy as np

    from ome_arrow_spark.sources.jpeg_minimal import jpeg_decode, jpeg_encode
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, size=(32, 40), dtype=np.uint8)
    halves = [g[:16], g[16:]]
    streams = [jpeg_encode(h, quality=85) for h in halves]
    blob = _build_fragment_tiff(
        streams, width=40, height=32, rows_per_strip=16, spp=1, photo=1
    )
    pages, _ = decode_tiff_pages(blob)
    assert pages.shape == (1, 32, 40)
    want = np.vstack([jpeg_decode(s) for s in streams])
    np.testing.assert_array_equal(pages[0], want)


def test_old_style_jpeg_table_fragments_ycbcr():
    """3-component YCbCr fragment layout: shared chroma tables (three
    components, two distinct table ids) reconstruct correctly."""
    import numpy as np

    from ome_arrow_spark.sources.jpeg_minimal import jpeg_decode, jpeg_encode
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    stream = jpeg_encode(img, quality=90)
    blob = _build_fragment_tiff(
        [stream], width=32, height=24, rows_per_strip=24, spp=3, photo=6,
        subsampling=(1, 1),
    )
    pages, _ = decode_tiff_pages(blob)
    assert pages.shape == (1, 24, 32 * 3) or pages.shape == (1, 24, 32, 3) \
        or pages.ndim == 4
    want = jpeg_decode(stream)
    got = np.asarray(pages[0]).reshape(want.shape)
    np.testing.assert_array_equal(got, want)


def test_old_style_jpeg_fragment_restart_interval():
    """DRI rides tag 517; entropy data with RST markers decodes."""
    import numpy as np

    from ome_arrow_spark.sources.jpeg_minimal import jpeg_decode, jpeg_encode
    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    rng = np.random.default_rng(13)
    g = rng.integers(0, 256, size=(16, 48), dtype=np.uint8)
    stream = jpeg_encode(g, quality=80, restart_interval=2)
    # hand-assemble with tag 517: the synthesized header must re-emit
    # DRI from the tag for the RST-bearing entropy data to parse
    q, dc, ac, comp_q, comp_dc, comp_ac, entropy = _split_jpeg_stream(stream)
    tags = [
        (256, 3, 1, 48), (257, 3, 1, 16), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, 1), (277, 3, 1, 1),
        (278, 3, 1, 16), (512, 3, 1, 1), (517, 3, 1, 2),
    ]
    n_tags = len(tags) + 5
    base = 8 + 2 + 12 * n_tags + 4
    trailing = bytearray()

    def place(b):
        off = base + len(trailing)
        trailing.extend(b)
        return off

    qo = place(bytes(q[0]))
    dco = place(bytes(dc[0]))
    aco = place(bytes(ac[0]))
    so = place(entropy)
    tags += [
        (519, 4, 1, qo), (520, 4, 1, dco), (521, 4, 1, aco),
        (273, 4, 1, so), (279, 4, 1, len(entropy)),
    ]
    blob, got_base = _build_classic_tiff(tags, trailing=bytes(trailing))
    assert got_base == base
    pages, _ = decode_tiff_pages(blob)
    np.testing.assert_array_equal(pages[0], jpeg_decode(stream))


def test_float_predictor3_decodes():
    """Predictor=3 (TIFF TechNote 3): per-row byte-plane split of the
    big-endian floats + horizontal byte differencing. Build the wire
    layout by hand (independent inverse) and decode."""
    import numpy as np

    from ome_arrow_spark.sources.tiff_minimal import decode_tiff_pages

    rng = np.random.default_rng(13)
    h, w = 6, 9
    img = (rng.random((h, w)).astype("<f4") * 100 - 50).astype("<f4")
    # forward transform: big-endian bytes -> byte planes -> row diffs
    be = img.astype(">f4").view(np.uint8).reshape(h, w, 4)
    planes = be.transpose(0, 2, 1).reshape(h, 4 * w).astype(np.int16)
    diffed = planes.copy()
    diffed[:, 1:] = (planes[:, 1:] - planes[:, :-1]) % 256
    payload = diffed.astype(np.uint8).tobytes()
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 32),
        (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
        (278, 3, 1, h), (317, 3, 1, 3), (339, 3, 1, 3),
        (273, 4, 1, 0), (279, 4, 1, len(payload)),
    ]
    blob, base = _build_classic_tiff(tags, trailing=payload)
    blob = blob.replace(
        (273).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + (0).to_bytes(4, "little"),
        (273).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + base.to_bytes(4, "little"),
    )
    pages, _ = decode_tiff_pages(blob)
    assert pages.dtype == np.float32 and pages.shape == (1, h, w)
    np.testing.assert_array_equal(pages[0], img)


@pytest.mark.parametrize("layout", ["strips", "tiled", "predictor", "bigtiff"])
def test_zstd_tiff_roundtrip(layout):
    """Compression=50000 (zstd, the registered code tifffile writes):
    segments are standard zstd frames decompressed via the embedded
    Frame_Content_Size."""
    from ome_arrow_spark.sources.tiff_minimal import (
        decode_tiff_pages,
        encode_tiff_baseline,
    )

    rng = np.random.default_rng(3)
    vol = rng.integers(0, 65536, (3, 40, 61), dtype=np.uint16)
    kw = {
        "strips": {"rows_per_strip": 13},
        "tiled": {"tile": (16, 16)},
        "predictor": {"rows_per_strip": 9, "predictor": True},
        "bigtiff": {"bigtiff": True, "rows_per_strip": 40},
    }[layout]
    blob = encode_tiff_baseline(vol, compression="zstd", **kw)
    pages, _ = decode_tiff_pages(blob)
    assert np.array_equal(pages, vol)
    if layout == "strips":
        # strip bytes on the wire are genuine zstd frames
        assert b"\x28\xb5\x2f\xfd" in blob


def test_jpeg_old_encoder_roundtrip_matrix():
    """compression='jpeg_old' writes the §22 fragment layout; decode
    equals per-strip jpeg_encode→jpeg_decode for gray multi-strip,
    YCbCr RGB, raw RGB (Photometric=2), and DRI variants."""
    import numpy as np

    from ome_arrow_spark.sources.jpeg_minimal import jpeg_decode, jpeg_encode
    from ome_arrow_spark.sources.tiff_minimal import (
        decode_tiff_pages,
        encode_tiff_baseline,
    )

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, size=(2, 32, 48), dtype=np.uint8)
    blob = encode_tiff_baseline(
        g, compression="jpeg_old", rows_per_strip=16, jpeg_quality=90
    )
    pages, _ = decode_tiff_pages(blob)
    want = np.stack([
        np.vstack([
            jpeg_decode(jpeg_encode(np.ascontiguousarray(p[r : r + 16]),
                                    quality=90))
            for r in (0, 16)
        ])
        for p in g
    ])
    np.testing.assert_array_equal(pages, want)

    c = rng.integers(0, 256, size=(1, 24, 32, 3), dtype=np.uint8)
    for photometric, ct in (("ycbcr", True), ("rgb", False)):
        blob = encode_tiff_baseline(
            c, compression="jpeg_old", jpeg_quality=85,
            jpeg_photometric=photometric,
        )
        pages, _ = decode_tiff_pages(blob)
        want = jpeg_decode(
            jpeg_encode(np.ascontiguousarray(c[0]), quality=85,
                        color_transform=ct),
            color_transform=ct,
        )
        np.testing.assert_array_equal(
            np.asarray(pages[0]).reshape(want.shape), want
        )

    blob = encode_tiff_baseline(
        g[:1], compression="jpeg_old", jpeg_quality=80,
        jpeg_restart_interval=2,
    )
    pages, _ = decode_tiff_pages(blob)
    want = jpeg_decode(
        jpeg_encode(np.ascontiguousarray(g[0]), quality=80,
                    restart_interval=2)
    )
    np.testing.assert_array_equal(pages[0], want)
