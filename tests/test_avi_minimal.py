"""AVI container codec (sources/avi_minimal.py) and the media-table
video/audio operators that consume it."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ome_arrow_spark.sources.avi_minimal import avi_decode, avi_encode


def _frames(f=5, h=12, w=17, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(f, h, w, 3), dtype=np.uint8)


class TestRawDib:
    def test_roundtrip_bit_exact(self):
        fr = _frames()
        dec, meta = avi_decode(avi_encode(fr, fps=24))
        assert np.array_equal(dec, fr)
        assert meta == {"w": 17, "h": 12, "fps": 24, "n_frames": 5,
                        "codec": "raw"}

    def test_row_padding_widths(self):
        # strides 3*w ∈ {15,18,21,24} exercise every pad remainder
        for w in (5, 6, 7, 8):
            fr = _frames(f=2, h=4, w=w, seed=w)
            dec, _ = avi_decode(avi_encode(fr))
            assert np.array_equal(dec, fr), f"w={w}"

    def test_single_frame(self):
        fr = _frames(f=1)
        dec, meta = avi_decode(avi_encode(fr, fps=1))
        assert np.array_equal(dec, fr) and meta["n_frames"] == 1

    def test_32bit_dib_decode(self):
        """Third-party writers emit 32-bit BGRX frames; decode drops X."""
        fr = _frames(f=2, h=3, w=4)
        blob = bytearray(avi_encode(fr))
        # patch biBitCount 24→32 and rebuild frames as BGRX bottom-up
        i = blob.find(b"strf")
        assert blob[i + 8 + 14] == 24
        blob[i + 8 + 14] = 32
        bgrx = np.zeros((2, 3, 4, 4), np.uint8)
        bgrx[..., :3] = fr[:, ::-1, :, ::-1]
        j = blob.find(b"00db")
        new = b"".join(
            b"00db" + struct.pack("<I", 48) + bgrx[k].tobytes()
            for k in range(2)
        )
        old_frame = 8 + 3 * 12  # hdr + h*stride (w=4 → stride 12)
        end = j + 2 * old_frame
        dec, _ = avi_decode(bytes(blob[:j]) + new + bytes(blob[end:]))
        assert np.array_equal(dec, fr)


class TestMjpeg:
    def test_decode_close_and_meta(self):
        grad = np.zeros((3, 24, 32, 3), np.uint8)
        for i in range(3):
            grad[i] = (
                np.arange(24)[:, None, None] * 4
                + np.arange(32)[None, :, None] + i * 16
            ) % 220
        dec, meta = avi_decode(avi_encode(grad, fps=8, codec="mjpeg"))
        assert meta["codec"] == "mjpeg" and meta["n_frames"] == 3
        assert dec.shape == grad.shape
        assert np.abs(dec.astype(int) - grad.astype(int)).max() < 24

    def test_deterministic(self):
        fr = _frames(f=2, h=16, w=16)
        assert avi_encode(fr, codec="mjpeg") == avi_encode(fr, codec="mjpeg")


class TestTolerantParsing:
    def test_junk_chunk_and_missing_idx1(self):
        fr = _frames(f=2)
        blob = avi_encode(fr)
        # strip idx1, inject a JUNK chunk before movi
        stripped = blob[: blob.find(b"idx1")]
        junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
        j = blob.find(b"LIST", 12)
        # insert junk right after hdrl LIST ends
        hd_size = struct.unpack_from("<I", blob, j + 4)[0]
        cut = j + 8 + hd_size
        patched = blob[:cut] + junk + stripped[cut:]
        patched = (
            patched[:4]
            + struct.pack("<I", len(patched) - 8)
            + patched[8:]
        )
        dec, _ = avi_decode(patched)
        assert np.array_equal(dec, fr)

    def test_not_avi_raises(self):
        with pytest.raises(ValueError, match="not an AVI"):
            avi_decode(b"RIFF\x04\x00\x00\x00WAVE")
        with pytest.raises(ValueError, match="no video frames"):
            avi_decode(b"RIFF\x04\x00\x00\x00AVI ")

    def test_truncation_fuzz_raises_valueerror_only(self):
        """Every prefix of a valid file either decodes or raises
        ValueError — raw struct.error/IndexError never escape the
        documented contract."""
        for codec in ("raw", "mjpeg"):
            blob = avi_encode(_frames(f=3, h=8, w=8), codec=codec)
            for cut in range(0, len(blob), 97):
                try:
                    avi_decode(blob[:cut])
                except ValueError:
                    pass

    def test_bad_input_shapes(self):
        with pytest.raises(ValueError, match="frames must be"):
            avi_encode(np.zeros((4, 4, 3), np.uint8))
        with pytest.raises(ValueError, match="unknown codec"):
            avi_encode(_frames(f=1), codec="h264")


class TestMediaIntegration:
    @pytest.mark.heavy
    def test_decode_media_and_sample_frames(self, spark):
        from ome_arrow_spark.operators import multimodal as MM

        fr = _frames(f=6, h=8, w=10)
        kind, arr, meta = MM.decode_media(avi_encode(fr, fps=10))
        assert kind == "video" and np.array_equal(arr, fr)
        assert meta["format"] == "avi" and meta["f"] == 6

        media = MM.synth_media_df(spark)
        avi_rows = MM.sample_frames(
            media.filter("media_id = 13"), every=2
        ).collect()
        assert [r["frame_idx"] for r in avi_rows] == [0, 2, 4]
        assert all(r["meta"]["width"] == 8 for r in avi_rows)

    def test_dir_scan_sniffs_avi_video(self, spark, tmp_path):
        from ome_arrow_spark.operators import multimodal as MM

        (tmp_path / "7.avi").write_bytes(avi_encode(_frames(f=2)))
        got = MM.media_table_from_dir(spark, str(tmp_path)).collect()
        assert got[0]["kind"] == "video" and got[0]["media_id"] == 7

    def test_audio_features_centroid_sine(self, spark):
        """Pure sine at f0 → spectral centroid ≈ f0 and the textbook
        zero-crossing count 2*f0*duration."""
        from ome_arrow_spark.operators import multimodal as MM

        # 441 shares no factor with 8000, so no sample lands exactly on
        # zero and the strict-sign count equals the textbook 2*f0
        sr, f0, dur = 8000, 441, 1.0
        t = np.arange(int(sr * dur))
        tone = (10000 * np.sin(2 * np.pi * f0 * t / sr)).astype(np.int16)
        from ome_arrow_spark.sources.wav_minimal import wav_encode

        df = spark.createDataFrame(
            [(1, "audio", bytearray(wav_encode(tone, sr)), (None, None, None, sr, "wav"))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.audio_features(df).collect()[0]
        assert row["sample_rate"] == sr
        assert row["duration_s"] == pytest.approx(1.0)
        assert row["rms"] == pytest.approx(10000 / np.sqrt(2), rel=1e-3)
        assert row["peak"] == pytest.approx(10000, abs=1.0)
        assert row["zero_crossings"] == pytest.approx(2 * f0, abs=2)
        assert row["spectral_centroid_hz"] == pytest.approx(f0, rel=0.02)

    @pytest.mark.heavy
    def test_audio_features_skips_non_audio(self, spark):
        from ome_arrow_spark.operators import multimodal as MM

        media = MM.synth_media_df(spark)
        out = MM.audio_features(media)
        kinds = {r["media_id"] for r in out.collect()}
        assert kinds == {4, 5, 6, 12}  # only the audio rows survive


class TestDecodeContracts:
    @pytest.mark.parametrize("codec", ["png", "gif", "wav"])
    def test_media_codec_truncation_contract(self, codec):
        """Truncated media blobs raise ValueError across every built-in
        codec — the media extractors' on_error handling depends on the type."""
        from ome_arrow_spark.sources.gif_minimal import gif_decode, gif_encode
        from ome_arrow_spark.sources.png_minimal import png_decode, png_encode
        from ome_arrow_spark.sources.wav_minimal import wav_decode, wav_encode

        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        samples = rng.integers(-1000, 1000, 500).astype(np.int16)
        blob, dec = {
            "png": (png_encode(img), png_decode),
            "gif": (gif_encode(img), gif_decode),
            "wav": (wav_encode(samples, 8000), wav_decode),
        }[codec]
        for cut in range(0, len(blob), 7):
            try:
                dec(blob[:cut])
            except ValueError:
                pass  # the one allowed failure type

    @pytest.mark.heavy
    def test_media_features_error_isolation(self, spark):
        """A corrupt blob among good ones: on_error='row' reports it as
        kind='error' and decodes the rest; 'skip' drops it; default
        'fail' propagates."""
        from ome_arrow_spark.operators import multimodal as MM

        good = MM.synth_media_df(spark, n_images=1, n_audio=0, n_video=0,
                                 n_jpeg=0, n_png=0, n_wav=0, n_avi=0)
        corrupt = spark.createDataFrame(
            [(99, "image", bytearray(b"\xff\xd8garbage"),
              (None, None, None, None, "jpeg"))],
            MM.MEDIA_SCHEMA,
        )
        mixed = good.unionByName(corrupt)
        rows = {r["media_id"]: r for r in
                MM.media_features(mixed, on_error="row").collect()}
        assert rows[99]["kind"] == "error" and rows[99]["mean_r"] is None
        assert rows[0]["kind"] == "image" and rows[0]["mean_r"] is not None
        skipped = MM.media_features(mixed, on_error="skip").collect()
        assert [r["media_id"] for r in skipped] == [0]
        with pytest.raises(Exception):
            MM.media_features(mixed).collect()  # default: fail
        with pytest.raises(ValueError, match="on_error"):
            MM.media_features(mixed, on_error="bogus")
        with pytest.raises(ValueError, match="on_error"):
            MM.image_ahash(mixed, on_error="bogus")

    def test_resample_audio_preserves_tone(self, spark):
        """440 Hz sine at 16 kHz resampled to 8 kHz: duration kept,
        spectral centroid still ≈440 Hz, RMS within 1%."""
        from ome_arrow_spark.operators import multimodal as MM
        from ome_arrow_spark.sources.wav_minimal import wav_encode

        sr = 16000
        t = np.arange(sr)  # 1 s
        tone = (9000 * np.sin(2 * np.pi * 440 * t / sr)).astype(np.int16)
        df = spark.createDataFrame(
            [(1, "audio", bytearray(wav_encode(tone, sr)),
              (None, None, None, sr, "wav"))],
            MM.MEDIA_SCHEMA,
        )
        out = MM.resample_audio(df, 8000)
        feats = MM.audio_features(out).collect()[0]
        assert feats["sample_rate"] == 8000
        assert feats["n_samples"] == 8000
        assert feats["duration_s"] == pytest.approx(1.0)
        assert feats["rms"] == pytest.approx(9000 / np.sqrt(2), rel=0.01)
        assert feats["spectral_centroid_hz"] == pytest.approx(440, rel=0.05)

    @pytest.mark.heavy
    def test_resample_audio_skips_non_audio(self, spark):
        from ome_arrow_spark.operators import multimodal as MM

        media = MM.synth_media_df(spark)
        got = {r["media_id"] for r in MM.resample_audio(media, 8000).collect()}
        assert got == {4, 5, 6, 12}

    def test_mjpeg_avi_through_media_features(self, spark):
        """A Motion-JPEG AVI blob flows through the media table like
        any other video: sniffed, decoded via the in-repo JPEG codec,
        frame count + mean luma extracted."""
        from ome_arrow_spark.operators import multimodal as MM

        grad = np.zeros((4, 16, 16, 3), np.uint8)
        for i in range(4):
            grad[i] = (np.arange(16)[:, None, None] * 8 + i * 5) % 200
        blob = avi_encode(grad, fps=4, codec="mjpeg")
        df = spark.createDataFrame(
            [(77, "video", bytearray(blob), (16, 16, 4, None, "avi"))],
            MM.MEDIA_SCHEMA,
        )
        row = MM.media_features(df).collect()[0]
        assert row["kind"] == "video" and row["n_frames"] == 4
        # lossy decode: mean luma within a few levels of the source
        assert row["rms"] == pytest.approx(float(grad.mean()), abs=4.0)
        frames = MM.sample_frames(df, every=2).collect()
        assert [f["frame_idx"] for f in frames] == [0, 2]


def test_top_down_dib_roundtrip():
    """Negative biHeight = top-down rows (Windows capture convention):
    decode must NOT flip. Both orientations decode to identical RGB."""
    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, (3, 10, 14, 3), dtype=np.uint8)
    td, meta = avi_decode(avi_encode(frames, codec="raw", top_down=True))
    bu, _ = avi_decode(avi_encode(frames, codec="raw"))
    assert np.array_equal(td, frames)
    assert np.array_equal(bu, frames)
    assert meta["codec"] == "raw"


def test_mjpeg_restart_interval_frames():
    """MJPEG frames carrying DRI+RST markers decode identically to
    plain MJPEG (restart markers are structural, not lossy)."""
    rng = np.random.default_rng(12)
    frames = rng.integers(0, 256, (3, 12, 16, 3), dtype=np.uint8)
    plain, _ = avi_decode(avi_encode(frames, codec="mjpeg", jpeg_quality=85))
    rst, meta = avi_decode(
        avi_encode(frames, codec="mjpeg", jpeg_quality=85,
                   jpeg_restart_interval=2)
    )
    assert meta["codec"] == "mjpeg"
    assert np.array_equal(plain, rst)
