"""Pure-Python FLAC codec (sources/flac_minimal.py).  Correctness bar:
bit-exact lossless round-trips through our own encoder, plus decoder
coverage of the frame features REAL encoders emit that ours does not —
LPC subframes, mid/side / left/side / right/side decorrelation,
multi-partition and 5-bit-parameter Rice, escape partitions, wasted
bits — via hand-assembled conforming streams.  CRC-8/CRC-16/MD5
verification must catch tampering."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ome_arrow_spark.sources import flac_minimal as FL


def _roundtrip(x, rate=16000):
    y, sr = FL.flac_decode(FL.flac_encode(x, rate))
    assert sr == rate
    assert np.array_equal(np.asarray(x), y)
    return y


class TestRoundTrip:
    def test_smooth_and_noise_and_const(self):
        rng = np.random.default_rng(3)
        t = np.arange(10000)
        _roundtrip((12000 * np.sin(2 * np.pi * 300 * t / 16000)).astype(np.int16))
        _roundtrip(rng.integers(-32768, 32768, size=5000).astype(np.int16))
        _roundtrip(np.full(5000, -123, np.int16))
        _roundtrip(np.array([-32768, 32767, 0, -1, 1] * 100, np.int16))

    def test_stereo_and_multiframe(self):
        rng = np.random.default_rng(5)
        t = np.arange(9000)  # 3 frames: 4096 + 4096 + 808
        st = np.stack(
            [
                (8000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16),
                rng.integers(-2000, 2000, size=9000).astype(np.int16),
            ],
            axis=1,
        ).astype(np.int16)
        _roundtrip(st, 44100)

    def test_compression_actually_happens(self):
        t = np.arange(20000)
        x = (12000 * np.sin(2 * np.pi * 200 * t / 16000)).astype(np.int16)
        blob = FL.flac_encode(x, 16000)
        assert len(blob) < 0.5 * x.size * 2  # smooth signal: > 2x smaller

    def test_tiny_inputs(self):
        _roundtrip(np.array([5, -5], np.int16))
        _roundtrip(np.array([7], np.int16))

    def test_garbage_rejected(self):
        with pytest.raises(ValueError, match="FLAC"):
            FL.flac_decode(b"not flac data")


# ---------------------------------------------------------------------------
# Hand-assembled conforming streams for decoder-only features
# ---------------------------------------------------------------------------


def _streaminfo(bs, rate, channels, bps, total):
    si = FL._BitWriter()
    si.write(bs, 16)
    si.write(bs, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    si.align()
    info = si.bytes() + b"\x00" * 16  # md5 absent -> verify skipped
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + info


def _frame(chan_code, bs, bps, subframe_fns, frame_no=0):
    w = FL._BitWriter()
    w.write(FL._SYNC, 14)
    w.write(0, 2)
    code = FL._BLOCKSIZE_CODES.get(bs)
    w.write(code if code else 0b0111, 4)
    w.write(0, 4)  # rate from STREAMINFO
    w.write(chan_code, 4)
    w.write(FL._BPS_CODES[bps], 3)
    w.write(0, 1)
    for b in FL._utf8_number(frame_no):
        w.write(b, 8)
    if code is None:
        w.write(bs - 1, 16)
    w.write(FL._crc8(bytes(w.out)), 8)
    for fn in subframe_fns:
        fn(w)
    w.align()
    body = bytes(w.out)
    return body + struct.pack(">H", FL._crc16(body))


def _lpc_subframe(x, order, coeffs, shift, precision, bps):
    x = np.asarray(x, dtype=np.int64)
    res = np.empty(len(x) - order, dtype=np.int64)
    for i in range(order, len(x)):
        pred = sum(coeffs[j] * int(x[i - 1 - j]) for j in range(order))
        res[i - order] = int(x[i]) - (pred >> shift)

    def write(w):
        w.write(0, 1)
        w.write(32 + order - 1, 6)
        w.write(0, 1)
        for v in x[:order].tolist():
            w.write(int(v), bps)
        w.write(precision - 1, 4)
        w.write(shift, 5)
        for c in coeffs:
            w.write(int(c), precision)
        FL._write_residuals(w, res, order)

    return write


def _fixed_subframe(x, order, bps, wasted=0):
    def write(w):
        xv = np.asarray(x, dtype=np.int64)
        w.write(0, 1)
        w.write(8 + order, 6)
        if wasted:
            w.write(1, 1)
            w.write(1, wasted)  # unary wasted-1 then the terminating 1
            xv = xv >> wasted
            b = bps - wasted
        else:
            w.write(0, 1)
            b = bps
        for v in xv[:order].tolist():
            w.write(int(v), b)
        FL._write_residuals(w, np.diff(xv, n=order), order)

    return write


def _partitioned_rice_subframe(x, order, bps, po, method=1):
    """Fixed subframe whose residuals use partition order ``po`` with
    per-partition parameters, 5-bit method, and an escape partition."""
    x = np.asarray(x, dtype=np.int64)
    res = np.diff(x, n=order)

    def write(w):
        w.write(0, 1)
        w.write(8 + order, 6)
        w.write(0, 1)
        for v in x[:order].tolist():
            w.write(int(v), bps)
        w.write(method, 2)
        w.write(po, 4)
        pbits = 4 if method == 0 else 5
        bs = len(x)
        pos = 0
        for p in range(1 << po):
            n = (bs >> po) - (order if p == 0 else 0)
            part = res[pos:pos + n]
            pos += n
            if p == 1:  # escape: raw 18-bit residuals
                w.write((1 << pbits) - 1, pbits)
                w.write(18, 5)
                for v in part.tolist():
                    w.write(int(v), 18)
                continue
            k = 2 + p % 3
            w.write(k, pbits)
            for u in FL._zigzag(part).tolist():
                w.write_unary(int(u) >> k)
                if k:
                    w.write(int(u), k)

    return write


def _decode(stream_bytes, bs, rate, channels, bps, total):
    return FL.flac_decode(
        _streaminfo(bs, rate, channels, bps, total) + stream_bytes
    )


class TestDecoderOnlyFeatures:
    def setup_method(self):
        t = np.arange(1152)
        self.left = (9000 * np.sin(2 * np.pi * 310 * t / 16000)).astype(
            np.int64
        )
        self.right = (7000 * np.sin(2 * np.pi * 170 * t / 16000) + 100).astype(
            np.int64
        )

    def test_lpc_subframe(self):
        x = self.left
        f = _frame(0, len(x), 16, [
            _lpc_subframe(x, 2, [3154, -1606], 11, 13, 16)
        ])
        y, _ = _decode(f, len(x), 16000, 1, 16, len(x))
        assert np.array_equal(y, x.astype(np.int16))

    def test_mid_side(self):
        l, r = self.left, self.right
        mid, side = (l + r) >> 1, l - r
        f = _frame(10, len(l), 16, [
            _fixed_subframe(mid, 2, 16),
            _fixed_subframe(side, 2, 17),
        ])
        y, _ = _decode(f, len(l), 16000, 2, 16, len(l))
        assert np.array_equal(y[:, 0], l) and np.array_equal(y[:, 1], r)

    def test_left_side_and_right_side(self):
        l, r = self.left, self.right
        side = l - r
        f = _frame(8, len(l), 16, [
            _fixed_subframe(l, 1, 16),
            _fixed_subframe(side, 1, 17),
        ])
        y, _ = _decode(f, len(l), 16000, 2, 16, len(l))
        assert np.array_equal(y[:, 0], l) and np.array_equal(y[:, 1], r)
        f = _frame(9, len(l), 16, [
            _fixed_subframe(side, 1, 17),
            _fixed_subframe(r, 1, 16),
        ])
        y, _ = _decode(f, len(l), 16000, 2, 16, len(l))
        assert np.array_equal(y[:, 0], l) and np.array_equal(y[:, 1], r)

    def test_partitioned_rice_with_escape_and_5bit_params(self):
        x = self.left[:1024]
        f = _frame(0, len(x), 16, [
            _partitioned_rice_subframe(x, 2, 16, po=2, method=1)
        ])
        y, _ = _decode(f, len(x), 16000, 1, 16, len(x))
        assert np.array_equal(y, x.astype(np.int16))

    def test_wasted_bits(self):
        x = (self.left >> 3) << 3  # 3 trailing zero bits everywhere
        f = _frame(0, len(x), 16, [_fixed_subframe(x, 1, 16, wasted=3)])
        y, _ = _decode(f, len(x), 16000, 1, 16, len(x))
        assert np.array_equal(y, x.astype(np.int16))

    def test_crc_tamper_detected(self):
        x = np.arange(500, dtype=np.int16)
        blob = bytearray(FL.flac_encode(x, 16000))
        blob[-10] ^= 0x40  # flip a bit inside the last frame body
        with pytest.raises(ValueError, match="CRC|MD5|sync|truncated"):
            FL.flac_decode(bytes(blob))

    def test_md5_guard(self):
        x = np.arange(500, dtype=np.int16)
        blob = bytearray(FL.flac_encode(x, 16000))
        # corrupt the stored MD5 only (bytes 8+4+18 .. +34 of STREAMINFO)
        blob[4 + 4 + 18] ^= 0xFF
        with pytest.raises(ValueError, match="MD5"):
            FL.flac_decode(bytes(blob))
        y, _ = FL.flac_decode(bytes(blob), verify_md5=False)
        assert np.array_equal(y, x)


def test_decode_media_routes_flac():
    from ome_arrow_spark.operators.multimodal import decode_media

    t = np.arange(3200)
    s = (np.sin(t / 20) * 20000).astype(np.int16)
    kind, arr, meta = decode_media(FL.flac_encode(s, 16000))
    assert kind == "audio" and meta["sr"] == 16000
    assert np.array_equal(arr, s)
    assert meta["format"] == "flac"


def test_dir_scan_sniffs_flac_audio(spark, tmp_path):
    """The directory scan's magic-byte sniff gives a FLAC file the kind
    decode_media reports for it."""
    from ome_arrow_spark.operators import multimodal as MM

    t = np.arange(3200)
    s = (np.sin(t / 20) * 20000).astype(np.int16)
    (tmp_path / "7.flac").write_bytes(FL.flac_encode(s, 16000))
    media = MM.media_table_from_dir(spark, str(tmp_path))
    got = media.collect()
    assert [(r["media_id"], r["kind"]) for r in got] == [(7, "audio")]
    feats = MM.media_features(media).collect()
    assert feats[0]["kind"] == "audio" and feats[0]["duration_s"] == 0.2
