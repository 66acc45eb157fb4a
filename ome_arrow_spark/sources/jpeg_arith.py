"""Arithmetic-coded JPEG entropy layer (ITU-T T.81 Annex D QM-coder +
the Annex F/G statistical models) — closes the last entropy-coder gate
in the built-in JPEG codec (jpeg_minimal.py previously raised
``NotImplementedError`` for SOF9/SOF10/SOF11 streams; the reference
delegates all JPEG to tifffile, ingest.py:321-330, which itself rejects
arithmetic streams without libjpeg support).

Decoder: extended sequential (SOF9) and progressive (SOF10) scans,
8/12-bit, any sampling factors, restart intervals, DAC conditioning
segments (DC L/U bounds, AC Kx). Both are validated byte-for-byte
against the system libjpeg in tests/test_jpeg_interop.py (encode there,
decode here, and vice versa) plus canned fixtures pinned in
tests/test_jpeg_minimal.py so the interop evidence survives without a
C toolchain.

Encoder: extended sequential (SOF9) — mirrors the decode model exactly,
and libjpeg decodes our streams to the same samples our own decoder
produces (round-trip asserted in the interop test).

Lossless arithmetic (SOF11) is NOT implemented: no mainstream encoder
emits it (DNG/LJPEG use Huffman SOF3, which jpeg_minimal handles
bit-exactly), and no oracle for the Annex-H conditioning layout exists
in this environment; the dispatch raises a clear error instead of
guessing at conformance.

The coder is a per-symbol Python loop (~0.3-1 MB coded data /s/core) —
inherent to adaptive arithmetic coding, same throughput class as the
LZW fallback; fine for per-file task parallelism on the mapInArrow
ingest path.

All tables and procedures below follow the published T.81 spec:
Table D.3 (Qe probability state machine), D.1/D.2 (encoder/decoder
register conventions and byte stuffing), F.1.4/F.2.4 (DC & AC
statistical models), G.1.3/G.2 (progressive successive-approximation
models).
"""

from __future__ import annotations

import numpy as np

# T.81 Table D.3 — Qe probability estimation state machine.
# Rows: (Qe, NMPS, NLPS, SWITCH), indices 0..112; row 113 is the
# non-adaptive "fixed" estimate (Qe=0x5A1D, self-looping) used for
# AC sign / DC-refinement decisions.
QE_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

_QE = tuple(r[0] for r in QE_TABLE)
_NMPS = tuple(r[1] for r in QE_TABLE)
_NLPS = tuple(r[2] for r in QE_TABLE)
_SWITCH = tuple(r[3] for r in QE_TABLE)

# a statistics bin is one int: (state_index << 1) | mps
_FIXED_BIN = 113 << 1  # non-adaptive state, MPS=0

DC_STAT_BINS = 64
AC_STAT_BINS = 256


class ArithDecoder:
    """T.81 Annex D QM decoder (software conventions, §D.2 / Figures
    D.15-D.20).  Reads entropy bytes from ``data`` starting at ``pos``;
    any marker (0xFF followed by non-zero, non-0xFF) terminates the
    byte feed and zeros are supplied thereafter, per §D.2.6 — the
    scan's trailing marker is left for the framing layer at
    ``self.marker_pos``."""

    __slots__ = ("data", "pos", "end", "c", "a", "ct", "marker_pos", "fixed")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.end = len(data)
        self.marker_pos = -1
        # C/A/CT start empty; the first two renorm byte-fetches load
        # the initial code register (T.81 Figure D.19 INITDEC,
        # restructured so BYTEIN happens lazily inside decode()).
        self.c = 0
        self.a = 0
        self.ct = -16
        self.fixed = [_FIXED_BIN]

    def _next_byte(self) -> int:
        """One entropy byte per §D.2.6: 0xFF+0x00 unstuffs to 0xFF
        (leading fill 0xFFs absorbed); 0xFF+marker ends the feed and
        zeros are supplied from then on."""
        if self.marker_pos >= 0:
            return 0
        data = self.data
        pos = self.pos
        if pos >= self.end:
            self.marker_pos = self.end
            return 0
        b = data[pos]
        pos += 1
        if b == 0xFF:
            while pos < self.end and data[pos] == 0xFF:
                pos += 1
            if pos < self.end and data[pos] == 0:
                pos += 1  # stuffed zero: 0xFF is real data
            else:
                self.marker_pos = pos - 1
                self.pos = pos
                return 0
        self.pos = pos
        return b

    def decode(self, stats: list[int], i: int) -> int:
        # renormalize: shift A until A >= 0x8000, feeding C one byte
        # per 8 shifts (CT tracks the spare low bits held in C)
        while self.a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._next_byte()) & 0xFFFFFFFF
                self.ct += 8
                if self.ct < 0:
                    # still loading the two INITDEC bytes
                    self.ct += 1
                    if self.ct == 0:
                        self.a = 0x8000  # doubled to 0x10000 below
            self.a <<= 1

        sv = stats[i]
        st = sv >> 1
        qe = _QE[st]
        a = self.a - qe
        self.a = a
        threshold = a << self.ct
        if self.c >= threshold:
            # top subinterval (width Qe): LPS, or MPS under exchange
            self.c -= threshold
            if a < qe:
                # conditional exchange: this is really the MPS
                stats[i] = (_NMPS[st] << 1) | (sv & 1)
                bit = sv & 1
            else:
                bit = (sv & 1) ^ 1
                stats[i] = (_NLPS[st] << 1) | ((sv & 1) ^ _SWITCH[st])
            self.a = qe
        elif a < 0x8000:
            # bottom subinterval with renorm pending → state update
            if a < qe:
                bit = (sv & 1) ^ 1
                stats[i] = (_NLPS[st] << 1) | ((sv & 1) ^ _SWITCH[st])
            else:
                bit = sv & 1
                stats[i] = (_NMPS[st] << 1) | (sv & 1)
        else:
            bit = sv & 1
        return bit

    def decode_fixed(self) -> int:
        """Decode with the non-adaptive 0.5-probability estimate
        (state 113, self-looping) — AC sign and refinement decisions."""
        return self.decode(self.fixed, 0)

    def next_marker_pos(self) -> int:
        """Byte position of the marker terminating this scan's entropy
        data.  The lazy byte feed may not have reached it yet: entropy
        data only contains 0xFF as the stuffed pair 0xFF 0x00, so the
        next 0xFF followed by non-zero IS the marker."""
        if self.marker_pos >= 0:
            return self.marker_pos
        data, p, n = self.data, self.pos, self.end
        while p + 1 < n:
            if data[p] == 0xFF and data[p + 1] != 0:
                return p
            p += 1
        return n


class ArithEncoder:
    """T.81 Annex D QM encoder (§D.1, Figures D.5-D.14) with the
    byte-stuffing and carry-propagation rules of §D.1.6: pending 0xFF
    bytes are stacked until a carry or a smaller byte resolves them,
    a 0x00 is stuffed after every emitted 0xFF."""

    __slots__ = ("out", "c", "a", "ct", "buffer", "sc", "zc", "fixed")

    def __init__(self) -> None:
        self.out = bytearray()
        self.c = 0
        self.a = 0x10000
        self.ct = 11
        self.buffer = -1  # pending byte (may still take a carry)
        self.sc = 0  # stacked 0xFF bytes
        self.zc = 0  # pending zero bytes (elided until needed)
        self.fixed = [_FIXED_BIN]

    def _emit(self, b: int) -> None:
        self.out.append(b & 0xFF)

    def _byte_out(self) -> None:
        temp = self.c >> 19
        if temp > 0xFF:
            # carry: propagates into the buffer byte; stacked 0xFFs
            # all roll over to 0x00
            if self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0)
            self.zc += self.sc
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1
        else:
            # flush: buffer and any stacked 0xFFs can no longer carry
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self.out.extend(b"\xff\x00" * self.sc)
                self.sc = 0
            self.buffer = temp
        self.c &= 0x7FFFF
        self.ct += 8

    def encode(self, stats: list[int], i: int, bit: int) -> None:
        sv = stats[i]
        st = sv >> 1
        qe = _QE[st]
        self.a -= qe
        if bit != (sv & 1):
            # LPS (with conditional exchange)
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            stats[i] = (_NLPS[st] << 1) | ((sv & 1) ^ _SWITCH[st])
        else:
            # MPS
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            stats[i] = (_NMPS[st] << 1) | (sv & 1)
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()
            if self.a >= 0x8000:
                break

    def encode_fixed(self, bit: int) -> None:
        self.encode(self.fixed, 0, bit)

    def flush(self) -> bytes:
        """§D.1.8 termination: pick the codestream point in the final
        interval with the most trailing zeros, emit remaining bytes."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        if temp < self.c:
            self.c = temp + 0x8000
        else:
            self.c = temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # final carry
            if self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self.out.extend(b"\xff\x00" * self.sc)
                self.sc = 0
        # trailing code bytes, only if non-zero (trailing zeros and the
        # pending zero run are dropped — the decoder supplies zeros)
        if self.c & 0x7FFF800:
            if self.zc:
                self.out.extend(b"\x00" * self.zc)
                self.zc = 0
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Statistical models (T.81 F.1.4 encode / F.2.4 decode, G.* progressive)
# ---------------------------------------------------------------------------


def _new_dc_stats() -> list[int]:
    return [0] * DC_STAT_BINS


def _new_ac_stats() -> list[int]:
    return [0] * AC_STAT_BINS


def decode_dc_diff(dec, stats, ctx, ci, dc_l, dc_u):
    """Decode one DC difference (T.81 Figures F.19/F.21-F.24).
    ``ctx[ci]`` holds the conditioning category from the previous
    block of this component (§F.1.4.4.1.2). Returns the diff."""
    s0 = ctx[ci]
    if dec.decode(stats, s0) == 0:
        ctx[ci] = 0
        return 0
    sign = dec.decode(stats, s0 + 1)
    st = s0 + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = 20  # X1 (Table F.4)
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt JPEG: arithmetic DC magnitude overflow")
            st += 1
    # establish next-block conditioning category
    if m < (1 << dc_l) >> 1:
        ctx[ci] = 0
    elif m > (1 << dc_u) >> 1:
        ctx[ci] = 12 + sign * 4
    else:
        ctx[ci] = 4 + sign * 4
    v = m
    st += 14  # M2.. magnitude bit bins
    while m := m >> 1:
        if dec.decode(stats, st):
            v |= m
    v += 1
    return -v if sign else v


def encode_dc_diff(enc, stats, ctx, ci, diff, dc_l, dc_u):
    s0 = ctx[ci]
    if diff == 0:
        enc.encode(stats, s0, 0)
        ctx[ci] = 0
        return
    enc.encode(stats, s0, 1)
    if diff > 0:
        enc.encode(stats, s0 + 1, 0)
        st = s0 + 2
        sign = 0
        v = diff
    else:
        enc.encode(stats, s0 + 1, 1)
        st = s0 + 3
        sign = 1
        v = -diff
    m = 0
    v -= 1
    if v:
        enc.encode(stats, st, 1)
        m = 1
        v2 = v
        st = 20
        while v2 := v2 >> 1:
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
    enc.encode(stats, st, 0)
    st += 14
    mm = m
    while mm := mm >> 1:
        enc.encode(stats, st, 1 if (mm & v) else 0)
    if m < (1 << dc_l) >> 1:
        ctx[ci] = 0
    elif m > (1 << dc_u) >> 1:
        ctx[ci] = 12 + sign * 4
    else:
        ctx[ci] = 4 + sign * 4


def decode_ac_coefs(dec, stats, coefs, ss, se, ac_kx, al=0):
    """Decode AC coefficients k in [ss, se] into zigzag-order ``coefs``
    (T.81 Figure F.20; progressive-first per G.2 scales by 2^al)."""
    k = ss
    while k <= se:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > se:
                raise ValueError("corrupt JPEG: arithmetic AC index overflow")
        sign = dec.decode_fixed()
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m <<= 1
                st = 189 if k <= ac_kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "corrupt JPEG: arithmetic AC magnitude overflow"
                        )
                    st += 1
        v = m
        st += 14
        while m := m >> 1:
            if dec.decode(stats, st):
                v |= m
        v += 1
        coefs[k] = (-v if sign else v) << al
        k += 1


def encode_ac_coefs(enc, stats, coefs, ss, se, ac_kx):
    """Encode zigzag AC band [ss, se] (T.81 Figure F.5)."""
    ke = se
    while ke >= ss and coefs[ke] == 0:
        ke -= 1
    k = ss
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # not EOB
        while (v := coefs[k]) == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        if v > 0:
            enc.encode_fixed(0)
        else:
            enc.encode_fixed(1)
            v = -v
        st += 2
        m = 0
        v -= 1
        if v:
            enc.encode(stats, st, 1)
            m = 1
            v2 = v
            if v2 := v2 >> 1:
                enc.encode(stats, st, 1)
                m <<= 1
                st = 189 if k <= ac_kx else 217
                while v2 := v2 >> 1:
                    enc.encode(stats, st, 1)
                    m <<= 1
                    st += 1
        enc.encode(stats, st, 0)
        st += 14
        mm = m
        while mm := mm >> 1:
            enc.encode(stats, st, 1 if (mm & v) else 0)
        k += 1
    if ke < se:
        st = 3 * (k - 1)
        enc.encode(stats, st, 1)  # EOB
