"""Multimodal columns for training-data pipelines (BASELINE north
star): image/audio/video as opaque ``binary`` columns with typed
metadata, plus decode / feature-extract / resize / frame-sample
operators, all over one ``mapInArrow`` loop (``_map_media``).

The media table schema:

    media(media_id long, kind string, content binary,
          meta struct<width int, height int, n_frames int,
                      sample_rate int, format string>)

Decode: JPEG (baseline + progressive, incl. subsampled), PNG (incl.
Adam7), GIF (incl. animation), BMP, netpbm, WAV (PCM, G.711
µ-law/A-law, IMA ADPCM), and raw/MJPEG AVI
all decode through the engine's own built-in codecs; compressed
audio/video (MP3/H.264-class) honestly gate on soundfile/av.
Deterministic FMED containers (header + raw payload) additionally make
the Spark plumbing — binary column handling, Arrow batch transfer, UDF
signatures, output schemas — testable with SQL-derivable arithmetic.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIMG_MAGIC = b"FIMG1\n"  # header json + uint8 H*W*3 RGB
FAUD_MAGIC = b"FAUD1\n"  # header json + int16 mono samples
FVID_MAGIC = b"FVID1\n"  # header json + uint8 F*H*W*3 frames

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, format:string>"
)


def encode_fimg(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    return FIMG_MAGIC + (json.dumps({"w": w, "h": h}) + "\n").encode() + rgb.astype(np.uint8).tobytes()


def encode_faud(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    hdr = json.dumps({"n": int(samples.size), "sr": sample_rate}) + "\n"
    return FAUD_MAGIC + hdr.encode() + samples.astype("<i2").tobytes()


def encode_fvid(frames: np.ndarray) -> bytes:
    f, h, w, _ = frames.shape
    hdr = json.dumps({"f": f, "w": w, "h": h}) + "\n"
    return FVID_MAGIC + hdr.encode() + frames.astype(np.uint8).tobytes()


def _split(data: bytes, magic: bytes) -> tuple[dict, bytes]:
    rest = data[len(magic):]
    nl = rest.index(b"\n")
    return json.loads(rest[:nl].decode()), rest[nl + 1 :]


def decode_media(data: bytes) -> tuple[str, np.ndarray, dict[str, Any]]:
    """bytes → (kind, array, meta). Baseline AND progressive JPEG,
    PNG (incl. Adam7), GIF, BMP, netpbm, WAV (PCM/G.711/IMA-ADPCM), and raw/MJPEG AVI
    decode through the engine's own codecs; FMED containers carry raw
    test payloads; compressed audio/video (MP3/H.264-class) gate on
    soundfile/av."""
    if data[:6] == FIMG_MAGIC:
        h, payload = _split(data, FIMG_MAGIC)
        arr = np.frombuffer(payload, np.uint8).reshape(h["h"], h["w"], 3)
        return "image", arr, h
    if data[:6] == FAUD_MAGIC:
        h, payload = _split(data, FAUD_MAGIC)
        return "audio", np.frombuffer(payload, "<i2"), h
    if data[:6] == FVID_MAGIC:
        h, payload = _split(data, FVID_MAGIC)
        arr = np.frombuffer(payload, np.uint8).reshape(h["f"], h["h"], h["w"], 3)
        return "video", arr, h
    if data[:2] == b"\xff\xd8":  # JPEG SOI
        from ome_arrow_spark.sources.jpeg_minimal import jpeg_decode

        arr = jpeg_decode(data)
        if arr.ndim == 2:  # grayscale → uniform 3-channel layout
            arr = np.stack([arr] * 3, axis=-1)
        return "image", arr, {"w": int(arr.shape[1]), "h": int(arr.shape[0]),
                              "format": "jpeg"}
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from ome_arrow_spark.sources.png_minimal import png_decode

        arr = png_decode(data)
        if arr.dtype == np.uint16:  # media features operate on 8-bit
            arr = (arr >> 8).astype(np.uint8)
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        elif arr.shape[-1] == 2:  # gray+alpha → replicate luma, drop alpha
            arr = np.stack([arr[..., 0]] * 3, axis=-1)
        elif arr.shape[-1] == 4:  # RGBA → drop alpha for feature math
            arr = arr[..., :3]
        return "image", arr, {"w": int(arr.shape[1]), "h": int(arr.shape[0]),
                              "format": "png"}
    if data[:4] == b"GIF8":
        from ome_arrow_spark.sources.gif_minimal import gif_decode

        frames, gmeta = gif_decode(data)
        if frames.shape[0] == 1:
            arr = frames[0]
            return "image", arr, {"w": gmeta["w"], "h": gmeta["h"],
                                  "format": "gif"}
        return "video", frames, {**gmeta, "format": "gif"}
    if data[:2] == b"BM":
        from ome_arrow_spark.sources.png_minimal import bmp_decode

        arr = bmp_decode(data)
        return "image", arr, {"w": int(arr.shape[1]), "h": int(arr.shape[0]),
                              "format": "bmp"}
    if data[:2] in (b"P2", b"P3", b"P5", b"P6"):
        from ome_arrow_spark.sources.pnm_minimal import pnm_decode

        arr = pnm_decode(data)
        if arr.dtype == np.uint16:
            arr = (arr >> 8).astype(np.uint8)
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=-1)
        return "image", arr, {"w": int(arr.shape[1]), "h": int(arr.shape[0]),
                              "format": "pnm"}
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ome_arrow_spark.sources.avi_minimal import avi_decode

        frames, vmeta = avi_decode(data)
        return "video", frames, {**vmeta, "format": "avi",
                                 "f": vmeta["n_frames"]}
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        from ome_arrow_spark.sources.wav_minimal import wav_decode

        arr, sr = wav_decode(data)
        if arr.ndim == 2:  # downmix so duration/RMS are per-frame
            arr = arr.mean(axis=1)
        return "audio", arr, {"n": int(arr.size), "sr": sr, "format": "wav"}
    if data[:4] == b"fLaC":
        from ome_arrow_spark.sources.flac_minimal import flac_decode

        arr, sr = flac_decode(data)
        if arr.ndim == 2:
            arr = arr.mean(axis=1)
        return "audio", arr, {"n": int(arr.size), "sr": sr, "format": "flac"}
    raise NotImplementedError(
        "Perceptual audio / video codecs (MP3/AAC/H.264 via soundfile/av) "
        "are not installed in this container; JPEG, PNG, GIF, BMP, netpbm, "
        "WAV (PCM/G.711/IMA-ADPCM), FLAC, AVI, and FMED test containers "
        "decode built-in. The operator plumbing is codec-agnostic — swap "
        "decode_media's body."
    )


def media_table_from_dir(
    spark, path: str, glob: str = "*", id_from_name: bool = True
) -> DataFrame:
    """Build a media table from a directory of real media files via a
    distributed ``binaryFile`` scan — the ingest path a training
    pipeline actually uses (one task per file; no driver-side reads).
    ``kind`` is sniffed from magic bytes as a pure Catalyst expression
    (no UDF): JPEG/PNG/BMP/GIF/netpbm/FMED-image → ``image``,
    WAV/FLAC/FAUD → ``audio``, AVI/FVID → ``video``, else ``unknown``
    — the kinds :func:`decode_media` reports for the same bytes.
    ``media_id`` comes from the numeric file stem when ``id_from_name``
    (deterministic across runs/machines — path hashes are not), else
    from ``xxhash64(path)``."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    kind = (
        F.when(F.substring("content", 1, 2) == F.lit(b"\xff\xd8"), "image")
        .when(F.substring("content", 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"), "image")
        .when(F.substring("content", 1, 2) == F.lit(b"BM"), "image")
        .when(F.substring("content", 1, 4) == F.lit(b"GIF8"), "image")
        .when(
            F.substring("content", 1, 2).isin(
                [F.lit(m) for m in (b"P2", b"P3", b"P5", b"P6")]
            ),
            "image",
        )
        .when(F.substring("content", 1, 6) == F.lit(FIMG_MAGIC), "image")
        .when(F.substring("content", 1, 6) == F.lit(FAUD_MAGIC), "audio")
        .when(
            (F.substring("content", 1, 4) == F.lit(b"RIFF"))
            & (F.substring("content", 9, 4) == F.lit(b"WAVE")),
            "audio",
        )
        .when(F.substring("content", 1, 4) == F.lit(b"fLaC"), "audio")
        .when(
            (F.substring("content", 1, 4) == F.lit(b"RIFF"))
            & (F.substring("content", 9, 4) == F.lit(b"AVI ")),
            "video",
        )
        .when(F.substring("content", 1, 6) == F.lit(FVID_MAGIC), "video")
        .otherwise("unknown")
    )
    if id_from_name:
        media_id = F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"(\d+)", 1
        ).cast("long")
    else:
        media_id = F.xxhash64("path")
    return df.select(
        media_id.alias("media_id"),
        kind.alias("kind"),
        "content",
        "path",
    )


def _map_media(
    media: DataFrame,
    ddl: str,
    item_rows: Callable[[Any, bytes, str, np.ndarray, dict], list[dict]],
    on_error: str = "fail",
    error_row: Callable[[Any, bytes], dict] | None = None,
) -> DataFrame:
    """The one per-item loop of the media extractors: ``mapInArrow``
    over ``(media_id, content)``; each blob is decoded once
    (``decode_media``) and ``item_rows(media_id, blob, kind, arr, meta)``
    returns its 0..n output rows as dicts (a missing key is null).
    Batches are built against the Arrow twin of ``ddl``, so a batch with
    no rows still carries the declared columns.

    ``on_error`` governs decode failures — the codecs' documented
    ``ValueError``/``NotImplementedError`` (truncated blob, unsupported
    codec): ``"fail"`` propagates, ``"skip"`` drops the item, and
    ``"row"`` (only where the caller gives ``error_row``) emits
    ``error_row(media_id, blob)`` instead."""
    modes = ("fail", "row", "skip") if error_row else ("fail", "skip")
    if on_error not in modes:
        raise ValueError(f"on_error must be {'/'.join(modes)}, got {on_error!r}")
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list[dict] = []
            for mid, blob in zip(
                batch.column("media_id").to_pylist(),
                batch.column("content").to_pylist(),
            ):
                try:
                    kind, arr, meta = decode_media(blob)
                except (ValueError, NotImplementedError):
                    if on_error == "fail":
                        raise
                    if on_error == "row":
                        rows.append(error_row(mid, blob))
                    continue
                rows.extend(item_rows(mid, blob, kind, arr, meta))
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return media.select("media_id", "content").mapInArrow(run, schema=ddl)


def media_features(media: DataFrame, on_error: str = "fail") -> DataFrame:
    """Per-item features: images → per-channel means; audio → duration
    + RMS; video → frame count + mean luma. One Arrow batch per task;
    the UDF never sees more than a batch of payloads.

    ``on_error`` governs per-item decode failures (truncated blob,
    unsupported codec): ``"fail"`` propagates (exact-pipeline default),
    ``"row"`` emits a ``kind='error'`` row with null features so one
    corrupt blob out of 10⁹ costs one row instead of the job, ``"skip"``
    drops the item silently.  At 100 TB, "row" is the mode you want —
    the error rows ARE the corruption report (`WHERE kind = 'error'`)."""

    def item_rows(mid, blob, kind, arr, meta):
        row = {"media_id": mid, "kind": kind, "n_bytes": len(blob)}
        if kind == "image":
            m = arr.reshape(-1, 3).mean(axis=0)
            row.update(mean_r=float(m[0]), mean_g=float(m[1]), mean_b=float(m[2]))
        elif kind == "audio":
            x = arr.astype(np.float64)
            row.update(
                duration_s=float(arr.size / meta["sr"]),
                rms=float(np.sqrt(np.mean(x * x))) if arr.size else 0.0,
            )
        else:
            luma = arr.astype(np.float64).mean()
            row.update(n_frames=int(arr.shape[0]), rms=float(luma))
        return [row]

    return _map_media(
        media,
        "media_id long, kind string, n_bytes long, "
        "mean_r double, mean_g double, mean_b double, "
        "duration_s double, rms double, n_frames int",
        item_rows,
        on_error,
        error_row=lambda mid, blob: {
            "media_id": mid, "kind": "error", "n_bytes": len(blob)
        },
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip audio analysis beyond the basic features: sample count,
    duration, RMS, absolute peak, zero-crossing count (strict sign
    flips, ``x[t-1]*x[t] < 0``), and FFT spectral centroid in Hz.
    Everything except the centroid is integer/exact arithmetic and thus
    SQL-oracle-able; the centroid depends on float summation order, so
    driver queries pin it separately or drop it. Non-audio rows are
    skipped (not errors) so the operator composes with mixed tables."""

    def item_rows(mid, blob, kind, arr, meta):
        if kind != "audio":
            return []
        x = arr.astype(np.float64)
        sr = int(meta["sr"])
        spec = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(x.size, d=1.0 / sr)
        denom = float(spec.sum())
        return [
            {
                "media_id": mid,
                "n_samples": int(x.size),
                "sample_rate": sr,
                "duration_s": float(x.size / sr),
                "rms": float(np.sqrt(np.mean(x * x))) if x.size else 0.0,
                "peak": float(np.abs(x).max()) if x.size else 0.0,
                "zero_crossings": int(np.count_nonzero(x[:-1] * x[1:] < 0)),
                "spectral_centroid_hz": (
                    float((spec * freqs).sum() / denom) if denom else 0.0
                ),
            }
        ]

    return _map_media(
        media,
        "media_id long, n_samples long, sample_rate int, "
        "duration_s double, rms double, peak double, "
        "zero_crossings long, spectral_centroid_hz double",
        item_rows,
    )


def bilinear_resize(arr: np.ndarray, height: int, width: int) -> np.ndarray:
    """Vectorized (H,W,C) uint8 bilinear resample with half-pixel
    centers (the PIL/OpenCV convention: src = (dst + 0.5) * scale -
    0.5, edges clamped) — training-grade downsampling without any
    imaging dependency."""
    h, w = arr.shape[:2]
    fy = (np.arange(height) + 0.5) * (h / height) - 0.5
    fx = (np.arange(width) + 0.5) * (w / width) - 0.5
    y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
    a = arr[y0][:, x0].astype(np.float64)
    b = arr[y0][:, x1].astype(np.float64)
    c = arr[y1][:, x0].astype(np.float64)
    d = arr[y1][:, x1].astype(np.float64)
    top = a * (1 - wx) + b * wx
    bot = c * (1 - wx) + d * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def resize_images(
    media: DataFrame, width: int, height: int, method: str = "bilinear"
) -> DataFrame:
    """Resize image items → new media table rows.  ``method``:
    ``"bilinear"`` (half-pixel-center resample, the training-pipeline
    default) or ``"nearest"`` (index math, bit-predictable)."""
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be bilinear/nearest, got {method!r}")

    def item_rows(mid, blob, kind, arr, meta):
        if kind != "image":
            return []
        if method == "bilinear":
            out = bilinear_resize(arr.astype(np.uint8), height, width)
        else:
            ys = (np.arange(height) * arr.shape[0] // height).clip(0, arr.shape[0] - 1)
            xs = (np.arange(width) * arr.shape[1] // width).clip(0, arr.shape[1] - 1)
            out = arr[ys][:, xs]
        return [
            {
                "media_id": mid,
                "kind": "image",
                "content": encode_fimg(out),
                "meta": {"width": width, "height": height, "format": "fimg"},
            }
        ]

    return _map_media(media, MEDIA_SCHEMA, item_rows)


def resample_audio(media: DataFrame, target_sr: int) -> DataFrame:
    """Linear-interpolation resample of audio items to ``target_sr`` →
    new media rows (FAUD containers).  Linear interp is the
    dependency-free baseline (a windowed-sinc kernel slots into the
    same np.interp call site); non-audio rows are skipped so the
    operator composes with mixed tables."""

    def item_rows(mid, blob, kind, arr, meta):
        if kind != "audio":
            return []
        sr = int(meta["sr"])
        x = arr.astype(np.float64)
        n_out = max(1, int(round(x.size * target_sr / sr)))
        t_in = np.arange(x.size) / sr
        t_out = np.arange(n_out) / target_sr
        y = np.interp(t_out, t_in, x)
        out = np.clip(np.rint(y), -32768, 32767).astype(np.int16)
        return [
            {
                "media_id": mid,
                "kind": "audio",
                "content": encode_faud(out, sample_rate=target_sr),
                "meta": {"sample_rate": target_sr, "format": "faud"},
            }
        ]

    return _map_media(media, MEDIA_SCHEMA, item_rows)


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Video → one image row per sampled frame (frame_idx % every == 0)."""

    def item_rows(mid, blob, kind, arr, meta):
        if kind != "video":
            return []
        return [
            {
                "media_id": mid,
                "frame_idx": fi,
                "kind": "image",
                "content": encode_fimg(arr[fi]),
                "meta": {
                    "width": int(arr.shape[2]),
                    "height": int(arr.shape[1]),
                    "format": "fimg",
                },
            }
            for fi in range(0, arr.shape[0], every)
        ]

    return _map_media(
        media,
        "media_id long, frame_idx int, kind string, content binary, "
        "meta struct<width:int, height:int, n_frames:int, sample_rate:int, format:string>",
        item_rows,
    )


def synth_media_df(
    spark, n_images: int = 4, n_audio: int = 3, n_video: int = 2,
    n_jpeg: int = 2, n_png: int = 1, n_wav: int = 1, n_avi: int = 1,
) -> DataFrame:
    """Deterministic fake media table for tests/driver queries. Includes
    real baseline-JPEG, PNG, WAV, and raw-DIB AVI blobs (engine-encoded,
    engine-decoded) alongside the FMED containers so the image, audio,
    and video paths exercise actual codecs — PNG/WAV/raw-AVI being
    lossless, their features stay SQL-derivable."""
    from ome_arrow_spark.sources.avi_minimal import avi_encode
    from ome_arrow_spark.sources.jpeg_minimal import jpeg_encode
    from ome_arrow_spark.sources.png_minimal import png_encode
    from ome_arrow_spark.sources.wav_minimal import wav_encode

    rows = []
    mid = 0
    for i in range(n_images):
        h, w = 8 + i, 10 + i
        rgb = (np.arange(h * w * 3).reshape(h, w, 3) * (i + 1)) % 256
        rows.append((mid, "image", bytearray(encode_fimg(rgb)), (w, h, None, None, "fimg")))
        mid += 1
    for i in range(n_audio):
        n = 1600 * (i + 1)
        samples = (np.arange(n) * 37 * (i + 1)) % 20000 - 10000
        rows.append((mid, "audio", bytearray(encode_faud(samples)), (None, None, None, 16000, "faud")))
        mid += 1
    for i in range(n_video):
        f, h, w = 6, 4, 5
        frames = (np.arange(f * h * w * 3).reshape(f, h, w, 3) + i) % 256
        rows.append((mid, "video", bytearray(encode_fvid(frames)), (w, h, f, None, "fvid")))
        mid += 1
    # real JPEG blobs go LAST so the FMED ids above stay stable for the
    # arithmetic oracle; the JPEG rows are pinned by golden decode values
    for i in range(n_jpeg):
        h, w = 16 + 8 * i, 24 + 8 * i
        rgb = ((np.arange(h * w * 3).reshape(h, w, 3) * 7 + i * 31) % 256).astype(np.uint8)
        rows.append((mid, "image", bytearray(jpeg_encode(rgb, quality=90)),
                     (w, h, None, None, "jpeg")))
        mid += 1
    for i in range(n_png):
        h, w = 20 + 4 * i, 30 + 4 * i
        rgb = ((np.arange(h * w * 3).reshape(h, w, 3) * 11 + 3 + i) % 256).astype(np.uint8)
        rows.append((mid, "image", bytearray(png_encode(rgb)),
                     (w, h, None, None, "png")))
        mid += 1
    for i in range(n_wav):
        n = 2000 * (i + 1)
        samples = ((np.arange(n) * 37) % 20000 - 10000).astype(np.int16)
        rows.append((mid, "audio", bytearray(wav_encode(samples, 16000)),
                     (None, None, None, 16000, "wav")))
        mid += 1
    for i in range(n_avi):
        f, h, w = 5, 6, 8
        frames = ((np.arange(f * h * w * 3).reshape(f, h, w, 3) * 13 + i) % 256).astype(np.uint8)
        rows.append((mid, "video", bytearray(avi_encode(frames, fps=10)),
                     (w, h, f, None, "avi")))
        mid += 1
    # 2 slices AT PARALLELIZE TIME, not createDataFrame(...).coalesce(2):
    # coalescing 32 pickled one-row slices into 2 tasks pays the Python
    # runner round-trip once PER PARENT SLICE inside each task (measured
    # ~2.2 s per action vs 0.28 s for a natively-2-slice RDD, r14).
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), MEDIA_SCHEMA
    )


def image_ahash(media: DataFrame, on_error: str = "fail") -> DataFrame:
    """Perceptual average-hash per image: decode → integer grayscale
    ((r+g+b)//3) → 8×8 block means (exact integer block means when the
    dimensions divide evenly, bilinear resize otherwise) → one bit per
    block, set when the block exceeds the integer mean of the 64
    blocks.  Returned as TWO 32-bit halves (``ahash_hi``/``ahash_lo``)
    so every downstream bit operation (xor, popcount, band extraction)
    stays in small positive integers both here and in a SQL oracle —
    no 2^63 overflow cliffs.  Non-image rows are skipped; ``on_error``
    is ``"fail"`` or ``"skip"`` for undecodable blobs."""

    def item_rows(mid, blob, kind, arr, meta):
        if kind != "image":
            return []
        g = arr.astype(np.int64).sum(axis=2) // 3
        h, w = g.shape
        if h % 8 == 0 and w % 8 == 0:
            blocks = (
                g.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
                // ((h // 8) * (w // 8))
            )
        else:
            blocks = bilinear_resize(
                g[:, :, None].astype(np.float64), 8, 8
            )[:, :, 0].astype(np.int64)
        mean = int(blocks.sum()) // 64
        bits = (blocks > mean).astype(np.uint64).reshape(-1)
        idx = np.arange(64, dtype=np.uint64)
        hi = int((bits[32:] << (idx[:32])).sum())
        lo = int((bits[:32] << (idx[:32])).sum())
        return [{"media_id": mid, "ahash_hi": hi, "ahash_lo": lo}]

    return _map_media(
        media, "media_id long, ahash_hi long, ahash_lo long", item_rows, on_error
    )


def image_neardup(
    media: DataFrame, max_distance: int = 3, on_error: str = "fail"
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance,
    found via BAND BUCKETS, never an all-pairs product: the 64-bit
    aHash splits into four 16-bit bands; two hashes within Hamming
    distance ≤ 3 must agree on at least one whole band (pigeonhole:
    ≤3 differing bits cannot touch all 4 bands), so the band-bucket
    equi-join is EXACT for ``max_distance`` ≤ 3 — the image twin of
    the MinHash-LSH text pipeline (operators/dedup.py), with the same
    one-shuffle-per-side scale shape.  Returns (media_a, media_b,
    distance), a < b, deduplicated across bands."""
    if max_distance > 3:
        raise ValueError(
            "band-bucket search is exact only for max_distance <= 3 "
            "(4 bands x 16 bits); raise the band count for looser "
            "thresholds"
        )
    hashes = image_ahash(media, on_error=on_error)
    bands = hashes.select(
        "media_id", "ahash_hi", "ahash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftright(
                                F.col("ahash_hi") if i >= 2
                                else F.col("ahash_lo"),
                                (i % 2) * 16,
                            ).bitwiseAND(F.lit(0xFFFF))
                        ).alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("media_id", "ahash_hi", "ahash_lo", "b.band", "b.val")
    a = bands.select(
        F.col("media_id").alias("media_a"),
        F.col("ahash_hi").alias("hi_a"),
        F.col("ahash_lo").alias("lo_a"),
        "band", "val",
    )
    b = bands.select(
        F.col("media_id").alias("media_b"),
        F.col("ahash_hi").alias("hi_b"),
        F.col("ahash_lo").alias("lo_b"),
        "band", "val",
    )
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a", "media_b",
            (
                F.bit_count(
                    F.col("hi_a").bitwiseXOR(F.col("hi_b"))
                )
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            ).alias("distance"),
        )
        .distinct()
        .filter(F.col("distance") <= max_distance)
    )
    return pairs
