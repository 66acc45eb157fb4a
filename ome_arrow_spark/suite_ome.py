"""OME format-half queries for the driver gate.

The fixture dirs carry no image tables, so these queries synthesize the
golden images (synth.py — deterministic formula from FIXTURES.md) and
the oracles either re-derive the expected values arithmetically in
DuckDB (generate_series over the same pixel formula — a genuinely
independent computation of the crop/reindex semantics) or assert the
reference's golden literals as VALUES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ome_arrow_spark import synth
from ome_arrow_spark.operators.describe import describe
from ome_arrow_spark.operators.slice_op import slice_images
from ome_arrow_spark.operators.views import channels_df, plane_stats
from ome_arrow_spark.suite import register


def _classify(t: int, z: int) -> str:
    if t == 1 and z == 1:
        return "2D image"
    if t == 1 and z > 1:
        return "3D image (z-stack)"
    if t > 1 and z == 1:
        return "movie / timelapse"
    return "4D timelapse-volume"


def _describe_values() -> str:
    rows = []
    shapes = list(synth.GOLDEN_SHAPES) + [("img-0001", 1, 2, 1, 3, 4)]
    for image_id, t, c, z, y, x in shapes:
        kind = _classify(t, z)
        chinfo = f"multi-channel ({c} channels)" if c > 1 else "single-channel"
        summary = f"{kind}, {chinfo} - shape (T={t}, C={c}, Z={z}, Y={y}, X={x})"
        rows.append(
            f"('{image_id}', {t}, {c}, {z}, {y}, {x}, '{kind}', "
            f"CAST({c} AS BIGINT), {str(c > 1).upper()}, '{summary}')"
        )
    return ",\n       ".join(rows)


@register(
    "ome_describe",
    f"""
    SELECT * FROM (VALUES
       {_describe_values()})
    AS t(image_id, size_t, size_c, size_z, size_y, size_x,
         type, channels, is_multichannel, summary)
    """,
)
def ome_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 catalog query over the golden images (metadata-only scan —
    nested-schema pruning keeps `planes` unread)."""
    return describe(synth.golden_images_df(spark, with_pixels=False))


@register(
    "ome_channels",
    """
    SELECT * FROM (VALUES
       ('img-0001', 0, 'C0', 'DNA',  CAST(0.46 AS REAL), CAST(0.40 AS REAL),
        'Epifluorescence', CAST(65535 AS BIGINT)),
       ('img-0001', 1, 'C1', 'Mito', CAST(0.59 AS REAL), CAST(0.54 AS REAL),
        'Epifluorescence', CAST(4278190335 AS BIGINT)))
    AS t(image_id, channel_idx, channel_id, name, emission_um, excitation_um,
         illumination, color_rgba)
    """,
)
def ome_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel metadata explode (posexplode) on the conftest-exact
    record (reference tests/conftest.py:36-54 values)."""
    imgs = synth.golden_images_df(spark, ids=["img-0001"], with_pixels=False)
    return channels_df(imgs)


# Crop + keep-list slice whose plane sums DuckDB re-derives purely
# arithmetically: pixel(t,c,z,y,x) = (t*31+c*17+z*7+y*439+x) % 65536 on
# image multi-channel-z (T=1,C=3,Z=5,Y=167,X=439), crop x[100,150)
# y[30,90), keep c={0,2} z={1,3,4} — exercising crop, membership filter,
# dense reindex, and array aggregation in one query.
@register(
    "ome_slice_crop",
    """
    WITH kc(old_c, c) AS (VALUES (0, 0), (2, 1)),
         kz(old_z, z) AS (VALUES (1, 0), (3, 1), (4, 2)),
         yy AS (SELECT unnest(generate_series(30, 89)) AS y),
         xx AS (SELECT unnest(generate_series(100, 149)) AS x),
         px AS (
           SELECT 0 AS t, kc.c, kz.z,
                  (0*31 + kc.old_c*17 + kz.old_z*7 + yy.y*439 + xx.x) % 65536 AS v
           FROM kc, kz, yy, xx)
    SELECT t, c, z,
           CAST(MIN(v) AS INT)    AS px_min,
           CAST(MAX(v) AS INT)    AS px_max,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(COUNT(*) AS INT)  AS px_count
    FROM px GROUP BY t, c, z
    """,
)
def ome_slice_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = synth.golden_images_df(spark, ids=["multi-channel-z"], include_conftest=False)
    sliced = slice_images(
        imgs, 100, 150, 30, 90, t_indices=None, c_indices=[0, 2], z_indices=[1, 3, 4]
    )
    st = plane_stats(sliced)
    return st.select(
        F.col("t").cast("int"),
        F.col("c").cast("int"),
        F.col("z").cast("int"),
        "px_min",
        "px_max",
        "px_sum",
        "px_count",
    )


@register(
    "ome_slice_conftest",
    """
    SELECT * FROM (VALUES
       (0, 0, 0, '1,2,11,12'),
       (0, 1, 0, '101,102,111,112'))
    AS t(t, c, z, pixels_csv)
    """,
)
def ome_slice_conftest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-pixel crop: the conftest record's 4×3 planes cropped to
    x[1,3) y[0,2) — expected values computable by hand (pixels 0..23 /
    100..123, reference tests/conftest.py:56-70)."""
    imgs = synth.golden_images_df(spark, ids=["img-0001"])
    sliced = slice_images(imgs, 1, 3, 0, 2)
    return sliced.select(F.explode("ome_arrow.planes").alias("p")).select(
        F.col("p.t").cast("int").alias("t"),
        F.col("p.c").cast("int").alias("c"),
        F.col("p.z").cast("int").alias("z"),
        F.array_join("p.pixels", ",").alias("pixels_csv"),
    )


# Pure-SQL plane construction: Spark builds the dense plane set with
# sequence/transform higher-order functions (no Python data at all) and
# aggregates; DuckDB re-derives with generate_series. The dense plane
# grid is the one stack ingest zero-fills (SURVEY.md §2A S6).
@register(
    "ome_planes_sql",
    """
    WITH tt AS (SELECT unnest(generate_series(0, 6)) AS t),
         cc AS (SELECT unnest(generate_series(0, 2)) AS c),
         ii AS (SELECT unnest(generate_series(0, 167*439 - 1)) AS i)
    SELECT CAST(tt.t AS INT) AS t, CAST(cc.c AS INT) AS c,
           CAST(SUM((tt.t*31 + cc.c*17 + ii.i) % 65536) AS BIGINT) AS px_sum
    FROM tt, cc, ii
    GROUP BY tt.t, cc.c
    """,
)
def ome_planes_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-channel-time (7,3,1,167,439) built entirely JVM-side."""
    n = 167 * 439
    df = spark.range(1).select(
        F.expr(
            "explode(flatten(transform(sequence(0, 6), t -> "
            "transform(sequence(0, 2), c -> named_struct('t', t, 'c', c)))))"
        ).alias("k")
    )
    return (
        df.select(F.col("k.t").alias("t"), F.col("k.c").alias("c"))
        .repartition(8)
        .select(
            "t",
            "c",
            F.expr(
                f"aggregate(sequence(0, {n - 1}), cast(0 as bigint), "
                "(acc, i) -> acc + (t*31 + c*17 + i) % 65536)"
            ).alias("px_sum"),
        )
    )


# Full distributed stack ingest in the driver gate: write a small FTIF
# stack to a temp dir, ingest via the pattern engine (binaryFile +
# mapInArrow decode + one zero-fill/assembly task), aggregate
# per-plane sums.
# Plane (c, z) holds constant value c*100+z on a 16×16 grid, with
# (c=1, z=2) missing → zero-filled; the oracle recomputes arithmetic.
@register(
    "ome_stack_ingest",
    """
    WITH cc AS (SELECT unnest(generate_series(0, 1)) AS c),
         zz AS (SELECT unnest(generate_series(0, 3)) AS z)
    SELECT CAST(cc.c AS INT) AS c, CAST(zz.z AS INT) AS z,
           CAST(CASE WHEN cc.c = 1 AND zz.z = 2 THEN 0
                     ELSE (cc.c * 100 + zz.z) * 256 END AS BIGINT) AS px_sum
    FROM cc, zz
    """,
)
def ome_stack_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources.stack_pattern import from_stack_pattern
    from ome_arrow_spark.sources.tiff import encode_ftif

    d = tempfile.mkdtemp(prefix="ome_stack_q_")
    for c, ctok in enumerate(["111", "222"]):
        for z in range(4):
            if c == 1 and z == 2:
                continue  # hole → zero-fill path
            vol = np.full((1, 1, 1, 16, 16), c * 100 + z, dtype=np.int32)
            with open(os.path.join(d, f"Q_C{ctok}_ZS{z:03d}.tif"), "wb") as f:
                f.write(encode_ftif(vol, image_id=f"q{c}{z}"))
    imgs = from_stack_pattern(spark, os.path.join(d, "Q_C<111,222>_ZS<000-003>.tif"))
    return plane_stats(imgs).select(
        F.col("c").cast("int"), F.col("z").cast("int"), "px_sum"
    )


# Compressed-TIFF ingest in the driver gate: write REAL .tif bytes
# through the built-in encoder's codec matrix — LZW + Predictor-2
# striped, Deflate tiled, PackBits big-endian 8-bit, a BigTIFF
# (magic 43, 8-byte offsets) LZW variant, new-style JPEG
# (Compression=7) strips, CCITT Group 4 bilevel fax, and Zstd
# (Compression=50000, the modern tifffile default) + Predictor-2 — and
# ingest via the distributed binaryFile+mapInArrow path. Pixels follow a formula
# the DuckDB oracle recomputes arithmetically, so a single wrong byte
# anywhere in encode→decode breaks the hash. (Reference reads these
# compressed classes via BioIO/tifffile, ingest.py:321-330; writes them
# via tifffile's compression options, export.py:203-210.)
@register(
    "ome_tiff_codec_ingest",
    """
    WITH zz AS (SELECT unnest(generate_series(0, 3)) AS z),
         ii AS (SELECT unnest(generate_series(0, 32*48 - 1)) AS i),
         u AS (
           SELECT 'lzw_pred' AS image_id, zz.z,
                  SUM((zz.z*31 + ii.i) % 65536) AS s
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           SELECT 'deflate_tiled', zz.z, SUM((zz.z*47 + 2*ii.i) % 65536)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           SELECT 'packbits_be', zz.z, SUM((zz.z*13 + ii.i) % 199)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           SELECT 'bigtiff_lzw', zz.z, SUM((zz.z*7 + 3*ii.i) % 65536)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           SELECT 'ccitt_g4', zz.z,
                  SUM(CASE WHEN (zz.z*3 + ii.i) % 7 < 2 THEN 1 ELSE 0 END)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           SELECT 'zstd_pred', zz.z, SUM((zz.z*11 + 4*ii.i) % 65536)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           -- SOF3 lossless JPEG under Compression=7: BIT-EXACT, so —
           -- unlike the lossy jpeg rows — the oracle derives the
           -- uint16 sums arithmetically
           SELECT 'jpeg_lossless', zz.z, SUM((zz.z*23 + 6*ii.i) % 65536)
           FROM zz, ii GROUP BY zz.z
           UNION ALL
           -- new-style JPEG (Compression=7) is lossy: no arithmetic
           -- derivation exists, so the deterministic decoder's plane
           -- sums are pinned as golden values (codec drift → red row)
           SELECT * FROM (VALUES
             ('jpeg_strips', 0, 195848), ('jpeg_strips', 1, 195910),
             ('jpeg_strips', 2, 195744), ('jpeg_strips', 3, 195858),
             -- restart-interval variant (DRI + RST0-7 markers): pins the
             -- _BitReader.restart() drain-at-boundary path (ADVICE r6)
             ('jpeg_restart', 0, 195836), ('jpeg_restart', 1, 195796),
             ('jpeg_restart', 2, 195866), ('jpeg_restart', 3, 195812),
             -- arithmetic-coded variant (SOF9 + DAC, QM-coder): same
             -- quantized coefficients as a Huffman twin, decode
             -- bit-identical — pins the T.81 Annex D entropy layer
             ('jpeg_arith', 0, 195788), ('jpeg_arith', 1, 195792),
             ('jpeg_arith', 2, 195866), ('jpeg_arith', 3, 195914),
             -- old-style JPEG (Compression=6) in the TIFF 6.0 §22
             -- table-fragment layout: tables in tags 519-521, strips
             -- of bare entropy data, per-strip stream synthesis on
             -- decode (r9 — closed the last tifffile-only codec gate)
             ('jpeg_old_frag', 0, 195902), ('jpeg_old_frag', 1, 195838),
             ('jpeg_old_frag', 2, 195864), ('jpeg_old_frag', 3, 195894))
             jp(image_id, z, s))
    SELECT image_id, CAST(z AS INT) AS z, CAST(s AS BIGINT) AS px_sum
    FROM u
    """,
)
def ome_tiff_codec_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources.tiff import from_tiff_dir
    from ome_arrow_spark.sources.tiff_minimal import encode_tiff_baseline

    z, y, x = 4, 32, 48
    i = np.arange(y * x)
    d = tempfile.mkdtemp(prefix="ome_codec_q_")
    specs = {
        "lzw_pred": (
            np.stack([((zi * 31 + i) % 65536).reshape(y, x) for zi in range(z)])
            .astype(np.uint16),
            {"compression": "lzw", "predictor": True, "rows_per_strip": 7},
        ),
        "deflate_tiled": (
            np.stack([((zi * 47 + 2 * i) % 65536).reshape(y, x) for zi in range(z)])
            .astype(np.uint16),
            {"compression": "deflate", "tile": (16, 16)},
        ),
        "packbits_be": (
            np.stack([((zi * 13 + i) % 199).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "packbits", "big_endian": True, "rows_per_strip": 5},
        ),
        "bigtiff_lzw": (
            np.stack([((zi * 7 + 3 * i) % 65536).reshape(y, x) for zi in range(z)])
            .astype(np.uint16),
            {"compression": "lzw", "bigtiff": True, "rows_per_strip": 11},
        ),
        "jpeg_strips": (
            np.stack([((zi * 13 + 5 * i) % 256).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "jpeg", "jpeg_quality": 90, "rows_per_strip": 16},
        ),
        "jpeg_restart": (
            np.stack([((zi * 19 + 7 * i) % 256).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "jpeg", "jpeg_quality": 90, "rows_per_strip": 16,
             "jpeg_restart_interval": 2},
        ),
        "jpeg_arith": (
            np.stack([((zi * 29 + 3 * i) % 256).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "jpeg", "jpeg_quality": 90, "rows_per_strip": 16,
             "jpeg_arithmetic": True},
        ),
        "jpeg_old_frag": (
            np.stack([((zi * 37 + 9 * i) % 256).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "jpeg_old", "jpeg_quality": 90,
             "rows_per_strip": 16},
        ),
        "ccitt_g4": (
            np.stack([(((zi * 3 + i) % 7) < 2).reshape(y, x) for zi in range(z)])
            .astype(np.uint8),
            {"compression": "ccitt_g4", "rows_per_strip": 9},
        ),
        "zstd_pred": (
            np.stack([((zi * 11 + 4 * i) % 65536).reshape(y, x) for zi in range(z)])
            .astype(np.uint16),
            {"compression": "zstd", "predictor": True, "rows_per_strip": 14},
        ),
        "jpeg_lossless": (
            np.stack([((zi * 23 + 6 * i) % 65536).reshape(y, x) for zi in range(z)])
            .astype(np.uint16),
            {"compression": "jpeg_lossless", "rows_per_strip": 11},
        ),
    }
    for iid, (vol, kw) in specs.items():
        with open(os.path.join(d, f"{iid}.tif"), "wb") as f:
            f.write(encode_tiff_baseline(vol, **kw))
    imgs = from_tiff_dir(spark, d, glob="*.tif")
    return plane_stats(imgs).select(
        "image_id", F.col("z").cast("int"), "px_sum"
    )


# Built-in V1 render (view_ops.render_plane_png): per channel of the
# nviz 128×128 formula image, render the (0,c,0) plane to a PNG
# through the from-scratch codec and decode it BACK — the oracle
# re-derives the display mapping round(((v-lo)/span)·255) arithmetically
# (the formula makes lo=c*17, span=16383 exact, and no mapped value
# lands on a .5 tie — 16383·(2k+1) is odd while (v-lo)·510 is even —
# so numpy half-even and SQL half-up rounding agree everywhere).
# One wrong byte in autoscale, colormap, PNG encode OR decode breaks
# the sum. (Reference renders via matplotlib imshow, view.py:32-54;
# this is the dependency-free twin.)
@register(
    "ome_render_png",
    """
    WITH cc AS (SELECT unnest([0, 1]) AS c),
         yy AS (SELECT unnest(generate_series(0, 127)) AS y),
         xx AS (SELECT unnest(generate_series(0, 127)) AS x)
    SELECT CAST(cc.c AS INT) AS c,
           CAST(SUM(ROUND(
             ((CAST((cc.c*17 + yy.y*128 + xx.x) % 65536 AS DOUBLE)
               - cc.c*17) / 16383.0) * 255.0
           )) AS BIGINT) AS png_sum
    FROM cc, yy, xx GROUP BY cc.c
    """,
)
def ome_render_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators.view_ops import render_plane_png
    from ome_arrow_spark.sources.png_minimal import png_decode

    imgs = synth.golden_images_df(
        spark, ids=["nviz-2ch-single"], include_conftest=False
    )
    rec = imgs.select("ome_arrow").first()[0].asDict(recursive=True)
    rows = []
    for c in (0, 1):
        img = png_decode(render_plane_png(rec, tcz=(0, c, 0)))
        rows.append((c, int(img.astype(np.int64).sum())))
    return spark.createDataFrame(rows, "c int, png_sum bigint")


# Multiscale LOD: mean-pool (factor 2, integer floor) of nviz-2ch-single,
# checked cell-exactly by DuckDB re-deriving the pooled sum from the
# pixel formula pixel(c,y,x) = (c*17 + y*128 + x) % 65536.
@register(
    "ome_multiscale",
    """
    WITH cc AS (SELECT unnest(generate_series(0, 1)) AS c),
         ny AS (SELECT unnest(generate_series(0, 63)) AS ny),
         nx AS (SELECT unnest(generate_series(0, 63)) AS nx),
         dd AS (SELECT a.dy, b.dx FROM (SELECT unnest([0,1]) dy) a,
                                       (SELECT unnest([0,1]) dx) b),
         cell AS (
           SELECT cc.c, ny.ny, nx.nx,
                  SUM((cc.c*17 + (ny.ny*2 + dd.dy)*128 + (nx.nx*2 + dd.dx)) % 65536)
                    // 4 AS pooled
           FROM cc, ny, nx, dd
           GROUP BY cc.c, ny.ny, nx.nx)
    SELECT CAST(c AS INT) AS c, CAST(SUM(pooled) AS BIGINT) AS px_sum,
           CAST(MIN(pooled) AS INT) AS px_min,
           CAST(MAX(pooled) AS INT) AS px_max
    FROM cell GROUP BY c
    """,
)
def ome_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.multiscale import downsample_planes
    from ome_arrow_spark.operators.views import planes_df

    imgs = synth.golden_images_df(spark, ids=["nviz-2ch-single"], include_conftest=False)
    lod1 = downsample_planes(planes_df(imgs), 2)
    return lod1.select(
        F.col("c").cast("int"),
        F.aggregate("pixels", F.lit(0).cast("long"), lambda a, v: a + v).alias("px_sum"),
        F.array_min("pixels").alias("px_min"),
        F.array_max("pixels").alias("px_max"),
    )


# Zarr v3 round-trip in the driver gate: build the same 2-channel
# 128×128 formula image as ome_multiscale, write a REAL Zarr v3 / NGFF
# 0.5 store — sharding_indexed shards of gzip inner chunks with
# CRC-32C-checksummed uint64 indexes — with a 2-level pyramid via the
# built-in v3 codec, ingest level 1 back through the distributed
# manifest path, and have DuckDB re-derive the pooled sums
# arithmetically. One wrong byte in the v3/shard write OR read breaks
# the hash. (Reference writes the same layouts via the zarr package,
# export.py:265-289 + shard_shape at :345-348.)
@register(
    "ome_zarr_v3_roundtrip",
    """
    WITH cc AS (SELECT unnest(generate_series(0, 1)) AS c),
         ny AS (SELECT unnest(generate_series(0, 63)) AS ny),
         nx AS (SELECT unnest(generate_series(0, 63)) AS nx),
         dd AS (SELECT a.dy, b.dx FROM (SELECT unnest([0,1]) dy) a,
                                       (SELECT unnest([0,1]) dx) b),
         cell AS (
           SELECT cc.c, ny.ny, nx.nx,
                  SUM((cc.c*17 + (ny.ny*2 + dd.dy)*128 + (nx.nx*2 + dd.dx)) % 65536)
                    // 4 AS pooled
           FROM cc, ny, nx, dd
           GROUP BY cc.c, ny.ny, nx.nx)
    SELECT CAST(c AS INT) AS c, CAST(SUM(pooled) AS BIGINT) AS px_sum,
           CAST(MIN(pooled) AS INT) AS px_min,
           CAST(MAX(pooled) AS INT) AS px_max
    FROM cell GROUP BY c
    """,
)
def ome_zarr_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources.zarr import build_pyramid, from_zarr_manifest
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    yy, xx = np.meshgrid(np.arange(128), np.arange(128), indexing="ij")
    vol = np.stack(
        [(c * 17 + yy * 128 + xx) % 65536 for c in range(2)]
    )[np.newaxis, :, np.newaxis]
    d = tempfile.mkdtemp(prefix="ome_v3_q_")
    store = os.path.join(d, "v3img.zarr")
    write_ngff_store(
        store,
        [lv.astype("<u2") for lv in build_pyramid(vol, 2)],
        image_id="v3img",
        channel_names=["C0", "C1"],
        compressor="gzip",
        zarr_format=3,
        chunks=(1, 1, 1, 32, 32),
        shards=(1, 1, 1, 64, 64),
    )
    imgs = from_zarr_manifest(spark, [store], level=1)
    return plane_stats(imgs).select(
        F.col("c").cast("int"),
        "px_sum",
        F.col("px_min").cast("int"),
        F.col("px_max").cast("int"),
    )


# Blosc- and zstd-compressed Zarr v2 round-trips in the driver gate:
# write REAL NGFF 0.4 stores — one with blosc1-framed chunks (zlib
# inner codec + byte-shuffle, the layout zarr-python writes for
# Blosc(cname='zlib')), one with bare numcodecs-zstd frames (pyarrow's
# bundled C codec) — ingest both back through the distributed manifest
# path, and have DuckDB re-derive the plane stats arithmetically.
# Covers the wild-store default compressor families the engine
# previously gated wholesale on the zarr package (reference
# export.py:265-289 passes blosc straight to zarr).
@register(
    "ome_zarr_blosc_roundtrip",
    """
    WITH px AS (
      SELECT cc.c AS c, (cc.c*29 + y.y*96 + x.x) % 65536 AS v
      FROM (SELECT unnest(generate_series(0, 1)) AS c) cc,
           (SELECT unnest(generate_series(0, 95)) AS y) y,
           (SELECT unnest(generate_series(0, 95)) AS x) x),
    stats AS (
      SELECT CAST(c AS INT) AS c, CAST(SUM(v) AS BIGINT) AS px_sum,
             CAST(MIN(v) AS INT) AS px_min,
             CAST(MAX(v) AS INT) AS px_max
      FROM px GROUP BY c)
    SELECT codec, c, px_sum, px_min, px_max
    FROM (SELECT unnest(['blosc-blosclz', 'blosc-zlib', 'zstd']) AS codec) k,
         stats
    """,
)
def ome_zarr_blosc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources.zarr import from_zarr_manifest
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    yy, xx = np.meshgrid(np.arange(96), np.arange(96), indexing="ij")
    vol = np.stack(
        [(c * 29 + yy * 96 + xx) % 65536 for c in range(2)]
    )[np.newaxis, :, np.newaxis].astype("<u2")
    d = tempfile.mkdtemp(prefix="ome_blosc_q_")
    outs = []
    specs = (
        ("blosc-blosclz",
         {"id": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 1}),
        ("blosc-zlib", "blosc"),
        ("zstd", "zstd"),
    )
    for codec, comp in specs:
        store = os.path.join(d, f"img_{codec}.zarr")
        write_ngff_store(
            store,
            [vol],
            image_id=f"img_{codec}",
            channel_names=["C0", "C1"],
            compressor=comp,
            compression_level=5,
            zarr_format=2,
            chunks=(1, 1, 1, 32, 32),
        )
        chunk0 = open(os.path.join(store, "0", "0.0.0.0.0"), "rb").read()
        if codec == "blosc-blosclz":  # blosclz format id 0 (or memcpy)
            assert (chunk0[2] >> 5) == 0 or (chunk0[2] & 0x2)
        elif codec == "blosc-zlib":  # blosc1 frame, zlib format id
            assert (chunk0[2] >> 5) == 3 or (chunk0[2] & 0x2)
        else:  # bare zstd frame magic
            assert chunk0[:4] == b"\x28\xb5\x2f\xfd"
        imgs = from_zarr_manifest(spark, [store], level=0)
        outs.append(
            plane_stats(imgs).select(
                F.lit(codec).alias("codec"),
                F.col("c").cast("int"),
                "px_sum",
                F.col("px_min").cast("int"),
                F.col("px_max").cast("int"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# V1 plane lookup + autoscale: exact (t,c,z) plane of multi-channel-z.
@register(
    "ome_view_plane",
    """
    WITH px AS (
      SELECT (17 + 2*7 + y.y*439 + x.x) % 65536 AS v
      FROM (SELECT unnest(generate_series(0, 166)) AS y) y,
           (SELECT unnest(generate_series(0, 438)) AS x) x)
    SELECT 'multi-channel-z' AS image_id,
           CAST(MIN(v) AS INT) AS vmin,
           CAST(MAX(v) AS INT) AS vmax,
           CAST(COUNT(*) AS INT) AS n_px
    FROM px
    """,
)
def ome_view_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import plane_lookup

    imgs = synth.golden_images_df(spark, ids=["multi-channel-z"], include_conftest=False)
    return plane_lookup(imgs, t=0, c=1, z=2).select(
        "image_id", "vmin", "vmax", F.size("pixels").alias("n_px")
    )


# V2 volume contrast: exact percentiles (1.0, 99.9) over the 1-channel
# z-stack volume; DuckDB quantile_cont is the oracle.
@register(
    "ome_volume_contrast",
    """
    WITH vx AS (
      SELECT (z.z*7 + i.i) % 65536 AS v
      FROM (SELECT unnest(generate_series(0, 21)) AS z) z,
           (SELECT unnest(generate_series(0, 128*128 - 1)) AS i) i)
    SELECT 'nviz-1ch-stack' AS image_id,
           ROUND(quantile_cont(v, 0.01), 6) AS clim_lo,
           ROUND(quantile_cont(v, 0.999), 6) AS clim_hi,
           COUNT(*) AS n_voxels
    FROM vx
    """,
)
def ome_volume_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import volume_contrast

    imgs = synth.golden_images_df(spark, ids=["nviz-1ch-stack"], include_conftest=False)
    vc = volume_contrast(imgs, c=0, lo=0.01, hi=0.999, exact=True)
    return vc.select(
        "image_id",
        F.round("clim_lo", 6).alias("clim_lo"),
        F.round("clim_hi", 6).alias("clim_hi"),
        "n_voxels",
    )


# U1 verify as a driver query: invariant checks over golden images
# (dense planes, plane lengths, channel counts) — all true by
# construction, asserted as literal oracle VALUES.
def _verify_values() -> str:
    ids = [s[0] for s in synth.GOLDEN_SHAPES] + ["img-0001"]
    return ",\n       ".join(f"('{i}', TRUE, TRUE, TRUE, TRUE, TRUE)" for i in ids)


@register(
    "ome_verify",
    f"""
    SELECT * FROM (VALUES
       {_verify_values()})
    AS t(image_id, type_ok, planes_dense, plane_lengths_ok, channels_ok, valid)
    """,
)
def ome_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.describe import verify

    return verify(synth.golden_images_df(spark))


# RGBA channel-color repack (reference K3 export.py:182-187):
# 0xRRGGBBAA → r/g/b/alpha on the conftest channels.
@register(
    "ome_rgba_repack",
    """
    SELECT * FROM (VALUES
       ('img-0001', 'DNA',  0,   0,   255, 255),
       ('img-0001', 'Mito', 255, 0,   0,   255))
    AS t(image_id, name, r, g, b, alpha)
    """,
)
def ome_rgba_repack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.functions.pixels import rgba_alpha, rgba_to_rgb
    from ome_arrow_spark.operators.views import channels_df

    imgs = synth.golden_images_df(spark, ids=["img-0001"], with_pixels=False)
    ch = channels_df(imgs)
    rgb = rgba_to_rgb(F.col("color_rgba"))
    return ch.select(
        "image_id",
        "name",
        rgb["r"].cast("int").alias("r"),
        rgb["g"].cast("int").alias("g"),
        rgb["b"].cast("int").alias("b"),
        rgba_alpha(F.col("color_rgba")).cast("int").alias("alpha"),
    )


# Pixel-intensity histogram (the imaging primitive behind contrast
# stretching / equalization): 16 buckets of 4096 over the uint16 domain
# for one channel volume, exact integer bucketing both engines.
@register(
    "ome_histogram",
    """
    WITH vx AS (
      SELECT ((17 + z.z*7 + i.i) % 65536) // 4096 AS bucket
      FROM (SELECT unnest(generate_series(0, 4)) AS z) z,
           (SELECT unnest(generate_series(0, 167*439 - 1)) AS i) i)
    SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n_px
    FROM vx GROUP BY bucket
    """,
)
def ome_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel c=1 of multi-channel-z: explode planes → bucketize."""
    from ome_arrow_spark.operators.views import planes_df

    imgs = synth.golden_images_df(spark, ids=["multi-channel-z"], include_conftest=False)
    pl = planes_df(imgs).filter(F.col("c") == 1)
    return (
        pl.select(F.explode("pixels").alias("v"))
        .groupBy(F.floor(F.col("v") / 4096).cast("int").alias("bucket"))
        .agg(F.count("*").alias("n_px"))
    )




# The README's core promise (reference README.md:20-22): images stored
# as VALUES in tables, queryable next to feature/metadata relations.
# Golden images join an inline experiment-metadata dim; per-plate
# aggregate over image classification + pixel geometry.
def _plate_dim_rows():
    rows = []
    shapes = list(synth.GOLDEN_SHAPES) + [("img-0001", 1, 2, 1, 3, 4)]
    for i, (iid, *_rest) in enumerate(shapes):
        rows.append((iid, f"plate-{i % 3}", "DAPI" if i % 2 else "GFP"))
    return rows


@register(
    "ome_feature_join",
    f"""
    WITH dim(image_id, plate, stain) AS (VALUES
        {", ".join("('%s', '%s', '%s')" % r for r in _plate_dim_rows())}),
    img(image_id, size_t, size_c, size_z, size_y, size_x) AS (VALUES
        {", ".join("('%s', %d, %d, %d, %d, %d)" % s for s in (list(synth.GOLDEN_SHAPES) + [("img-0001", 1, 2, 1, 3, 4)]))})
    SELECT plate, stain,
           COUNT(*) AS n_images,
           CAST(SUM(CAST(size_t AS BIGINT) * size_c * size_z * size_y * size_x) AS BIGINT)
             AS total_px,
           CAST(SUM(CASE WHEN size_t = 1 AND size_z = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_2d
    FROM img JOIN dim USING (image_id)
    GROUP BY plate, stain
    """,
)
def ome_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = synth.golden_images_df(spark, with_pixels=False)
    dim = spark.createDataFrame(_plate_dim_rows(), "image_id string, plate string, stain string")
    d = describe(imgs)
    px = (
        F.col("size_t").cast("bigint")
        * F.col("size_c") * F.col("size_z") * F.col("size_y") * F.col("size_x")
    )
    return (
        d.join(F.broadcast(dim), "image_id")
        .groupBy("plate", "stain")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(px).alias("total_px"),
            F.sum(
                F.when((F.col("size_t") == 1) & (F.col("size_z") == 1), 1).otherwise(0)
            ).alias("n_2d"),
        )
    )


# Background subtraction (flat-field-style correction): per plane,
# subtract the plane minimum and clamp at 0 — a pure array expression.
# nviz shapes don't wrap uint16, so min/max/sums are closed-form.
@register(
    "ome_bg_subtract",
    """
    WITH pl AS (SELECT CAST(c.c AS INT) AS c, CAST(z.z AS INT) AS z,
                        (c.c*100 + z.z*7) AS base
                FROM (SELECT unnest(generate_series(0, 1)) AS c) c,
                     (SELECT unnest(generate_series(0, 21)) AS z) z),
    px AS (SELECT c, z, base, unnest(generate_series(0, 128*128 - 1)) AS i FROM pl)
    SELECT c, z,
           CAST(SUM(CASE WHEN (base*0 + i) > 0 THEN i ELSE 0 END) AS BIGINT) AS corrected_sum,
           CAST(MAX(i) AS INT) AS corrected_max
    FROM px GROUP BY c, z
    """,
)
def ome_bg_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planes use pixel = base + i (no wrap at 128²): after subtracting
    the per-plane min (= base), the corrected plane is exactly i —
    DuckDB re-derives sums/max of i directly. Synth pixels use
    base = t*31 + c*17 + z*7; this fixture remaps c→c*100 via a custom
    image to make per-channel bases distinct."""
    import numpy as np

    from ome_arrow_spark.sources.ome_parquet import spark_table_from_records
    from ome_arrow_spark.synth import golden_record

    rec = golden_record("bg", 1, 2, 22, 128, 128)
    for p in rec["planes"]:
        base = p["c"] * 100 + p["z"] * 7
        p["pixels"] = (base + np.arange(128 * 128, dtype=np.int64)).astype(np.int32)
    imgs = spark_table_from_records(spark, [rec])

    from ome_arrow_spark.operators.views import planes_df

    pl = planes_df(imgs)
    # Bind the plane min ONCE via a singleton-array lambda (the
    # let-binding idiom from slice_op): a plain column alias gets
    # collapsed back INTO the element lambda by CollapseProject,
    # re-scanning the array per element — O(n²) per plane, measured
    # 300× slower. Lambda-bound variables survive optimization.
    corrected = pl.select(
        F.col("c").cast("int"),
        F.col("z").cast("int"),
        F.expr(
            "flatten(transform(array(array_min(pixels)), "
            "mn -> transform(pixels, v -> greatest(v - mn, 0))))"
        ).alias("px"),
    )
    return corrected.select(
        "c",
        "z",
        F.aggregate("px", F.lit(0).cast("long"), lambda a, v: a + v).alias("corrected_sum"),
        F.array_max("px").alias("corrected_max"),
    )


# Max-intensity projection along Z (the classic z-stack render):
# nviz-1ch-stack pixels are (z*7 + i) % 65536 with no wrap at 128², so
# the MIP is exactly 21*7 + i — DuckDB re-derives sums/extremes.
@register(
    "ome_mip",
    """
    WITH px AS (SELECT 147 + i.i AS v
                FROM (SELECT unnest(generate_series(0, 128*128 - 1)) AS i) i)
    SELECT 'nviz-1ch-stack' AS image_id,
           CAST(SUM(v) AS BIGINT) AS mip_sum,
           CAST(MIN(v) AS INT) AS mip_min,
           CAST(MAX(v) AS INT) AS mip_max
    FROM px
    """,
)
def ome_mip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import max_intensity_projection

    imgs = synth.golden_images_df(spark, ids=["nviz-1ch-stack"], include_conftest=False)
    mip = max_intensity_projection(imgs, c=0, t=0)
    return mip.select(
        "image_id",
        F.aggregate("mip", F.lit(0).cast("long"), lambda a, v: a + v).alias("mip_sum"),
        F.array_min("mip").alias("mip_min"),
        F.array_max("mip").alias("mip_max"),
    )


# Channel colocalization (Pearson between stains) on the conftest
# record: channel pixels are i and 100+i — perfectly correlated, and
# the moments are tiny enough for literal VALUES.
@register(
    "ome_colocalization",
    """
    SELECT 'img-0001' AS image_id, 12 AS n_px, CAST(1.0 AS DOUBLE) AS pearson
    """,
)
def ome_colocalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import channel_colocalization

    imgs = synth.golden_images_df(spark, ids=["img-0001"])
    out = channel_colocalization(imgs, c1=0, c2=1)
    return out.select(
        "image_id", F.col("n_px").cast("int"), F.round("pearson", 9).alias("pearson")
    )


# Timelapse intensity trend (photobleaching-style analysis): per-frame
# mean intensity of the time-series image plus the least-squares slope
# over t — all from exact integer sums, regression arithmetic in
# doubles on identical operands.
@register(
    "ome_timelapse_trend",
    """
    WITH px AS (
      SELECT t.t AS t, (t.t*31 + i.i) % 65536 AS v
      FROM (SELECT unnest(generate_series(0, 6)) AS t) t,
           (SELECT unnest(generate_series(0, 167*439 - 1)) AS i) i),
    per_t AS (
      SELECT t, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n FROM px GROUP BY t),
    fit AS (
      SELECT COUNT(*) AS k,
             CAST(CAST(SUM(t) AS VARCHAR(64)) AS DOUBLE) AS st,
             CAST(CAST(SUM(CAST(s AS DOUBLE) / n) AS VARCHAR(64)) AS DOUBLE) AS sm,
             CAST(CAST(SUM(t * (CAST(s AS DOUBLE) / n)) AS VARCHAR(64)) AS DOUBLE) AS stm,
             CAST(CAST(SUM(CAST(t AS DOUBLE) * t) AS VARCHAR(64)) AS DOUBLE) AS stt
      FROM per_t)
    SELECT p.t, CAST(p.s AS BIGINT) AS px_sum,
           ROUND(CAST(p.s AS DOUBLE) / p.n, 6) AS mean_intensity,
           ROUND((f.k * f.stm - f.st * f.sm) / (f.k * f.stt - f.st * f.st), 6)
             AS bleach_slope
    FROM per_t p CROSS JOIN fit f
    """,
)
def ome_timelapse_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.views import plane_stats

    imgs = synth.golden_images_df(spark, ids=["time-series"], include_conftest=False)
    per_t = plane_stats(imgs).select(
        F.col("t").cast("long").alias("t"),
        F.col("px_sum"),
        (F.col("px_sum").cast("double") / F.col("px_count")).alias("m"),
    )
    k, st = F.count("*"), F.sum("t").cast("double")
    sm, stm = F.sum("m"), F.sum(F.col("t") * F.col("m"))
    stt = F.sum((F.col("t") * F.col("t")).cast("double"))
    fit = per_t.agg(
        ((k * stm - st * sm) / (k * stt - st * st)).alias("slope")
    )
    return per_t.crossJoin(F.broadcast(fit)).select(
        "t",
        "px_sum",
        F.round("m", 6).alias("mean_intensity"),
        F.round("slope", 6).alias("bleach_slope"),
    )


# ---------------------------------------------------------------------------
# Training-patch extraction: non-overlapping 64×64 tiles from every
# plane of multi-channel-z (1×3×5×167×439 → 15 planes × 2×6 tiles).
# The oracle re-derives each tile's stats arithmetically from the
# golden pixel formula over the same grid — an independent computation
# of the row-major tile-gather indexing.
# ---------------------------------------------------------------------------
@register(
    "ome_patch_extract",
    """
    WITH cc AS (SELECT unnest(generate_series(0, 2)) AS c),
         zz AS (SELECT unnest(generate_series(0, 4)) AS z),
         gy AS (SELECT unnest(generate_series(0, 1)) AS gy),
         gx AS (SELECT unnest(generate_series(0, 5)) AS gx),
         rr AS (SELECT unnest(generate_series(0, 63)) AS r),
         xx AS (SELECT unnest(generate_series(0, 63)) AS x),
         px AS (
           SELECT cc.c, zz.z, gy.gy, gx.gx,
                  (cc.c*17 + zz.z*7 + (gy.gy*64 + rr.r)*439 + gx.gx*64 + xx.x)
                    % 65536 AS v
           FROM cc, zz, gy, gx, rr, xx)
    SELECT CAST(0 AS INT) AS t, CAST(c AS INT) AS c, CAST(z AS INT) AS z,
           CAST(gy AS INT) AS gy, CAST(gx AS INT) AS gx,
           CAST(MIN(v) AS INT) AS p_min,
           CAST(MAX(v) AS INT) AS p_max,
           CAST(SUM(v) AS BIGINT) AS p_sum,
           CAST(COUNT(*) AS INT) AS p_count
    FROM px GROUP BY c, z, gy, gx
    """,
)
def ome_patch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import extract_patches

    imgs = synth.golden_images_df(
        spark, ids=["multi-channel-z"], include_conftest=False
    )
    patches = extract_patches(imgs, patch=64)
    return patches.select(
        F.col("t").cast("int"),
        F.col("c").cast("int"),
        F.col("z").cast("int"),
        F.col("gy").cast("int"),
        F.col("gx").cast("int"),
        F.array_min("patch_pixels").alias("p_min"),
        F.array_max("patch_pixels").alias("p_max"),
        F.aggregate(
            "patch_pixels", F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("p_sum"),
        F.size("patch_pixels").alias("p_count"),
    )


# ---------------------------------------------------------------------------
# Best-focus selection: Brenner sharpness per plane + rank within each
# (t, c) — the z-stack QC query. Oracle recomputes the squared
# neighbor-difference sum from the pixel formula (row-end pairs
# excluded on both sides).
# ---------------------------------------------------------------------------
@register(
    "ome_focus_rank",
    """
    WITH cc AS (SELECT unnest(generate_series(0, 2)) AS c),
         zz AS (SELECT unnest(generate_series(0, 4)) AS z),
         yy AS (SELECT unnest(generate_series(0, 166)) AS y),
         xx AS (SELECT unnest(generate_series(0, 437)) AS x),
         d AS (
           SELECT cc.c, zz.z,
                  ((cc.c*17 + zz.z*7 + yy.y*439 + xx.x + 1) % 65536)
                - ((cc.c*17 + zz.z*7 + yy.y*439 + xx.x) % 65536) AS df
           FROM cc, zz, yy, xx),
         f AS (SELECT c, z, SUM(df*df) AS focus FROM d GROUP BY c, z)
    SELECT CAST(0 AS INT) AS t, CAST(c AS INT) AS c, CAST(z AS INT) AS z,
           CAST(focus AS BIGINT) AS focus,
           CAST(ROW_NUMBER() OVER (PARTITION BY c ORDER BY focus DESC, z) AS INT)
             AS rk
    FROM f
    """,
)
def ome_focus_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import focus_metric

    imgs = synth.golden_images_df(
        spark, ids=["multi-channel-z"], include_conftest=False
    )
    return focus_metric(imgs).select(
        F.col("t").cast("int"),
        F.col("c").cast("int"),
        F.col("z").cast("int"),
        "focus",
        "rk",
    )


# ---------------------------------------------------------------------------
# Radial intensity profile: mean intensity by integer distance from the
# plane center — the illumination-falloff / PSF diagnostic. IEEE sqrt
# is correctly rounded, so FLOOR(SQRT(int)) agrees across engines.
# Spark: positions explode once, then a groupBy on radius (tiny key
# space ≤ diag/1) with exact integer sums.
# ---------------------------------------------------------------------------
@register(
    "ome_radial_profile",
    """
    WITH yy AS (SELECT unnest(generate_series(0, 166)) AS y),
         xx AS (SELECT unnest(generate_series(0, 438)) AS x),
         px AS (
           SELECT CAST(FLOOR(SQRT((yy.y - 83)*(yy.y - 83) + (xx.x - 219)*(xx.x - 219))) AS INT) AS r,
                  (yy.y*439 + xx.x) % 65536 AS v
           FROM yy, xx)
    SELECT r, CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(v) AS BIGINT) AS sum_v
    FROM px GROUP BY r ORDER BY r
    """,
)
def ome_radial_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.views import planes_df

    imgs = synth.golden_images_df(
        spark, ids=["single-channel"], include_conftest=False
    )
    pl = planes_df(imgs)
    # explode pixel positions; radius from the integer center (y,x)
    pos = pl.select(
        "size_x",
        "pixels",
        F.explode(F.sequence(F.lit(0), F.size("pixels") - 1)).alias("i"),
    ).select(
        F.floor(
            F.sqrt(
                (F.expr("i div size_x") - 83) * (F.expr("i div size_x") - 83)
                + (F.col("i") % F.col("size_x") - 219)
                * (F.col("i") % F.col("size_x") - 219)
            )
        )
        .cast("int")
        .alias("r"),
        F.element_at("pixels", F.col("i") + 1).alias("v"),
    )
    return (
        pos.groupBy("r")
        .agg(
            F.count("*").alias("n_px"),
            F.sum(F.col("v").cast("long")).alias("sum_v"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Mean-threshold segmentation stats: per z-plane of channel c=1, the
# plane-mean threshold and the foreground fraction above it — the
# simplest auto-threshold (cf. Otsu) as a two-window relational pass:
# explode once, window-avg per plane, conditional count. The oracle
# re-derives every pixel from the synthesis formula via
# generate_series (an independent implementation of the semantics).
# ---------------------------------------------------------------------------
@register(
    "ome_threshold_stats",
    """
    WITH vx AS (
      SELECT z.z AS z, ((17 + z.z*7 + i.i) % 65536) AS v
      FROM (SELECT unnest(generate_series(0, 4)) AS z) z,
           (SELECT unnest(generate_series(0, 167*439 - 1)) AS i) i),
    m AS (SELECT z, CAST(CAST(SUM(v) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS mean_v
          FROM vx GROUP BY z)
    SELECT CAST(vx.z AS INT) AS z,
           ROUND(m.mean_v, 6) AS mean_v,
           COUNT(*) FILTER (WHERE vx.v > m.mean_v) AS n_above,
           ROUND(COUNT(*) FILTER (WHERE vx.v > m.mean_v) * 1.0 / COUNT(*), 6)
             AS frac_above
    FROM vx JOIN m USING (z)
    GROUP BY vx.z, m.mean_v
    """,
)
def ome_threshold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.views import planes_df
    from pyspark.sql.window import Window

    imgs = synth.golden_images_df(spark, ids=["multi-channel-z"], include_conftest=False)
    pl = (
        planes_df(imgs)
        .filter(F.col("c") == 1)
        .select("z", F.explode("pixels").alias("v"))
    )
    w = Window.partitionBy("z")
    m = pl.withColumn(
        "mean_v",
        F.sum("v").over(w).cast("double") / F.count("v").over(w),
    )
    above = F.count_if(F.col("v") > F.col("mean_v"))
    return m.groupBy(F.col("z").cast("int").alias("z")).agg(
        F.round(F.first("mean_v"), 6).alias("mean_v"),
        above.alias("n_above"),
        F.round(above * F.lit(1.0) / F.count("*"), 6).alias("frac_above"),
    )


# ---------------------------------------------------------------------------
# Composed imaging pipeline in ONE query: T1 slice (crop + z keep-list
# + dense reindex) → max-intensity projection over the SLICED volume →
# projection statistics. Each stage is individually driver-verified
# (`ome_slice_crop`, `ome_mip`); this row certifies they compose — the
# oracle re-derives the crop-then-project arithmetic from the pixel
# formula (nviz-1ch-stack: v(z,y,x) = z*7 + y*128 + x, no 65536 wrap
# inside the cropped range, so max over kept z∈[2,12] is z=12).
# ---------------------------------------------------------------------------
@register(
    "ome_pipeline",
    """
    WITH yy AS (SELECT unnest(generate_series(10, 59)) AS y),
         xx AS (SELECT unnest(generate_series(20, 99)) AS x),
         mip AS (SELECT 12*7 + yy.y*128 + xx.x AS v FROM yy, xx)
    SELECT 'nviz-1ch-stack' AS image_id,
           CAST(COUNT(*) AS INT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS mip_sum,
           CAST(MIN(v) AS INT) AS mip_min,
           CAST(MAX(v) AS INT) AS mip_max
    FROM mip
    """,
)
def ome_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.view_ops import max_intensity_projection

    imgs = synth.golden_images_df(
        spark, ids=["nviz-1ch-stack"], include_conftest=False
    )
    sliced = slice_images(
        imgs, 20, 100, 10, 60,
        t_indices=None, c_indices=None, z_indices=list(range(2, 13)),
    )
    mip = max_intensity_projection(sliced, c=0, t=0)
    return mip.select(
        "image_id",
        F.size("mip").alias("n_px"),
        F.aggregate("mip", F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "mip_sum"
        ),
        F.array_min("mip").alias("mip_min"),
        F.array_max("mip").alias("mip_max"),
    )
