"""Mega-image stress (VERDICT r7 "Next round" #1): one 2048×2048,
T×C×Z = 3×2×8 image — 48 planes, ~200 MB of uint16 payload (~800 MB as
Arrow int32) in a SINGLE row — driven through the full §2A pipeline:
distributed plane generation → struct assembly → describe → slice →
MIP → multiscale → TIFF and Zarr round-trips.

This is the regime SURVEY.md §7 flags (plane payload size, 2 GB array
limits, jumbo-row shuffles, partition sizing) that the ≤512² fixtures
never reach.  Planes are generated on executors (48 parallel tasks)
and only the final per-image assembly concentrates one image's bytes
in one task — the same concentration any per-image writer has.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark import synth
from ome_arrow_spark.operators.views import planes_df

T_, C_, Z_, Y_, X_ = 3, 2, 8, 2048, 2048


def _scrub(spark):
    """Unpersist every cached relation and checkpoint, drop Python-side
    references so the ContextCleaner can reap finished checkpoint /
    broadcast blocks, then force the JVM GC that triggers it."""
    import gc
    import time

    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


@pytest.fixture(autouse=True, scope="module")
def _clean_session_memory(spark):
    """These tests localCheckpoint ~800 MB rows into BLOCK storage of
    the SHARED session JVM.  Run standalone they have 2.4× headroom,
    but at the tail of the full suite ~900 earlier tests leave cached
    relations / checkpoint blocks behind and the same allocation OOMs
    the 8g heap (observed r10: Java heap space at stage ~1641, every
    later test cascading to ConnectionRefused).  Enter (and leave) the
    module with a drained block manager instead of inheriting the
    suite's leftovers.  MODULE scope, not per-test: the `mega` df is
    itself a module-scoped localCheckpoint — a per-test scrub reaps
    its blocks between tests (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    _scrub(spark)
    yield
    _scrub(spark)


def _build_image(spark, image_id, t_, c_, z_, side, n_tasks):
    """Distributed generation: one task per (t,c,z) plane, then a
    grouped assembly into the single OME-Arrow row."""
    from ome_arrow_spark.meta import ome_images_schema
    from ome_arrow_spark.sources.arrow_records import (
        ome_arrow_field_type,
        records_to_arrow_batch,
    )
    from ome_arrow_spark.sources.numpy_ingest import to_ome_arrow

    combos = spark.createDataFrame(
        [(t, c, z) for t in range(t_) for c in range(c_) for z in range(z_)],
        "t int, c int, z int",
    ).repartition(n_tasks)

    # one Arrow batch per plane, pixels wrapped zero-copy: the pandas
    # route held ~3 GB per 8192² plane in each generating worker
    def gen(batches):
        for b in batches:
            for t, c, z in zip(*(b.column(n).to_pylist() for n in ("t", "c", "z"))):
                px = synth.pixel_plane(t, c, z, side, side)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([t], pa.int32()),
                        pa.array([c], pa.int32()),
                        pa.array([z], pa.int32()),
                        pa.ListArray.from_arrays(
                            pa.array([0, px.size], pa.int32()), pa.array(px)
                        ),
                    ],
                    names=["t", "c", "z", "pixels"],
                )

    pl = combos.mapInArrow(gen, "t int, c int, z int, pixels array<int>")

    def assemble(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by([(n, "ascending") for n in ("t", "c", "z")])  # t-major
        pixels = tbl["pixels"].combine_chunks()
        planes = [
            {"z": z, "t": t, "c": c, "pixels": pixels[i].values.to_numpy()}
            for i, (t, c, z) in enumerate(
                zip(*(tbl[n].to_pylist() for n in ("t", "c", "z")))
            )
        ]
        rec = to_ome_arrow(
            image_id=image_id,
            size_x=side, size_y=side, size_z=z_, size_c=c_, size_t=t_,
            planes=planes,
        )
        return pa.Table.from_batches(
            [records_to_arrow_batch([rec], "ome_arrow", ome_arrow_field_type())]
        )

    return pl.groupBy(F.lit(image_id)).applyInArrow(assemble, ome_images_schema())


@pytest.fixture(scope="module")
def mega(spark):
    # localCheckpoint: materialize the 800 MB row ONCE; every pipeline
    # stage below reuses it instead of regenerating 48 planes
    df = _build_image(spark, "mega", T_, C_, Z_, X_, 16).localCheckpoint()
    return df


def _formula(t, c, z, y, x):
    return (t * 31 + c * 17 + z * 7 + y * X_ + x) % 65536


def _plane_sigs(images):
    return {
        (r["t"], r["c"], r["z"]): (r["h"], r["mn"], r["mx"], r["n"])
        for r in planes_df(images)
        .select(
            "t", "c", "z",
            F.xxhash64("pixels").alias("h"),
            F.array_min("pixels").alias("mn"),
            F.array_max("pixels").alias("mx"),
            F.size("pixels").alias("n"),
        )
        .collect()
    }


@pytest.mark.heavy
def test_mega_assembly_and_describe(spark, mega):
    from ome_arrow_spark.operators.describe import describe

    d = describe(mega).collect()
    assert len(d) == 1
    row = d[0].asDict()
    got = {k: row[k] for k in ("size_t", "size_c", "size_z", "size_y", "size_x")}
    assert got == {"size_t": T_, "size_c": C_, "size_z": Z_, "size_y": Y_, "size_x": X_}
    # jumbo row survives a count of the planes relation (explode of 48
    # × 4.19M-int arrays) without 2 GB array/row failures
    assert planes_df(mega).count() == T_ * C_ * Z_


@pytest.mark.heavy
def test_mega_slice_then_mip_then_multiscale(spark, mega):
    from ome_arrow_spark.operators.slice_op import slice_images
    from ome_arrow_spark.operators.view_ops import max_intensity_projection
    from ome_arrow_spark.operators.multiscale import multiscale_levels

    keep_z = [0, 3, 5]
    sliced = slice_images(
        mega, x_min=512, x_max=1536, y_min=512, y_max=1536, z_indices=keep_z
    ).localCheckpoint()
    nw = 1024

    pm = sliced.select("ome_arrow.pixels_meta.*").first()
    assert (pm["size_x"], pm["size_y"], pm["size_z"]) == (nw, nw, len(keep_z))

    # sampled pixel parity with the closed-form generator
    p000 = (
        planes_df(sliced)
        .filter((F.col("t") == 0) & (F.col("c") == 0) & (F.col("z") == 1))
        .select("pixels")
        .first()["pixels"]
    )
    # sliced z index 1 is original z=3
    for ny, nx in ((0, 0), (17, 933), (1023, 1023)):
        assert p000[ny * nw + nx] == _formula(0, 0, 3, 512 + ny, 512 + nx)

    # MIP across the 3 kept z-planes of (t=0, c=0)
    mip = max_intensity_projection(sliced, c=0, t=0).first()["mip"]
    for ny, nx in ((0, 0), (511, 512), (1023, 7)):
        want = max(_formula(0, 0, z, 512 + ny, 512 + nx) for z in keep_z)
        assert mip[ny * nw + nx] == want

    # 3-level pyramid over the sliced planes: 1024 → 512 → 256
    pyr = multiscale_levels(planes_df(sliced), levels=3)
    sizes = {
        r["level"]: (r["size_y"], r["size_x"], r["n"])
        for r in pyr.groupBy("level")
        .agg(
            F.first("size_y").alias("size_y"),
            F.first("size_x").alias("size_x"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    n_planes = T_ * C_ * len(keep_z)
    assert sizes == {
        0: (1024, 1024, n_planes),
        1: (512, 512, n_planes),
        2: (256, 256, n_planes),
    }


@pytest.mark.heavy
def test_mega_tiff_roundtrip(spark, mega, tmp_path):
    from ome_arrow_spark.sources.tiff import from_tiff_dir, to_tiff_dir

    d = str(tmp_path / "tiff")
    paths = to_tiff_dir(mega, d, compression="deflate", predictor=True)
    assert len(paths) == 1
    back = from_tiff_dir(spark, d)
    assert _plane_sigs(back) == _plane_sigs(mega)
    pm = back.select("ome_arrow.pixels_meta.*").first()
    assert (pm["size_t"], pm["size_c"], pm["size_z"]) == (T_, C_, Z_)


@pytest.mark.heavy
def test_mega_zarr_roundtrip(spark, mega, tmp_path):
    from ome_arrow_spark.sources.zarr import from_zarr_manifest, to_zarr_dir

    d = str(tmp_path / "zarr")
    stores = to_zarr_dir(mega, d, compressor="zlib", chunks=(1, 1, 1, 512, 512))
    assert len(stores) == 1
    back = from_zarr_manifest(spark, stores)
    assert _plane_sigs(back) == _plane_sigs(mega)


@pytest.mark.heavy
def test_8k_plane_pipeline(spark):
    """SURVEY §7 hard-part 3 at the 8192² class: three 8192×8192
    uint16 z-planes (67.1M elements each — 268 MB as Arrow int32, the
    134M-element regime the plan worried about) through describe →
    slice → MIP → multiscale with sampled closed-form parity.

    Bounds, measured/derived: one plane cell is 268 MB and the whole
    single-image row ~0.8 GB — inside the JVM's 2 GiB array / Arrow
    cell bound with ~2.4× headroom.  The documented ceiling of this
    row-per-image layout is a ~16384×16384 int32 plane (1 GiB cell;
    2 GiB row with 2 planes): past that the assembly task throws
    (negative array size / Arrow capacity), and the design answer is
    the planes-relation layout (one ROW per plane, as planes_df
    produces) or chunked pyramid storage (to_zarr_dir), both of which
    keep cells ≤ one plane.  Memory settings this test runs under:
    session driver memory 8g (SPARK_DRIVER_MEMORY default in
    session.get_spark), 32 local threads; peak single-task footprint
    is the ~0.8 GB assembly row plus one Arrow copy (~1.6 GB)."""
    from ome_arrow_spark.operators.describe import describe
    from ome_arrow_spark.operators.multiscale import multiscale_levels
    from ome_arrow_spark.operators.slice_op import slice_images
    from ome_arrow_spark.operators.view_ops import max_intensity_projection

    # the module's `mega` row is not used here and runs last: release its
    # ~0.8 GB of checkpoint blocks so two jumbo rows are never resident
    # in the session JVM at once (together they outgrow a 15 GB host)
    _scrub(spark)
    side, n_z = 8192, 3
    mega8k = _build_image(spark, "mega8k", 1, 1, n_z, side, n_z).localCheckpoint()

    d = describe(mega8k).collect()[0].asDict()
    assert (d["size_y"], d["size_x"], d["size_z"]) == (side, side, n_z)

    lo, hi = 2048, 6144
    sliced = slice_images(
        mega8k, x_min=lo, x_max=hi, y_min=lo, y_max=hi
    ).localCheckpoint()
    nw = hi - lo
    pm = sliced.select("ome_arrow.pixels_meta.*").first()
    assert (pm["size_x"], pm["size_y"], pm["size_z"]) == (nw, nw, n_z)

    def formula(z, y, x):
        return (z * 7 + y * side + x) % 65536

    p0 = (
        planes_df(sliced)
        .filter(F.col("z") == 1)
        .select("pixels")
        .first()["pixels"]
    )
    for ny, nx in ((0, 0), (31, 4000), (4095, 4095)):
        assert p0[ny * nw + nx] == formula(1, lo + ny, lo + nx)

    mip = max_intensity_projection(sliced, c=0, t=0).first()["mip"]
    for ny, nx in ((0, 0), (2048, 17), (4095, 4095)):
        want = max(formula(z, lo + ny, lo + nx) for z in range(n_z))
        assert mip[ny * nw + nx] == want

    pyr = multiscale_levels(planes_df(sliced), levels=3)
    sizes = {
        r["level"]: (r["size_y"], r["size_x"], r["n"])
        for r in pyr.groupBy("level")
        .agg(
            F.first("size_y").alias("size_y"),
            F.first("size_x").alias("size_x"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert sizes == {
        0: (4096, 4096, n_z), 1: (2048, 2048, n_z), 2: (1024, 1024, n_z)
    }
