"""Stack-pattern ingest vs the reference's golden pattern fixtures
(tests/test_core.py:150-198): E99_C<111,222>_ZS<000-021>.tif →
(1,2,22,128,128), channel names from literal tokens, zero-fill of
missing files, range steps, regex fallback, in-file Z expansion."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ome_arrow_spark.operators.describe import describe
from ome_arrow_spark.operators.views import plane_stats
from ome_arrow_spark.sources.stack_pattern import from_stack_pattern, parse_pattern
from ome_arrow_spark.sources.tiff import encode_ftif


def _plane(v: int, y: int = 8, x: int = 9) -> np.ndarray:
    return np.full((1, 1, 1, y, x), v, dtype=np.int32)


def _write(d, fname, vol):
    (d / fname).write_bytes(encode_ftif(vol, image_id=fname))


def test_parse_pattern_grammar():
    tmpl, phs = parse_pattern("E99_C<111,222>_ZS<000-021>.tif")
    assert tmpl == "E99_C{0}_ZS{1}.tif"
    assert phs[0]["dim"] == "C" and phs[0]["choices"] == ["111", "222"]
    assert phs[0]["is_numeric"]
    assert phs[1]["dim"] == "Z" and len(phs[1]["choices"]) == 22
    assert phs[1]["choices"][0] == "000" and phs[1]["choices"][21] == "021"

    # zero-padding width from the wider bound; steps
    _, phs = parse_pattern("t<8-12:2>.tif")
    assert phs[0]["choices"] == ["08", "10", "12"]
    assert phs[0]["dim"] == "T"

    # literal (non-numeric) channel list
    _, phs = parse_pattern("x_w<DAPI,GFP>.tif")
    assert phs[0]["dim"] == "C" and not phs[0]["is_numeric"]

    with pytest.raises(ValueError):
        parse_pattern("a<1-2.tif")
    with pytest.raises(ValueError):
        parse_pattern("a<5-2>.tif")


def test_nviz_2ch_stack_golden(spark, tmp_path):
    """The reference's stack fixture shape: 2 channels × 22 z-slices of
    128×128 → (1, 2, 22, 128, 128)."""
    d = tmp_path / "nviz"
    d.mkdir()
    for ci, ctok in enumerate(["111", "222"]):
        for z in range(22):
            _write(d, f"E99_C{ctok}_ZS{z:03d}.tif", _plane(ci * 100 + z, 128, 128))
    imgs = from_stack_pattern(spark, str(d / "E99_C<111,222>_ZS<000-021>.tif"))
    row = describe(imgs).first()
    assert row["summary"] == (
        "3D image (z-stack), multi-channel (2 channels) - shape "
        "(T=1, C=2, Z=22, Y=128, X=128)"
    )
    st = {(r["t"], r["c"], r["z"]): r["px_sum"] for r in plane_stats(imgs).collect()}
    assert st[(0, 1, 5)] == 105 * 128 * 128
    assert st[(0, 0, 21)] == 21 * 128 * 128


def test_index_is_position_not_value(spark, tmp_path):
    """ZS<010-012> maps file 010→z=0 (position in choices)."""
    d = tmp_path / "pos"
    d.mkdir()
    for i, z in enumerate([10, 11, 12]):
        _write(d, f"a_ZS{z:03d}.tif", _plane(i))
    imgs = from_stack_pattern(spark, str(d / "a_ZS<010-012>.tif"))
    row = describe(imgs).first()
    assert row["size_z"] == 3
    st = {(r["t"], r["c"], r["z"]): r["px_max"] for r in plane_stats(imgs).collect()}
    assert st[(0, 0, 0)] == 0 and st[(0, 0, 2)] == 2


def test_zero_fill_missing_files(spark, tmp_path):
    d = tmp_path / "holey"
    d.mkdir()
    _write(d, "s_Z00.tif", _plane(7))
    _write(d, "s_Z02.tif", _plane(9))  # Z01 missing → zero plane
    imgs = from_stack_pattern(spark, str(d / "s_Z<00-02>.tif"))
    st = {(r["t"], r["c"], r["z"]): (r["px_min"], r["px_max"]) for r in plane_stats(imgs).collect()}
    assert st[(0, 0, 0)] == (7, 7)
    assert st[(0, 0, 1)] == (0, 0)
    assert st[(0, 0, 2)] == (9, 9)


def test_literal_channel_names(spark, tmp_path):
    d = tmp_path / "lit"
    d.mkdir()
    _write(d, "x_wDAPI.tif", _plane(1))
    _write(d, "x_wGFP.tif", _plane(2))
    imgs = from_stack_pattern(spark, str(d / "x_w<DAPI,GFP>.tif"))
    names = imgs.select(
        F.col("ome_arrow.pixels_meta.channels.name").alias("n")
    ).first()["n"]
    assert names == ["DAPI", "GFP"]


def test_series_maps_to_t(spark, tmp_path):
    d = tmp_path / "ser"
    d.mkdir()
    for s in range(3):
        _write(d, f"mov_s{s}.tif", _plane(s))
    imgs = from_stack_pattern(spark, str(d / "mov_s<0-2>.tif"))
    row = describe(imgs).first()
    assert row["size_t"] == 3 and row["type"] == "movie / timelapse"


def test_regex_fallback_enumerates_z(spark, tmp_path):
    d = tmp_path / "rx"
    d.mkdir()
    for nm, v in [("b.tif", 2), ("a.tif", 1), ("c.tif", 3)]:
        _write(d, nm, _plane(v))
    (d / "skip.txt").write_bytes(b"no")
    imgs = from_stack_pattern(spark, str(d / r"[abc]\.tif"))
    st = {r["z"]: r["px_max"] for r in plane_stats(imgs).collect()}
    assert st == {0: 1, 1: 2, 2: 3}  # sorted by name → a,b,c


def test_infile_zstack_expansion(spark, tmp_path):
    """A single matched file with T=C=1,Z>1 spills its planes across Z
    (ingest.py:629-645)."""
    d = tmp_path / "zin"
    d.mkdir()
    vol = np.stack([np.full((4, 5), 10 * i) for i in range(3)])[None, None]
    _write(d, "stack_s0.tif", vol)
    imgs = from_stack_pattern(spark, str(d / "stack_s<0-0>.tif"))
    row = describe(imgs).first()
    assert row["size_z"] == 3
    st = {r["z"]: r["px_max"] for r in plane_stats(imgs).collect()}
    assert st == {0: 0, 1: 10, 2: 20}


def test_multi_tc_in_file_rejected(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    _write(d, "m_s0.tif", np.zeros((2, 1, 1, 3, 3), dtype=np.int32))
    with pytest.raises(Exception, match="multiple pages"):
        from_stack_pattern(spark, str(d / "m_s<0-0>.tif")).collect()


def test_no_match_raises(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        from_stack_pattern(spark, str(d / "nope_<0-3>.tif"))


def test_shape_mismatch_raises(spark, tmp_path):
    """Files of two plane shapes cannot form one image.  The check runs
    in the assembly task, so the error surfaces when the result is
    evaluated (here: collect), not when ``from_stack_pattern`` returns."""
    d = tmp_path / "shapes"
    d.mkdir()
    _write(d, "s_Z0.tif", _plane(1, 8, 9))
    _write(d, "s_Z1.tif", _plane(2, 9, 8))
    imgs = from_stack_pattern(spark, str(d / "s_Z<0-1>.tif"))
    with pytest.raises(Exception, match="Shape mismatch"):
        imgs.collect()


def _stack_2x2(d):
    d.mkdir()
    for c in range(2):
        for z in range(2):
            if (c, z) != (1, 1):  # one hole
                _write(d, f"k_C{c}_Z{z}.tif", _plane(10 * c + z))
    return str(d / "k_C<0-1>_Z<0-1>.tif")


def test_ingest_leaves_no_persistent_rdd(spark, tmp_path):
    pattern = _stack_2x2(tmp_path / "leak")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(from_stack_pattern(spark, pattern).collect()) == 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_ingest_job_count(spark, tmp_path):
    """One ingest + collect of a 3-file stack runs 3 Spark jobs.  With an
    eager shape probe over a cached plane relation, a ``spark.range``
    cross join and a LEFT JOIN zero-fill, the same ingest ran 10."""
    import time

    pattern = _stack_2x2(tmp_path / "jobs")
    sc = spark.sparkContext
    group = f"stack-jobs-{time.time_ns()}"
    sc.setJobGroup(group, "stack ingest job count")
    try:
        from_stack_pattern(spark, pattern).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
