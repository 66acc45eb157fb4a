"""The build-pass optimizations must not change what a
sample-trained index stores: the encode/assign spread
(tuning.spread_small_input before the Arrow UDF pass) is a pure
partitioning decision, and build_ivfpq_index's shared training sample
must train the same quantizers as the two independent sample_vectors
calls it replaced (same (df, vec, sample_size, seed) -> same sample).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(600, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(
        rows, "cid long, embedding array<float>"
    ).coalesce(1)  # 1 partition < slots: the spread guard ENGAGES


def _rowset(spark, table):
    from ome_arrow_spark.sources import table_log as tl

    rows = tl.read_table(spark, table).collect()
    props = {
        k: v
        for k, v in tl.table_properties(table).items()
        if not k.startswith("_")
    }
    return sorted(tuple(r) for r in rows), props


def _no_spread_build(monkeypatch, build):
    """Run ``build`` with spread_small_input patched to identity and
    the IVFPQ sample-sharing disabled — the unoptimized build shape."""
    from ome_arrow_spark.operators import quantizer as QZ
    from ome_arrow_spark.plans import tuning

    real_tc = QZ.train_centroids
    monkeypatch.setattr(tuning, "spread_small_input", lambda df, id_col: df)
    monkeypatch.setattr(
        QZ,
        "train_centroids",
        lambda df, vec, k, iterations=10, sample_size=262_144, seed=42,
        sample=None: real_tc(
            df, vec, k, iterations=iterations, sample_size=sample_size,
            seed=seed, sample=None,
        ),
    )
    build()


def test_pq_build_spread_stores_identical_rows(
    spark, corpus, tmp_path, monkeypatch
):
    from ome_arrow_spark.operators import pq_index as PQ

    def build(p):
        PQ.build_pq_index(
            spark, corpus, p, m=2, k=4, train="sample", sample_size=256,
            overwrite=True,
        )

    new = str(tmp_path / "pq_new")
    old = str(tmp_path / "pq_old")
    build(new)
    _no_spread_build(monkeypatch, lambda: build(old))
    assert _rowset(spark, new) == _rowset(spark, old)


def test_ivfpq_build_shared_sample_stores_identical_rows(
    spark, corpus, tmp_path, monkeypatch
):
    from ome_arrow_spark.operators import pq_index as PQ

    def build(p):
        PQ.build_ivfpq_index(
            spark, corpus, p, n_centroids=4, m=2, k=4, train="sample",
            sample_size=256, overwrite=True,
        )

    new = str(tmp_path / "ivfpq_new")
    old = str(tmp_path / "ivfpq_old")
    build(new)
    _no_spread_build(monkeypatch, lambda: build(old))
    assert _rowset(spark, new) == _rowset(spark, old)


def test_ivf_build_spread_stores_identical_rows(
    spark, corpus, tmp_path, monkeypatch
):
    from ome_arrow_spark.operators import ann_index as AI

    def build(p):
        AI.build_ivf_index(
            spark, corpus, p, n_centroids=4, train="sample",
            sample_size=256, overwrite=True,
        )

    new = str(tmp_path / "ivf_new")
    old = str(tmp_path / "ivf_old")
    build(new)
    _no_spread_build(monkeypatch, lambda: build(old))
    assert _rowset(spark, new) == _rowset(spark, old)


def test_spread_engages_on_small_split_corpus(spark, corpus):
    from ome_arrow_spark.plans.tuning import spread_small_input

    sc = spark.sparkContext
    assert corpus.rdd.getNumPartitions() < sc.defaultParallelism
    spread = spread_small_input(corpus, "cid")
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism
    # wide input: guard is a no-op (returns the frame unchanged)
    wide = corpus.repartition(sc.defaultParallelism + 1, F.col("cid"))
    assert spread_small_input(wide, "cid") is wide


def test_ivf_sample_build_probes_splits_once(
    spark, corpus, tmp_path, monkeypatch
):
    """One split-count probe per sample-mode IVF build: the spread
    guard's answer also decides the checkpoint (each warm probe is
    tens of ms of planning time)."""
    from ome_arrow_spark.operators import ann_index as AI
    from ome_arrow_spark.plans import tuning

    calls = []
    real = tuning.few_splits

    def counted(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(tuning, "few_splits", counted)
    AI.build_ivf_index(
        spark, corpus, str(tmp_path / "ivf"), n_centroids=4,
        train="sample", sample_size=256,
    )
    assert len(calls) == 1
