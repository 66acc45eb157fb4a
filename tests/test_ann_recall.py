"""ANN recall thresholds vs a numpy brute-force oracle (VERDICT r7
"Next round" #6): every approximate index type must clear a recall@10
floor at a 20k-vector regime — large enough that bucket/list pruning is
real, small enough for CI.  The 100k-vector tracked numbers live in
bench.py's ``bench_ann``.

Index builds here use ``train="sample"`` — the corpus-scale path
(operators/quantizer.py); the ``train="exact"`` oracle-reproducible
mode is exercised bit-exactly by the sf0.01 driver gate queries
(ann_index_search / ann_pq_rerank / ann_ivfpq_rerank) and the
equivalence tests below pin the arrow/plan twin implementations to
each other."""

from __future__ import annotations

import pytest

from bench import _recall_at10, make_ann_fixture

N_VECTORS = 20_000


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ann_recall"))
    corpus_path, q_rows, truth = make_ann_fixture(d, n_vectors=N_VECTORS)
    corpus = spark.read.parquet(corpus_path)
    queries = spark.createDataFrame(q_rows, "qid long, embedding array<float>")
    return d, corpus, queries, truth


@pytest.mark.heavy
def test_brute_force_recall_is_one(spark, fixture):
    from ome_arrow_spark.operators import similarity as SIM

    _, corpus, queries, truth = fixture
    rows = SIM.cosine_topk(queries, corpus, k=10).collect()
    assert _recall_at10(rows, truth) == 1.0


@pytest.mark.heavy
def test_lsh_recall_floor(spark, fixture):
    from ome_arrow_spark.operators import similarity as SIM

    _, corpus, queries, truth = fixture
    rows = SIM.cosine_topk_lsh(
        queries, corpus, k=10, n_planes=8, n_tables=16
    ).collect()
    assert _recall_at10(rows, truth) >= 0.80


@pytest.mark.heavy
def test_ivf_index_recall_floor(spark, fixture):
    from ome_arrow_spark.operators import ann_index as AI

    d, corpus, queries, truth = fixture
    t = f"{d}/ivf"
    AI.build_ivf_index(spark, corpus, t, n_centroids=32, train="sample")
    rows = AI.ivf_index_search(spark, t, queries, k=10, n_probe=8).collect()
    assert _recall_at10(rows, truth) >= 0.90


@pytest.mark.heavy
def test_pq_rerank_recall_floor(spark, fixture):
    """candidates=5% of corpus: PQ recall is governed by re-rank depth
    relative to quantization distortion, not training quality — a
    perfectly-trained numpy PQ at m=8/k=16 scores 0.375@cand=200 on
    this clustered fixture (in-cluster neighbors are inside one code
    cell) and 1.000@cand=1000.  The depth is the user's recall knob;
    the floor pins that the ENGINE's codebooks are no worse than
    ideal training at the same depth."""
    from ome_arrow_spark.operators import pq_index as PQ

    d, corpus, queries, truth = fixture
    t = f"{d}/pq"
    PQ.build_pq_index(spark, corpus, t, m=8, k=16, train="sample")
    rows = PQ.pq_rerank_search(
        spark, t, queries, corpus, topk=10, candidates=1000
    ).collect()
    assert _recall_at10(rows, truth) >= 0.90


@pytest.mark.heavy
def test_ivfpq_recall_floor(spark, fixture):
    from ome_arrow_spark.operators import pq_index as PQ

    d, corpus, queries, truth = fixture
    t = f"{d}/ivfpq"
    PQ.build_ivfpq_index(spark, corpus, t, n_centroids=32, m=8, k=16, train="sample")
    rows = PQ.ivfpq_rerank_search(
        spark, t, queries, corpus, topk=10, candidates=1000, n_probe=8
    ).collect()
    assert _recall_at10(rows, truth) >= 0.85


@pytest.mark.heavy
def test_arrow_brute_equals_plan(spark, tmp_path):
    """cosine_topk impl='arrow' (mapInArrow, per-batch top-k) must
    reproduce the in-plan HOF path row-for-row."""
    from ome_arrow_spark.operators import similarity as SIM

    corpus_path, q_rows, _ = make_ann_fixture(str(tmp_path), n_vectors=3000)
    corpus = spark.read.parquet(corpus_path)
    queries = spark.createDataFrame(q_rows, "qid long, embedding array<float>")
    plan = {(r["qid"], r["rk"], r["cid"])
            for r in SIM.cosine_topk(queries, corpus, k=10).collect()}
    arrow = {(r["qid"], r["rk"], r["cid"])
             for r in SIM.cosine_topk(queries, corpus, k=10, impl="arrow").collect()}
    assert arrow == plan


@pytest.mark.heavy
def test_arrow_adc_equals_plan(spark, tmp_path):
    """pq_search impl='arrow' (numpy LUT gather, sequential subspace
    accumulation) must reproduce the in-plan ADC fold row-for-row."""
    from ome_arrow_spark.operators import pq_index as PQ

    corpus_path, q_rows, _ = make_ann_fixture(str(tmp_path), n_vectors=3000)
    corpus = spark.read.parquet(corpus_path)
    queries = spark.createDataFrame(q_rows, "qid long, embedding array<float>")
    t = str(tmp_path / "pq")
    PQ.build_pq_index(spark, corpus, t, m=8, k=16, train="sample")
    plan = {(r["qid"], r["rk"], r["cid"], r["adc_score"])
            for r in PQ.pq_search(spark, t, queries, topk=10).collect()}
    arrow = {(r["qid"], r["rk"], r["cid"], r["adc_score"])
             for r in PQ.pq_search(spark, t, queries, topk=10, impl="arrow").collect()}
    assert arrow == plan


def _planted_rows(S, dim=64):
    """Rows that stress the guarded matmul of ``_hyperplane_bits``, and
    how many of them lead the list as rows it must recompute: an
    all-zero vector, a row whose ± terms cancel exactly on the first
    plane, and ``[1e16, 1, -1e16, ...]`` rows whose sign depends on the
    summation order; then rows of magnitude around 1e-300, which the
    matmul alone must sign correctly."""
    import numpy as np

    rng = np.random.default_rng(7)
    zero = np.zeros(dim)
    i, j = 0, int(np.flatnonzero(S[0] != S[0, 0])[0])
    cancel = np.zeros(dim)
    cancel[[i, j]] = 0.75  # s_i·x_i + s_j·x_j = 0 on plane 0
    big = []
    for rest in (np.zeros(dim - 3), 0.25 * rng.normal(size=dim - 3)):
        big.append(np.concatenate([[1e16, 1.0, -1e16], rest]))
        big.append(np.concatenate([[1.0, 1e16, -1e16], rest]))
    tiny = 1e-300 * rng.normal(size=(4, dim))
    recompute = [zero, cancel, *big]
    return np.vstack([*recompute, *tiny]), len(recompute)


def test_hyperplane_bits_equal_ordered_fold(tmp_path):
    """The guarded matmul kernel returns the ordered fold's bits on the
    64-dim fixture plus the planted rows, and re-runs the fold on
    exactly the planted rows whose sign the summation order could
    decide."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from ome_arrow_spark.operators.similarity import (
        _hyperplane_bits,
        _md5_sign_matrix,
    )

    S = _md5_sign_matrix(4, 8, 64)
    corpus_path, _, _ = make_ann_fixture(str(tmp_path), n_vectors=500)
    fixture = np.vstack(pq.read_table(corpus_path)["embedding"].to_numpy(
        zero_copy_only=False
    ))
    planted, n_redo = _planted_rows(S)
    X = np.vstack([planted, fixture.astype(np.float64)])
    bits, redo = _hyperplane_bits(X, S)
    acc = np.zeros((len(X), len(S)))
    for i in range(X.shape[1]):
        acc = acc + X[:, i : i + 1] * S[:, i]
    assert (bits == (acc > 0)).all()
    assert np.flatnonzero(redo).tolist() == list(range(n_redo))
    # the planted rows are order-sensitive: the correctly rounded sum
    # disagrees with the ordered fold on some plane
    exact = np.array([[math.fsum(x * s) for s in S] for x in X[:n_redo]])
    assert ((exact > 0) != (acc[:n_redo] > 0)).any()


@pytest.mark.heavy
def test_vectorized_lsh_signatures_equal_expression(spark, tmp_path):
    """The one signature UDF must bucket BIT-IDENTICALLY to the in-plan
    ``lsh_signature`` fold (the form the DuckDB twins replay) on the
    64-dim ``array<float>`` fixture and on planted ``array<double>``
    rows where the summation order would decide a sign."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.similarity import (
        _lsh_sig_array,
        _md5_sign_matrix,
        lsh_signature,
    )

    n_tables, n_planes = 4, 8
    corpus_path, _, _ = make_ann_fixture(str(tmp_path), n_vectors=500)
    planted, _ = _planted_rows(_md5_sign_matrix(n_tables, n_planes, 64))
    sides = [
        spark.read.parquet(corpus_path),
        spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(planted)],
            "cid long, embedding array<double>",
        ),
    ]
    for corpus in sides:
        exprs = [
            lsh_signature(F.col("embedding"), n_planes, table=t)
            for t in range(n_tables)
        ]
        rows = corpus.select(
            "cid",
            F.array(*exprs).alias("fold"),
            _lsh_sig_array("embedding", n_planes, n_tables).alias("udf"),
        ).collect()
        assert rows and all(r["fold"] == r["udf"] for r in rows)


def test_sample_train_rejects_unknown_mode(spark, tmp_path):
    import pytest as _pytest

    from ome_arrow_spark.operators import ann_index as AI, pq_index as PQ

    corpus_path, _, _ = make_ann_fixture(str(tmp_path), n_vectors=200)
    corpus = spark.read.parquet(corpus_path)
    with _pytest.raises(ValueError, match="train"):
        AI.build_ivf_index(spark, corpus, str(tmp_path / "x"), train="bogus")
    with _pytest.raises(ValueError, match="train"):
        PQ.build_pq_index(spark, corpus, str(tmp_path / "y"), m=8, train="bogus")


@pytest.mark.heavy
def test_sq8_recall_and_rerank(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(8, 16))
    labels = rng.integers(0, 8, 400)
    X = centers[labels] + 0.3 * rng.normal(size=(400, 16))
    rows = [(i, [float(v) for v in X[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from ome_arrow_spark.operators.similarity import cosine_topk, sq8_topk

    q = df.filter("vec_id < 10").selectExpr("vec_id as qid", "embedding")
    c = df.filter("vec_id >= 10").selectExpr("vec_id as cid", "embedding")
    exact = {(r["qid"], r["cid"]) for r in cosine_topk(q, c, k=5).collect()}
    approx = {(r["qid"], r["cid"]) for r in sq8_topk(q, c, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.85  # 8-bit is near-exact
    # deep rerank recovers the exact result set
    rr = {(r["qid"], r["cid"])
          for r in sq8_topk(q, c, k=5, rerank=50).collect()}
    assert rr == exact
