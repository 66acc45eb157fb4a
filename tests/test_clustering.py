"""Iterative operators: connected components on multi-hop graphs
(the oracle query only covers planted 2-node clusters), k-means
determinism, grouped-map applyInPandas normalization."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from ome_arrow_spark.operators.clustering import connected_components, kmeans


import pytest


@pytest.mark.parametrize("threshold", [2_000_000, 0])  # driver / distributed path
def test_connected_components_chains_and_isolates(spark, threshold):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, small_graph_threshold=threshold
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.parametrize("threshold", [2_000_000, 0])
@pytest.mark.heavy
def test_connected_components_long_chain(spark, threshold):
    # 12-node chain exercises multi-round propagation (diameter > 2)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    got = connected_components(pairs, small_graph_threshold=threshold)
    assert got.select(F.countDistinct("component")).first()[0] == 1
    assert got.agg(F.min("component")).first()[0] == 100
    assert got.count() == 13


def test_kmeans_deterministic_and_plausible(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    a = sorted(map(tuple, kmeans(emb, k=3, iterations=2).collect()))
    b = sorted(map(tuple, kmeans(emb, k=3, iterations=2).collect()))
    assert a == b, "kmeans must be deterministic run-to-run"
    clusters = {c for _, c in a}
    assert clusters <= {0, 1, 2} and len(a) == 100


def test_grouped_map_normalize(spark):
    """applyInPandas grouped-map: per-image min-max plane normalization
    (SURVEY §2C grouped map / UDTF row)."""
    from ome_arrow_spark import synth
    from ome_arrow_spark.operators.views import planes_df

    imgs = synth.golden_images_df(spark, ids=["img-0001"])
    pl = planes_df(imgs)

    def normalize(pdf):
        import pandas as pd

        lo = min(np.asarray(p).min() for p in pdf["pixels"])
        hi = max(np.asarray(p).max() for p in pdf["pixels"])
        span = max(hi - lo, 1)
        pdf = pdf.copy()
        pdf["pixels"] = pdf["pixels"].map(
            lambda p: (((np.asarray(p) - lo) * 65535) // span).astype("int32")
        )
        return pdf

    out = pl.groupBy("image_id").applyInPandas(normalize, schema=pl.schema)
    rows = {(r["t"], r["c"], r["z"]): r["pixels"] for r in out.collect()}
    # image range is 0..123 → plane c0 first pixel 0 → 0; c1 last 123 → 65535
    assert rows[(0, 0, 0)][0] == 0
    assert rows[(0, 1, 0)][-1] == 65535


def test_udtf_sentence_split(spark):
    from ome_arrow_spark.functions.udtfs import split_sentences

    docs = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"), (2, "no punctuation here"), (3, "")],
        "doc_id long, text string",
    )
    rows = split_sentences(spark, docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"], r["n_words"]))
    assert by_doc[1] == [(0, "Hello world.", 2), (1, "How are you?", 3), (2, "Fine!", 1)]
    assert by_doc[2] == [(0, "no punctuation here", 3)]
    assert 3 not in by_doc


@pytest.mark.heavy
def test_ivf_topk_recall(spark, sf_dir):
    from ome_arrow_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(F.col("vec_id").alias("cid"), "embedding")
    exact = {(r["qid"], r["cid"]) for r in cosine_topk(q, c, k=3).collect()}
    approx = {(r["qid"], r["cid"]) for r in ivf_topk(q, c, k=3, n_centroids=8, n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # determinism
    approx2 = {(r["qid"], r["cid"]) for r in ivf_topk(q, c, k=3, n_centroids=8, n_probe=3).collect()}
    assert approx == approx2


@pytest.mark.heavy
def test_lsh_topk_recall(spark, sf_dir):
    """Multi-table LSH recall floor at the calibrated defaults
    (planes=4 × tables=8): ≥0.6 on the synthetic embeddings — the
    worst case for LSH, since random vectors have no cluster structure.
    Also guards the hyperplane-seed mix: a degenerate signature (all
    planes collapsing to one, as a linear (plane+i)%2 mix does) sends
    recall to ~1 bucket's worth and fails this floor at these params."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.similarity import cosine_topk, cosine_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 25).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.filter(F.col("vec_id") >= 25).select(F.col("vec_id").alias("cid"), "embedding")
    exact = {(r["qid"], r["cid"]) for r in cosine_topk(q, c, k=3).collect()}
    approx = {(r["qid"], r["cid"]) for r in cosine_topk_lsh(q, c, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_knn_join_planes_sizing():
    """Data-derived signature width (the round-9 bench postmortem: a
    FIXED n_planes=4 gives Θ(n²/16) candidates — 49 GB of shuffle at a
    20k×20k self-join). The formula pins the expected right bucket at
    ~target_bucket rows, so candidates stay ~n_left·tables·target."""
    from ome_arrow_spark.operators.similarity import knn_join_planes

    assert knn_join_planes(0) == 4
    assert knn_join_planes(256) == 4
    assert knn_join_planes(500) == 4      # gate fixtures stay in the 4-plane regime
    assert knn_join_planes(20_000) == 7   # sf1 self-join: 128 buckets/table
    assert knn_join_planes(1_600_000) == 13
    assert knn_join_planes(10**9) == 22   # ~256-row buckets at a billion rows
    assert knn_join_planes(20_000, target_bucket=32) == 10


def test_knn_join_candidate_bound_and_auto_planes(spark, sf_dir):
    """The deduped candidate-pair count must stay ≤ 2·n_left·tables·
    target_bucket (the gate assertion's bound), and the auto-planes
    default must produce the same join as the explicit width it picks."""
    from ome_arrow_spark.operators.similarity import (
        knn_join_candidates,
        knn_join_lsh,
        knn_join_planes,
        knn_join_tables,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    n_left = left.count()
    n_right = right.count()
    n_cand = knn_join_candidates(left, right).count()
    planes = knn_join_planes(n_right)
    tables = knn_join_tables(planes)
    assert n_cand <= 2 * n_left * tables * 256
    auto = {(r["qid"], r["cid"], r["rk"]) for r in knn_join_lsh(left, right, k=2).collect()}
    explicit = {
        (r["qid"], r["cid"], r["rk"])
        for r in knn_join_lsh(
            left, right, k=2, n_planes=planes, n_tables=tables
        ).collect()
    }
    assert auto == explicit and len(auto) > 0


def test_canonical_dedup_equals_dropduplicates(spark, sf_dir):
    """Canonical-first-collision dedup: knn_join_candidates' pair set
    must equal the bucket join over an allow-list, then dropDuplicates
    — INCLUDING when the skew cap engages (a pair whose only early
    collision sits in a disallowed bucket must still be emitted by its
    first ALLOWED table).  max_bucket is forced tiny so real buckets get
    disallowed on this fixture; the derived cap (64 × target_bucket)
    engages once target_bucket is small enough that the census runs
    (64 · target_bucket < n_right), and a cap above n_right skips it."""
    from ome_arrow_spark.operators.similarity import (
        _lsh_sig_side,
        knn_join_candidates,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 3 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    n_right = right.count()
    # (n_planes, max_bucket, target_bucket); at 3 planes the largest
    # right buckets of this fixture hold 74 and 65 rows, above 64 · 1
    for planes, max_bucket, target in ((4, 4, 256), (4, 10**9, 256), (3, None, 1)):
        cap = 64 * target if max_bucket is None else max_bucket
        got = {
            (r["qid"], r["cid"])
            for r in knn_join_candidates(
                left, right, n_planes=planes, n_tables=8,
                target_bucket=target, max_bucket=max_bucket,
            )
            .select("qid", "cid")
            .collect()
        }
        # reference: the allow-list + dropDuplicates form
        ls = _lsh_sig_side(left, "qid", "embedding", "__lv", planes, 8).select(
            "qid", "__t", "__sig"
        )
        rs = _lsh_sig_side(right, "cid", "embedding", "__rv", planes, 8).select(
            "cid", "__t", "__sig"
        )
        allowed = (
            rs.groupBy("__t", "__sig")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= cap)
            .select("__t", "__sig")
        )
        want = {
            (r["qid"], r["cid"])
            for r in ls.join(F.broadcast(allowed), ["__t", "__sig"])
            .join(rs, ["__t", "__sig"])
            .select("qid", "cid")
            .dropDuplicates(["qid", "cid"])
            .collect()
        }
        assert got == want, (
            f"canonical dedup diverged (planes={planes}, cap={cap}): "
            f"{len(got)} vs {len(want)} pairs"
        )
        if cap < n_right:
            # the cap must actually engage on this fixture, or the
            # disallowed branch wasn't exercised
            n_uncapped = knn_join_candidates(
                left, right, n_planes=planes, n_tables=8, max_bucket=10**9
            ).count()
            assert len(got) < n_uncapped, "skew cap never engaged"


def test_knn_join_plan_shape(spark, sf_dir):
    """A default knn_join_lsh whose right side is no larger than the
    skew cap runs no census (its right row count proves no bucket can
    exceed the cap): 7 jobs for this join + collect, 9 with the census.
    The thin pairs are spread over one wave of ``defaultParallelism``
    tasks, so the scoring stage (re-attach, dot fold, top-k window)
    runs on every task slot; a repartition by column alone lets AQE
    coalesce them into 1 task."""
    from ome_arrow_spark.operators.similarity import knn_join_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    sc = spark.sparkContext
    group = f"knn-join-jobs-{time.time_ns()}"
    sc.setJobGroup(group, "knn_join_lsh plan shape")
    try:
        rows = knn_join_lsh(left, right, k=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert rows and len(jobs) == 7
    scoring = tracker.getStageInfo(max(tracker.getJobInfo(max(jobs)).stageIds))
    assert scoring.numTasks == sc.defaultParallelism


def test_knn_join_suite_query_leaves_no_cache_entry(spark, sf_dir):
    """The registered knn_join_lsh query builds its candidate relation
    once for its sizing check and its join; no cache entry may outlive
    it, or a later knn_join_candidates over the same inputs reads that
    entry instead of signing and bucketing (run first, a persisted one
    cut test_knn_join_plan_shape's 7 jobs to 3)."""
    from ome_arrow_spark.operators.similarity import knn_join_candidates
    from ome_arrow_spark.suite_llm import knn_join_lsh as suite_query

    assert suite_query(spark, sf_dir).count() > 0
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    cand = knn_join_candidates(left, right)
    assert "InMemoryRelation" not in cand._jdf.queryExecution().withCachedData().toString()


def test_lsh_null_embedding_matches_nothing(spark):
    """A null or empty vector gets a null signature array, as the
    in-plan lsh_signature fold gives it a null signature, so both LSH
    joins return exactly the other rows' results instead of failing in
    the signature UDF."""
    from ome_arrow_spark.operators.similarity import (
        _lsh_sig_array,
        cosine_topk_lsh,
        knn_join_lsh,
        lsh_signature,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.5, -0.2, 0.3]),
            (1, [0.9, 0.4, -0.1, 0.2]),
            (2, None),
            (3, [-1.0, 0.2, 0.7, -0.4]),
            (4, []),
        ],
        "id long, embedding array<double>",
    )
    n_planes, n_tables = 4, 3
    folds = [lsh_signature(F.col("embedding"), n_planes, t) for t in range(n_tables)]
    for r in df.select(
        "id",
        F.array(*folds).alias("fold"),
        _lsh_sig_array("embedding", n_planes, n_tables).alias("udf"),
    ).collect():
        if r["id"] in (2, 4):
            assert r["udf"] is None and r["fold"] == [None] * n_tables
        else:
            assert r["udf"] == r["fold"]

    def rows(join, frame):
        left = frame.select(F.col("id").alias("qid"), "embedding")
        right = frame.select(F.col("id").alias("cid"), "embedding")
        return sorted(tuple(r) for r in join(left, right, k=3).collect())

    valid = df.filter(F.size("embedding") > 0)
    for join in (knn_join_lsh, cosine_topk_lsh):
        got = rows(join, df)
        assert got and got == rows(join, valid)
    # 70 more null rows outnumber the derived skew cap (64 × 1): the
    # census runs and must not take the null key for a bucket
    nulls = spark.range(100, 170).select(
        "id", F.lit(None).cast("array<double>").alias("embedding")
    )

    def capped(left, right, k):
        return knn_join_lsh(left, right, k=k, n_planes=4, target_bucket=1)

    assert rows(capped, df.unionByName(nulls)) == rows(capped, valid)


def test_lsh_joins_with_an_empty_side(spark, sf_dir):
    """An empty left or right side yields no rows and a zero census —
    no signature probe of the empty input, no crash."""
    from ome_arrow_spark.operators.similarity import (
        cosine_topk_lsh,
        knn_join_candidate_census,
        knn_join_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = emb.filter(F.col("vec_id") < 50)
    empty = emb.filter(F.lit(False))
    for lhs, rhs in ((empty, full), (full, empty)):
        left = lhs.select(F.col("vec_id").alias("qid"), "embedding")
        right = rhs.select(F.col("vec_id").alias("cid"), "embedding")
        assert knn_join_lsh(left, right, k=2).count() == 0
        assert cosine_topk_lsh(left, right, k=2).count() == 0
        assert knn_join_candidate_census(left, right) == 0


def test_knn_join_tables_formula():
    """Exact-integer recall-holding growth: T = ceil(8·25^d/16^d)
    capped [8, 128] — the sequence the DuckDB oracle mirrors."""
    from ome_arrow_spark.operators.similarity import knn_join_tables

    assert [knn_join_tables(p) for p in (3, 4, 5, 6, 7, 8, 9, 10, 11, 20)] == [
        8, 8, 13, 20, 31, 48, 75, 117, 128, 128,
    ]
