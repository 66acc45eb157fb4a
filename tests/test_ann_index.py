"""Persistent IVF index on the log table (operators/ann_index.py):
build → probe-pruned search → incremental maintenance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ome_arrow_spark.operators import ann_index as AI
from ome_arrow_spark.operators.similarity import cosine_topk
from ome_arrow_spark.sources import table_log as tl


@pytest.fixture(scope="module")
def corpus_and_queries(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    return q, c


@pytest.fixture()
def index(spark, tmp_path, corpus_and_queries):
    _, c = corpus_and_queries
    t = str(tmp_path / "ivf")
    AI.build_ivf_index(spark, c, t, n_centroids=8)
    return t


def test_full_probe_equals_brute_force(spark, index, corpus_and_queries):
    q, c = corpus_and_queries
    got = sorted(
        tuple(r)
        for r in AI.ivf_index_search(spark, index, q, k=3, n_probe=8)
        .select("qid", "cid", "cos_sim")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_topk(q, c, k=3).select("qid", "cid", "cos_sim").collect()
    )
    assert got == want


def test_partial_probe_prunes_files(spark, index, corpus_and_queries):
    q, _ = corpus_and_queries
    one_q = q.limit(1)
    res = AI.ivf_index_search(spark, index, one_q, k=3, n_probe=2)
    assert res.count() == 3
    cents = AI._stored_centroids(index)
    # any 2-centroid probe must read fewer files than the whole index
    read, total = AI.ivf_index_file_stats(index, set(list(cents)[:2]))
    assert read < total


@pytest.mark.heavy
def test_incremental_add_found_by_search(spark, index):
    # a vector identical to a stored centroid: after MERGE it must be
    # the top hit for a query at that same point
    cents = AI._stored_centroids(index)
    cid0, ctr = sorted(cents.items())[0]
    new = spark.createDataFrame(
        [(999_999, [float(x) for x in ctr])], "cid long, embedding array<float>"
    )
    AI.add_to_ivf_index(spark, new, index)
    q = spark.createDataFrame(
        [(1, [float(x) for x in ctr])], "qid long, embedding array<float>"
    )
    top = (
        AI.ivf_index_search(spark, index, q, k=1, n_probe=1)
        .select("cid", "cos_sim")
        .collect()[0]
    )
    assert top["cid"] == 999_999 and top["cos_sim"] == pytest.approx(1.0)
    # maintenance went through the log: a new version exists
    assert tl.current_version(index) == 1


@pytest.mark.heavy
def test_maintenance_preserves_centroid_clustering(spark, index):
    """Incremental adds MERGE by cid but must keep files clustered on
    centroid_id — otherwise every maintenance pass would erode the
    pruning that makes probes cheap."""
    cents = AI._stored_centroids(index)
    some = sorted(cents.items())[:2]
    new = spark.createDataFrame(
        [(10_000_000 + i, [float(x) for x in ctr]) for i, (_, ctr) in enumerate(some)],
        "cid long, embedding array<float>",
    )
    AI.add_to_ivf_index(spark, new, index)
    # after the rewrite, a single-centroid probe still skips files
    read, total = AI.ivf_index_file_stats(index, {some[0][0]})
    assert read < total


def test_non_index_table_rejected(spark, tmp_path):
    t = str(tmp_path / "plain")
    tl.create_table(spark, spark.range(5).select(F.col("id").alias("k")), t)
    with pytest.raises(ValueError, match="not an IVF index"):
        AI._stored_centroids(t)


def test_sample_build_rejects_null_embedding(spark, tmp_path, corpus_and_queries):
    """A null vector reaching the sample-trained build fails with one
    ValueError naming the column and the bad row, not deep in numpy."""
    _, c = corpus_and_queries
    bad = c.limit(40).unionByName(
        spark.createDataFrame([(10**9, None)], c.schema)
    )
    with pytest.raises(ValueError, match=r"embedding: row \d+ is null"):
        AI.build_ivf_index(spark, bad, str(tmp_path / "ivf"), train="sample")


def test_search_scans_only_probed_files(spark, index, corpus_and_queries):
    """The physical scan behind a search reads exactly the pruned
    inverted-list files — the seek is a property of the plan."""
    q, _ = corpus_and_queries
    one_q = q.limit(1)
    res = AI.ivf_index_search(spark, index, one_q, k=3, n_probe=2)
    cents = AI._stored_centroids(index)
    import numpy as np

    qv = np.array(one_q.collect()[0]["embedding"], dtype=np.float64)
    ids = sorted(cents)
    d2 = [((np.array(cents[c]) - qv) ** 2).sum() for c in ids]
    probed = {c for _, c in sorted(zip(d2, ids))[:2]}
    expected, total = AI.ivf_index_file_stats(index, probed)
    files = [f for f in res.inputFiles() if index in f]
    assert len(files) == expected < total


@pytest.mark.heavy
def test_string_ids_roundtrip(spark, tmp_path, corpus_and_queries):
    """String corpus/query ids flow through build + search: the empty
    and non-empty result paths must share the derived (not hardcoded-
    long) schema (ADVICE r6)."""
    q, c = corpus_and_queries
    qs = q.limit(3).select(
        F.concat(F.lit("q-"), F.col("qid").cast("string")).alias("qid"),
        "embedding",
    )
    cs = c.select(
        F.concat(F.lit("doc-"), F.col("cid").cast("string")).alias("cid"),
        "embedding",
    )
    t = str(tmp_path / "ivf_str")
    AI.build_ivf_index(spark, cs, t, n_centroids=4)
    res = AI.ivf_index_search(spark, t, qs, k=2, n_probe=4)
    rows = res.collect()
    assert len(rows) == 6
    assert all(r["qid"].startswith("q-") and r["cid"].startswith("doc-")
               for r in rows)
    # empty query set: same columns/types as the populated result
    # (nullability flags may differ; the driver compares name+type)
    empty = AI.ivf_index_search(spark, t, qs.limit(0), k=2, n_probe=4)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in res.schema.fields
    ]
    assert empty.count() == 0


@pytest.mark.heavy
def test_optimize_restores_probe_pruning(spark, tmp_path, corpus_and_queries):
    """After several incremental adds fragment the lists, optimize
    reclusters on centroid_id: search results identical, probe-pruned
    file fraction restored."""
    q, c = corpus_and_queries
    t = str(tmp_path / "ivf_opt")
    base = c.filter(F.col("cid") % 4 == 0)
    AI.build_ivf_index(spark, base, t, n_centroids=8)
    for m in (1, 2, 3):
        AI.add_to_ivf_index(spark, c.filter(F.col("cid") % 4 == m), t)
    before = AI.ivf_index_search(spark, t, q, k=3, n_probe=2).collect()
    AI.optimize_ivf_index(spark, t)
    after = AI.ivf_index_search(spark, t, q, k=3, n_probe=2).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    probed, total = AI.ivf_index_file_stats(t, clusters={0, 1})
    assert probed < total


def test_sharded_search_matches_monolith(spark, tmp_path,
                                         corpus_and_queries):
    """Fused union-probe over shared-codebook shards == a monolithic
    index built from the SAME codebook, row for row, at every probe
    depth (both sides use the centroids= assignment path, so near-tie
    centroid assignments are bit-identical)."""
    from ome_arrow_spark.operators import quantizer as QZ

    q, c = corpus_and_queries
    cent_arr = QZ.train_centroids(c, "embedding", 8)
    mono = str(tmp_path / "ivf_mono")
    AI.build_ivf_index(spark, c, mono, centroids=cent_arr)
    tables = []
    for i in range(3):
        t = str(tmp_path / f"ivf_shard{i}")
        AI.build_ivf_index(
            spark,
            c.filter(F.pmod(F.xxhash64("cid"), 3) == i),
            t,
            centroids=cent_arr,
        )
        tables.append(t)
    for n_probe in (2, 4, 8):
        got = sorted(
            tuple(r)
            for r in AI.ivf_sharded_search(
                spark, tables, q, k=3, n_probe=n_probe
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in AI.ivf_index_search(
                spark, mono, q, k=3, n_probe=n_probe
            ).collect()
        )
        assert got == want, f"n_probe={n_probe}"


def test_sharded_search_distinct_codebooks(spark, tmp_path,
                                           corpus_and_queries):
    """Shards with DIFFERENT codebooks (independently trained) must
    not equi-join centroid ids across shards: full-probe search still
    equals brute force over the union corpus."""
    q, c = corpus_and_queries
    tables = []
    for i in range(2):
        t = str(tmp_path / f"ivf_own{i}")
        AI.build_ivf_index(
            spark,
            c.filter(F.pmod(F.xxhash64("cid"), 2) == i),
            t,
            n_centroids=4,
        )
        tables.append(t)
    got = sorted(
        tuple(r)
        for r in AI.ivf_sharded_search(spark, tables, q, k=3, n_probe=4)
        .select("qid", "cid", "cos_sim")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_topk(q, c, k=3).select("qid", "cid", "cos_sim")
        .collect()
    )
    assert got == want


def test_sharded_search_empty_queries(spark, tmp_path, index,
                                      corpus_and_queries):
    _, c = corpus_and_queries
    q_empty = corpus_and_queries[0].limit(0)
    res = AI.ivf_sharded_search(spark, [index], q_empty, k=3, n_probe=2)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == [
        "qid", "cid", "cos_sim", "rk"
    ]


def test_sharded_search_heterogeneous_extra_cols(spark, tmp_path,
                                                 corpus_and_queries):
    """Shards whose stored schemas differ only in extra_cols (one
    shard re-indexed with metadata columns, one without) narrow the
    fused scan to the shared core fields instead of raising — the
    contract the per-shard-merge formulation honored before r13
    (ADVICE r13).  Full-probe results still equal brute force."""
    q, c = corpus_and_queries
    half0 = c.filter(F.pmod(F.xxhash64("cid"), 2) == 0)
    half1 = c.filter(F.pmod(F.xxhash64("cid"), 2) == 1).withColumn(
        "label", F.concat(F.lit("doc-"), F.col("cid"))
    )
    t0 = str(tmp_path / "ivf_plain")
    t1 = str(tmp_path / "ivf_extra")
    AI.build_ivf_index(spark, half0, t0, n_centroids=4)
    AI.build_ivf_index(spark, half1, t1, n_centroids=4,
                       extra_cols=("label",))
    got = sorted(
        tuple(r)
        for r in AI.ivf_sharded_search(spark, [t0, t1], q, k=3, n_probe=4)
        .select("qid", "cid", "cos_sim")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_topk(q, c, k=3).select("qid", "cid", "cos_sim")
        .collect()
    )
    assert got == want
