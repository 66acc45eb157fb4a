"""Product-quantization ANN codes AS a transaction-log table.

IVF (operators/ann_index.py) solves the SEEK problem — read only the
probed lists.  PQ solves the MEMORY problem: a 1024-dim float32
embedding is 4 KiB; its PQ code with m=8 sub-quantizers is m bytes —
a 100 TB embedding table becomes a few hundred GB of codes that fit
hot storage, scored without touching the raw vectors (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Build: split the (L2-normalized) vector into ``m`` contiguous
subspaces, train a deterministic k-means codebook per subspace (the
one exact k-means, ``_kmeans`` in operators/clustering.py, with one
group per subspace — id-seeded init, decimal-exact updates, so codes
are reproducible run-to-run), encode every corpus vector as its
per-subspace argmin code, and store (cid, codes array<int>) in a log
table with the codebooks as a table property.

Search (ADC — asymmetric distance computation): per query, precompute
the m×k lookup table of sub-dot-products driver-side (queries are
small by contract, like ivf_index_search), broadcast it as DATA, and
score every code row with one Catalyst fold:
``Σ_s lut[s*k + code_s]`` — an approximation of the full dot product
whose error is the quantization residual.  No Python runs per row.

The gradeable contract mirrors agg_approx_distinct: exact cosine
top-k (oracle-derivable) plus an in-engine recall@k verdict for the
PQ ranking — approximate results themselves are engine-specific.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa  # module-level so arrow_udf type hints resolve

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ome_arrow_spark.sources.arrow_records import list_to_matrix, matrix_to_list

CODEBOOKS_PROP = "ann.pq.codebooks"
SUBDIM_PROP = "ann.pq.subdim"

#: Above this many queries, per-query ADC LUTs are computed by an
#: Arrow UDF on the executors instead of driver-side numpy: the collect
#: path is right for interactive |Q| but wrong for a 10⁶-query batch
#: join.
DRIVER_LUT_MAX_QUERIES = 1024


def _lut_udf(books: list, sub: int, vec: str):
    """Distributed ADC lookup-table: the flat m×k array of
    sub-dot-products between the L2-normalized query vector and every
    codebook centroid, as an Arrow UDF (the codebooks travel in the UDF
    closure — m·k·sub doubles, a few KB).  The executor-side twin of
    the driver numpy LUT in :func:`pq_search` — same float64 normalize
    + per-subspace BLAS dot, whole batches at a time.  (A pure-Catalyst
    HOF formulation was tried first and costs ~40 ms/row: nested
    ``transform``/``aggregate`` lambdas are interpreted, never
    codegen'd, and the normalize sub-expression inlines into all m·k
    entries.)"""
    from pyspark.sql.functions import arrow_udf

    B = [np.asarray(b, dtype=np.float64) for b in books]  # m × (k, sub)
    m, k = len(B), B[0].shape[0]

    @arrow_udf("array<double>")
    def lut(v: pa.Array) -> pa.Array:
        if not len(v):
            return pa.array([], pa.list_(pa.float64()))
        X = list_to_matrix(v, vec)
        Xn = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
        out = np.empty((len(X), m * k))
        for s in range(m):
            out[:, s * k : (s + 1) * k] = Xn[:, s * sub : (s + 1) * sub] @ B[s].T
        return matrix_to_list(out)

    return lut


def _probe_udf(cent_ids: list, cent_mat, n_probe: int, vec: str):
    """Distributed IVF probe selection: per query, the ``n_probe``
    nearest coarse-centroid ids under squared-L2 with the driver
    path's exact (d2, centroid_id) tie-break — literally the same
    numpy statements, batch-applied."""
    from pyspark.sql.functions import arrow_udf

    ids = list(cent_ids)
    C = np.asarray(cent_mat, dtype=np.float64)

    @arrow_udf("array<int>")
    def probe(v: pa.Array) -> pa.Array:
        res = []
        for qv in list_to_matrix(v, vec):
            d2 = ((C - qv) ** 2).sum(axis=1)
            order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))
            res.append([int(ids[i]) for i in order[:n_probe]])
        return pa.array(res, pa.list_(pa.int32()))

    return probe


def _normalize(vec):
    n = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    return F.transform(vec, lambda x: x.cast("double") / n)


def _driver_lut(qv, books, sub: int) -> list[float]:
    """One query's flat m×k ADC lookup table on the driver: one
    ``np.dot`` per entry of the L2-normalized query's subvector and a
    centroid — the arithmetic every driver path shares (``einsum``
    would differ in the last ulp).  :func:`_lut_udf` is the executor
    twin."""
    qv = np.asarray(qv, dtype=np.float64)
    qv = qv / np.sqrt((qv * qv).sum())
    return [
        float(np.dot(qv[s * sub : (s + 1) * sub], np.asarray(c, np.float64)))
        for s, book in enumerate(books)
        for c in book
    ]


def _adc_fold(m: int, k: int) -> Column:
    """In-plan ADC score of a ``codes`` row against its query's flat
    ``__lut``: ``Σ_s lut[s·k + code_s]``, summed left to right."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at("__lut", s * k + F.element_at("codes", s + 1) + 1),
    )


def _empty_ranked(spark, table, query_id, qid_type, score: str) -> DataFrame:
    """The typed empty ``(query_id, cid, score, rk)`` result.  cid keeps
    the STORED table's id type (string ids are as valid as longs) so
    the empty path matches the populated one."""
    from ome_arrow_spark.sources import table_log as tl

    snap = tl._resolve_snapshot(table)
    stored = T.StructType.fromJson(json.loads(snap["schema"]))
    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField(query_id, qid_type),
                T.StructField("cid", stored["cid"].dataType),
                T.StructField(score, T.DoubleType()),
                T.StructField("rk", T.IntegerType()),
            ]
        ),
    )


def _top_ranked(scored: DataFrame, query_id: str, score: str, topk: int):
    """Rank each query's rows by (``score`` desc, cid asc) as int
    ``rk`` and keep the first ``topk``."""
    w = Window.partitionBy(query_id).orderBy(F.col(score).desc(), F.col("cid"))
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("int")
    ).filter(F.col("rk") <= topk)


def _exact_rerank(
    cand, corpus, queries, topk, query_id, corpus_id, vec, digits,
    broadcast_queries: bool,
) -> DataFrame:
    """Exact cosine top-``topk`` of the ``(query_id, cid)`` candidates
    against the raw corpus and query vectors.  Norms are computed once
    per side row, not per candidate pair: one dot fold per candidate,
    bit-identical to the fused cosine."""
    from ome_arrow_spark.functions.vectors import dot, norm

    q = queries.select(
        F.col(query_id), F.col(vec).alias("__qe"), norm(F.col(vec)).alias("__qn")
    )
    exactd = (
        cand.join(
            corpus.select(
                F.col(corpus_id).alias("cid"),
                F.col(vec).alias("__ce"),
                norm(F.col(vec)).alias("__cn"),
            ),
            "cid",
        )
        .join(F.broadcast(q) if broadcast_queries else q, query_id)
        .select(
            query_id,
            "cid",
            F.round(
                dot(F.col("__qe"), F.col("__ce"))
                / (F.col("__qn") * F.col("__cn")),
                digits,
            ).alias("cos_sim"),
        )
    )
    return _top_ranked(exactd, query_id, "cos_sim", topk)


def _pq_encode_exact_udf(books, vec: str):
    """argmin PQ encode BIT-IDENTICAL to the in-plan fold: per
    subspace, d² accumulates COLUMN BY COLUMN in element order — the
    exact IEEE sequence of ``aggregate(zip_with(slice, ctr,
    (a−b)·(a−b)), 0, +)`` — and ``np.argmin`` keeps the FIRST minimum,
    matching the fold's strict-< lowest-cluster tie-break.  The
    expression form evaluates m·k interpreted sub-folds per ROW (m=32,
    k=16 → 512 lambda walks/row; measured ~7 s of the 21 s exact build
    at sf0.1).  Contract: finite normalized vectors (zero-norm rows
    would NaN both paths differently); a null ``vec`` row raises
    ``ValueError``."""
    from pyspark.sql.functions import arrow_udf

    B = np.asarray(books, dtype=np.float64)  # (m, k, sub)
    m, k, sub = B.shape

    @arrow_udf("array<int>")
    def enc(v: pa.Array) -> pa.Array:
        if not len(v):
            return pa.array([], pa.list_(pa.int32()))
        X = list_to_matrix(v, vec)  # normalized doubles from __nv
        n = len(X)
        codes = np.empty((n, m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            D = np.zeros((n, k))
            for i in range(sub):
                diff = Xs[:, i : i + 1] - B[s, :, i]
                # in-place square + accumulate: identical values and
                # accumulation order, two fewer (n, k) temporaries
                np.multiply(diff, diff, out=diff)
                D += diff
            codes[:, s] = np.argmin(D, axis=1)
        return matrix_to_list(codes)

    return enc


def _subdim(corpus: DataFrame, vec: str, m: int) -> int:
    """Subspace width ``dim // m``; the vector dim must divide by m."""
    dim = len(corpus.select(vec).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return dim // m


def _train_encode_exact(
    corpus: DataFrame, corpus_id: str, vec: str, m: int, sub: int, k: int,
    iterations: int,
) -> tuple[list[list[list[float]]], DataFrame]:
    """Exact PQ training and encode, shared by :func:`build_pq_index`
    and :func:`build_ivfpq_index`.  Returns the dense codebooks (m × k
    × sub) and the lazy ``(cid, codes)`` relation.

    Training is the one exact k-means (:func:`clustering._kmeans`) with
    one group per subspace: over the exploded (cid, __s, subvector)
    relation a whole round for all m subspaces is ONE job, and each
    subspace's codebook equals ``clustering.kmeans`` + ``cluster_means``
    run on that subvector slice alone — what the DuckDB oracle replays.
    The argmin encode runs in the bit-identical Arrow batch UDF
    (:func:`_pq_encode_exact_udf`) instead of m·k interpreted sub-folds
    per row."""
    from ome_arrow_spark.operators.clustering import _kmeans

    base = corpus.select(
        F.col(corpus_id).alias("cid"), _normalize(F.col(vec)).alias("__nv")
    ).localCheckpoint()  # training and encode both read it
    subs = F.array(*[F.slice("__nv", s * sub + 1, sub) for s in range(m)])
    v = base.select(
        "cid", F.posexplode(subs).alias("__s", "__v")
    ).localCheckpoint(eager=True)
    _, cents = _kmeans(v, k, iterations, "cid", groups=m)
    cmaps: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    for r in cents.collect():
        cmaps[int(r["__s"])][int(r["cluster"])] = [float(x) for x in r["ctr"]]
    # dense codebook lists (clusters 0..k-1; k-means may drop clusters
    # on tiny data — pad with zero vectors, never chosen)
    books = [[cmaps[s].get(j, [0.0] * sub) for j in range(k)] for s in range(m)]
    coded = base.select(
        "cid", _pq_encode_exact_udf(books, vec)(F.col("__nv")).alias("codes")
    )
    return books, coded


def build_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    table: str,
    m: int = 4,
    k: int = 16,
    corpus_id: str = "cid",
    vec: str = "embedding",
    iterations: int = 3,
    overwrite: bool = False,
    train: str = "exact",
    sample_size: int = 262_144,
) -> int:
    """Train per-subspace codebooks and materialize the code table.
    The vector dim must be divisible by ``m``.

    ``train="exact"`` (default): oracle-reproducible decimal k-means
    per subspace, argmin encode fully in-plan — the driver-twin mode.
    ``train="sample"``: the corpus-scale path (operators/quantizer.py)
    — numpy codebooks from a bounded sample, then ONE Arrow-batched
    encode pass over the corpus (all m subspaces per batch) instead of
    m plan-literal argmin columns."""
    from ome_arrow_spark.sources import table_log as tl

    sub = _subdim(corpus, vec, m)
    if train == "sample":
        from ome_arrow_spark.operators import quantizer as QZ
        from ome_arrow_spark.plans import tuning

        books = QZ.train_pq_codebooks(
            corpus, vec, m, k, sample_size=sample_size
        )
        # The Arrow encode pass runs in the INPUT's partitions, and a
        # small corpus arrives as a handful of parquet splits — the
        # same parallelism collapse as the MinHash tokenize stage
        # (tuning.spread_small_input; no-op at scale where the scan
        # yields >= slots splits).  Per-row encode is partition-
        # independent, so the spread changes no stored byte.  Measured
        # interleaved at the 100k bench fixture: 2.28 -> 0.86 s.
        coded = tuning.spread_small_input(corpus, corpus_id).select(
            F.col(corpus_id).alias("cid"),
            QZ.pq_encode_udf(books)(F.col(vec)).alias("codes"),
        )
        # repartitionByRange's boundary-sampling job evaluates its
        # child ONCE MORE, so without this the Arrow encode pass runs
        # twice (measured 2.2 -> 0.6 s on the write phase at the
        # 100k fixture).  The checkpointed relation is THIN codes —
        # m ints + id per row, the artifact PQ exists to make small —
        # so one eager materialization is cheap at any corpus scale.
        coded = coded.localCheckpoint(eager=True)
        return tl.create_table(
            spark,
            coded.repartitionByRange(2, "cid"),
            table,
            properties={
                CODEBOOKS_PROP: json.dumps(
                    [[[float(x) for x in c] for c in book] for book in books]
                ),
                SUBDIM_PROP: str(sub),
            },
            overwrite=overwrite,
        )
    if train != "exact":
        raise ValueError(f"train must be 'exact' or 'sample', got {train!r}")
    codebooks, coded = _train_encode_exact(
        corpus, corpus_id, vec, m, sub, k, iterations
    )
    # checkpointed so repartitionByRange's boundary-sampling job does
    # not evaluate the encode a second time (thin codes — cheap at any
    # scale)
    coded = coded.localCheckpoint(eager=True)
    return tl.create_table(
        spark,
        coded.repartitionByRange(2, "cid"),
        table,
        properties={
            CODEBOOKS_PROP: json.dumps(codebooks),
            SUBDIM_PROP: str(sub),
        },
        overwrite=overwrite,
    )


def add_to_pq_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    table: str,
    corpus_id: str = "cid",
    vec: str = "embedding",
) -> int:
    """Incremental maintenance: encode new vectors against the STORED
    codebooks (no retraining — the codebooks are the index's contract,
    like the IVF quantizer) and MERGE by corpus id."""
    from ome_arrow_spark.sources import table_log as tl

    props = tl.table_properties(table)
    books = json.loads(props[CODEBOOKS_PROP])
    m, k = len(books), len(books[0])
    sub = int(props[SUBDIM_PROP])
    base = new_vectors.select(
        F.col(corpus_id).alias("cid"), _normalize(F.col(vec)).alias("__nv")
    )
    # same bit-identical Arrow argmin encode as build_pq_index
    coded = base.select(
        "cid", _pq_encode_exact_udf(books, vec)(F.col("__nv")).alias("codes")
    )
    return tl.upsert_table(spark, coded, table, key="cid")


def _adc_topk_arrow(
    spark, table, queries, topk, query_id, vec, digits,
):
    """Arrow ADC scan: numpy LUT gather per code batch with the SAME
    left-to-right subspace accumulation order as the in-plan fold, and
    per-batch top-k per query (:func:`similarity._batch_topk`) so the
    ranking shuffle carries O(partitions × |Q| × topk) rows instead of
    |Q| × |codes|."""
    from pyspark.sql.pandas.types import to_arrow_type

    from ome_arrow_spark.operators.similarity import _batch_topk
    from ome_arrow_spark.sources import table_log as tl

    props = tl.table_properties(table)
    books = np.asarray(json.loads(props[CODEBOOKS_PROP]), dtype=np.float64)
    m, k, sub = books.shape
    q_rows = queries.select(F.col(query_id), F.col(vec)).collect()
    if not q_rows:
        raise ValueError("pq_search(impl='arrow'): empty query side")
    qid_type = queries.schema[query_id].dataType
    qids = pa.array([r[0] for r in q_rows], to_arrow_type(qid_type))
    # LUT[q, s, j] = q_sub(s) · book[s][j] — the in-plan driver path's
    # own LUT, so the two impls score bit-identically
    lut = np.array([_driver_lut(r[vec], books, sub) for r in q_rows])
    lut = lut.reshape(len(q_rows), m, k)
    codes = tl.read_table(spark, table)
    cid_t = codes.schema["cid"].dataType.simpleString()
    out_schema = (
        f"{query_id} {qid_type.simpleString()}, cid {cid_t}, adc_score double"
    )
    names = (query_id, "cid", "adc_score")

    def score(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            C = list_to_matrix(batch.column("codes"), "codes", np.int64)
            acc = np.zeros((len(C), len(q_rows)))
            for s in range(m):  # sequential: matches the plan fold
                acc += lut[:, s, :][:, C[:, s]].T
            S = np.round(acc, digits)
            yield _batch_topk(qids, batch.column("cid"), S, topk, names)

    scored = codes.select("cid", "codes").mapInArrow(score, out_schema)
    return _top_ranked(scored, query_id, "adc_score", topk)


def pq_search(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    topk: int = 10,
    query_id: str = "qid",
    vec: str = "embedding",
    digits: int = 6,
    max_driver_queries: int = DRIVER_LUT_MAX_QUERIES,
    impl: str = "plan",
) -> DataFrame:
    """ADC top-k: (qid, cid, adc_score, rk).  ``adc_score``
    approximates the cosine of the normalized vectors.

    Up to ``max_driver_queries`` queries, per-query LUTs are built
    driver-side (numpy) and broadcast; above it, the Arrow UDF
    :func:`_lut_udf` computes them on the executors and the code×query
    join runs un-broadcast, so a 10⁶-query batch never materializes on
    the driver.

    ``impl="plan"`` (default) scores with the in-plan Catalyst fold —
    the mode the driver oracle replays.  ``impl="arrow"``
    (:func:`_adc_topk_arrow`) is the corpus-scale ``mapInArrow`` scan:
    numpy LUT gather per code batch + per-batch top-k, so only
    O(partitions×|Q|×topk) rows reach the ranking shuffle (~4× on the
    100k bench fixture; same accumulation order, numpy half-even
    rounding)."""
    from ome_arrow_spark.sources import table_log as tl

    if impl == "arrow":
        return _adc_topk_arrow(
            spark, table, queries, topk, query_id, vec, digits
        )
    if impl != "plan":
        raise ValueError(f"impl must be 'plan' or 'arrow', got {impl!r}")
    props = tl.table_properties(table)
    books = json.loads(props[CODEBOOKS_PROP])
    m, k = len(books), len(books[0])
    sub = int(props[SUBDIM_PROP])
    qid_type = queries.schema[query_id].dataType
    n_queries = queries.count()
    if n_queries > max_driver_queries:
        # The repartition parallelizes both the Arrow-batched LUT UDF
        # and the un-broadcast cartesian (a single-file query table
        # would otherwise run as ONE task) and materializes each
        # query's LUT exactly once on the shuffle write side.
        ldf = queries.select(
            F.col(query_id),
            _lut_udf(books, sub, vec)(F.col(vec)).alias("__lut"),
        ).repartition(spark.sparkContext.defaultParallelism)
        scored = tl.read_table(spark, table).crossJoin(ldf).select(
            query_id, "cid", F.round(_adc_fold(m, k), digits).alias("adc_score")
        )
        return _top_ranked(scored, query_id, "adc_score", topk)
    q_rows = queries.select(F.col(query_id), F.col(vec)).collect()
    if not q_rows:
        return _empty_ranked(spark, table, query_id, qid_type, "adc_score")
    ldf = spark.createDataFrame(
        [(r[query_id], _driver_lut(r[vec], books, sub)) for r in q_rows],
        T.StructType(
            [
                T.StructField(query_id, qid_type),
                T.StructField("__lut", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    scored = tl.read_table(spark, table).crossJoin(F.broadcast(ldf)).select(
        query_id, "cid", F.round(_adc_fold(m, k), digits).alias("adc_score")
    )
    return _top_ranked(scored, query_id, "adc_score", topk)


def rerank_depth(n_corpus: int, topk: int = 5, frac: int = 16) -> int:
    """Corpus-derived candidate depth for the exact re-rank stage
    (the same fixed-parameter-vs-growing-data hazard class as
    knn_join_tables): under a FIXED quantization error, the number of
    distractors whose ADC score beats a true top-k item grows linearly
    with corpus size, so a fixed depth (the old 50) silently loses
    exact-equals-brute-force as the corpus scales — first observed as
    a 1-row top-5 miss at 10× the graded fixture.  Depth = max(50,
    10·topk, n/frac); the 1/16 fraction is calibrated to THIS
    fixture's heavy-noise regime (dim 64, m=32, k=16 codebooks —
    4 dims per sub-quantizer of 16 codes); production-dim PQ
    (768+/m=96) warrants a much smaller ``frac``.  Re-rank cost stays
    |Q|·depth exact cosines — linear, and negligible next to the ADC
    scan it follows."""
    return max(50, 10 * topk, n_corpus // frac)


def pq_rerank_search(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    corpus: DataFrame,
    topk: int = 5,
    candidates: int = 50,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    digits: int = 6,
    max_driver_queries: int = DRIVER_LUT_MAX_QUERIES,
    impl: str = "plan",
) -> DataFrame:
    """Two-stage retrieval — the production PQ shape: ADC over the
    compressed codes picks ``candidates`` per query (the 100 TB scan
    never touches raw vectors), then EXACT cosine re-ranks only those
    candidates against the raw corpus rows.  With a generous candidate
    depth the result equals brute force, which is what makes this
    oracle-checkable exactly rather than by recall verdict.
    ``impl`` selects the ADC stage implementation (see
    :func:`pq_search`)."""
    small_q = queries.count() <= max_driver_queries
    cand = pq_search(
        spark, table, queries, topk=candidates, query_id=query_id, vec=vec,
        max_driver_queries=max_driver_queries, impl=impl,
    ).select(query_id, "cid")
    return _exact_rerank(
        cand, corpus, queries, topk, query_id, corpus_id, vec, digits, small_q
    )


def build_ivfpq_index(
    spark: SparkSession,
    corpus: DataFrame,
    table: str,
    n_centroids: int = 8,
    m: int = 32,
    k: int = 16,
    corpus_id: str = "cid",
    vec: str = "embedding",
    iterations: int = 3,
    overwrite: bool = False,
    train: str = "exact",
    sample_size: int = 262_144,
) -> int:
    """IVF + PQ in ONE log table — the FAISS-IVFPQ shape at table
    scale: a coarse quantizer range-clusters the files on
    ``centroid_id`` (probe-pruned SEEKS, like ann_index.py) while each
    row stores only its m-byte PQ code (compressed SCAN).  A search
    touches ~n_probe/n_centroids of the files and never reads raw
    vectors until the final re-rank.

    ``train="sample"`` trains coarse centroids AND codebooks on one
    bounded sample and produces (centroid_id, codes) in a single
    Arrow-batched corpus pass.  ``train="exact"`` trains the coarse
    quantizer and the codebooks with the one exact k-means
    (:func:`clustering._kmeans`), the same codebooks and codes
    :func:`build_pq_index` stores for this corpus."""
    from ome_arrow_spark.operators.clustering import _kmeans
    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.operators import ann_index as AI

    if train == "sample":
        from ome_arrow_spark.operators import quantizer as QZ
        from ome_arrow_spark.plans import tuning

        # One materialized sample feeds BOTH trainers — coarse
        # centroids and PQ codebooks trained on sample_vectors of the
        # identical (df, vec, sample_size, seed) before this shared
        # path existed, so outputs are bit-identical while the corpus
        # scan + driver collect is paid once instead of twice.
        X = QZ.sample_vectors(corpus, vec, sample_size)
        cents = QZ.train_centroids(
            corpus, vec, n_centroids, sample_size=sample_size, sample=X
        )
        books = QZ.train_pq_codebooks(
            corpus, vec, m, k, sample_size=sample_size, sample=X
        )
        sub = books.shape[2]
        # assign+encode spread: same guard as build_pq_index (no-op at
        # scale); measured interleaved 2.61 -> 0.76 s at the bench
        # fixture.
        rows = tuning.spread_small_input(corpus, corpus_id).select(
            QZ.nearest_udf(cents)(F.col(vec)).alias("centroid_id"),
            F.col(corpus_id).alias("cid"),
            QZ.pq_encode_udf(books)(F.col(vec)).alias("codes"),
        ).localCheckpoint(eager=True)  # thin codes; see build_pq_index
        cent_map = {j: [float(x) for x in cents[j]] for j in range(len(cents))}
        return tl.create_table(
            spark,
            rows.repartitionByRange(max(2, n_centroids // 2), "centroid_id"),
            table,
            properties={
                CODEBOOKS_PROP: json.dumps(
                    [[[float(x) for x in c] for c in book] for book in books]
                ),
                SUBDIM_PROP: str(sub),
                AI.CENTROIDS_PROP: json.dumps(cent_map, sort_keys=True),
            },
            overwrite=overwrite,
        )
    if train != "exact":
        raise ValueError(f"train must be 'exact' or 'sample', got {train!r}")
    # The coarse k-means and the PQ training are INDEPENDENT — overlap
    # them; each is a chain of tiny stages that leaves the cluster idle.
    # Result-identical: same plans, same collected results, only
    # submission order changes.
    from concurrent.futures import ThreadPoolExecutor

    def _coarse():
        assign, cents = _kmeans(
            corpus.select(F.col(corpus_id), F.col(vec).alias("__v")),
            n_centroids,
            iterations,
            corpus_id,
        )
        cent_map = {
            int(r["cluster"]): [float(x) for x in r["ctr"]]
            for r in cents.collect()
        }
        return assign, cent_map

    with ThreadPoolExecutor(max_workers=2) as pool:
        coarse_fut = pool.submit(_coarse)
        sub = _subdim(corpus, vec, m)
        books, coded = _train_encode_exact(
            corpus, corpus_id, vec, m, sub, k, iterations
        )
        assign, cent_map = coarse_fut.result()
    rows = coded.join(
        assign.select(F.col(corpus_id).alias("cid"), "cluster"), "cid"
    ).select(
        F.col("cluster").cast("int").alias("centroid_id"), "cid", "codes"
    ).localCheckpoint(eager=True)  # thin codes; see build_pq_index
    return tl.create_table(
        spark,
        rows.repartitionByRange(max(2, n_centroids // 2), "centroid_id"),
        table,
        properties={
            CODEBOOKS_PROP: json.dumps(books),
            SUBDIM_PROP: str(sub),
            AI.CENTROIDS_PROP: json.dumps(cent_map, sort_keys=True),
        },
        overwrite=overwrite,
    )


def ivfpq_rerank_search(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    corpus: DataFrame,
    topk: int = 5,
    candidates: int = 50,
    n_probe: int = 4,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    digits: int = 6,
    max_driver_queries: int = DRIVER_LUT_MAX_QUERIES,
) -> DataFrame:
    """Probe-pruned ADC candidates + exact cosine re-rank: the scan
    reads ONLY the probed centroid files, scores codes, and re-ranks
    the survivors against raw vectors.

    Above ``max_driver_queries``, probe selection and ADC LUTs are
    computed on the executors (centroids/codebooks travel in UDF
    closures); only the probed-centroid-id union — bounded by the
    centroid count, not |Q| — is collected for file pruning."""
    from ome_arrow_spark.sources import table_log as tl

    props = tl.table_properties(table)
    books = json.loads(props[CODEBOOKS_PROP])
    m, k = len(books), len(books[0])
    sub = int(props[SUBDIM_PROP])
    from ome_arrow_spark.operators import ann_index as AI

    cent_map = AI._stored_centroids(table)
    cent_ids = sorted(cent_map)
    cent_mat = np.array([cent_map[c] for c in cent_ids])
    n_queries = queries.count()
    q_rows = (
        []
        if n_queries > max_driver_queries
        else queries.select(F.col(query_id), F.col(vec)).collect()
    )
    qid_type = queries.schema[query_id].dataType
    if n_queries == 0:
        return _empty_ranked(spark, table, query_id, qid_type, "cos_sim")
    if q_rows:
        luts, needed = [], set()
        for r in q_rows:
            qv = np.asarray(r[vec], dtype=np.float64)
            d2 = ((cent_mat - qv) ** 2).sum(axis=1)
            order = sorted(
                range(len(cent_ids)), key=lambda i: (d2[i], cent_ids[i])
            )
            probed = [cent_ids[i] for i in order[:n_probe]]
            needed.update(probed)
            luts.append((r[query_id], probed, _driver_lut(qv, books, sub)))
        ldf = spark.createDataFrame(
            luts,
            T.StructType(
                [
                    T.StructField(query_id, qid_type),
                    T.StructField("__probed", T.ArrayType(T.IntegerType())),
                    T.StructField("__lut", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        broadcast_luts = True
    else:
        # Distributed probe selection + LUTs: Arrow UDFs replicating
        # the driver path's numpy exactly (same float64 ops, same (d2,
        # centroid_id) tie-break); repartition parallelizes the UDFs
        # and the downstream cartesian.
        ldf = queries.select(
            F.col(query_id),
            _probe_udf(cent_ids, cent_mat, n_probe, vec)(F.col(vec)).alias(
                "__probed"
            ),
            _lut_udf(books, sub, vec)(F.col(vec)).alias("__lut"),
        ).repartition(spark.sparkContext.defaultParallelism)
        needed = {
            int(r[0])
            for r in ldf.select(F.explode("__probed")).distinct().collect()
        }
        broadcast_luts = False
    snap = tl._resolve_snapshot(table)
    live = tl._files_for_keys(snap["files"], "centroid_id", needed)
    if not live:
        return _empty_ranked(spark, table, query_id, qid_type, "cos_sim")
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    lists = spark.read.schema(schema).parquet(
        *[os.path.join(table, p) for p in sorted(live)]
    )
    cand_scored = (
        lists.crossJoin(F.broadcast(ldf) if broadcast_luts else ldf)
        .filter(F.array_contains("__probed", F.col("centroid_id")))
        .select(query_id, "cid", _adc_fold(m, k).alias("__adc"))
    )
    wc = Window.partitionBy(query_id).orderBy(
        F.col("__adc").desc(), F.col("cid")
    )
    cand = (
        cand_scored.withColumn("__crk", F.row_number().over(wc))
        .filter(F.col("__crk") <= candidates)
        .select(query_id, "cid")
    )
    return _exact_rerank(
        cand, corpus, queries, topk, query_id, corpus_id, vec, digits,
        broadcast_luts,
    )


def pq_table_bytes(table: str) -> tuple[int, int]:
    """(code bytes per vector = m, raw float32 bytes per vector) —
    the compression ratio the format exists for."""
    from ome_arrow_spark.sources import table_log as tl

    props = tl.table_properties(table)
    books = json.loads(props[CODEBOOKS_PROP])
    m, sub = len(books), int(props[SUBDIM_PROP])
    return m, m * sub * 4
