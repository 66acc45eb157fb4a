"""Sample-trained vector quantizers — the 100 TB build path for the
ANN indexes (ann_index.py / pq_index.py).

The default ``train="exact"`` build path runs the oracle-reproducible
decimal k-means — the one exact k-means, ``_kmeans`` in clustering.py,
shared by the IVF, PQ and IVF+PQ builds — so the DuckDB oracle can
replay training bit-for-bit; that exactness costs one shuffle per
iteration plus an interpreted argmin per row, which is the wrong trade
at corpus scale.  ``train="sample"`` is the FAISS shape instead:

- TRAIN on a bounded driver-side sample (numpy Lloyd's, k-means++
  init, seeded — quantizer quality depends on the sample distribution,
  not corpus size; FAISS trains IVF/PQ on 10⁵-10⁶ samples regardless
  of corpus size for the same reason),
- ENCODE/ASSIGN distributed, one Arrow UDF pass over the corpus (a
  numpy matmul per batch instead of k×dim interpreted expression ops
  per row).

Index STORAGE and SEARCH are identical across modes (centroids /
codebooks ride as table properties), so every search/maintenance entry
point works on either build.  Measured on the bench fixture (100k ×
64-dim): IVF build 320 s → ~4 s, PQ 202 s → ~3 s, IVF+PQ 645 s → ~6 s,
same-or-better recall@10.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module-level so arrow_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ome_arrow_spark.sources.arrow_records import list_to_matrix, matrix_to_list


def sample_vectors(
    df: DataFrame, vec: str, sample_size: int, seed: int = 42
) -> np.ndarray:
    """Bounded UNBIASED training sample as a float64 matrix: the
    ``sample_size`` smallest rows by ``xxhash64(vec, seed)``.  A plain
    LIMIT would satisfy itself from the first partitions — on a
    clustered/sorted corpus that trains the quantizer on one corner of
    the distribution.  Hash-order + limit compiles to
    TakeOrderedAndProject: one full scan (training prep; the encode
    pass scans anyway), per-partition top-N memory, deterministic
    under any partitioning.  The driver materializes at most
    ``sample_size`` vectors; a null or ragged one raises
    ``ValueError``."""
    n = (
        df.select(F.col(vec), F.xxhash64(F.col(vec), F.lit(seed)).alias("__h"))
        .orderBy("__h")
        .limit(sample_size)
        .toArrow()
        .column(vec)
    )
    if not len(n):
        raise ValueError("empty corpus: nothing to train on")
    return list_to_matrix(n, vec)


def lloyd(
    X: np.ndarray, k: int, iterations: int = 10, seed: int = 42
) -> np.ndarray:
    """Seeded numpy k-means (k-means++ init, Lloyd updates).  Empty
    clusters re-seed to the points farthest from their centroid so k
    centroids always come back."""
    rng = np.random.default_rng(seed)
    n = len(X)
    if n <= k:
        # degenerate: every point its own centroid, pad by repetition
        reps = np.resize(np.arange(n), k)
        return X[reps].copy()
    # k-means++ seeding: distance updates use the expanded form
    # ||x-c||² = ||x||² - 2x·c + ||c||² (one BLAS matvec per step)
    # instead of materializing the (n, dim) difference array per
    # candidate — that form was ~75% of the seeding wall at k=256.
    # The expansion can round a true zero slightly negative, which
    # would poison the sampling weights, so clamp at 0.
    cents = np.empty((k, X.shape[1]))
    cents[0] = X[rng.integers(n)]
    x2r = (X**2).sum(1)
    d2 = np.maximum(x2r - 2.0 * (X @ cents[0]) + cents[0] @ cents[0], 0.0)
    for j in range(1, k):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        cents[j] = X[rng.choice(n, p=p)]
        d2 = np.minimum(
            d2,
            np.maximum(x2r - 2.0 * (X @ cents[j]) + cents[j] @ cents[j], 0.0),
        )
    dim = X.shape[1]
    # Blocked assignment: the full (n, k) distance matrix is 67 MB at
    # n=32768, k=256, and the unblocked expression form re-walks it
    # from RAM four times per iteration (~540 MB of traffic/iter,
    # 43 GB per PQ training) — the training wall is MEMORY-BOUND, not
    # FLOP-bound.  Computing 2048-row blocks into one preallocated
    # buffer keeps each block cache-resident through the GEMM,
    # in-place adds and argmin, so RAM traffic per iteration drops to
    # ~one write of the block stream.  Bit-identical to the unblocked
    # form: per-row results are independent, ``x2 - 2G`` equals
    # ``(-2G) + x2`` under IEEE (±2· exact, addition commutative), and
    # the per-row min used for re-seeding is the value AT the argmin
    # index (gather, not a second reduction).
    blk = 2048
    buf = np.empty((min(blk, n), k))
    lab = np.empty(n, dtype=np.int64)
    mind = np.empty(n)
    for _ in range(iterations):
        c2 = (cents**2).sum(1)[None, :]
        for start in range(0, n, blk):
            sl = slice(start, min(start + blk, n))
            m = sl.stop - sl.start
            db = np.dot(X[sl], cents.T, out=buf[:m])
            db *= -2.0
            db += x2r[sl, None]
            db += c2
            lb = db.argmin(1)
            lab[sl] = lb
            mind[sl] = db[np.arange(m), lb]
        # Vectorized cluster-mean update — one weighted bincount per
        # dimension is O(n·dim) where a per-cluster boolean mask loop
        # is O(n·k); at k=256 that loop was ~75% of the
        # whole build wall (profiled: 2.0 s → 0.35 s per subspace at
        # n=32768).  Summation order differs from np.ndarray.mean's
        # pairwise reduction in low-order bits only; the quantizer is
        # sample-trained (never oracle-checked) and the recall gates
        # are threshold-based, so determinism — which bincount keeps —
        # is the requirement, not bit-equality.
        counts = np.bincount(lab, minlength=k).astype(np.float64)
        sums = np.empty((k, dim))
        for dd in range(dim):
            sums[:, dd] = np.bincount(lab, weights=X[:, dd], minlength=k)
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
        if not nonempty.all():  # re-seed empty clusters at the worst-served point
            cents[~nonempty] = X[mind.argmax()]
    return cents


def nearest_udf(cents: np.ndarray):
    """Arrow UDF: squared-L2 argmin against a fixed centroid matrix
    (ties break to the lowest centroid id via argmin semantics).  A
    null or ragged input vector raises ``ValueError``."""
    C = np.ascontiguousarray(cents, dtype=np.float64)
    c2 = (C**2).sum(1)[None, :]

    @arrow_udf("int")
    def nearest(v: pa.Array) -> pa.Array:
        if not len(v):
            return pa.array([], pa.int32())
        X = list_to_matrix(v, "nearest_udf input vector")
        # in-place: (-2G) + x2 == x2 - 2G bit-for-bit; saves two
        # (batch, k) temporaries of memory traffic per batch
        d = X @ C.T
        d *= -2.0
        d += (X**2).sum(1)[:, None]
        d += c2
        return pa.array(d.argmin(1).astype(np.int32))

    return nearest


def pq_encode_udf(books: np.ndarray, normalize: bool = True):
    """Arrow UDF: full m-subspace PQ encode in ONE pass — per batch,
    m small matmuls instead of m jobs × k×sub interpreted ops per row.
    ``books`` is (m, k, sub); input vectors are L2-normalized first
    when ``normalize`` (matching pq_index's stored-vector convention).
    A null or ragged input vector raises ``ValueError``."""
    B = np.ascontiguousarray(books, dtype=np.float64)
    m, k, sub = B.shape
    b2 = (B**2).sum(2)  # (m, k)

    @arrow_udf("array<int>")
    def encode(v: pa.Array) -> pa.Array:
        if not len(v):
            return pa.array([], pa.list_(pa.int32()))
        X = list_to_matrix(v, "pq_encode_udf input vector")
        if normalize:
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            X = X / nrm
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub:(s + 1) * sub]
            # in-place form, bit-identical (see nearest_udf)
            d = Xs @ B[s].T
            d *= -2.0
            d += (Xs**2).sum(1)[:, None]
            d += b2[s][None, :]
            codes[:, s] = d.argmin(1)
        return matrix_to_list(codes)

    return encode


def train_centroids(
    df: DataFrame,
    vec: str,
    k: int,
    iterations: int = 10,
    sample_size: int = 262_144,
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """``sample`` short-circuits the corpus scan: callers that train
    several quantizers from the SAME (df, vec, sample_size, seed) —
    build_ivfpq_index trains coarse centroids AND m codebooks — pass
    the one materialized sample instead of paying sample_vectors'
    full scan + driver collect per trainer.  Output is bit-identical
    to the resample (sample_vectors is deterministic)."""
    X = sample if sample is not None else sample_vectors(
        df, vec, sample_size, seed
    )
    return lloyd(X, k, iterations=iterations, seed=seed)


def train_pq_codebooks(
    df: DataFrame,
    vec: str,
    m: int,
    k: int,
    iterations: int = 10,
    sample_size: int = 262_144,
    seed: int = 42,
    normalize: bool = True,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """(m, k, sub) codebooks trained per subspace on one shared
    sample.  ``sample`` skips the corpus scan (see train_centroids);
    the passed array is never mutated (normalize rebinds)."""
    X = sample if sample is not None else sample_vectors(
        df, vec, sample_size, seed
    )
    if normalize:
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        X = X / nrm
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # Subspace trainings are independent (each lloyd call is
    # seeded per subspace and touches only its slice), so run them on
    # a thread pool — numpy's BLAS kernels release the GIL, and the
    # driver otherwise trains m codebooks sequentially while the
    # cluster idles.  Results are identical to the sequential loop.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        books = list(
            pool.map(
                lambda s: lloyd(
                    X[:, s * sub:(s + 1) * sub], k,
                    iterations=iterations, seed=seed + s,
                ),
                range(m),
            )
        )
    return np.stack(books)
