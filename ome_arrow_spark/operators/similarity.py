"""Similarity search over embedding columns (SURVEY.md §2C):
brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random hyperplane / SimHash-for-vectors) variant as the scale path.

Brute force is O(|Q| × |C|) — correct at any scale when |Q| is small
(the query side is broadcast); the LSH variant trades recall for a
bucket-join at corpus×corpus scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa  # module-level so arrow_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ome_arrow_spark.functions.vectors import dot, norm
from ome_arrow_spark.sources.arrow_records import list_to_matrix, matrix_to_list


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    digits: int = 6,
    impl: str = "plan",
) -> DataFrame:
    """Exact top-k cosine neighbors per query. The query side is
    broadcast (small), so the corpus is scanned exactly once with no
    shuffle; ranking shuffles only |Q|×|C| scored rows on qid.
    Similarity is rounded to ``digits`` and ties break on corpus id —
    fully deterministic.

    ``impl="plan"`` (default) scores with a Catalyst HOF expression —
    the in-plan mode the DuckDB oracle replays term-for-term.
    ``impl="arrow"`` is the corpus-scale exact path: the |Q|-row query
    matrix broadcasts into a ``mapInArrow`` scan that scores a BATCH
    against all queries with one numpy matmul and emits only each
    partition's per-query top-k (:func:`_batch_topk`), so the ranking
    shuffle carries O(partitions × |Q| × k) rows instead of |Q| × |C|
    (measured ~40× on the 100k bench fixture; rounding uses numpy
    half-even rather than Spark half-up — identical off exact .5 ulp
    boundaries).  A null or ragged vector raises ``ValueError``."""
    if impl == "arrow":
        from pyspark.sql.pandas.types import to_arrow_type

        q_rows = queries.select(F.col(query_id), F.col(vec)).collect()
        if not q_rows:
            raise ValueError("cosine_topk: empty query side")
        qid_type = queries.schema[query_id].dataType
        qids = pa.array([r[0] for r in q_rows], to_arrow_type(qid_type))
        Q = list_to_matrix(pa.array([r[1] for r in q_rows]), vec)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
        cid_t = corpus.schema[corpus_id].dataType.simpleString()
        out_schema = (
            f"{query_id} {qid_type.simpleString()}, {corpus_id} {cid_t}, "
            "cos_sim double"
        )
        names = (query_id, corpus_id, "cos_sim")

        def score(batches):
            for batch in batches:
                if not batch.num_rows:
                    continue
                X = list_to_matrix(batch.column(vec), vec)
                Xn = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-300
                )
                S = np.round(Xn @ Qn.T, digits)  # (batch, |Q|)
                yield _batch_topk(qids, batch.column(corpus_id), S, k, names)

        scored = corpus.select(F.col(corpus_id), F.col(vec)).mapInArrow(
            score, out_schema
        )
    elif impl == "plan":
        # Norms are per-ROW quantities — compute them once per side
        # BEFORE the cross join instead of re-deriving both inside every
        # pair's cosine (3 HOF folds per pair → 1). sqrt(dot(v,v)) here
        # is the exact double `cosine` would produce, so
        # dot/(qn*cn) is bit-identical to the old fused expression.
        q = queries.select(
            F.col(query_id),
            F.col(vec).alias("__qv"),
            norm(F.col(vec)).alias("__qn"),
        )
        c = corpus.select(
            F.col(corpus_id),
            F.col(vec).alias("__cv"),
            norm(F.col(vec)).alias("__cn"),
        )
        scored = F.broadcast(q).crossJoin(c).select(
            query_id,
            corpus_id,
            F.round(
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                digits,
            ).alias("cos_sim"),
        )
    else:
        raise ValueError(f"impl must be 'plan' or 'arrow', got {impl!r}")
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _batch_topk(
    qids: pa.Array, ids: pa.Array, S: np.ndarray, k: int, names
) -> pa.RecordBatch:
    """One scored batch's per-query top-``k``: column ``q`` of the
    (batch, |Q|) score matrix ``S`` ranks the batch rows ``ids`` for
    query ``qids[q]``.  The lexsort keeps the GLOBAL tie-break (score
    desc, id asc), so tied candidates never drop arbitrarily and the
    window rank after the shuffle equals the in-plan impl's.  Returns
    (query id, row id, score) rows named ``names``, ids in their input
    Arrow types."""
    keys = ids.to_numpy(zero_copy_only=False)
    kk = min(k, len(keys))
    sel = np.concatenate(
        [np.lexsort((keys, -S[:, q]))[:kk] for q in range(S.shape[1])]
    )
    qi = np.repeat(np.arange(S.shape[1]), kk)
    return pa.RecordBatch.from_arrays(
        [qids.take(qi), ids.take(sel), pa.array(S[sel, qi])], names=list(names)
    )


def _hyperplane_sign(vec: Column, plane: int) -> Column:
    """Deterministic pseudo-random hyperplane dot-product sign: the
    plane's i-th component is ``2·(ascii(md5("{plane}:{i}")[0]) % 2) −
    1`` — no RNG state, reproducible on any executor, and recomputed
    bit-identically by DuckDB's ``md5`` (the oracle twins replay it).

    NOT a linear mix like ``(a*plane + b*i) % 2``: with odd a, b that
    collapses to (plane+i) parity, making every plane the same
    hyperplane or its mirror — an n-bit signature that is really 1 bit
    (caught by the recall calibration: recall was flat in n_planes)."""

    def sgn(i):
        h = F.md5(F.concat_ws(":", F.lit(str(plane)), i.cast("string")))
        return 2 * F.pmod(F.ascii(F.substring(h, 1, 1)), F.lit(2)).cast("int") - 1

    return (
        F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x.cast("double") * sgn(i),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        > 0
    ).cast("int")


def lsh_signature(vec: Column, n_planes: int = 8, table: int = 0) -> Column:
    """n-bit random-hyperplane signature as an int bucket key; ``table``
    offsets the plane seeds so each LSH table draws independent planes.
    The in-plan fold is the reference the vectorized signature UDF of
    :func:`_lsh_sig_array` is tested bit-identical against."""
    sig = None
    for p in range(n_planes):
        bit = _hyperplane_sign(vec, table * 1000 + p) * (2**p)
        sig = bit if sig is None else sig + bit
    return sig.cast("int")


def _md5_sign_matrix(n_tables: int, n_planes: int, dim: int):
    """(n_tables·n_planes, dim) ±1 hyperplane matrix carrying the EXACT
    signs :func:`_hyperplane_sign` derives per element.  hashlib, Spark
    ``md5`` and DuckDB ``md5`` all produce the same lowercase hex
    digest of the same UTF-8 bytes, so these are constants — no
    per-row hashing (the in-plan fold pays tables·planes·dim
    interpreted md5 calls per ROW)."""
    import hashlib

    plane_ids = [t * 1000 + p for t in range(n_tables) for p in range(n_planes)]
    mat = np.empty((len(plane_ids), dim), dtype=np.float64)
    for j, pl in enumerate(plane_ids):
        for i in range(dim):
            h = hashlib.md5(f"{pl}:{i}".encode()).hexdigest()
            mat[j, i] = 2 * (ord(h[0]) % 2) - 1
    return mat


def _hyperplane_bits(X, S):
    """``(X·Sᵀ > 0, recomputed)`` for a float64 batch ``X`` (n, d) and a
    ±1 sign matrix ``S`` (planes, d), BIT-IDENTICAL to the in-plan fold
    ``((0 + x₀·s₀) + x₁·s₁) + …`` — at matmul speed.

    Every product xᵢ·sᵢ is exact (sᵢ = ±1), and any summation order of
    d doubles lands within γ_{d−1}·Σ|xᵢ| of the real sum (γ_d =
    d·u/(1−d·u), u = 2⁻⁵³).  So wherever the matmul's value lies
    outside ±2·γ_d·Σ|xᵢ| both it and the ordered fold carry the real
    sum's (nonzero) sign; only rows with some plane inside that band —
    a zero vector, exact cancellation, summation-order-sensitive
    magnitudes — re-run the ordered fold, column by column.  A NaN
    (non-finite input or matmul overflow) fails the ``>`` test and is
    recomputed too.  ``recomputed`` is the boolean row mask."""
    d = X.shape[1]
    V = X @ S.T
    du = d * 2.0**-53
    band = 2 * (du / (1 - du)) * np.abs(X).sum(axis=1, keepdims=True)
    redo = ~(np.abs(V) > band).all(axis=1)
    bits = V > 0
    if redo.any():
        Xr = X[redo]
        acc = np.zeros((len(Xr), S.shape[0]))
        for i in range(d):
            acc += Xr[:, i : i + 1] * S[:, i]
        bits[redo] = acc > 0
    return bits, redo


def _lsh_sig_array(vec: str, n_planes: int, n_tables: int) -> Column:
    """Column expression: the per-table signature array (index = table)
    of ``vec`` — the one signature computation both the exploded bucket
    rows and the canonical-dedup filter derive from.  An Arrow UDF over
    batches: the sign matrix is built once per partition from the
    batch width, then :func:`_hyperplane_bits` signs every row, so the
    buckets equal :func:`lsh_signature`'s and the DuckDB twins'.
    Contract: fixed-width vectors.  A null or empty vector gets a null
    array, as :func:`lsh_signature` gives it a null signature: the row
    collides with nothing."""
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @arrow_udf("array<int>")
    def sigs(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        S = None
        for v in batches:
            ok = pc.fill_null(pc.list_value_length(v), 0).to_numpy() > 0
            if not ok.any():
                yield pa.nulls(len(v), pa.list_(pa.int32()))
                continue
            X = list_to_matrix(v if ok.all() else v.filter(pa.array(ok)), vec)
            if S is None:
                S = _md5_sign_matrix(n_tables, n_planes, X.shape[1])
            bits, _ = _hyperplane_bits(X, S)
            sig = (bits.reshape(len(X), n_tables, n_planes) * weights).sum(-1)
            yield matrix_to_list(sig.astype(np.int32), ok)

    return sigs(F.col(vec))


def _lsh_sig_side(
    df,
    id_col: str,
    vec: str,
    out_vec: str,
    n_planes: int,
    n_tables: int,
    sigs_col: str | None = None,
):
    """One side of an LSH bucket join: (id, vector, table, signature)
    rows — ALL tables from ONE pass (posexplode of the per-table
    signature array, never a per-table rescan).

    ``sigs_col`` retains the FULL signature array on every exploded row
    instead of the vector — the canonical-first-collision dedup filter
    needs both sides' arrays to test "did this pair already collide in
    an earlier table".  posexplode_outer keeps Catalyst from inferring
    a ``size(arr) > 0`` pre-Generate filter that would evaluate the
    signature UDF a second time per row (a null array — a null or
    empty vector — yields null join keys, dropped by the inner bucket
    join — same pair set)."""
    arr = _lsh_sig_array(vec, n_planes, n_tables)
    if sigs_col is not None:
        return df.select(F.col(id_col), arr.alias(sigs_col)).select(
            id_col,
            sigs_col,
            F.posexplode_outer(F.col(sigs_col)).alias("__t", "__sig"),
        )
    return df.select(
        F.col(id_col),
        F.col(vec).alias(out_vec),
        F.posexplode(arr).alias("__t", "__sig"),
    )


def _canonical_lsh_pairs(
    ls,
    rs,
    left_id: str,
    right_id: str,
    n_tables: int,
    dis_by_t: dict[int, set[int]] | None = None,
    broadcast_left: bool = False,
):
    """DISTINCT candidate pairs from two exploded signature sides with
    NO dedup shuffle: a pair is emitted only by the FIRST table (lowest
    ``__t``) whose buckets collide — later collisions are filtered
    map-side by comparing the carried signature arrays.  The emitted
    set is exactly ``dropDuplicates(left_id, right_id)`` of the bucket
    join (every surviving pair has a unique minimal colliding table),
    without the 2-phase aggregate + exchange of the full pre-dedup pair
    stream; what's carried instead is one n_tables-int array per
    SIGNATURE row — ~4·n·T² bytes on the signature shuffle vs
    ~24·n·T·target_bucket through a dedup exchange, under 10% of it
    even at T=128.

    ``dis_by_t`` maps table → skew-capped (disallowed) signature set,
    collected on the driver; those buckets are pruned from BOTH sides
    and treated as non-collisions in the canonical test, so the pair
    set equals the allow-list + ``dropDuplicates`` form exactly.  Each
    predicate is one SQL string (one parse instead of a py4j Column
    call per term; SQL ``arr[t]`` is the same 0-based ``GetArrayItem``
    as ``col[t]``).

    The returned pairs are hash-partitioned on ``left_id`` into
    ``defaultParallelism`` partitions — one task wave.  With every join
    upstream broadcast-sized, nothing else forces an exchange before
    the consumer, so without it a local run scores millions of pairs
    in the input's single scan task (measured 55 s vs 7 s on the
    20k×20k bench join).  The width is explicit because AQE coalesces
    a repartition by column by bytes, and the thin pairs (~24 B each)
    then land in one task that runs every re-attach join, dot fold and
    top-k window while the other slots idle.  Every consumer (top-k
    window, threshold filter + components) partitions by ``left_id``
    anyway, so it reuses this exchange."""
    dis_by_t = dis_by_t or {}

    def in_list(sigs):
        return ", ".join(str(s) for s in sorted(sigs))

    lhs, rhs = ls, rs
    if dis_by_t:
        pruned = " OR ".join(
            f"(__t = {t} AND __sig IN ({in_list(sigs)}))"
            for t, sigs in sorted(dis_by_t.items())
        )
        lhs, rhs = ls.filter(f"NOT ({pruned})"), rs.filter(f"NOT ({pruned})")
    if broadcast_left:
        lhs = F.broadcast(lhs)
    earlier = []
    for t in range(n_tables):
        term = f"{t} < __t AND __lsigs[{t}] = __rsigs[{t}]"
        if dis_by_t.get(t):
            term += f" AND __lsigs[{t}] NOT IN ({in_list(dis_by_t[t])})"
        earlier.append(f"({term})")
    width = ls.sparkSession.sparkContext.defaultParallelism
    return (
        lhs.join(rhs, ["__t", "__sig"])
        .filter(f"NOT ({' OR '.join(earlier)})")
        .select(left_id, right_id)
        .repartition(width, F.col(left_id))
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    digits: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing a bucket
    with the query in ANY of ``n_tables`` independent hyperplane tables
    (multi-table OR — recall ≈ 1-(1-p^planes)^tables), then exact
    cosine within the candidate set.

    Scale: all tables come from ONE pass over each side (explode of the
    per-table signature array — not a per-table rescan); the bucket
    join replaces the full cross product, shrinking the scored set by
    ~2^n_planes / n_tables. Tune (n_planes ↓ recall-per-table ↑ bucket
    size ↑) × (n_tables ↑ recall ↑ cost ↑); see the calibration table
    in README.

    Every call uses the one md5-derived hyperplane family, which the
    DuckDB twin replays bit-for-bit: the signatures come from an
    Arrow-batched matmul against the ±1 sign matrix, with the ordered
    fold re-run only on rows whose dot products sit too near zero for
    the summation order to be irrelevant (:func:`_hyperplane_bits`).
    A query or corpus row with a null or empty vector matches nothing.

    Pair plumbing: the bucket join moves THIN id pairs only — the
    vectors and their norms re-attach afterwards by id joins (query
    side broadcast per the |Q|-small contract).  Carrying BOTH
    embedding arrays through the pair stream costs ~16·dim bytes per
    pair; the thin form measured 2.9 s vs 14.9 s for that one on the
    100k bench fixture (217k candidate pairs), results bit-identical.
    Pairs are emitted only by their FIRST colliding table (map-side
    canonical filter over the carried signature arrays — see
    :func:`_canonical_lsh_pairs`), so no dedup exchange runs.  Norms
    are computed once per side row; each pair pays one dot fold."""
    q = _lsh_sig_side(
        queries, query_id, vec, "__qv", n_planes, n_tables,
        sigs_col="__lsigs",
    )
    c = _lsh_sig_side(
        corpus, corpus_id, vec, "__cv", n_planes, n_tables,
        sigs_col="__rsigs",
    )
    thin = _canonical_lsh_pairs(
        q, c, query_id, corpus_id, n_tables, broadcast_left=True
    )
    pairs = thin.join(
        F.broadcast(
            queries.select(
                F.col(query_id),
                F.col(vec).alias("__qv"),
                norm(F.col(vec)).alias("__qn"),
            )
        ),
        query_id,
    ).join(
        corpus.select(
            F.col(corpus_id),
            F.col(vec).alias("__cv"),
            norm(F.col(vec)).alias("__cn"),
        ),
        corpus_id,
    )
    scored = pairs.select(
        query_id,
        corpus_id,
        F.round(
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
            digits,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def knn_join_planes(n_right: int, target_bucket: int = 256) -> int:
    """Signature width that keeps the EXPECTED right-side bucket near
    ``target_bucket`` rows: 2^planes buckets per table must cover
    n_right / target_bucket.  A FIXED plane count makes candidate
    volume Θ(n²/2^planes) — quadratic in the corpus (4 planes → 16
    buckets measured 49 GB of candidate shuffle at a 20k×20k
    self-join).  Scaling planes with log2(n) pins candidates at
    ~n_left · n_tables · target_bucket: LINEAR in the left side at any
    corpus size."""
    import math

    if n_right <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(n_right / target_bucket)))


def knn_join_tables(n_planes: int) -> int:
    """Table count that holds kNN-join recall roughly CONSTANT as the
    data-derived signature widens: with tables fixed at 8, measured
    recall@2 collapses 0.70 → 0.44 → 0.084 across sf0.01 → sf1 → sf10
    as :func:`knn_join_planes` grows 4 → 6 → 10.

    Per-table collision probability for a fixed-similarity pair decays
    geometrically in the plane count — the measured per-table recall
    x(p) solved from 1-(1-x)^8 at those three points fits x ≈ c^p with
    c ≈ 0.64 on the embeddings fixture — so holding T·c^p constant
    means T must grow by 1/c ≈ 25/16 per added plane.  The formula is
    EXACT INTEGER arithmetic (ceil(8·25^d/16^d), d = planes-4, capped
    at 128) so the DuckDB oracle reproduces it bit-for-bit from
    COUNT(*) with no float-pow cross-engine hazard: T = 8, 13, 20, 31,
    48, 75, 117, 128 at p = 4..11+.

    Candidate volume stays LINEAR in |left| at every point — the bound
    is 2·n_left·T·target_bucket and T is a function of log(n_right),
    so total cost grows n·polylog(n), the price of scale-stable recall
    (more data at the same plane width would instead blow the bucket
    sizes quadratically)."""
    d = min(max(n_planes - 4, 0), 7)
    return min(128, max(8, (8 * 25**d + 16**d - 1) // 16**d))


def _knn_join_sizing(
    right: DataFrame,
    n_planes: int | None,
    n_tables: int | None,
    target_bucket: int,
    max_bucket: int | None,
) -> tuple[int, int, int, int]:
    """``(n_right, n_planes, n_tables, max_bucket)`` of one kNN join:
    one ``right.count()`` job, then each ``None`` derived — the width by
    :func:`knn_join_planes`, the table count from that width by
    :func:`knn_join_tables`, the skew cap as 64 × ``target_bucket``."""
    n_right = right.count()
    if n_planes is None:
        n_planes = knn_join_planes(n_right, target_bucket)
    if n_tables is None:
        n_tables = knn_join_tables(n_planes)
    if max_bucket is None:
        max_bucket = 64 * target_bucket
    return n_right, n_planes, n_tables, max_bucket


def knn_join_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "qid",
    right_id: str = "cid",
    vec: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    target_bucket: int = 256,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate-pair relation of :func:`knn_join_lsh` — exposed so
    gates/benches can assert the candidate count stays sub-quadratic
    (≲ n_left · n_tables · target_bucket) before paying for scoring.
    Buckets come from the one md5 hyperplane family of
    :func:`lsh_signature`, which the DuckDB twins replay bit-for-bit.

    One ``right.count()`` job sizes the join (O(scan), trivially
    cheaper than a mis-sized candidate explosion).  ``n_planes=None``
    (the default) derives the signature width from it via
    :func:`knn_join_planes`; ``n_tables=None`` (the default) derives
    the table count from that width via :func:`knn_join_tables` so
    recall does not silently collapse as the corpus grows — pass an
    explicit int to pin cost instead.  ``max_bucket=None`` derives the
    skew cap as 64 × target_bucket — reachable (64× the expected
    bucket), unlike a fixed 100k cap that could never engage below
    ~1.6M-row buckets.

    Pairs are DISTINCT on (left_id, right_id) with no dedup shuffle:
    each pair is emitted only by its first colliding table — the
    map-side canonical filter of :func:`_canonical_lsh_pairs` over
    carried signature arrays stands in for a ``dropDuplicates`` 2-phase
    aggregate + exchange of the full pre-dedup pair stream (measured
    1.52 vs 6.65 s on the 20k×20k bench join's pair stage, identical
    7.8M-pair output).  The embedding vectors re-attach afterwards by
    id-equi-joins against the original relations: carrying two
    dim-double vectors through the bucket join multiplies its shuffle
    by ~16·dim bytes per pair; the thin form is ~24 bytes/pair
    regardless of dim, and the re-attach joins are id-partitioned
    sort-merge (or AQE-broadcast when a side is small)."""
    n_right, n_planes, n_tables, max_bucket = _knn_join_sizing(
        right, n_planes, n_tables, target_bucket, max_bucket
    )
    ls = _lsh_sig_side(
        left, left_id, vec, "__lv", n_planes, n_tables,
        sigs_col="__lsigs",
    )
    rs = _lsh_sig_side(
        right, right_id, vec, "__rv", n_planes, n_tables,
        sigs_col="__rsigs",
    )
    # Skew census, skipped when n_right <= max_bucket: no bucket can
    # hold more right rows than the right side has.  Otherwise the
    # oversized buckets are FEW by construction (the guard exists for
    # boilerplate/zero-vector mega-buckets), so they are collected to
    # the driver and pruned with literal predicates — the canonical-
    # first-collision filter in _canonical_lsh_pairs needs the
    # disallowed set IN-EXPRESSION (a collision in a disallowed table
    # must not suppress the pair's allowed emission), which a
    # broadcast-joined allow-list cannot provide.
    dis_by_t: dict[int, set[int]] = {}
    if n_right > max_bucket:
        for r in (
            rs.groupBy("__t", "__sig")
            .agg(F.count("*").alias("__n"))
            .filter((F.col("__n") > max_bucket) & F.col("__sig").isNotNull())
            .select("__t", "__sig")
            .collect()
        ):
            dis_by_t.setdefault(int(r["__t"]), set()).add(int(r["__sig"]))
    pairs = _canonical_lsh_pairs(
        ls, rs, left_id, right_id, n_tables, dis_by_t=dis_by_t
    )
    # Norms re-attach alongside the vectors — computed once per source
    # row in the (small) side projections, so pair scoring pays one dot
    # fold per candidate instead of dot + two norms.
    return pairs.join(
        left.select(
            F.col(left_id),
            F.col(vec).alias("__lv"),
            norm(F.col(vec)).alias("__lv__n"),
        ),
        left_id,
    ).join(
        right.select(
            F.col(right_id),
            F.col(vec).alias("__rv"),
            norm(F.col(vec)).alias("__rv__n"),
        ),
        right_id,
    )


def knn_join_candidate_census(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "qid",
    right_id: str = "cid",
    vec: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    target_bucket: int = 256,
    max_bucket: int | None = None,
) -> int:
    """PRE-DEDUP candidate-pair count of :func:`knn_join_candidates`
    from bucket-size aggregates alone — Σ over allowed (table, sig)
    buckets of |left ∩ bucket| · |right ∩ bucket| — without ever
    materializing a pair row.  An upper bound on the deduped count, so
    "measure before you pay": sizing a derived-``n_tables`` run at 100×
    data costs two signature scans + a groupBy, not the pair shuffle
    the census is there to predict.  Exact same bucket machinery (md5
    hyperplanes, :func:`_knn_join_sizing`) as the operator."""
    _, n_planes, n_tables, max_bucket = _knn_join_sizing(
        right, n_planes, n_tables, target_bucket, max_bucket
    )
    ls = _lsh_sig_side(left, left_id, vec, "__lv", n_planes, n_tables)
    rs = _lsh_sig_side(right, right_id, vec, "__rv", n_planes, n_tables)
    lc = ls.groupBy("__t", "__sig").agg(F.count("*").alias("__ln"))
    rc = rs.groupBy("__t", "__sig").agg(F.count("*").alias("__rn")).filter(
        F.col("__rn") <= max_bucket
    )
    row = (
        lc.join(rc, ["__t", "__sig"])
        .agg(F.sum(F.col("__ln") * F.col("__rn")).alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    left_id: str = "qid",
    right_id: str = "cid",
    vec: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    digits: int = 6,
    target_bucket: int = 256,
    max_bucket: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Distributed kNN JOIN — top-k approximate cosine neighbors from
    ``right`` for EVERY row of ``left``, with BOTH sides large.

    ``candidates`` lets a caller that already materialized (e.g.
    persisted) the :func:`knn_join_candidates` relation — say, to
    assert its size before paying for scoring, the registered-gate
    pattern — reuse it instead of building it a second time.  It must
    be that function's output: scoring reads the side-attached norms
    (``__lv__n``/``__rv__n``) it carries.

    :func:`cosine_topk_lsh` broadcasts its query side (the
    interactive-search contract, |Q| small); this is the corpus-scale
    twin: the two signature relations meet in a plain shuffle
    equi-join on (table, signature), so neither side ever concentrates
    on the driver or in a broadcast. That is the shape of
    embedding-based corpus linking (dedup across datasets, retrieval
    supervision mining, cross-modal alignment) at 10^9 × 10^9 rows.
    Signatures use the one md5 hyperplane family, so the registered
    ``knn_join_lsh`` query's DuckDB twin replays every bucket.  A row
    with a null or empty vector matches nothing.

    Sizing: ``n_planes`` defaults to DATA-DERIVED via
    :func:`knn_join_planes` — expected bucket ≈ ``target_bucket`` rows,
    so candidate volume is ~n_left · n_tables · target_bucket, linear
    in |left| at any corpus size (a fixed ``n_planes=4`` gives a
    16-bucket space and Θ(n²/16) candidates: 49 GB of shuffle at a
    20k×20k self-join).  ``n_tables`` defaults to DATA-DERIVED too
    (:func:`knn_join_tables`): a fixed table count under a growing
    plane width silently trades recall for the pinned cost — recall@2
    falls 0.70 → 0.084 across sf0.01 → sf10 at a fixed 8 — so the
    default buys the extra tables (cost still linear in |left|, ~T(log
    n) factor) and explicit ``n_tables`` is the pin-the-cost escape
    hatch.

    Skew guard: hyperplane buckets are balanced for centered data, but
    real corpora have boilerplate/zero-ish vectors that collapse into
    mega-buckets; any bucket with more than ``max_bucket`` RIGHT rows
    (default 64 × target_bucket) is dropped from candidate generation
    (the LSH-dedup ``max_bucket`` rationale — a B-row bucket emits
    |left∩bucket|·B candidate pairs).  The disallowed buckets are
    counted by a census of the right side and collected to the driver
    (≤ n_tables·2^n_planes rows); when the right side has no more than
    ``max_bucket`` rows no bucket can exceed it, and the census is
    skipped.  Candidates dedup on (left_id, right_id), exact cosine
    ranks inside, ties break on right id."""
    if candidates is None:
        candidates = knn_join_candidates(
            left,
            right,
            left_id=left_id,
            right_id=right_id,
            vec=vec,
            n_planes=n_planes,
            n_tables=n_tables,
            target_bucket=target_bucket,
            max_bucket=max_bucket,
        )
    # Side-attached norms: knn_join_candidates computes each vector's
    # norm once per side, not once per pair.
    sim = dot(F.col("__lv"), F.col("__rv")) / (
        F.col("__lv__n") * F.col("__rv__n")
    )
    scored = candidates.select(
        left_id,
        right_id,
        F.round(sim, digits).alias("cos_sim"),
    )
    w = Window.partitionBy(left_id).orderBy(
        F.col("cos_sim").desc(), F.col(right_id)
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    assigns every corpus vector to its nearest centroid (the inverted
    lists); each query probes only its ``n_probe`` nearest centroids
    and searches those lists exactly.

    Scale: the corpus is scanned once for assignment (materialize the
    listed corpus as a bucketed/partitioned table in production); per
    query, work shrinks from |corpus| to ~n_probe/n_centroids of it.
    Recall rises with n_probe; n_probe = n_centroids degenerates to
    brute force."""
    from pyspark.sql.window import Window

    from ome_arrow_spark.operators.clustering import _kmeans, _sq_l2, pack_centroids

    # coarse quantizer trained on the corpus (deterministic init/iters);
    # its centroids are the means of the final assignment, packed into
    # one broadcast row instead of plan literals
    assign, cents = _kmeans(
        corpus.select(F.col(corpus_id), F.col(vec).alias("__v")),
        n_centroids,
        3,
        corpus_id,
    )
    packed = pack_centroids(cents).localCheckpoint(eager=True)
    c_listed = assign.select(
        F.col(corpus_id),
        F.col("__v").alias("__cv"),
        norm(F.col("__v")).alias("__cn"),
        "cluster",
    )

    # per query: n_probe nearest centroids (query side is small — the
    # explode + window ranks k centroid candidates per query)
    q = queries.select(
        F.col(query_id),
        F.col(vec).alias("__qv"),
        norm(F.col(vec)).alias("__qn"),
    )
    probes = (
        q.crossJoin(F.broadcast(packed))
        .select(query_id, "__qv", "__qn", F.explode("__cents").alias("cs"))
        .select(
            query_id,
            "__qv",
            "__qn",
            F.col("cs.cluster").alias("cluster"),
            _sq_l2("__qv", F.col("cs.ctr")).alias("d2"),
        )
    )
    wq = Window.partitionBy(query_id).orderBy(F.col("d2"), F.col("cluster"))
    probed = (
        probes.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= n_probe)
        .select(query_id, "__qv", "__qn", "cluster")
    )

    # Per-side norms (query side broadcast, corpus side once per
    # listed row) — pair scoring pays one dot fold; bit-identical.
    scored = F.broadcast(probed).join(c_listed, "cluster").select(
        query_id,
        corpus_id,
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
            digits,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id: str = "qid",
    corpus_id: str = "cid",
    vec: str = "embedding",
    digits: int = 6,
    rerank: int | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate cosine top-k — the FAISS
    ``SQ8`` shape: every NORMALIZED corpus vector is quantized to one
    byte per dimension against per-dimension [lo, hi] ranges, so a
    float32 corpus shrinks 4× (a 100 TB embedding column becomes
    25 TB of codes) and scoring touches only the codes:

        score(q, c) = Σ_d  qn_d · (lo_d + code_d · (hi_d − lo_d)/255)

    Plan shape: ONE corpus pass computes the per-dimension ranges
    (2·dim aggregates, no explode, no shuffle beyond the final agg);
    quantize + score are pure Catalyst HOF expressions over the
    broadcast query side; ranking shuffles |Q|×|C| scored rows on qid
    exactly like :func:`cosine_topk`.  Codes round half-up via
    ``floor(x·255/(hi−lo) + 0.5)`` — plain arithmetic a SQL oracle
    replays bit-for-bit.  ``rerank=n`` keeps the top-``n`` SQ8
    candidates per query and re-ranks them with EXACT cosine (the
    two-stage recall knob, same contract as the PQ indexes).  Ties
    break on corpus id — fully deterministic either way.

    At index scale the codes (and ranges as table properties) would be
    PERSISTED like the PQ log table (pq_index.py); this operator is
    the ad-hoc/oracle-checked formulation."""
    dim = len(corpus.select(vec).first()[0])
    nv = lambda c: F.transform(  # noqa: E731
        c, lambda x: x.cast("double") / F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda a, y: a + y.cast("double")
                        * y.cast("double"))
        )
    )
    cn = corpus.select(F.col(corpus_id), nv(F.col(vec)).alias("__nv"))
    ranges = cn.agg(
        *[F.min(F.col("__nv")[d]).alias(f"lo{d}") for d in range(dim)],
        *[F.max(F.col("__nv")[d]).alias(f"hi{d}") for d in range(dim)],
    ).collect()[0]
    lo = [float(ranges[f"lo{d}"]) for d in range(dim)]
    hi = [float(ranges[f"hi{d}"]) for d in range(dim)]
    lo_a = F.array(*[F.lit(v) for v in lo])
    hi_a = F.array(*[F.lit(v) for v in hi])
    step_a = F.array(
        *[F.lit((h - l) / 255.0 if h > l else 0.0) for l, h in zip(lo, hi)]
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    codes = F.transform(idx, lambda i: F.when(
        F.element_at(hi_a, i + 1) > F.element_at(lo_a, i + 1),
        F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0),
                F.floor(
                    (F.col("__nv")[i] - F.element_at(lo_a, i + 1)) * 255.0
                    / (F.element_at(hi_a, i + 1) - F.element_at(lo_a, i + 1))
                    + 0.5
                ).cast("double"),
            ),
        ),
    ).otherwise(F.lit(0.0)))
    coded = cn.select(corpus_id, "__nv", codes.alias("__code"))
    q = queries.select(F.col(query_id), nv(F.col(vec)).alias("__qn"),
                       F.col(vec).alias("__qraw"))
    scored = F.broadcast(q).crossJoin(coded).select(
        query_id,
        corpus_id,
        "__qraw",
        "__nv",
        F.round(
            F.aggregate(
                idx, F.lit(0.0),
                lambda acc, i: acc + F.col("__qn")[i] * (
                    F.element_at(lo_a, i + 1)
                    + F.col("__code")[i] * F.element_at(step_a, i + 1)
                ),
            ),
            digits,
        ).alias("sq8_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("sq8_sim").desc(), F.col(corpus_id)
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    if rerank is None:
        return ranked.filter(F.col("rk") <= k).drop("__qraw", "__nv")
    cand = ranked.filter(F.col("rk") <= rerank)
    wx = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id)
    )
    return (
        cand.withColumn(
            "cos_sim",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__qraw").cast("array<double>"),
                        F.col("__nv"),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0), lambda a, v: a + v,
                ) / F.sqrt(
                    F.aggregate(
                        F.transform(F.col("__qraw"),
                                    lambda a: a.cast("double") * a),
                        F.lit(0.0), lambda a, v: a + v,
                    )
                ),
                digits,
            ),
        )
        .withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= k)
        .drop("__qraw", "__nv", "sq8_sim")
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    n_select: int = 4,
    lam: float = 0.7,
    query_id: str = "qid",
    corpus_id: str = "cid",
    rel_col: str = "cos_sim",
    vec: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance diversification of a per-query
    candidate set (Carbonell & Goldstein 1998): greedily select
    n_select items maximizing ``lam*rel - (1-lam)*max_sim_to_selected``
    — the standard retrieval-diversity rerank.

    The greedy loop is ONE Catalyst ``aggregate`` fold over the
    collected per-query candidate array (no UDF, no driver loop, no
    per-step shuffle): pairwise candidate similarities come from a
    k²-bounded self-join computed once, then each fold step scores the
    remaining items against the selected set with HOF lookups. All
    similarities and scores round to ``digits`` BEFORE comparisons, so
    selection (ties broken by ascending corpus id) is deterministic
    and engine-portable.

    Scale: candidate sets are k-bounded per query (k = rel top-k), so
    state is O(|Q| * k) rows and O(k²) sim entries per query — the
    expensive part stays the upstream top-k scan, as it should."""
    cv = candidates.join(corpus, corpus_id).select(
        query_id, corpus_id, rel_col, vec
    )

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.size(x) - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(x, i + 1).cast("double")
            * F.element_at(y, i + 1).cast("double"),
        )

    a, b = cv.alias("a"), cv.alias("b")
    av, bv = F.col(f"a.{vec}"), F.col(f"b.{vec}")
    sims = a.join(
        b,
        (F.col(f"a.{query_id}") == F.col(f"b.{query_id}"))
        & (F.col(f"a.{corpus_id}") != F.col(f"b.{corpus_id}")),
    ).select(
        F.col(f"a.{query_id}").alias(query_id),
        F.col(f"a.{corpus_id}").alias("ca"),
        F.col(f"b.{corpus_id}").alias("cb"),
        F.round(
            dot(av, bv) / (F.sqrt(dot(av, av)) * F.sqrt(dot(bv, bv))),
            digits,
        ).alias("sim"),
    )
    per_q = cv.groupBy(query_id).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(corpus_id).alias("cid"),
                         F.col(rel_col).alias("rel"))
            )
        ).alias("cands")
    ).join(
        sims.groupBy(query_id).agg(
            F.collect_list(F.struct("ca", "cb", "sim")).alias("simmap")
        ),
        query_id,
    )

    def lookup(simmap, x, y):
        return F.element_at(
            F.filter(simmap, lambda e: (e["ca"] == x) & (e["cb"] == y)), 1
        )["sim"]

    def step(state, _):
        sel, rem = state["sel"], state["rem"]
        simmap = F.col("simmap")
        scored = F.transform(
            rem,
            lambda r: F.struct(
                F.when(F.size(sel) == 0, r["rel"])
                .otherwise(
                    F.round(
                        F.lit(lam) * r["rel"]
                        - F.lit(1 - lam)
                        * F.array_max(
                            F.transform(
                                sel, lambda s: lookup(simmap, r["cid"], s["cid"])
                            )
                        ),
                        digits,
                    )
                )
                .alias("score"),
                r["cid"].alias("cid"),
            ),
        )
        best_score = F.array_max(F.transform(scored, lambda s: s["score"]))
        best_cid = F.array_min(
            F.transform(
                F.filter(scored, lambda s: s["score"] == best_score),
                lambda s: s["cid"],
            )
        )
        chosen = F.element_at(F.filter(rem, lambda r: r["cid"] == best_cid), 1)
        return F.struct(
            F.concat(sel, F.array(chosen)).alias("sel"),
            F.filter(rem, lambda r: r["cid"] != best_cid).alias("rem"),
        )

    init = F.struct(
        F.array().cast("array<struct<cid:bigint,rel:double>>").alias("sel"),
        F.col("cands").alias("rem"),
    )
    final = F.aggregate(F.sequence(F.lit(1), F.lit(n_select)), init, step)[
        "sel"
    ]
    return per_q.select(
        query_id, F.posexplode(final).alias("i", "s")
    ).select(
        query_id,
        (F.col("i") + 1).cast("int").alias("mmr_rank"),
        F.col("s.cid").alias(corpus_id),
        F.col("s.rel").alias(rel_col),
    )
