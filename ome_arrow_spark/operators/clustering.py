"""Iterative distributed algorithms (SURVEY.md §2C "iterative
algorithms" class): connected components over near-dup pairs (the
final step of corpus dedup — groups of transitively-similar docs) and
a minimal k-means over embeddings.

Both are driver-coordinated loops over DataFrame ops — the Spark
pattern for iteration: small state (labels frontier / centroids) flows
through joins or broadcasts; the big relation is never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Every node ends with the MIN node id of its component —
    deterministic, so a recursive-CTE oracle can re-derive it.
    Returns (node, component).

    Hybrid execution: the duplicate-pair graph is orders of magnitude
    smaller than the corpus (it holds only verified near-dup pairs), so
    when the deduplicated edge count fits comfortably on the driver
    (≤ ``small_graph_threshold``; the default 500k edges ≈ tens of MB
    of Row objects — budget driver memory accordingly before raising
    it) we collect it and run union-find — one job instead of ~2 per
    label-propagation round. Past the
    threshold the distributed path takes over: each round is one
    groupBy(min) over the edge list, no driver-side graph, rounds =
    graph diameter (near-dup clusters are tiny, 2-3 rounds),
    ``max_iter`` bounds pathological chains."""
    # localCheckpoint (not cache) each round: iterative self-derived
    # plans grow multiplicatively in lineage depth — without truncation
    # a 12-round chain OOMs the OPTIMIZER, not the data.
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.count() <= small_graph_threshold:
        return _components_driver_union_find(edges)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iter):
        # candidate: min over neighbors' labels and own
        neigh = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), "component")
        )
        new_labels = (
            labels.select("node", "component")
            .unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        old_labels = labels
        labels = new_labels
        # round 0 always changes labels when any edge exists — skip the
        # convergence-count job there (one fewer action per call)
        if it == 0:
            continue
        changed = (
            new_labels.alias("n")
            .join(old_labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        if changed == 0:
            break
    return labels


def _components_driver_union_find(edges: DataFrame) -> DataFrame:
    """Min-label union-find over a collected edge list (small-graph fast
    path of :func:`connected_components`). Always attaching the larger
    root under the smaller keeps every root = the component's min id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    node_type = edges.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("component", node_type),
        ]
    )
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(rows, schema)


def cluster_means(
    assigned: DataFrame, cluster_col: str = "cluster", vec_col: str = "__v"
) -> DataFrame:
    """Per-cluster element-wise mean of a vector column, vector-natively:
    posexplode → groupBy(cluster, pos) → re-assemble. Returns
    ``(cluster, ctr array<double>)``.

    Scale: the plan has O(1) aggregate expressions regardless of vector
    dimensionality (a 1024-dim embedding is NOT 1024 agg columns); the
    single shuffle carries (cluster × dim) keys with map-side partial
    aggregation, so skew is bounded by dim fan-out, not cluster sizes.
    Sums accumulate in DECIMAL(38,12) — exact and associative, so the
    means are independent of partitioning/summation order and an SQL
    oracle re-derives them bit-identically."""
    return _means(assigned, [cluster_col], vec_col)


def _means(assigned: DataFrame, keys: list, vec_col: str) -> DataFrame:
    """:func:`cluster_means` over the key columns ``keys`` (the last is
    the cluster id; the k-means core puts its group column first)."""
    per_dim = (
        assigned.select(*keys, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,12)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    )
    return (
        per_dim.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(*keys, F.col("pm").getField("m").alias("ctr"))
    )


def pack_centroids(cent_df: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """Collapse a (cluster, ctr) DataFrame to ONE row holding
    ``__cents: array<struct<cluster,ctr>>`` sorted by cluster id — the
    broadcast-able carrier for shuffle-free nearest-centroid assignment.
    Centroids travel as *data* (Arrow broadcast), never as plan
    literals: plan size stays O(1) in both k and dim."""
    return _pack(cent_df, [], cluster_col)


def _pack(cent_df: DataFrame, gcols: list, cluster_col: str = "cluster") -> DataFrame:
    """:func:`pack_centroids` with one packed row per value of the
    ``gcols`` columns (none: one row in all)."""
    return cent_df.groupBy(*gcols).agg(
        F.array_sort(F.collect_list(F.struct(F.col(cluster_col), F.col("ctr")))).alias(
            "__cents"
        )
    )


def _sq_l2(vec_col: str, ctr) -> object:
    """Squared L2 between a float-vector column and a double centroid
    array — a sequential left-to-right fold, the same order DuckDB's
    ``list_sum`` uses, so distances are IEEE-identical cross-engine."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            ctr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_nearest(
    v: DataFrame, packed: DataFrame, id_col: str, vec_col: str = "__v"
) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle: broadcast the
    1-row packed-centroid frame, score all k centroids inside one
    higher-order-function fold per row, keep the argmin (ties → lowest
    cluster id, because the array is cluster-sorted and the fold uses
    strict <). Returns (id, vec, cluster)."""
    return _assign(v, packed, id_col, vec_col, [])


def _assign(
    v: DataFrame, packed: DataFrame, id_col: str, vec_col: str, gcols: list
) -> DataFrame:
    """:func:`assign_nearest` against the packed row of each row's
    ``gcols`` value — a broadcast equi-join on them, or a
    broadcast cross join when there are none.  Returns
    (id, *gcols, vec, cluster)."""
    scored = F.transform(
        F.col("__cents"),
        lambda cs: F.struct(
            cs["cluster"].alias("c"), _sq_l2(vec_col, cs["ctr"]).alias("d2")
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(-1).alias("c"), F.lit(float("inf")).alias("d2")
        ),
        lambda acc, s: F.when(s["d2"] < acc["d2"], s).otherwise(acc),
    )
    # no empty ``on=[]`` join: PySpark rejects an empty key list
    joined = (
        v.join(F.broadcast(packed), gcols)
        if gcols
        else v.crossJoin(F.broadcast(packed))
    )
    return joined.select(id_col, *gcols, vec_col, best["c"].alias("cluster"))


def _kmeans(
    v: DataFrame, k: int, iterations: int, id_col: str, groups: int = 1
) -> tuple[DataFrame, DataFrame]:
    """The exact k-means, written once, over ``v`` = (id_col, __v).
    With ``groups`` > 1, ``v`` = (id_col, __s, __v) holds every id once
    per group ``__s`` in [0, groups) — the PQ subspaces — and each group
    is an independent k-means.  Returns ``(assigned, centroids)``: the
    final assignment (id_col, [__s], __v, cluster) and the means of that
    assignment ([__s], cluster, ctr).

    * init: cluster j = the (j+1)-th smallest id (in every group);
    * assign: :func:`_assign`, strict-< squared-L2 argmin fold, ties to
      the lowest cluster id;
    * update: :func:`_means`, DECIMAL(38,12) sums.

    These three choices are what ``suite.kmeans_cte_fragments`` replays
    in DuckDB.  The packed centroids are localCheckpoint-ed each round
    to truncate the iterative lineage, so a round — every group at once
    — is ONE job: the PQ build trains all m subspaces in
    ``iterations + 1`` jobs, not m times that."""
    from pyspark.sql.window import Window

    gcols = ["__s"] if groups > 1 else []
    keys = gcols + ["cluster"]
    # the k smallest ids are the first k·groups rows in (id, group)
    # order: the rank filter plans as one top-k (TakeOrderedAndProject)
    # whose single output partition the per-group packing reads
    # without a shuffle
    w_init = Window.orderBy(id_col, *gcols)
    cent0 = (
        v.withColumn("__rn", F.row_number().over(w_init))
        .filter(F.col("__rn") <= k * groups)
        .select(
            *gcols,
            ((F.col("__rn") - 1) / groups).cast("int").alias("cluster"),
            F.transform(F.col("__v"), lambda x: x.cast("double")).alias("ctr"),
        )
    )
    packed = _pack(cent0, gcols).localCheckpoint(eager=True)
    assigned = None
    for it in range(iterations):
        assigned = _assign(v, packed, id_col, "__v", gcols)
        if it < iterations - 1:
            packed = _pack(_means(assigned, keys, "__v"), gcols).localCheckpoint(
                eager=True
            )
    return assigned, _means(assigned, keys, "__v")


def kmeans(
    vectors: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 5,
) -> DataFrame:
    """Deterministic mini k-means: centroids init from the k smallest
    ids, fixed iteration count, squared-L2 assignment with lowest-id
    tiebreak. Returns (vec_id, cluster).

    Fully in-plan and vector-native: assignment is a shuffle-free
    broadcast + HOF argmin (:func:`assign_nearest`), the update is one
    posexplode shuffle with exact decimal accumulation
    (:func:`cluster_means`) — so each iteration costs exactly one
    shuffle and the whole run is re-derivable as unrolled SQL (the
    driver oracle does exactly that). Centroids are never plan
    literals; only the k-row packed frame is localCheckpoint-ed per
    round to truncate the iterative lineage.  The IVF and PQ builds
    share this k-means through :func:`_kmeans`."""
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("__v"))
    assigned, _ = _kmeans(v, k, iterations, id_col)
    return assigned.select(id_col, "cluster")
