"""Persistent IVF ANN index AS a transaction-log table.

``ivf_topk`` (similarity.py) retrains its coarse quantizer per query
run; at 100 TB the inverted lists must be a MATERIALIZED, incrementally
maintainable artifact.  This module stores them in the commit-log
format (sources/table_log.py): one row per corpus vector with its
``centroid_id``, files range-clustered on ``centroid_id`` so the
manifest's min/max stats make "read only the probed lists" a
FILE-SKIPPING property — a search with ``n_probe=2`` of 8 centroids
touches ~1/4 of the index files, no directory listing, no full scan.
The trained centroids ride in the table properties, so index
maintenance (new vectors ⇒ assign against stored centroids ⇒ MERGE)
and search are both snapshot-consistent, time-travelable, and
vacuum-safe like any other table.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

CENTROIDS_PROP = "ann.ivf.centroids"
METRIC_PROP = "ann.ivf.metric"


def build_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    table: str,
    n_centroids: int = 8,
    corpus_id: str = "cid",
    vec: str = "embedding",
    iterations: int = 3,
    overwrite: bool = False,
    train: str = "exact",
    sample_size: int = 262_144,
    extra_cols: tuple[str, ...] = (),
    centroids=None,
) -> int:
    """Train the k-means quantizer on ``corpus`` and materialize the
    inverted lists as a log table, range-clustered on ``centroid_id``.

    ``extra_cols`` carries metadata columns (labels, timestamps,
    source tags) into the stored lists so searches can FILTER
    candidates inside the index scan — the "filtered vector search"
    contract (predicate applies before ranking, top-k among passing
    rows only).
    Centroids (k × dim doubles) persist as a table property — JSON
    floats round-trip exactly, so search-time assignments match
    build-time assignments bit-for-bit.

    ``train="exact"`` (default) runs the oracle-reproducible decimal
    k-means fully in-plan — the mode the driver's DuckDB twin replays.
    ``train="sample"`` is the corpus-scale path (operators/quantizer.py):
    numpy training on a ≤``sample_size`` sample + one Arrow-batched
    assignment pass; ~80× faster to build at 100k vectors, same search
    contract.

    ``centroids`` (a (k, dim) array) SKIPS training and assigns
    against the given quantizer — the per-shard-parallel build path
    at corpus scale: train ONE shared codebook on a fixed sample,
    then build every shard's index independently (and concurrently)
    with it, so shard builds are embarrassingly parallel and a
    sharded search probes all shards with the same geometry
    (see :func:`ivf_sharded_search`)."""
    from ome_arrow_spark.sources import table_log as tl

    if centroids is not None or train == "sample":
        from ome_arrow_spark.operators import quantizer as QZ
        from ome_arrow_spark.plans import tuning

        if centroids is not None:
            import numpy as np

            cents = np.asarray(centroids, dtype=np.float64)
            n_centroids = len(cents)  # drives the range-cluster width
        else:
            cents = QZ.train_centroids(
                corpus, vec, n_centroids, sample_size=sample_size
            )
        # The nearest-centroid assignment pass runs in the INPUT's
        # partitions; spread a small-split corpus to slots width
        # first (tuning.spread_small_input — no-op at scale, per-row
        # assign is partition-independent so stored rows are
        # unchanged).
        spread = tuning.spread_small_input(corpus, corpus_id)
        listed = spread.select(
            QZ.nearest_udf(cents)(F.col(vec)).alias("centroid_id"),
            F.col(corpus_id).alias("cid"),
            F.col(vec).alias("embedding"),
            *[F.col(c) for c in extra_cols],
        )
        # repartitionByRange's boundary-sampling job re-evaluates its
        # child, paying the assignment UDF twice.  Unlike the PQ
        # builds' thin codes, IVF lists carry the raw embeddings, so
        # the checkpoint is taken only where the spread engaged (the
        # guard returns the corpus itself otherwise — one split-count
        # probe serves both): locally one eager materialization of a
        # few MB removes the duplicate pass; at corpus scale it is a
        # NO-OP and the one-time extra assign pass is the cheaper side
        # of the trade vs a full corpus copy in executor storage.
        if spread is not corpus:
            listed = listed.localCheckpoint(eager=True)
        cent_map = {j: [float(x) for x in cents[j]] for j in range(len(cents))}
    elif train == "exact":
        from ome_arrow_spark.operators.clustering import _kmeans

        assign, cents = _kmeans(
            corpus.select(F.col(corpus_id), F.col(vec).alias("__v")),
            n_centroids,
            iterations,
            corpus_id,
        )
        listed = (
            corpus.select(
                F.col(corpus_id),
                F.col(vec).alias("embedding"),
                *[F.col(c) for c in extra_cols],
            )
            .join(assign.select(corpus_id, "cluster"), corpus_id)
            .select(
                F.col("cluster").cast("int").alias("centroid_id"),
                F.col(corpus_id).alias("cid"),
                "embedding",
                *[F.col(c) for c in extra_cols],
            )
        )
        cent_map = {
            int(r["cluster"]): [float(x) for x in r["ctr"]]
            for r in cents.collect()
        }
    else:
        raise ValueError(f"train must be 'exact' or 'sample', got {train!r}")
    return tl.create_table(
        spark,
        listed.repartitionByRange(max(2, n_centroids // 2), "centroid_id"),
        table,
        properties={
            CENTROIDS_PROP: json.dumps(cent_map, sort_keys=True),
            METRIC_PROP: "cosine",
        },
        overwrite=overwrite,
    )


def _stored_centroids(table: str) -> dict[int, list[float]]:
    from ome_arrow_spark.sources import table_log as tl

    props = tl.table_properties(table)
    if CENTROIDS_PROP not in props:
        raise ValueError(f"not an IVF index table (no {CENTROIDS_PROP}): {table}")
    return {int(k): v for k, v in json.loads(props[CENTROIDS_PROP]).items()}


def add_to_ivf_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    table: str,
    corpus_id: str = "cid",
    vec: str = "embedding",
) -> int:
    """Incremental maintenance: assign new vectors against the STORED
    centroids (no retraining — the quantizer is the index's contract)
    and MERGE them in by corpus id.  Cost ∝ the new batch; the files
    of untouched centroids are carried by reference."""
    from ome_arrow_spark.operators.clustering import assign_nearest, pack_centroids
    from ome_arrow_spark.sources import table_log as tl

    cent_map = _stored_centroids(table)
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in sorted(cent_map.items())],
        "cluster int, ctr array<double>",
    )
    packed = pack_centroids(cent_df)
    assigned = assign_nearest(
        new_vectors.select(
            F.col(corpus_id).alias("cid"), F.col(vec).alias("__v")
        ),
        packed,
        "cid",
    )
    rows = assigned.select(
        F.col("cluster").cast("int").alias("centroid_id"),
        "cid",
        F.col("__v").alias("embedding"),
    )
    return tl.upsert_table(
        spark, rows, table, key="cid", cluster_by="centroid_id"
    )


def ivf_index_search(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    query_id: str = "qid",
    vec: str = "embedding",
    digits: int = 6,
    where: str | None = None,
) -> DataFrame:
    """Search the materialized index: pick each query's ``n_probe``
    nearest stored centroids (driver-side — queries are small by
    contract, centroids are k rows), manifest-prune the index to the
    union of probed lists, and rank exact cosine inside them.  The
    scan reads ONLY files whose ``centroid_id`` range intersects the
    probed set — at scale that is the inverted-list seek, done by the
    table format instead of a bespoke index file."""
    from ome_arrow_spark.sources import table_log as tl

    cent_map = _stored_centroids(table)
    q_rows = queries.select(F.col(query_id), F.col(vec)).collect()
    # one probe-selection implementation for both the monolithic and
    # sharded paths (ADVICE r13: the inline copy could drift from
    # _probe_pairs on a future tie-break change)
    probe_pairs, needed = _probe_pairs(cent_map, q_rows, n_probe, query_id, vec)

    # id columns keep whatever types the caller / stored table use
    # (string corpus ids are as valid as longs), so the empty and
    # non-empty paths must agree on the SAME derived schema
    snap = tl._resolve_snapshot(table)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    qid_type = queries.schema[query_id].dataType
    cid_type = schema["cid"].dataType
    empty_schema = T.StructType(
        [
            T.StructField(query_id, qid_type),
            T.StructField("cid", cid_type),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )

    if not probe_pairs:  # empty query set → empty, correctly-typed result
        return spark.createDataFrame([], empty_schema)

    live = tl._files_for_keys(snap["files"], "centroid_id", needed)
    if not live:  # probed lists currently hold no files
        return spark.createDataFrame([], empty_schema)
    lists = spark.read.schema(schema).parquet(
        *[os.path.join(table, p) for p in sorted(live)]
    )
    if where is not None:
        # filtered vector search: the predicate prunes candidates
        # INSIDE the manifest-pruned list scan (pushed to parquet),
        # before any scoring — top-k is computed among passing rows
        lists = lists.filter(F.expr(where))

    pairs = spark.createDataFrame(
        probe_pairs,
        T.StructType(
            [
                T.StructField(query_id, qid_type),
                T.StructField("centroid_id", T.IntegerType()),
            ]
        ),
    ).join(
        queries.select(F.col(query_id), F.col(vec).alias("__qv")), query_id
    )
    # r14: norms per side row (query side tiny, list side once per
    # stored vector) — pair scoring pays one dot fold, bit-identical
    # to the fused cosine.
    from ome_arrow_spark.functions.vectors import dot as _dot, norm as _norm

    lists_n = lists.withColumn("__cn", _norm(F.col("embedding")))
    pairs_n = pairs.withColumn("__qn", _norm(F.col("__qv")))
    scored = F.broadcast(pairs_n).join(lists_n, "centroid_id").select(
        query_id,
        "cid",
        F.round(
            _dot(F.col("__qv"), F.col("embedding"))
            / (F.col("__qn") * F.col("__cn")),
            digits,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def _probe_pairs(
    cent_map: dict[int, list[float]],
    q_rows: list,
    n_probe: int,
    query_id: str,
    vec: str,
) -> tuple[list[tuple[Any, int]], set[int]]:
    """Driver-side probe selection: each query's ``n_probe`` nearest
    stored centroids (queries are small by contract, centroids are k
    rows).  Returns (query, centroid_id) pairs plus the union of
    probed list ids for manifest pruning."""
    import numpy as np

    cent_ids = sorted(cent_map)
    cent_mat = np.array([cent_map[c] for c in cent_ids])
    pairs: list[tuple[Any, int]] = []
    needed: set[int] = set()
    for r in q_rows:
        qv = np.array(r[vec], dtype=np.float64)
        d2 = ((cent_mat - qv) ** 2).sum(axis=1)
        order = sorted(range(len(cent_ids)), key=lambda i: (d2[i], cent_ids[i]))
        for i in order[:n_probe]:
            pairs.append((r[query_id], cent_ids[i]))
            needed.add(cent_ids[i])
    return pairs, needed


def ivf_sharded_search(
    spark: SparkSession,
    tables: list[str],
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    query_id: str = "qid",
    vec: str = "embedding",
    digits: int = 6,
    where: str | None = None,
) -> DataFrame:
    """FUSED union-probe search over per-shard IVF indexes: prune
    every shard's manifest to its probed lists, read the union of
    live files in ONE scan, score once, and take ONE global top-k
    window per query.

    Result-identical to the per-shard-search-then-merge formulation
    (each shard's per-query top-k contains that shard's k best probed
    candidates, so a global top-k over unioned per-shard top-ks ==
    the top-k over ALL probed candidates — same ordering keys), but
    the plan has one scan / one broadcast join / one window instead
    of ``shards`` of each plus a merge window: sharding changes WHERE
    list files live, not the query plan.  At cluster scale the fused
    scan's file splits spread across executors exactly like a
    monolithic index read, so the sharded-search cost is the
    monolith's cost plus ``shards`` manifest lookups.

    Shards built from one shared codebook (``build_ivf_index(
    centroids=...)``) collapse to a single probe-pair broadcast; the
    general path groups shards by codebook signature and unions one
    fused scan per distinct codebook (centroid ids from different
    codebooks must not equi-join)."""
    from ome_arrow_spark.sources import table_log as tl

    if not tables:
        raise ValueError("ivf_sharded_search needs at least one shard")
    q_rows = queries.select(F.col(query_id), F.col(vec)).collect()
    qid_type = queries.schema[query_id].dataType

    # group shards by codebook signature; shards sharing a codebook
    # share probe pairs and one fused scan (the common case)
    schema: T.StructType | None = None
    groups: dict[tuple, dict[str, Any]] = {}
    for t in tables:
        cent_map = _stored_centroids(t)
        sig = tuple(sorted((c, tuple(v)) for c, v in cent_map.items()))
        snap = tl._resolve_snapshot(t)
        s = T.StructType.fromJson(json.loads(snap["schema"]))
        if schema is None:
            schema = s
        elif s != schema:
            # heterogeneous extra_cols across shards (an independent
            # re-index / incremental-growth regime) narrows the scan
            # to the shared fields — parquet readers tolerate files
            # with extra columns, so ONE fused scan still works; a
            # `where` referencing a non-shared column fails analysis
            # with Spark's own unresolved-column error (ADVICE r13:
            # the r13 hard ValueError tightened a contract the
            # per-shard-merge formulation used to accept)
            shared = {f.name: f for f in schema}
            schema = T.StructType(
                [f for f in s if f.name in shared and shared[f.name].dataType == f.dataType]
            )
            for req in ("cid", "embedding", "centroid_id"):
                if req not in schema.fieldNames():
                    raise ValueError(
                        f"shard {t} disagrees with prior shards on required "
                        f"column '{req}' (name or type) — shards must share "
                        "the (cid, embedding, centroid_id) core schema"
                    )
        g = groups.setdefault(sig, {"cent_map": cent_map, "snaps": []})
        g["snaps"].append((t, snap))

    empty_schema = T.StructType(
        [
            T.StructField(query_id, qid_type),
            T.StructField("cid", schema["cid"].dataType),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )

    from ome_arrow_spark.functions.vectors import dot as _dot, norm as _norm

    qv_df = queries.select(
        F.col(query_id),
        F.col(vec).alias("__qv"),
        _norm(F.col(vec)).alias("__qn"),
    )
    scored_parts: list[DataFrame] = []
    for g in groups.values():
        pairs, needed = _probe_pairs(
            g["cent_map"], q_rows, n_probe, query_id, vec
        )
        if not pairs:
            continue
        paths: list[str] = []
        for t, snap in g["snaps"]:
            live = tl._files_for_keys(snap["files"], "centroid_id", needed)
            paths.extend(os.path.join(t, p) for p in sorted(live))
        if not paths:
            continue
        lists = spark.read.schema(schema).parquet(*paths)
        if where is not None:
            lists = lists.filter(F.expr(where))
        pairs_df = spark.createDataFrame(
            pairs,
            T.StructType(
                [
                    T.StructField(query_id, qid_type),
                    T.StructField("centroid_id", T.IntegerType()),
                ]
            ),
        ).join(qv_df, query_id)
        # r14: per-side norms → one dot fold per scored pair
        # (bit-identical to the fused cosine).
        scored_parts.append(
            F.broadcast(pairs_df)
            .join(
                lists.withColumn("__cn", _norm(F.col("embedding"))),
                "centroid_id",
            )
            .select(
                query_id,
                "cid",
                F.round(
                    _dot(F.col("__qv"), F.col("embedding"))
                    / (F.col("__qn") * F.col("__cn")),
                    digits,
                ).alias("cos_sim"),
            )
        )

    if not scored_parts:
        return spark.createDataFrame([], empty_schema)
    merged = scored_parts[0]
    for p in scored_parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("cid")
    )
    return merged.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def optimize_ivf_index(
    spark: SparkSession, table: str, n_files: int | None = None
) -> int:
    """Restore centroid clustering after incremental MERGEs fragment
    the inverted-list files: one recluster commit on ``centroid_id``;
    search results are snapshot-identical and probe-pruning tightness
    is restored.  Default file budget: half the centroid count, the
    build-time layout."""
    from ome_arrow_spark.sources import table_log as tl

    if n_files is None:
        n_files = max(2, len(_stored_centroids(table)) // 2)
    return tl.recluster_table(
        spark, table, by="centroid_id", n_files=n_files
    )


def ivf_index_file_stats(
    table: str, clusters: set[int] | None = None
) -> tuple[int, int]:
    """(files a probe of ``clusters`` would read, total live files)."""
    from ome_arrow_spark.sources import table_log as tl

    snap = tl._resolve_snapshot(table)
    if clusters is None:
        return len(snap["files"]), len(snap["files"])
    live = tl._files_for_keys(snap["files"], "centroid_id", clusters)
    return len(live), len(snap["files"])
