"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall times.

Each query is forced with a cheap count-style action (the driver-facing
queries return DataFrames; we avoid collecting wide results)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ome_arrow_spark.session import get_spark
from ome_arrow_spark import suite
from ome_arrow_spark import suite_analytics, suite_llm, suite_ome, suite_streaming  # noqa: F401  (register queries)

# Headline set: one per operator family, weighted toward shuffle-heavy ops.
BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "join_left_order_counts",
    "agg_distinct",
    "agg_rollup",
    "window_rank",
    "window_analytic",
    "sort_topk",
    "json_events",
    "asof_events_orders",
    "sessionize_events",
    "triangle_count",
    # LLM / training-data ops
    "text_stats",
    "dedup_exact",
    "minhash_signatures",
    "neardup_lsh",
    "knn_cosine",
    # OME format half (synthesized images; exercises HOF pixel exprs)
    "ome_slice_crop",
    "ome_multiscale",
    # streaming (AvailableNow micro-batch end-to-end)
    "stream_tumbling",
    "stream_stateful",
    # composed pipeline + multimodal
    "near_dedup_full",
    "media_features",
    # r8 continued: span-level exact substring dedup (gram explode +
    # count shuffle + window merge) and the zero-shuffle RAG chunker
    "substring_dedup_apply",
    "doc_chunking",
]


# sf1 subset: the shuffle-heaviest relational queries + the LLM ops
# whose cost is corpus-size-driven — the regime where partition sizing
# and skew would first betray a 100×-scale design.
SF1_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "window_rank",
    "sort_topk",
    "asof_events_orders",
    "sessionize_events",
    "dedup_exact",
    "neardup_lsh",
    "text_stats",
    "substring_dedup_apply",
]


def bench_tiff_ingest(
    spark, n_images: int = 100, side: int = 512, real_tiff: bool = False,
    repeats: int | None = None,
) -> tuple[float, float]:
    """Distributed image-ingest throughput (BASELINE target:
    ≥50 images/s for 512² uint16): write n images once, time the
    binaryFile + mapInPandas decode to materialized plane stats.
    ``real_tiff`` benches genuine OME-TIFF bytes through the built-in
    codec (IFD walk + strip assembly + OME-XML parse); the FTIF metric
    stays for r1/r2 comparability."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark.operators.views import plane_stats
    from ome_arrow_spark.sources.tiff import encode_ftif, from_tiff_dir
    from ome_arrow_spark.sources.tiff_minimal import build_ome_xml, encode_tiff_baseline

    d = tempfile.mkdtemp(prefix="bench_tiff_")
    try:
        base = (np.arange(side * side, dtype=np.int64) % 65536).reshape(1, 1, 1, side, side)
        for i in range(n_images):
            vol = (base + i) % 65536
            if real_tiff:
                xml = build_ome_xml(
                    image_id=f"img{i:04d}", name=None, size_t=1, size_c=1,
                    size_z=1, size_y=side, size_x=side,
                )
                blob = encode_tiff_baseline(
                    vol[0, 0].astype(np.uint16), description=xml
                )
                ext = "ome.tif"
            else:
                blob = encode_ftif(vol, image_id=f"img{i:04d}")
                ext = "ftif"
            with open(os.path.join(d, f"img{i:04d}.{ext}"), "wb") as f:
                f.write(blob)
        glob = "*.ome.tif" if real_tiff else "*.ftif"
        action = lambda: plane_stats(from_tiff_dir(spark, d, glob=glob)).count()
        # One untimed warmup: the first decode pays Python-worker pool
        # spin-up + page-cache fill for the fixture files, which under
        # ambient load survives even a min-of-2 (observed 0.8s vs 3.2s
        # for IDENTICAL code across runs). The metric is steady-state
        # throughput, so measure steady state.
        action()
        label = ("ome" if real_tiff else "f") + f"tiff_ingest_{n_images}"
        dt = REC.timed_best(label, action, repeats or REPEATS)
        return dt, n_images / dt
    finally:
        shutil.rmtree(d, ignore_errors=True)


def bench_stream_ingest(
    spark, n_images: int = 200, side: int = 256, files_per_trigger: int = 50,
    sink: str = "merge",
) -> tuple[float, float]:
    """Structured-Streaming acquisition path end-to-end (ADVICE r7 #7):
    n FTIF files already waiting in the drop dir, AvailableNow stream →
    foreachBatch MERGE into a transaction-log table across
    n/files_per_trigger micro-batches. The wall includes stream/source
    planning, per-batch decode, and the per-batch atomic table commit —
    the steady-state img/s a continuous-microscope pipeline sustains
    (the batch twin, tiff_ingest_steady_800, excludes the streaming +
    commit machinery).

    ``sink`` picks the per-batch commit strategy: ``"merge"`` (the r8
    metric — manifest-pruned MERGE, needed when arriving keys can
    collide) or ``"append"`` (the r11 acquisition config — blind
    idempotent append via txnAppId/txnVersion, O(new-data) per batch,
    correct when ids are new by construction). The r11 profile
    (tools/stream_ingest_profile.py, PLANS.md) measured the per-batch
    floor at ~1.75 s merge / ~1.4 s append on local[32], FIXED in
    batch size — so steady-state img/s ≈ files_per_trigger / floor,
    and the trigger size is the throughput lever."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark.sources import table_log as tl
    from ome_arrow_spark.sources.tiff import encode_ftif, from_tiff_stream
    from ome_arrow_spark.streaming.events import run_foreach_batch

    d = tempfile.mkdtemp(prefix="bench_stream_src_")
    table = tempfile.mkdtemp(prefix="bench_stream_tbl_") + "/t"
    try:
        base = (np.arange(side * side, dtype=np.int64) % 65536).reshape(
            1, 1, 1, side, side
        )
        for i in range(n_images):
            blob = encode_ftif((base + i) % 65536, image_id=f"img{i:04d}")
            with open(os.path.join(d, f"img{i:04d}.ftif"), "wb") as f:
                f.write(blob)

        def merge(batch_df, batch_id):
            # No isEmpty() guard (r14): AvailableNow over a statically
            # staged drop dir plans only non-empty batches (replays
            # carry the same files), and the guard costs one scheduled
            # decode job per micro-batch — measured 0.6-1.1 s/batch,
            # ~25% of the per-trigger floor (OPTIMIZATION_r14.md
            # §streaming).  current_version() is a driver file check.
            if tl.current_version(table) is None:
                tl.create_ome_table(
                    spark, batch_df, table,
                    txn_app="bench_stream", txn_batch=batch_id,
                )
            elif sink == "merge":
                tl.upsert_ome_table(spark, batch_df, table)
            else:
                tl.append_ome_table(
                    spark, batch_df, table,
                    txn_app="bench_stream", txn_batch=batch_id,
                )

        t0 = time.time()
        run_foreach_batch(
            from_tiff_stream(
                spark, d, glob="*.ftif",
                max_files_per_trigger=files_per_trigger,
            ),
            merge,
            output_mode="append",
        )
        dt = time.time() - t0
        n = tl.read_ome_table(spark, table).count()
        assert n == n_images, f"stream ingested {n}/{n_images}"
        return dt, n_images / dt
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)


def bench_knn_join(spark, sf1_dir: str, k: int = 3) -> float | None:
    """Distributed kNN self-join at the sf1 embedding corpus (20k x
    20k, md5 hyperplane signatures, no broadcast/collect) — the
    corpus-linking shape whose cost is candidate-pair-driven. Returns
    wall seconds, or None when the sf1 fixture is absent."""
    emb_path = os.path.join(sf1_dir, "embeddings.parquet")
    if not os.path.isdir(sf1_dir) or not os.path.exists(emb_path):
        return None
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.similarity import (
        knn_join_candidates,
        knn_join_lsh,
        knn_join_planes,
    )

    emb = spark.read.parquet(emb_path)
    left = emb.select(F.col("vec_id").alias("qid"), "embedding")
    right = emb.select(F.col("vec_id").alias("cid"), "embedding")

    # Candidate-volume audit line (the r9 lesson: this row exploded to
    # 49 GB of shuffle under fixed 4-plane defaults; the data-derived
    # plane count keeps candidates ~n·tables·target_bucket — print the
    # measured count next to the n² ceiling so the sub-quadratic claim
    # is a recorded number, like tools/lsh_skew.py's table).
    # Bench operating point: target_bucket=64 (9 planes at 20k — 7.8M
    # pairs, ~16 s measured) vs the library default 256 (7 planes,
    # 26.9M pairs, ~50 s): the row exists to track the join's marginal
    # cost per candidate, and 64 keeps the wall inside the driver's
    # bench budget while exercising the identical plan shape.
    # n_tables pinned at 8 (not the r14 data-derived default): this row
    # tracks the join's marginal cost per candidate ACROSS ROUNDS, so
    # the operating point must stay fixed; the derived default's
    # recall-vs-cost at sf1/sf10 is stamped separately in
    # knn_recall_sweep_stamp.json.
    tb = 64
    n = emb.count()
    planes = knn_join_planes(n, target_bucket=tb)
    n_cand = knn_join_candidates(
        left, right, n_planes=planes, n_tables=8, target_bucket=tb
    ).count()
    print(
        f"# knn_join_sf1 sizing: n={n} planes={planes} candidate_pairs={n_cand} "
        f"(n*n/2 ceiling {n * n // 2}, ratio {n_cand / (n * n / 2):.4f})",
        file=sys.stderr,
    )

    def action():
        return knn_join_lsh(
            left, right, k=k, n_planes=planes, n_tables=8, target_bucket=tb
        ).count()

    action()  # warmup (plan + Python workers)
    return REC.timed_best("knn_join_sf1", action, REPEATS)


def bench_zarr_ingest(
    spark, n_stores: int = 30, side: int = 512
) -> tuple[float, float]:
    """Distributed NGFF-store ingest throughput: write n real Zarr v2
    stores (blosc-zlib chunks — the wild-store compressor family) once,
    time the manifest fan-out + built-in chunk decode to materialized
    plane stats."""
    import shutil
    import tempfile

    import numpy as np

    from ome_arrow_spark.operators.views import plane_stats
    from ome_arrow_spark.sources.zarr import from_zarr_manifest
    from ome_arrow_spark.sources.zarr_minimal import write_ngff_store

    d = tempfile.mkdtemp(prefix="bench_zarr_")
    try:
        base = (np.arange(side * side, dtype=np.int64) % 65536).reshape(
            1, 1, 1, side, side
        )
        stores = []
        for i in range(n_stores):
            vol = ((base + i) % 65536).astype("<u2")
            store = os.path.join(d, f"img{i:04d}.zarr")
            write_ngff_store(
                store, [vol], image_id=f"img{i:04d}",
                compressor="blosc", chunks=(1, 1, 1, 256, 256),
            )
            stores.append(store)
        action = lambda: plane_stats(from_zarr_manifest(spark, stores)).count()
        action()  # untimed warmup (same rationale as bench_tiff_ingest)
        dt = REC.timed_best("zarr_ingest", action, REPEATS)
        return dt, n_stores / dt
    finally:
        shutil.rmtree(d, ignore_errors=True)


def bench_table_log(
    spark, n_files: int = 1000, rows_per_file: int = 100
) -> dict[str, float]:
    """Transaction-log table format at ~1k-file scale: the two headline
    claims — scan planning/IO ∝ pruned fraction (manifest stats, no
    directory listing) and MERGE cost ∝ touched key range (file-level
    pruning) — as regression-tracked walls instead of pinned counts."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ome_arrow_spark.sources import table_log as tl

    d = tempfile.mkdtemp(prefix="bench_tlog_")
    t = os.path.join(d, "tbl")
    out: dict[str, float] = {}
    try:
        n = n_files * rows_per_file
        df = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        tl.create_table(spark, df.repartitionByRange(n_files, "k"), t)
        # ~1% key slice → manifest pruning keeps ~1% of files
        lo, hi = n // 2, n // 2 + n // 100
        preds = [("k", ">=", lo), ("k", "<", hi)]
        live, total = tl.pruned_file_count(t, predicates=preds)
        scan = lambda: tl.read_table(spark, t, predicates=preds).count()
        scan()  # warm
        out["table_scan_pruned"] = REC.timed_best("table_scan_pruned", scan, REPEATS)
        out["table_scan_pruned_files"] = float(live)
        full = lambda: tl.read_table(spark, t).count()
        full()
        out["table_scan_full"] = REC.timed_best("table_scan_full", full, REPEATS)
        # MERGE touching the same ~1% slice: upsert rewrites only the
        # key-range-overlapping files (each run adds a version — fine)
        updates = spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ).coalesce(1)
        merge = lambda: tl.upsert_table(spark, updates, t, key="k")
        out["table_merge_pruned"] = REC.timed_best("table_merge_pruned", merge, REPEATS)
        # DELETE of a 0.2% key slice from REALISTICALLY sized files
        # (16 range files of 250k rows with an incompressible payload
        # column), both ways on identical clones: deletion vectors
        # write O(matched rows) of sidecar bytes where rewrite mode
        # re-encodes every byte of every touched file.  On 100-row toy
        # files rewrite wins on fixed overheads — the file size IS the
        # variable the comparison is about.
        dn, dn_files = 4_000_000, 16
        ddf = spark.range(dn).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dlo, dhi = dn // 4, dn // 4 + dn // 500
        dpred = f"k >= {dlo} AND k < {dhi}"
        dprune = [("k", ">=", dlo), ("k", "<", dhi)]
        # best-of-2 on fresh clones: the first Arrow-UDF use in a
        # session pays ~2s of Python-worker pool spin-up that has
        # nothing to do with the delete itself
        for mode in ("dv", "rewrite"):
            walls = []
            for rep in range(2):
                clone = os.path.join(d, f"del_{mode}_{rep}")
                tl.create_table(
                    spark, ddf.repartitionByRange(dn_files, "k"), clone
                )
                t0 = time.perf_counter()
                tl.delete_from_table(
                    spark, clone, dpred, prune_predicates=dprune, mode=mode
                )
                walls.append(time.perf_counter() - t0)
            out[f"table_delete_{mode}"] = round(min(walls), 4)
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def bench_text_index(spark, sf_dir: str) -> dict[str, float]:
    """Search-side walls on a PREBUILT BM25 index (build cost amortizes
    across queries in production; the per-query search wall is the
    number that matters at scale)."""
    import shutil
    import tempfile

    from ome_arrow_spark.operators import text_index as TI
    from ome_arrow_spark.suite import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = tempfile.mkdtemp(prefix="bench_tix_") + "/idx"
    out: dict[str, float] = {}
    try:
        TI.build_text_index(spark, docs, t, n_files=8)
        search = lambda: TI.text_index_search(
            spark, t, ["data", "scan", "join"], k=10
        ).count()
        search()
        out["text_index_search_prebuilt"] = REC.timed_best(
            "text_index_search_prebuilt", search, REPEATS
        )
        qdf = spark.createDataFrame(
            [(i, "data scan join merge column filter") for i in range(100)],
            "query_id long, query string",
        )
        many = lambda: TI.text_index_search_many(
            spark, t, qdf, k=5
        ).count()
        many()
        out["text_index_search_100q"] = REC.timed_best(
            "text_index_search_100q", many, REPEATS
        )
        return out
    finally:
        shutil.rmtree(os.path.dirname(t), ignore_errors=True)


def make_ann_fixture(
    out_dir: str, n_vectors: int = 100_000, dim: int = 64,
    n_queries: int = 20, n_clusters: int = 32, seed: int = 42,
):
    """Deterministic clustered vector corpus + queries + brute-force
    ground truth (numpy): the recall oracle for every ANN index type.
    Returns (corpus_path, query_rows, truth) where truth[qid] is the
    exact cosine top-k id list (engine tie-break: round 6 digits, id
    asc)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n_vectors)
    X = (centers[labels] + 0.35 * rng.normal(size=(n_vectors, dim))).astype(
        np.float32
    )
    Q = (
        centers[rng.integers(0, n_clusters, n_queries)]
        + 0.35 * rng.normal(size=(n_queries, dim))
    ).astype(np.float32)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = np.round(Qn @ Xn.T, 6)
    truth = {}
    for qi in range(n_queries):
        # engine order: cos desc, corpus id asc — argsort on (-sim, id)
        order = np.lexsort((np.arange(n_vectors), -sims[qi]))
        truth[qi] = set(order[:10].tolist())
    corpus_path = os.path.join(out_dir, "ann_corpus.parquet")
    pq.write_table(
        pa.table(
            {
                "cid": pa.array(range(n_vectors), pa.int64()),
                "embedding": pa.array(
                    X.tolist(), pa.list_(pa.float32())
                ),
            }
        ),
        corpus_path,
    )
    q_rows = [(int(i), [float(v) for v in Q[i]]) for i in range(n_queries)]
    return corpus_path, q_rows, truth


def _recall_at10(result_rows, truth, query_id="qid", corpus_id="cid") -> float:
    got: dict[int, set] = {}
    for r in result_rows:
        got.setdefault(int(r[query_id]), set()).add(int(r[corpus_id]))
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits / (10 * len(truth))


def bench_ann(spark, n_vectors: int = 100_000) -> dict[str, float]:
    """Recall@10 + search wall for every ANN index type at 100k
    synthetic vectors vs a numpy brute-force oracle (VERDICT r7 "Next
    round" #6: recall as tracked numbers, not small-fixture tests)."""
    import shutil
    import tempfile

    from ome_arrow_spark.operators import ann_index as AI
    from ome_arrow_spark.operators import pq_index as PQ
    from ome_arrow_spark.operators import similarity as SIM

    d = tempfile.mkdtemp(prefix="bench_ann_")
    out: dict[str, float] = {}
    try:
        corpus_path, q_rows, truth = make_ann_fixture(d, n_vectors=n_vectors)
        corpus = spark.read.parquet(corpus_path)
        queries = spark.createDataFrame(
            q_rows, "qid long, embedding array<float>"
        )

        def run(label, fn):
            rows = fn().collect()
            out[f"ann_{label}_recall"] = round(_recall_at10(rows, truth), 4)
            out[f"ann_{label}_wall"] = REC.timed_best(
                f"ann_{label}", lambda: fn().count(), 1
            )

        # builds use train="sample" and brute uses impl="arrow" — the
        # corpus-scale paths (operators/quantizer.py); the in-plan
        # exact modes are what the sf0.01 driver oracles check
        run("brute",
            lambda: SIM.cosine_topk(queries, corpus, k=10, impl="arrow"))
        run(
            "lsh",
            lambda: SIM.cosine_topk_lsh(
                queries, corpus, k=10, n_planes=8, n_tables=16
            ),
        )
        ivf_t = os.path.join(d, "ivf")
        t0 = time.perf_counter()
        AI.build_ivf_index(spark, corpus, ivf_t, n_centroids=64, train="sample")
        out["ann_ivf_build_wall"] = round(time.perf_counter() - t0, 4)
        run(
            "ivf",
            lambda: AI.ivf_index_search(spark, ivf_t, queries, k=10, n_probe=8),
        )
        # k=256 codebooks (the FAISS operating point; k=16 is the tiny
        # oracle-fixture setting) trained on a 32k sample — recall@10
        # 0.73 → 0.93 at this corpus for ~4× the training cost
        pq_t = os.path.join(d, "pq")
        t0 = time.perf_counter()
        PQ.build_pq_index(
            spark, corpus, pq_t, m=8, k=256, train="sample",
            sample_size=32768,
        )
        out["ann_pq_build_wall"] = round(time.perf_counter() - t0, 4)
        out["ann_pq_k"] = 256.0
        # candidates = 4% of corpus: re-rank depth is the recall knob
        # (tests/test_ann_recall.py). r10 curve at 100k vectors
        # (tools: /tmp/pq_curve, recorded in PLANS.md ANN section):
        # cand=2000 → 0.89, cand=4000 → 1.00 at the same search wall
        # (~3-5 s); codebook iterations 3→8 do NOT move recall at
        # fixed cand (0.89 both) — so the r9 0.89@2% drift is closed
        # by deepening the pool, not retraining.
        cand = max(200, n_vectors // 25)
        out["ann_rerank_candidates"] = float(cand)
        run(
            "pq_rerank",
            lambda: PQ.pq_rerank_search(
                spark, pq_t, queries, corpus, topk=10, candidates=cand,
                impl="arrow",
            ),
        )
        ivfpq_t = os.path.join(d, "ivfpq")
        t0 = time.perf_counter()
        PQ.build_ivfpq_index(
            spark, corpus, ivfpq_t, n_centroids=64, m=8, k=256,
            train="sample", sample_size=32768,
        )
        out["ann_ivfpq_build_wall"] = round(time.perf_counter() - t0, 4)
        run(
            "ivfpq",
            lambda: PQ.ivfpq_rerank_search(
                spark, ivfpq_t, queries, corpus, topk=10, candidates=cand,
                n_probe=8,
            ),
        )
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _timed(action) -> float:
    t0 = time.perf_counter()
    action()
    return time.perf_counter() - t0


#: Idle-box wall of the `_spin` loop on the dev box (best of 5,
#: measured 2026-08-14).  The absolute value is box-specific; the
#: RATIO observed/idle is the load sentinel — ~1.0 on an idle box,
#: >1.3 means the stamp ran under CPU contention and its walls carry
#: ambient noise (the r7 adjudication problem: two ingest stamps read
#: 2-3× high purely from box load, VERDICT r7 "Next round" #4).
IDLE_SPIN_SEC = 0.092


def _spin_once() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def ambient_load_factor() -> float:
    """Best-of-3 single-thread spin wall over the idle calibration —
    every stamp carries its own credibility signal."""
    return round(min(_spin_once() for _ in range(3)) / IDLE_SPIN_SEC, 3)


#: Idle-box memory bandwidth of the `_bw_probe` copy loop (GB/s, best
#: of 8, measured 2026-08-18 on the r15 box).  The CPU spin sentinel
#: misses this box's documented failure mode — transient MEMORY
#: bandwidth collapses (the same 256 MB copy measured 0.034 s and
#: 3.89 s minutes apart while the spin factor read a steady ~1.29;
#: r14's 31 "regressed" untouched rows trace to such bursts).  The
#: probe's best-of-N is the box's idle capability; the worst-of-N is
#: the stamp's burst exposure — a worst/best ratio >> 1 means some
#: rows ran through a burst and their walls are not plan evidence.
IDLE_BW_GBPS = 15.9


def ambient_bw_probe(n: int = 5) -> tuple[float, float]:
    """(best, worst) GB/s of an N-round 32 MB buffer copy (64 MB
    resident: source + destination) — the bandwidth twin of the spin
    sentinel."""
    import numpy as np

    src = np.empty(4 * 1024 * 1024, dtype=np.int64)  # 32 MB
    src[:] = 1
    dst = np.ones_like(src)  # touched: page faults are not bandwidth
    nbytes = 2 * src.nbytes  # read + write
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        walls.append(time.perf_counter() - t0)
    return (
        round(nbytes / min(walls) / 1e9, 2),
        round(nbytes / max(walls) / 1e9, 2),
    )


class SpreadRecorder:
    """Collects every repeat's wall per metric so the stamp reports
    [best, median, worst] alongside the headline best-of-N."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}

    def timed_best(self, name: str, action, repeats: int) -> float:
        walls = sorted(_timed(action) for _ in range(repeats))
        self.samples[name] = [round(w, 4) for w in walls]
        return walls[0]

    def spreads(self) -> dict[str, list[float]]:
        return {
            f"{name}_spread": [ws[0], ws[len(ws) // 2], ws[-1]]
            for name, ws in self.samples.items()
            if len(ws) > 1
        }


REC = SpreadRecorder()


# Best-of-N per query: single-shot wall times on a shared box swing
# ±30% run-to-run (observed r1→r2→r3 on identical code); the minimum is
# the stable estimate of intrinsic plan cost. N=2 doubles bench wall
# (~80s at sf0.1) for an ~anchored signal.
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))


def main() -> None:
    """Crash-proof layout (round-10, after two consecutive rounds lost
    the driver stamp — r8 to stdout truncation, r9 to one exploding
    bench row aborting the whole process): every section AND every
    suite row runs inside try/except recording failures into
    ``errors``; the final compact stamp prints from ``finally``, so a
    partially-failed bench still hands the driver a parsed JSON line
    with whatever completed."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    times_suite: list[str] = []
    sf1_times: dict[str, float] = {}
    rates: dict[str, float] = {}
    total = 0.0

    def guarded(name: str, fn):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — record, keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:160]
            print(f"# SECTION FAILED {name}: {exc}", file=sys.stderr)
            return None

    try:
        spark = get_spark("ome-arrow-spark-bench")
        spark.sparkContext.setLogLevel("ERROR")
        registry = suite.queries()

        # Warm the JVM + parquet footers once with a trivial action.
        guarded("warmup", lambda: registry["q1_pricing_summary"](spark, sf_dir).count())

        for name in BENCH_QUERIES:
            fn = registry.get(name)
            if fn is None:
                continue
            dt = guarded(
                name,
                lambda fn=fn, name=name: REC.timed_best(
                    name, lambda: fn(spark, sf_dir).count(), REPEATS
                ),
            )
            if dt is None:
                continue
            times[name] = round(dt, 4)
            times_suite.append(name)
            total += dt
            print(f"# {name}: {dt:.3f}s (best of {REPEATS})", file=sys.stderr)

        # min-of-4 for the small ingest fixtures: their ~1 s walls are the
        # most ambient-load-sensitive numbers in the suite (r3→r6 history)
        def _tiff():
            nonlocal total
            s, rate = bench_tiff_ingest(spark, repeats=4)
            times["tiff_ingest_100x512"] = round(s, 4)
            rates["tiff_ingest_images_per_sec"] = round(rate, 2)
            total += s
            print(f"# tiff_ingest_100x512: {s:.3f}s ({rate:.1f} img/s)", file=sys.stderr)

        guarded("tiff_ingest_100x512", _tiff)

        def _ometiff():
            nonlocal total
            s, rate = bench_tiff_ingest(spark, real_tiff=True, repeats=4)
            times["ometiff_ingest_100x512"] = round(s, 4)
            total += s
            print(f"# ometiff_ingest_100x512: {s:.3f}s ({rate:.1f} img/s)", file=sys.stderr)

        guarded("ometiff_ingest_100x512", _ometiff)

        # Steady-state ingest: 100 images under-amortize job-level fixed
        # cost (scan planning + stage scheduling, ~0.7 s on this box and
        # ambient-load dependent — the r3→r5 100-image swings of 181→106→128
        # img/s were this constant moving, not the decode path). 800 images
        # hold the fixed cost to <15% of wall, so this metric tracks the
        # MARGINAL per-image cost that determines 100 TB behavior
        # (measured ~5 ms/img wall on local[32]).
        # NOT added to suite_total_wall: 8× the r1 fixture size would make
        # the total incomparable to BASELINE's 100-image-era numbers; the
        # throughput field below carries the signal.
        def _steady():
            s, rate = bench_tiff_ingest(spark, n_images=800, repeats=3)
            times["tiff_ingest_steady_800"] = round(s, 4)
            rates["tiff_ingest_steady_images_per_sec"] = round(rate, 2)
            print(f"# tiff_ingest_steady_800: {s:.3f}s ({rate:.1f} img/s)", file=sys.stderr)

        guarded("tiff_ingest_steady_800", _steady)

        def _zarr():
            nonlocal total
            s, rate = bench_zarr_ingest(spark)
            times["zarr_ingest_30x512"] = round(s, 4)
            total += s
            print(f"# zarr_ingest_30x512: {s:.3f}s ({rate:.1f} stores/s)", file=sys.stderr)

        guarded("zarr_ingest_30x512", _zarr)

        # streaming acquisition path (standalone, r8: NOT in
        # suite_total_wall — new metric, keeps the total BASELINE-comparable)
        def _stream():
            s, rate = bench_stream_ingest(spark)
            times["stream_ingest_steady_200"] = round(s, 4)
            rates["stream_ingest_images_per_sec"] = round(rate, 2)
            print(f"# stream_ingest_steady_200: {s:.3f}s ({rate:.1f} img/s)", file=sys.stderr)

        guarded("stream_ingest_steady_200", _stream)

        # r11 acquisition config: append sink (txn-idempotent, O(new-data)
        # per batch) + right-sized trigger. The r11 profile showed the
        # per-micro-batch overhead is a FIXED engine+commit floor
        # (~1.4 s append / ~1.75 s merge on local[32], batch-size
        # independent), so throughput is linear in files_per_trigger;
        # 4×100 batches keep a true steady state while tripling the
        # merge-sink row above. Standalone — NOT in suite_total_wall.
        def _stream_append():
            s, rate = bench_stream_ingest(
                spark, n_images=400, files_per_trigger=100, sink="append"
            )
            times["stream_ingest_append_400"] = round(s, 4)
            rates["stream_ingest_append_images_per_sec"] = round(rate, 2)
            print(
                f"# stream_ingest_append_400: {s:.3f}s ({rate:.1f} img/s)",
                file=sys.stderr,
            )

        guarded("stream_ingest_append_400", _stream_append)

        # log-table format at 1k-file scale (NOT in suite_total_wall: new
        # in r7, would skew the BASELINE comparison; tracked standalone)
        def _tlog():
            for k, v in bench_table_log(spark).items():
                times[k] = round(v, 4)
                print(f"# {k}: {v:.3f}", file=sys.stderr)

        guarded("table_log", _tlog)

        # BM25 index search walls on a prebuilt index (standalone, r7)
        def _tix():
            for k, v in bench_text_index(spark, sf_dir).items():
                times[k] = round(v, 4)
                print(f"# {k}: {v:.3f}", file=sys.stderr)

        guarded("text_index", _tix)

        # sf1 regime (r8): 10× the driver's largest shipped SF, generated
        # locally by tools/gen_sf.py (key-shifted replication of sf0.1).
        # Standalone section — NOT in suite_total_wall, which stays
        # comparable to BASELINE's sf0.1-era totals.
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".local_testdata", "sf1"),
        )
        if os.path.isdir(sf1_dir):
            for name in SF1_QUERIES:
                fn = registry.get(name)
                if fn is None:
                    continue
                dt = guarded(
                    f"sf1_{name}",
                    lambda fn=fn, name=name: REC.timed_best(
                        f"sf1_{name}", lambda: fn(spark, sf1_dir).count(), REPEATS
                    ),
                )
                if dt is None:
                    continue
                sf1_times[f"sf1_{name}"] = round(dt, 4)
                print(f"# sf1_{name}: {dt:.3f}s", file=sys.stderr)
            times.update(sf1_times)

        # ANN recall/latency at 100k vectors (standalone; brute-force
        # numpy oracle). SPARK_GRAFT_ANN_VECTORS=0 skips for fast local runs.
        ann_n = int(os.environ.get("SPARK_GRAFT_ANN_VECTORS", "100000"))
        if ann_n > 0:
            def _ann():
                for k, v in bench_ann(spark, n_vectors=ann_n).items():
                    times[k] = round(v, 4)
                    print(f"# {k}: {v}", file=sys.stderr)

            guarded("ann", _ann)

        def _kj():
            kj = bench_knn_join(spark, sf1_dir)
            if kj is not None:
                times["knn_join_sf1"] = round(kj, 4)
                print(f"# knn_join_sf1: {kj:.3f}s", file=sys.stderr)

        guarded("knn_join_sf1", _kj)
    finally:
        _emit_stamp(sf, total, times, times_suite, sf1_times, rates, errors)


def _emit_stamp(
    sf: float,
    total: float,
    times: dict[str, float],
    times_suite: list[str],
    sf1_times: dict[str, float],
    rates: dict[str, float],
    errors: dict[str, str],
) -> None:
    try:
        load = ambient_load_factor()
    except Exception:  # noqa: BLE001 — the stamp must still print
        load = -1.0
    try:
        bw_best, bw_worst = ambient_bw_probe()
    except Exception:  # noqa: BLE001 — the stamp must still print
        bw_best, bw_worst = -1.0, -1.0
    print(f"# ambient_load_factor: {load}", file=sys.stderr)
    print(
        f"# ambient_bw_gbps: best {bw_best} worst {bw_worst} "
        f"(box-specific idle calibration {IDLE_BW_GBPS})",
        file=sys.stderr,
    )

    # The driver captures only the LAST ~2000 chars of stdout; the r8
    # stamp (spreads + every standalone metric inline) exceeded that and
    # was truncated to unparseable (`parsed: null`). Emit a COMPACT
    # single-line stamp as the final stdout line — suite total, the
    # suite per-query scalars, ingest throughputs, and the sf1 section —
    # and spill everything else (spreads, table-log / text-index / ANN
    # standalone metrics) to the BENCH_DETAIL.json sidecar next to this
    # script, echoed on stderr above.
    stamp_keys = (
        list(times_suite)
        + [
            "tiff_ingest_100x512",
            "ometiff_ingest_100x512",
            "tiff_ingest_steady_800",
            "zarr_ingest_30x512",
            "stream_ingest_steady_200",
            "stream_ingest_append_400",
            "knn_join_sf1",
        ]
        + sorted(sf1_times)
    )
    stamp = {
        "metric": "suite_total_wall",
        "value": round(total, 4),
        "unit": "sec",
        "queries": {k: times[k] for k in stamp_keys if k in times},
        "sf": sf,
        **rates,
        "ambient_load_factor": load,
        "ambient_bw_gbps": bw_best,
        "ambient_bw_worst_gbps": bw_worst,
        # the idle references the two ambient ratios are read against;
        # measured on one box, not portable to another
        "box_specific_calibration": {
            "idle_spin_sec": IDLE_SPIN_SEC, "idle_bw_gbps": IDLE_BW_GBPS,
        },
        "detail": "BENCH_DETAIL.json",
    }
    if errors:
        stamp["errors"] = errors
    detail = {
        "queries": times,
        "spreads": REC.spreads(),
        **rates,
        "errors": errors,
        "ambient_load_factor": load,
        "ambient_bw_gbps": bw_best,
        "ambient_bw_worst_gbps": bw_worst,
        "sf": sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout: stderr still has it all
        print(f"# BENCH_DETAIL.json not written: {exc}", file=sys.stderr)
    line = json.dumps(stamp)
    if len(line) > 1900:  # hard guard: never hand the driver a truncated line
        stamp["queries"] = {k: times[k] for k in times_suite}
        line = json.dumps(stamp)
    if len(line) > 1900:  # degenerate fallback: totals only, always parses
        stamp["queries"] = {}
        stamp.pop("errors", None)
        line = json.dumps(stamp)
    print(line)


if __name__ == "__main__":
    main()
