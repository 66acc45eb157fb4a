"""Independent invariant verification for the big-SF rows-only gates
(VERDICT r12 "Next round" #3 and #7): at sf1/sf10 the DuckDB oracles
for `neardup_lsh` / `knn_join_lsh` / `auc_roc` are infeasible
(recursive or pairwise or global-window SQL at 15-150M rows), so
sf10_gate_stamp.json recorded wall+rows only.  This tool turns those
timings into VERIFIED results:

- **neardup_lsh**: sample ~1k emitted pairs (md5 order — not
  cherry-pickable), recompute both docs' MinHash signatures in plain
  Python (hashlib md5 over 3-token shingles — a from-scratch twin of
  the Spark HOFs) and assert every sampled pair agrees on >=1 band
  (soundness); then take ~1k sampled DOCS, compute their band keys in
  Python, enumerate the in-sample band collisions and assert every
  one was emitted (completeness within the sample).
- **knn_join_lsh**: sample ~500 left ids, re-run the operator on just
  those rows (per-qid results are independent — n_planes and the
  bucket allow-list derive from the RIGHT side only), and compare to
  an exact numpy brute-force top-k over the FULL right side: recall
  and score agreement per sampled query.  Also records the FULL
  left-side candidate-pair count against the 2*n*tables*target gate
  (VERDICT #7 — the sub-quadratic claim as a number at sf10).
- **auc_roc**: a chunked exact-rank DuckDB oracle — fixed-width
  score buckets (INDEPENDENT of the Spark side's equidepth tiles):
  cross-bucket pairs from a 4096-row census window + within-bucket
  pairs from a PARTITIONED window, never a global rank.  Compares
  n_pos/n_neg/pairs_above/auc bit-for-bit.

Usage: python tools/bigsf_verify.py [out_json] [sf_dir ...]
Defaults: .local_testdata/sf1 and sf10; prints one JSON line.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAIR_SAMPLE = 1000
N_DOC_SAMPLE = 1000
N_KNN_SAMPLE = 500


def _py_tokens(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", (text or "").lower())


def _py_bands(text: str) -> tuple[str, str]:
    toks = _py_tokens(text)
    shs = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    mh = [
        min(
            hashlib.md5(f"{s}:{sh}".encode()).hexdigest() for sh in shs
        )
        if shs
        else ""
        for s in range(4)
    ]
    return (mh[0] + "|" + mh[1], mh[2] + "|" + mh[3])


def _mutated_text_map(sf_dir: str, needed: set[int]) -> dict[int, str]:
    """Driver-side twin of suite_llm._mutated_docs for the needed ids
    only: base docs are doc_id % 5 == 0; MIRROR ids -(doc_id+1) carry
    the tokens[1:] re-join (collision-free at any corpus size — this
    tool caught the former +100000 offset colliding at sf10)."""
    import pyarrow.parquet as pq

    base_needed = {i for i in needed if i >= 0} | {
        -i - 1 for i in needed if i < 0
    }
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    out: dict[int, str] = {}
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        if doc_id % 5 != 0 or doc_id not in base_needed:
            continue
        if doc_id in needed:
            out[doc_id] = text
        if -(doc_id + 1) in needed:
            out[-(doc_id + 1)] = " ".join(_py_tokens(text)[1:])
    return out


def verify_neardup(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from ome_arrow_spark.suite_llm import neardup_lsh

    t0 = time.perf_counter()
    emitted = neardup_lsh(spark, sf_dir).persist()
    n_emitted = emitted.count()

    # soundness: sampled emitted pairs must share a band in the
    # independent Python recomputation
    pair_sample = (
        emitted.orderBy(
            F.md5(
                F.concat_ws(":", F.col("id_a").cast("string"),
                            F.col("id_b").cast("string"))
            )
        )
        .limit(N_PAIR_SAMPLE)
        .collect()
    )
    needed = {r["id_a"] for r in pair_sample} | {
        r["id_b"] for r in pair_sample
    }

    # completeness (within-sample): every in-sample band collision
    # must have been emitted
    doc_sample = [
        r["doc_id"]
        for r in (
            emitted.select(F.col("id_a").alias("doc_id"))
            .unionByName(emitted.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .orderBy(F.md5(F.col("doc_id").cast("string")))
            .limit(N_DOC_SAMPLE)
            .collect()
        )
    ]
    needed |= set(doc_sample)
    texts = _mutated_text_map(sf_dir, needed)
    bands = {i: _py_bands(texts[i]) for i in needed if i in texts}

    sound_fail = sum(
        1
        for r in pair_sample
        if not (
            bands[r["id_a"]][0] == bands[r["id_b"]][0]
            or bands[r["id_a"]][1] == bands[r["id_b"]][1]
        )
    )

    by_band: dict[tuple[int, str], list[int]] = {}
    for i in doc_sample:
        for bi, bk in enumerate(bands[i]):
            by_band.setdefault((bi, bk), []).append(i)
    expect_pairs = set()
    for members in by_band.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                expect_pairs.add((members[x], members[y]))
    if expect_pairs:
        exp_df = spark.createDataFrame(
            sorted(expect_pairs), "id_a long, id_b long"
        )
        found = exp_df.join(emitted, ["id_a", "id_b"], "left_semi").count()
    else:
        found = 0
    emitted.unpersist()
    return {
        "n_emitted": n_emitted,
        "pairs_sampled": len(pair_sample),
        "soundness_failures": sound_fail,
        "docs_sampled": len(doc_sample),
        "in_sample_collisions": len(expect_pairs),
        "completeness_missing": len(expect_pairs) - found,
        "verified": sound_fail == 0 and found == len(expect_pairs),
        "wall": round(time.perf_counter() - t0, 2),
    }


def verify_knn(spark, sf_dir: str) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.similarity import (
        knn_join_candidates,
        knn_join_lsh as KJ,
    )
    from ome_arrow_spark.suite import _t

    t0 = time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )

    # VERDICT #7: the FULL candidate count vs the linearity gate.
    # The runs here PIN n_tables=8: the soundness contract
    # (emitted == exact top-k over the operator's own candidate set)
    # is table-count-independent, and sf10's derived 117 tables would
    # cost ~15× this probe for no extra verification power.  Recall
    # and linearity at the r14 DERIVED table default are frozen in
    # knn_recall_sweep_stamp.json (sf0.01/sf1/sf10 blocks).
    from ome_arrow_spark.operators.similarity import (
        knn_join_planes,
        knn_join_tables,
    )

    n_left = left.count()
    pinned_tables = 8
    derived_tables = knn_join_tables(knn_join_planes(max(right.count(), 1)))
    cand = knn_join_candidates(left, right, n_tables=pinned_tables)
    n_cand = cand.count()
    bound = 2 * n_left * pinned_tables * 256
    cand_wall = round(time.perf_counter() - t0, 2)

    # sampled-left rerun (per-qid results independent of other qids)
    t0 = time.perf_counter()
    sample_q = (
        left.orderBy(F.md5(F.col("qid").cast("string")))
        .limit(N_KNN_SAMPLE)
    )
    got = KJ(sample_q, right, k=2, n_tables=pinned_tables).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(
            (r["cid"], r["cos_sim"], r["rk"])
        )
    # the operator's own candidate relation for the sample (thin ids)
    cand_pairs = (
        knn_join_candidates(sample_q, right, n_tables=pinned_tables)
        .select("qid", "cid")
        .collect()
    )
    cand_by_q: dict[int, list[int]] = {}
    for r in cand_pairs:
        cand_by_q.setdefault(r["qid"], []).append(r["cid"])

    q_rows = sample_q.collect()
    r_rows = right.collect()
    rid = np.array([r["cid"] for r in r_rows])
    ridx = {int(c): i for i, c in enumerate(rid)}
    rmat = np.array([r["embedding"] for r in r_rows], dtype=np.float64)
    rnorm = np.linalg.norm(rmat, axis=1)

    hits = total = semantic_fail = 0
    for qr in q_rows:
        qv = np.array(qr["embedding"], dtype=np.float64)
        cos_r = np.round((rmat @ qv) / (rnorm * np.linalg.norm(qv)), 6)
        # SEMANTIC contract: emitted == exact top-2 OVER THE CANDIDATE
        # SET with correct round-6 scores (score desc, cid asc ties)
        cids = cand_by_q.get(qr["qid"], [])
        want = sorted(
            ((float(cos_r[ridx[c]]), c) for c in cids),
            key=lambda t: (-t[0], t[1]),
        )[:2]
        mine = sorted(by_q.get(qr["qid"], []), key=lambda t: t[2])
        if [(c, s) for s, c in want] != [(c, s) for c, s, _ in mine]:
            semantic_fail += 1
        # QUALITY metric: recall vs the exact global top-2
        order = sorted(range(len(rid)), key=lambda i: (-cos_r[i], rid[i]))
        exact_ids = {int(rid[i]) for i in order[:2]}
        total += 2
        hits += sum(1 for c, _s, _r in mine if c in exact_ids)
    return {
        "n_left": n_left,
        "n_tables_pinned": pinned_tables,
        "n_tables_derived_default": derived_tables,
        "derived_recall_stamp": "knn_recall_sweep_stamp.json",
        "n_candidates": n_cand,
        "candidate_bound": bound,
        "candidates_within_bound": n_cand <= bound,
        "candidate_frac_of_bound": round(n_cand / bound, 4),
        "candidate_count_wall": cand_wall,
        "queries_sampled": len(q_rows),
        "semantic_failures": semantic_fail,
        "recall_at2_vs_exact": round(hits / total, 4) if total else None,
        "verified": total > 0 and n_cand <= bound and semantic_fail == 0,
        "sample_wall": round(time.perf_counter() - t0, 2),
    }


def verify_auc(spark, sf_dir: str) -> dict:
    import duckdb

    from ome_arrow_spark.suite_analytics import auc_roc

    t0 = time.perf_counter()
    got = auc_roc(spark, sf_dir).collect()[0]
    spark_wall = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    want = duckdb.sql(
        f"""
        WITH d AS (
          SELECT CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS y,
                 CAST(o_totalprice AS DOUBLE) + o_orderkey * 1e-9 AS s
          FROM '{os.path.join(sf_dir, "orders.parquet")}'),
        ext AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM d),
        b AS (SELECT y, s,
                     LEAST(CAST(FLOOR((s - lo) / ((hi - lo) / 4096.0))
                           AS BIGINT), 4095) AS bk
              FROM d, ext),
        census AS (SELECT bk, CAST(SUM(y) AS BIGINT) AS pos_b,
                          CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_b
                   FROM b GROUP BY bk),
        cum AS (SELECT bk, pos_b,
                       COALESCE(SUM(neg_b) OVER (ORDER BY bk
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS neg_below
                FROM census),
        cr AS (SELECT CAST(SUM(pos_b * neg_below) AS BIGINT) AS cp FROM cum),
        w AS (SELECT y,
                     COALESCE(SUM(1 - y) OVER (PARTITION BY bk ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS nb
              FROM b),
        wi AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN nb ELSE 0 END)
                      AS BIGINT) AS wp FROM w),
        tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
                       CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg FROM d)
        SELECT n_pos, n_neg, cp + wp AS pairs_above,
               ROUND(CAST(cp + wp AS DOUBLE) / (n_pos * n_neg), 6) AS auc
        FROM tot, cr, wi
        """
    ).fetchone()
    return {
        "spark": [got["n_pos"], got["n_neg"], got["pairs_above"], got["auc"]],
        "oracle_chunked": list(want),
        "verified": (
            got["n_pos"] == want[0]
            and got["n_neg"] == want[1]
            and got["pairs_above"] == want[2]
            and got["auc"] == want[3]
        ),
        "spark_wall": spark_wall,
        "oracle_wall": round(time.perf_counter() - t0, 2),
    }


def verify_substring(spark, sf_dir: str, k: int = 8) -> dict:
    """From-scratch Python twin for dup_span_detect at rows-only SFs
    (VERDICT r13 #7): sample ~1k documents by md5(doc_id) (not
    cherry-pickable), recompute their COMPLETE duplicated-span sets in
    plain Python — regex tokens, md5 k-grams, corpus-wide occurrence
    counts streamed over the parquet file with a plain dict, the
    pos <= prev_end+1 merge rule — and require the operator's span
    rows for those docs to match EXACTLY (soundness + completeness +
    maximality per sampled doc, including span-less docs)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.dedup import dup_spans
    from ome_arrow_spark.suite import _t

    t0 = time.perf_counter()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = dup_spans(docs, k=k).persist()
    n_spans = spans.count()

    sample_ids = [
        r["doc_id"]
        for r in docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(N_DOC_SAMPLE)
        .collect()
    ]
    id_set = set(sample_ids)
    got_rows = spans.filter(F.col("doc_id").isin(sample_ids)).collect()
    spans.unpersist()
    got: dict[int, list[tuple[int, int, int, int]]] = {}
    for r in got_rows:
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"], r["n_grams"])
        )

    # pass 1: the sampled docs' gram hashes; pass 2: corpus-wide
    # occurrence counts of exactly those hashes (plain dict — no Spark)
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    ids = tbl["doc_id"].to_pylist()
    texts = tbl["text"].to_pylist()
    sample_grams: dict[int, list[str]] = {}
    needed: dict[str, int] = {}
    for doc_id, text in zip(ids, texts):
        if doc_id not in id_set:
            continue
        toks = _py_tokens(text)
        ghs = [
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
            for i in range(len(toks) - k + 1)
        ]
        sample_grams[doc_id] = ghs
        for gh in ghs:
            needed[gh] = 0
    for doc_id, text in zip(ids, texts):
        toks = _py_tokens(text)
        for i in range(len(toks) - k + 1):
            gh = hashlib.md5(
                " ".join(toks[i : i + k]).encode()
            ).hexdigest()
            if gh in needed:
                needed[gh] += 1

    mismatched = 0
    for doc_id in sample_ids:
        dup_pos = [
            i + 1
            for i, gh in enumerate(sample_grams.get(doc_id, []))
            if needed[gh] >= 2
        ]
        want: list[tuple[int, int, int, int]] = []
        cur: list[int] = []
        for p in dup_pos:
            if cur and p > cur[-1] + (k - 1) + 1:
                want.append(
                    (cur[0], cur[-1] + k - 1,
                     cur[-1] + k - 1 - cur[0] + 1, len(cur))
                )
                cur = []
            cur.append(p)
        if cur:
            want.append(
                (cur[0], cur[-1] + k - 1,
                 cur[-1] + k - 1 - cur[0] + 1, len(cur))
            )
        if sorted(got.get(doc_id, [])) != sorted(want):
            mismatched += 1
    return {
        "n_spans": n_spans,
        "docs_sampled": len(sample_ids),
        "docs_with_spans_in_sample": len(got),
        "doc_mismatches": mismatched,
        "verified": mismatched == 0,
        "wall": round(time.perf_counter() - t0, 2),
    }


def main() -> None:
    # --only=name1,name2 limits which verifiers run (the knn sf10
    # brute-force re-check alone is ~70 min; a new twin shouldn't
    # force re-paying it).  Merge the partial result into an existing
    # stamp with tools/merge_stamp semantics: new keys win per sf tag.
    only: set[str] | None = None
    argv = [a for a in sys.argv[1:]]
    for a in list(argv):
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            argv.remove(a)
    out_path = argv[0] if argv else None
    sf_dirs = argv[1:] or [
        "/root/repo/.local_testdata/sf1",
        "/root/repo/.local_testdata/sf10",
    ]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("bigsf_verify")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    verifiers = {
        "neardup_lsh": verify_neardup,
        "knn_join_lsh": verify_knn,
        "auc_roc": verify_auc,
        "dup_span_detect": verify_substring,
    }
    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        out[tag] = {
            name: fn(spark, sf_dir)
            for name, fn in verifiers.items()
            if only is None or name in only
        }
        print(f"# {tag}: {json.dumps(out[tag])}", flush=True)

    line = json.dumps(out)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
