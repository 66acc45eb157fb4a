"""Training-data / LLM-ops queries for the driver gate: text analysis,
dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search.

Hash choices are md5-based so DuckDB oracles recompute them exactly
(see operators/dedup.py scale notes on swapping to xxhash64 in a
pure-Spark deployment). Near-dup queries synthesize mutated copies of
real documents (drop-first-token) inside the query on BOTH sides, so
the LSH machinery demonstrably finds pairs instead of returning an
empty (trivially matching) result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ome_arrow_spark.functions import text as TX
from ome_arrow_spark.operators import dedup as DD
from ome_arrow_spark.operators.similarity import cosine_topk, cosine_topk_lsh
from ome_arrow_spark.suite import _t, register

_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


# ---------------------------------------------------------------------------
# Text statistics per (lang, source) — exact integer aggregation.
# ---------------------------------------------------------------------------
@register(
    "text_stats",
    f"""
    WITH t AS (
      SELECT lang, source, n_chars,
             len({_TOKS_SQL}) AS n_tokens,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
      FROM documents)
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_tokens) AS BIGINT) / COUNT(*) AS avg_tokens,
           CAST(SUM(n_punct) AS BIGINT) AS sum_punct
    FROM t GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            TX.token_count(t).alias("n_tokens"),
            TX.punct_count(t).alias("n_punct"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.sum("n_tokens") / F.count("*")).alias("avg_tokens"),
            F.sum("n_punct").alias("sum_punct"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document quality metrics (type-token ratio, token lengths).
# ---------------------------------------------------------------------------
@register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT) AS ttr,
           CAST(list_sum(list_transform(toks, x -> strlen(x))) AS BIGINT)
             / CAST(len(toks) AS BIGINT) AS mean_tok_len,
           (len(toks) BETWEEN 10 AND 1000)
             AND (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT) > 0.3)
             AS is_quality
    FROM t WHERE len(toks) > 0
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        TX.total_token_chars(toks).alias("tok_chars"),
    ).filter(F.col("n_tokens") > 0)
    ttr = F.col("n_distinct") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        ttr.alias("ttr"),
        (F.col("tok_chars") / F.col("n_tokens")).alias("mean_tok_len"),
        (F.col("n_tokens").between(10, 1000) & (ttr > 0.3)).alias("is_quality"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword vote with fixed tie order.
# ---------------------------------------------------------------------------
def _hits_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{lst}], t)))"


@register(
    "lang_id",
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
    h AS (SELECT doc_id, lang,
                 {_hits_sql('en')} AS h_en, {_hits_sql('de')} AS h_de,
                 {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
                WHEN h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
                WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
                WHEN h_fr > 0 THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM h
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    return docs.select("doc_id", "lang", TX.lang_predict(toks).alias("lang_pred"))


# ---------------------------------------------------------------------------
# Token frequency top-k (the classic wordcount, deterministic cut).
# ---------------------------------------------------------------------------
@register(
    "token_topk",
    f"""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: rolling-hash winnowing (MOSS scheme) — char
# k-gram polynomial hashes, window-min selection, distinct fingerprints.
# Spark side: ONE shuffle-free projection (HOFs over the text column);
# oracle: independent window-function formulation over generate_series.
# Scale: per-doc work is linear in length; no shuffle at all — the ideal
# 100 TB shape (the fingerprint sets would feed an LSH-style band join
# for plagiarism/overlap detection, same pattern as neardup_lsh).
# ---------------------------------------------------------------------------
# Shared winnowing-CTE text (doc_fingerprint + decontamination oracles):
# positions → k-gram hashes → window minima → distinct fingerprints.
_WINNOW_SEL_CTE = f"""
    pos AS (
      SELECT doc_id, source, text,
             unnest(generate_series(0, strlen(text) - {TX.KGRAM_K})) AS i
      FROM documents
      WHERE strlen(text) >= {TX.KGRAM_K + TX.WINNOW_W - 1}),
    kg AS (
      SELECT doc_id, source, i,
             {TX.kgram_hash_sql("text", "i")} AS h,
             strlen(text) - {TX.KGRAM_K - 1} AS n_kgrams
      FROM pos),
    wins AS (
      SELECT doc_id, source, n_kgrams, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {TX.WINNOW_W - 1} FOLLOWING) AS w
      FROM kg),
    sel AS (
      SELECT DISTINCT doc_id, source, n_kgrams, w
      FROM wins WHERE i <= n_kgrams - {TX.WINNOW_W})
"""


@register(
    "doc_fingerprint",
    f"""
    WITH {_WINNOW_SEL_CTE}
    SELECT doc_id,
           CAST(MAX(n_kgrams) AS BIGINT) AS n_kgrams,
           COUNT(*) AS n_fp,
           CAST(SUM(w) AS BIGINT) AS fp_sum
    FROM sel GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints("text")
    return (
        docs.filter(F.length("text") >= TX.KGRAM_K + TX.WINNOW_W - 1)
        .select(
            "doc_id",
            (F.length("text") - (TX.KGRAM_K - 1)).cast("long").alias("n_kgrams"),
            fps.alias("fps"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            F.size("fps").cast("long").alias("n_fp"),
            F.aggregate(
                F.col("fps"), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("fp_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition-quality signals (Gopher/C4-style): most-frequent-token
# fraction + duplicate-bigram fraction per document.
# Spark side: shuffle-free — max token count = longest run in the SORTED
# token array (one O(n log n) sort + O(n) fold per row, bound against
# optimizer re-inlining); oracle independently recomputes via
# unnest + GROUP BY. At 100 TB this beats the explode+groupBy+join-back
# formulation, which would shuffle every token twice.
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    base AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
    cnt AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      GROUP BY doc_id, tok),
    top AS (
      SELECT doc_id, MAX(c) AS top_tok_cnt FROM cnt GROUP BY doc_id),
    bg AS (
      SELECT doc_id, n,
             len(list_distinct(list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i + 1])))
               AS n_distinct_bigrams
      FROM base)
    SELECT bg.doc_id,
           CAST(bg.n AS BIGINT) AS n_tokens,
           CAST(top.top_tok_cnt AS BIGINT) AS top_tok_cnt,
           CAST(top.top_tok_cnt AS DOUBLE) / bg.n AS top_tok_frac,
           CAST(bg.n - 1 AS BIGINT) AS n_bigrams,
           CAST((bg.n - 1) - bg.n_distinct_bigrams AS DOUBLE) / (bg.n - 1)
             AS dup_bigram_frac,
           (CAST(top.top_tok_cnt AS DOUBLE) / bg.n > 0.2)
             OR (CAST((bg.n - 1) - bg.n_distinct_bigrams AS DOUBLE) / (bg.n - 1) > 0.5)
             AS is_repetitive
    FROM bg JOIN top ON bg.doc_id = top.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    stats = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        TX.max_run_length(F.array_sort(F.col("toks"))).alias("top_tok_cnt"),
        F.size(F.array_distinct(TX.bigrams(F.col("toks"))))
        .cast("long")
        .alias("n_distinct_bigrams"),
    )
    top_frac = F.col("top_tok_cnt").cast("double") / F.col("n_tokens")
    n_bigrams = F.col("n_tokens") - 1
    dup_frac = (n_bigrams - F.col("n_distinct_bigrams")).cast("double") / n_bigrams
    return stats.select(
        "doc_id",
        "n_tokens",
        "top_tok_cnt",
        top_frac.alias("top_tok_frac"),
        n_bigrams.alias("n_bigrams"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.5)).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Exact dedup on normalized-content fingerprint.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    f"""
    SELECT md5(array_to_string({_TOKS_SQL}, ' ')) AS fp,
           MIN(doc_id) AS rep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Near-dup corpus: documents ∪ mutated copies (first token dropped,
# doc_id MIRRORED to -(doc_id+1)) — built identically on both sides so
# the MinHash/LSH pipeline has real positives to find. The mirror id
# is collision-free at ANY corpus size (r13 fix: the former +100000
# offset collided with real doc_ids once the corpus passed 100k docs;
# caught by tools/bigsf_verify.py's sampled-pair check at sf10, where
# base doc 150000 and the mutated copy of doc 50000 silently merged).
# ---------------------------------------------------------------------------
_MUTATED_SQL = f"""
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT -(doc_id + 1) AS doc_id,
           array_to_string(list_transform(range(1, len({_TOKS_SQL})),
                                          i -> ({_TOKS_SQL})[i + 1]), ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
"""


def _mutated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = TX.tokens(F.col("text"))
    mutated = docs.select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mutated)


_MH_AGGS_SQL = ",\n           ".join(
    f"MIN(md5('{s}:' || sh)) AS mh{s}" for s in range(4)
)


@register(
    "minhash_signatures",
    f"""
    WITH corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s)
    SELECT doc_id,
           {_MH_AGGS_SQL}
    FROM e GROUP BY doc_id
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_signatures(_mutated_docs(spark, sf_dir))


@register(
    "neardup_lsh",
    f"""
    WITH corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2
      ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
    """,
)
def neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = DD.minhash_signatures(_mutated_docs(spark, sf_dir))
    return DD.lsh_candidates(sig)


# ---------------------------------------------------------------------------
# INCREMENTAL near-dup: dedup a new batch against the seen corpus —
# the nightly-ingest shape.  Seen corpus = the base docs, new batch =
# the mutated mirrors (negative ids, guaranteed cross-batch near-dups
# at every SF).  Same MinHash bands as neardup_lsh, but the Spark plan
# emits |new|*|old| + C(|new|,2) pairs per bucket instead of C(B,2):
# old x old is never materialized, so re-ingesting a 1 GB batch
# against 100 TB costs batch-sized work (operators/dedup.py
# lsh_candidates_incremental).  The oracle states the SEMANTICS (full
# pair set filtered to new-touching pairs) while the engine runs the
# asymmetric plan — results are provably the same set, and the unit
# test pins the bucket-level emission counts.
# ---------------------------------------------------------------------------
@register(
    "incremental_neardup",
    f"""
    WITH corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2
      ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
    WHERE a.doc_id < 0 OR b2.doc_id < 0
    """,
)
def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = DD.minhash_signatures(_mutated_docs(spark, sf_dir)).withColumn(
        "is_new", F.col("doc_id") < 0
    )
    return DD.lsh_candidates_incremental(sig)


def _simhash_oracle() -> str:
    votes = ",\n             ".join(
        f"SUM(2 * (ascii(substr(md5(tok), {j + 1}, 1)) % 2) - 1) AS v{j}"
        for j in range(16)
    )
    bits = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    return f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok
               FROM documents WHERE doc_id % 25 = 0),
    v AS (SELECT doc_id,
             {votes}
          FROM t GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
    """


@register("simhash", _simhash_oracle())
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return DD.simhash(docs)


@register(
    "ngram_jaccard",
    f"""
    WITH corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id,
                 list_distinct(list_transform(range(len({_TOKS_SQL}) - 2),
                     i -> ({_TOKS_SQL})[i+1] || ' ' || ({_TOKS_SQL})[i+2] || ' ' || ({_TOKS_SQL})[i+3])) AS shs
          FROM corpus),
    e AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM t),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, inter, inter / (na + nb - inter) AS jaccard
    FROM p WHERE inter / (na + nb - inter) >= 0.5
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(_mutated_docs(spark, sf_dir), threshold=0.5)


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-3 (oracle-checked)
# and the LSH-bucketed scale path (approximate → rows-only check).
# ---------------------------------------------------------------------------
_DOT = "list_sum(list_transform(range(len({a})), i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"


@register(
    "knn_cosine",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(F.col("vec_id").alias("cid"), "embedding")
    return cosine_topk(q, c, k=3)


def _lsh_oracle(
    n_planes: int = 4,
    n_tables: int = 8,
    k: int = 3,
    q_where: str = "vec_id < 10",
    c_where: str = "vec_id >= 10",
) -> str:
    """DuckDB twin of cosine_topk_lsh: the hyperplane
    sign of plane P over vector col ``{v}`` is the md5-hex-parity fold
    — the exact SQL the Spark HOF evaluates (same fold order, same
    strings hashed), so buckets, candidates, and ranks all match."""

    def sign_bit(plane: int, v: str) -> str:
        return (
            f"(CASE WHEN list_sum(list_transform(range(len({v})), i -> "
            f"CAST({v}[i+1] AS DOUBLE) * "
            f"(2 * (ascii(substr(md5(concat('{plane}', ':', i)), 1, 1)) % 2) - 1)"
            f")) > 0.0 THEN 1 ELSE 0 END)"
        )

    def sig(table: int, v: str) -> str:
        return " + ".join(
            f"{sign_bit(table * 1000 + p, v)} * {2**p}" for p in range(n_planes)
        )

    def side(src: str, idc: str, v: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {idc}, {v}, {t} AS t, {sig(t, v)} AS sig FROM {src}"
            for t in range(n_tables)
        )

    dot = "list_sum(list_transform(range(len({a})), i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {q_where}),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE {c_where}),
         qs AS ({side('q', 'qid', 'qe')}),
         cs AS ({side('c', 'cid', 'ce')}),
         cand AS (SELECT DISTINCT qid, cid, qe, ce
                  FROM qs JOIN cs USING (t, sig)),
         p AS (SELECT qid, cid,
                      ROUND({dot.format(a='qe', b='ce')}
                            / (sqrt({dot.format(a='qe', b='qe')})
                               * sqrt({dot.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM cand)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= {k}
    """


@register("knn_cosine_lsh", _lsh_oracle())
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with the md5-derived hyperplanes every similarity.py
    call uses, so the DuckDB oracle re-derives every bucket and rank
    bit-identically."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(F.col("vec_id").alias("cid"), "embedding")
    return cosine_topk_lsh(q, c, k=3)


@register(
    "embedding_centroids",
    """
    WITH px AS (
      SELECT label, embedding,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM embeddings)
    SELECT label, CAST(pos AS INT) AS pos,
           ROUND(AVG(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS mean_val
    FROM px GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, element-wise — the vector-aggregation shape
    (class prototypes / IVF coarse centroids). posexplode + two-level
    key: at 100 TB the (label, pos) partial aggregates collapse
    map-side, so the shuffle carries |labels|·dim rows per partition,
    independent of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_val"))
    )


@register(
    "embedding_stats",
    f"""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(sqrt({_DOT.format(a='embedding', b='embedding')})), 6) AS avg_norm,
           ROUND(MIN(sqrt({_DOT.format(a='embedding', b='embedding')})), 6) AS min_norm,
           ROUND(MAX(sqrt({_DOT.format(a='embedding', b='embedding')})), 6) AS max_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.functions.vectors import norm

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns: decode + feature-extract via mapInPandas
# over the deterministic media table; the oracle recomputes every
# feature arithmetically from the generator formulas
# (operators/multimodal.py synth_media_df):
#   image i (id i, k=i+1, h=8+i, w=10+i): value[j] = (j*k) % 256,
#     channel c = j % 3 → mean_c
#   audio i (id 4+i): samples t<1600*(i+1): (t*37*(i+1)) % 20000 - 10000
#   video i (id 7+i): 6×4×5×3 values (j+i) % 256 → mean luma in rms
#   jpeg  i (id 9+i): REAL baseline-JPEG blob of the (16+8i)×(24+8i)
#     pattern (j*7 + 31*i) % 256, engine-encoded at q90 and decoded by
#     sources/jpeg_minimal. JPEG is lossy, so no independent SQL
#     derivation exists; the oracle pins the decoder's deterministic
#     channel means as golden literals — codec drift turns the row red.
#   png (id 11): REAL PNG blob of the 20×30 pattern (j*11 + 3) % 256
#     (sources/png_minimal). PNG is lossless, so the oracle re-derives
#     its channel means arithmetically like the fimg rows.
#   wav (id 12): REAL 16-bit PCM WAV of 2000 samples (t*37)%20000-10000
#     at 16 kHz (sources/wav_minimal) — lossless, fully SQL-derivable.
#   avi (id 13): REAL raw-DIB AVI (sources/avi_minimal) of 5×6×8×3
#     frames (j*13) % 256 — uncompressed BGR rows round-trip
#     bit-exactly, so mean luma + frame count stay SQL-derivable.
# ---------------------------------------------------------------------------
_MEDIA_ORACLE = """
    WITH img AS (
      SELECT i.i AS media_id, 'image' AS kind,
             ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (j.j*(i.i+1)) % 256 END), 6) AS mean_r,
             ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (j.j*(i.i+1)) % 256 END), 6) AS mean_g,
             ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (j.j*(i.i+1)) % 256 END), 6) AS mean_b,
             CAST(NULL AS DOUBLE) AS duration_s,
             CAST(NULL AS DOUBLE) AS rms,
             CAST(NULL AS INT) AS n_frames
      FROM (SELECT unnest(generate_series(0, 3)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, (8+i.i)*(10+i.i)*3 - 1)) AS j) j
      GROUP BY i.i),
    aud AS (
      SELECT 4 + i.i AS media_id, 'audio' AS kind,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             ROUND(1600*(i.i+1) / 16000.0, 6) AS duration_s,
             ROUND(SQRT(AVG(CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE)
                            * CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE))), 6) AS rms,
             CAST(NULL AS INT)
      FROM (SELECT unnest(generate_series(0, 2)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, 1600*(i.i+1) - 1)) AS t) t
      GROUP BY i.i),
    vid AS (
      SELECT 7 + i.i AS media_id, 'video' AS kind,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             CAST(NULL AS DOUBLE),
             ROUND(AVG(CAST((j.j + i.i) % 256 AS DOUBLE)), 6) AS rms,
             6 AS n_frames
      FROM (SELECT unnest(generate_series(0, 1)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, 6*4*5*3 - 1)) AS j) j
      GROUP BY i.i)
    SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
    UNION ALL
    SELECT * FROM (VALUES
      (9,  'image', 126.106771, 126.609375, 126.708333,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS INT)),
      (10, 'image', 127.425781, 127.296875, 127.335938,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS INT))
    ) jpg(media_id, kind, mean_r, mean_g, mean_b, duration_s, rms, n_frames)
    UNION ALL
    SELECT 11 AS media_id, 'image' AS kind,
           ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (j.j*11 + 3) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (j.j*11 + 3) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (j.j*11 + 3) % 256 END), 6),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS INT)
    FROM (SELECT unnest(generate_series(0, 20*30*3 - 1)) AS j) j
    UNION ALL
    SELECT 12, 'audio',
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND(2000 / 16000.0, 6),
           ROUND(SQRT(AVG(CAST((t.t*37) % 20000 - 10000 AS DOUBLE)
                          * CAST((t.t*37) % 20000 - 10000 AS DOUBLE))), 6),
           CAST(NULL AS INT)
    FROM (SELECT unnest(generate_series(0, 1999)) AS t) t
    UNION ALL
    SELECT 13, 'video',
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE),
           ROUND(AVG(CAST((j.j*13) % 256 AS DOUBLE)), 6),
           5
    FROM (SELECT unnest(generate_series(0, 5*6*8*3 - 1)) AS j) j
"""


@register("media_features", _MEDIA_ORACLE)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark)
    f = MM.media_features(media)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return f.select(
        "media_id", "kind",
        r6("mean_r"), r6("mean_g"), r6("mean_b"),
        r6("duration_s"), r6("rms"), "n_frames",
    )


# ---------------------------------------------------------------------------
# Real media-file directory ingest: JPEG/PNG/GIF/BMP files written to
# disk, scanned distributed via binaryFile, kind sniffed from magic
# bytes in pure Catalyst, ids from file stems, decoded by the engine's
# own codecs. The jpeg/png blobs reuse the synth formulas (ids 9/10/11
# → same golden/arithmetic rows); gif id 12 and bmp id 13 are lossless
# with fully arithmetic oracles.
# ---------------------------------------------------------------------------
@register(
    "media_dir_ingest",
    """
    SELECT * FROM (VALUES
      (CAST(9 AS BIGINT),  'image', 126.106771, 126.609375, 126.708333),
      (CAST(10 AS BIGINT), 'image', 127.425781, 127.296875, 127.335938)
    ) jpg(media_id, kind, mean_r, mean_g, mean_b)
    UNION ALL
    SELECT CAST(11 AS BIGINT), 'image',
           ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (j.j*11 + 3) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (j.j*11 + 3) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (j.j*11 + 3) % 256 END), 6)
    FROM (SELECT unnest(generate_series(0, 20*30*3 - 1)) AS j) j
    UNION ALL
    -- GIF (lossless palette): gray pattern v = (i*7) % 256, all three
    -- channel means equal
    SELECT CAST(12 AS BIGINT), 'image',
           ROUND(AVG((i.i*7) % 256), 6), ROUND(AVG((i.i*7) % 256), 6),
           ROUND(AVG((i.i*7) % 256), 6)
    FROM (SELECT unnest(generate_series(0, 18*22 - 1)) AS i) i
    UNION ALL
    -- BMP (lossless raw rows): interleaved pattern (j*5 + 1) % 256
    SELECT CAST(13 AS BIGINT), 'image',
           ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (j.j*5 + 1) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (j.j*5 + 1) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (j.j*5 + 1) % 256 END), 6)
    FROM (SELECT unnest(generate_series(0, 14*19*3 - 1)) AS j) j
    UNION ALL
    -- Adam7-interlaced PNG (lossless): same arithmetic as a plain PNG
    -- of pattern (j*13 + 5) % 256 — covers the interlaced decode path
    SELECT CAST(14 AS BIGINT), 'image',
           ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (j.j*13 + 5) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (j.j*13 + 5) % 256 END), 6),
           ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (j.j*13 + 5) % 256 END), 6)
    FROM (SELECT unnest(generate_series(0, 21*17*3 - 1)) AS j) j
    UNION ALL
    -- binary PGM (netpbm P5, lossless gray): v = (i*3) % 256 replicated
    -- into all three channels by the decode path
    SELECT CAST(15 AS BIGINT), 'image',
           ROUND(AVG((i.i*3) % 256), 6), ROUND(AVG((i.i*3) % 256), 6),
           ROUND(AVG((i.i*3) % 256), 6)
    FROM (SELECT unnest(generate_series(0, 12*16 - 1)) AS i) i
    UNION ALL
    -- progressive JPEG (SOF2, full SA/SS): lossy, so the deterministic
    -- decoder's means are pinned as goldens — equal to the BASELINE
    -- encode's means by construction (same quantized coefficients)
    SELECT * FROM (VALUES (CAST(16 AS BIGINT), 'image',
                           125.767094, 126.989316, 126.688034),
                          -- 4:2:0-subsampled PROGRESSIVE JPEG: drives
                          -- the non-interleaved per-component block
                          -- grids through the gate
                          (CAST(17 AS BIGINT), 'image',
                           127.171212, 127.0, 127.028788))
           pj(media_id, kind, mean_r, mean_g, mean_b)
    """,
)
def media_dir_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM
    from ome_arrow_spark.sources.jpeg_minimal import jpeg_encode
    from ome_arrow_spark.sources.png_minimal import png_encode

    d = tempfile.mkdtemp(prefix="media_dir_q_")
    for i in range(2):
        h, w = 16 + 8 * i, 24 + 8 * i
        rgb = ((np.arange(h * w * 3).reshape(h, w, 3) * 7 + i * 31) % 256).astype(np.uint8)
        with open(os.path.join(d, f"{9 + i}.jpg"), "wb") as f:
            f.write(jpeg_encode(rgb, quality=90))
    rgb = ((np.arange(20 * 30 * 3).reshape(20, 30, 3) * 11 + 3) % 256).astype(np.uint8)
    with open(os.path.join(d, "11.png"), "wb") as f:
        f.write(png_encode(rgb))
    rgb14 = ((np.arange(21 * 17 * 3).reshape(21, 17, 3) * 13 + 5) % 256).astype(np.uint8)
    with open(os.path.join(d, "14.png"), "wb") as f:
        f.write(png_encode(rgb14, interlace=True))
    from ome_arrow_spark.sources.pnm_minimal import pnm_encode

    g15 = ((np.arange(12 * 16).reshape(12, 16) * 3) % 256).astype(np.uint8)
    with open(os.path.join(d, "15.pgm"), "wb") as f:
        f.write(pnm_encode(g15))
    rgb16 = ((np.arange(18 * 26 * 3).reshape(18, 26, 3) * 5 + 11) % 256).astype(np.uint8)
    with open(os.path.join(d, "16.jpg"), "wb") as f:
        f.write(jpeg_encode(rgb16, quality=88, progressive=True))
    from ome_arrow_spark.sources.jpeg_minimal import jpeg_encode_subsampled

    rgb17 = ((np.arange(22 * 30 * 3).reshape(22, 30, 3) * 9 + 7) % 256).astype(np.uint8)
    with open(os.path.join(d, "17.jpg"), "wb") as f:
        f.write(
            jpeg_encode_subsampled(
                rgb17, quality=85, subsampling="420", progressive=True
            )
        )
    from ome_arrow_spark.sources.gif_minimal import gif_encode

    gray = ((np.arange(18 * 22).reshape(18, 22) * 7) % 256).astype(np.uint8)
    with open(os.path.join(d, "12.gif"), "wb") as f:
        f.write(gif_encode(np.stack([gray] * 3, axis=-1)))
    import struct as _s

    bgr = ((np.arange(14 * 19 * 3).reshape(14, 19, 3) * 5 + 1) % 256).astype(np.uint8)
    stride = (19 * 3 + 3) & ~3
    rows = b"".join(
        bgr[y, :, ::-1].tobytes() + bytes(stride - 19 * 3)
        for y in range(13, -1, -1)
    )
    bmp = (b"BM" + _s.pack("<IHHI", 54 + len(rows), 0, 0, 54)
           + _s.pack("<IiiHHIIiiII", 40, 19, 14, 1, 24, 0, len(rows),
                     2835, 2835, 0, 0) + rows)
    with open(os.path.join(d, "13.bmp"), "wb") as f:
        f.write(bmp)
    media = MM.media_table_from_dir(spark, d, glob="*.{jpg,png,gif,bmp,pgm}")
    feats = MM.media_features(media)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return feats.select(
        "media_id", "kind", r6("mean_r"), r6("mean_g"), r6("mean_b")
    )


# ---------------------------------------------------------------------------
# Flagship composed pipeline: full near-dedup (LSH candidates → exact
# Jaccard verify → connected components → representatives) on the
# planted-dup corpus. The oracle recomposes every stage in SQL —
# including the recursive-CTE label propagation — from the fragments
# proven by the single-stage queries above.
# ---------------------------------------------------------------------------
@register(
    "near_dedup_full",
    f"""
    WITH RECURSIVE corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_distinct(list_transform(range(len(toks) - 2),
                     i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id),
    ej AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM s),
    verified AS (
      SELECT p.id_a, p.id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
               COUNT(*) AS inter
        FROM ej a JOIN ej b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4) p
      JOIN cand USING (id_a, id_b)
      WHERE p.inter / (p.na + p.nb - p.inter) >= 0.5),
    edges AS (SELECT id_a AS u, id_b AS v FROM verified
              UNION SELECT id_b, id_a FROM verified),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.node
      WHERE w.label < e.u),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT c.doc_id,
           CAST(COALESCE(comp.component, c.doc_id) AS BIGINT) AS component,
           COALESCE(comp.component, c.doc_id) = c.doc_id AS is_representative
    FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
    """,
)
def near_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.pipeline import near_dedup

    docs = _mutated_docs(spark, sf_dir)
    return near_dedup(docs, jaccard_threshold=0.5).select(
        "doc_id", "component", "is_representative"
    )


def _ivf_oracle(k: int = 3, n_centroids: int = 8, n_probe: int = 3) -> str:
    """DuckDB twin of ivf_topk: unrolled k-means coarse quantizer over
    the corpus (suite.kmeans_cte_fragments — identical decimal-mean
    arithmetic), per-query n_probe nearest centroids by the same
    squared-L2 fold, exact rounded cosine within the probed lists."""
    from ome_arrow_spark.suite import kmeans_cte_fragments

    km_ctes, km_final = kmeans_cte_fragments(
        n_centroids, 3, src="e", id_col="cid", prefix="km_"
    )
    dot = "list_sum(list_transform(range(len({a})), i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    qd2 = (
        "list_sum(list_transform(list_zip(q.qv, cm.ctr),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    head = [
        """
    e AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id >= 10
    )""",
        """
    q AS (
      SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 10
    )""",
    ]
    tail = [
        # centroids recomputed as cluster means of the FINAL assignment
        f"""
    cm AS (
      SELECT cluster, list(m ORDER BY pos) AS ctr FROM (
        SELECT cluster, pos,
               CAST(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT cluster, unnest(range(1, len(v)+1)) AS pos,
                     unnest(v) AS val FROM {km_final})
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )""",
        f"""
    probes AS (
      SELECT qid, qv, cluster FROM (
        SELECT q.qid, q.qv, cm.cluster,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY {qd2}, cm.cluster) AS rk
        FROM q, cm
      ) WHERE rk <= {n_probe}
    )""",
        f"""
    scored AS (
      SELECT p.qid, a.cid,
             ROUND({dot.format(a='p.qv', b='a.v')}
                   / (sqrt({dot.format(a='p.qv', b='p.qv')})
                      * sqrt({dot.format(a='a.v', b='a.v')})), 6) AS cos_sim
      FROM probes p JOIN {km_final} a USING (cluster)
    )""",
    ]
    return (
        "WITH "
        + ",".join(head + km_ctes + tail)
        + f"""
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM scored)
    WHERE rk <= {k}
    """
    )


@register("knn_cosine_ivf", _ivf_oracle())
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — fully re-derivable since the vector-native kmeans
    rewrite (decimal means + deterministic folds): the oracle unrolls
    the coarse quantizer and probes the same lists."""
    from ome_arrow_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(F.col("vec_id").alias("cid"), "embedding")
    return ivf_topk(q, c, k=3, n_centroids=8, n_probe=3)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: corpus ∪ perturbed copies (deterministic
# elementwise nudge, vec_id + 10000); pairs with cosine ≥ 0.98 are
# exactly the planted ones. Brute-force O(n²) at fixture scale — the
# LSH/IVF variants above are the corpus-scale paths.
# ---------------------------------------------------------------------------
_EMB_CORPUS_SQL = """
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings WHERE vec_id % 10 = 0
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           list_transform(range(len(embedding)),
                          i -> CAST(embedding[i+1] AS DOUBLE) + 0.01 * ((i % 3) - 1)) AS emb
    FROM embeddings WHERE vec_id % 10 = 0
"""

_DOTD = "list_sum(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]))"


@register(
    "embedding_neardup",
    f"""
    WITH corpus AS ({_EMB_CORPUS_SQL}),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND({_DOTD.format(a='a.emb', b='b.emb')}
                       / (sqrt({_DOTD.format(a='a.emb', b='a.emb')})
                          * sqrt({_DOTD.format(a='b.emb', b='b.emb')})), 6) AS cos_sim
          FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.98
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.functions.vectors import dot, norm

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    perturbed = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x.cast("double") + 0.01 * ((i % 3) - 1)
        ).alias("emb"),
    )
    corpus = base.unionByName(perturbed)
    # r14: per-side norms — the O(n²) pair scoring pays one dot fold
    # per pair instead of three; bit-identical to the fused cosine.
    a = corpus.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("__a"),
        norm(F.col("emb")).alias("__an"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("__b"),
        norm(F.col("emb")).alias("__bn"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(
            dot(F.col("__a"), F.col("__b")) / (F.col("__an") * F.col("__bn")),
            6,
        ).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= 0.98)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling for dataset curation: keep ~1/3 of
# each language's documents, selected by content-hash order (stable
# under repartitioning/insertion order, unlike TABLESAMPLE).
# ---------------------------------------------------------------------------
@register(
    "dataset_sample_stratified",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents)
    SELECT doc_id, lang FROM ranked
    WHERE rn <= CAST(CEIL(n_lang / 3.0) AS BIGINT)
    """,
)
def dataset_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    wc = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") / 3.0).cast("bigint"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Cross-modal curation: text quality × embedding geometry in one
# query — documents join their embeddings (shared id domain), filter
# on both modalities, aggregate per (lang, label).
# ---------------------------------------------------------------------------
@register(
    "curation_crossmodal",
    f"""
    WITH q AS (
      SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tokens FROM documents),
    e AS (
      SELECT vec_id, label,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)
    SELECT lang, label,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           ROUND(AVG(nrm), 6) AS avg_norm
    FROM q JOIN e ON q.doc_id = e.vec_id
    WHERE q.n_tokens >= 20 AND e.nrm BETWEEN 0.5 AND 2.0
    GROUP BY lang, label
    """,
)
def curation_crossmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.functions.vectors import norm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", TX.token_count(F.col("text")).alias("n_tokens")
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", norm(F.col("embedding")).alias("nrm")
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .filter((F.col("n_tokens") >= 20) & F.col("nrm").between(0.5, 2.0))
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: Knuth multiplicative hash of the
# doc id → percent bucket → 80/10/10. Pure integer arithmetic, so both
# engines agree exactly and the assignment is stable under any
# repartitioning — the property a reproducible dataset split needs.
# ---------------------------------------------------------------------------
@register(
    "dataset_split",
    """
    WITH b AS (
      SELECT n_chars,
             ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY 1
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: training docs sharing winnowing
# fingerprints with the eval set (source 'src0' plays the benchmark).
# Ubiquitous fingerprints (> max_df docs) are dropped first — they are
# corpus boilerplate, carry no contamination signal, and at 100 TB they
# are exactly the skewed join keys that would blow the fp-join up
# (same guard philosophy as lsh_candidates.max_bucket).
# ---------------------------------------------------------------------------
@register(
    "decontamination",
    f"""
    WITH {{cte}}
    , freq AS (
      SELECT w FROM sel GROUP BY w HAVING COUNT(DISTINCT doc_id) <= 50),
    f AS (SELECT sel.doc_id, sel.source, sel.w FROM sel JOIN freq USING (w)),
    ev AS (SELECT doc_id AS eval_id, w FROM f WHERE source = 'src0'),
    tr AS (SELECT doc_id, w FROM f WHERE source <> 'src0'),
    hits AS (SELECT tr.doc_id, tr.w, ev.eval_id FROM tr JOIN ev USING (w))
    SELECT doc_id,
           COUNT(DISTINCT w) AS n_shared_fp,
           COUNT(DISTINCT eval_id) AS n_eval_docs
    FROM hits GROUP BY doc_id
    """.format(cte=_WINNOW_SEL_CTE),
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") >= TX.KGRAM_K + TX.WINNOW_W - 1
    )
    fp = docs.select(
        "doc_id", "source", F.explode(TX.winnow_fingerprints("text")).alias("w")
    )
    keep = (
        fp.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 50)
        .select("w")
    )
    f = fp.join(keep, "w", "left_semi")
    ev = f.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), "w"
    )
    tr = f.filter(F.col("source") != "src0").select("doc_id", "w")
    return (
        tr.join(ev, "w")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("w").alias("n_shared_fp"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish pre-tokenizer count (GPT-2-style pattern, lookahead-free so
# Java regex and RE2 agree byte-for-byte) next to plain whitespace
# counts — the two token-budget estimators a corpus pipeline runs. A
# planted contraction row exercises the '\''s/'\''t/... branches the
# word-soup fixture never hits.
# ---------------------------------------------------------------------------
_BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


@register(
    "token_count_bpe",
    f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT 999999, 'it''s a test, isn''t it? 42 times  x')
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS BIGINT) AS n_bpe,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws
    FROM d
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.sparkSession.createDataFrame(
        [(999999, "it's a test, isn't it? 42 times  x")], "doc_id long, text string"
    )
    d = docs.unionByName(planted)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
        .cast("long")
        .alias("n_bpe"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_ws"),
    )


# ---------------------------------------------------------------------------
# String-distance functions: levenshtein between neighboring documents
# (integer-exact in both engines — no float rounding concerns). The
# truncated variant demonstrates the bounded-edit-distance optimization
# every fuzzy-matcher needs at scale: with a threshold, the DP row can
# early-exit, turning O(n·m) into O(n·k) per pair.
# ---------------------------------------------------------------------------
@register(
    "string_distance",
    """
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         b AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
           CAST(LEAST(levenshtein(a.text, b.text), 40) AS INT) AS edit_dist_capped
    FROM a JOIN b ON b.doc_id = a.doc_id + 1
    """,
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
    )
    b = docs.filter(F.col("doc_id") % 10 == 1).select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
    )
    j = a.join(b, b.id_b == a.id_a + 1)
    lev = F.levenshtein("ta", "tb")
    return j.select(
        "id_a",
        "id_b",
        lev.cast("int").alias("edit_dist"),
        # Spark's 3-arg levenshtein(threshold) returns -1 above the
        # bound; LEAST keeps the oracle expressible while the plan
        # still shows the bounded form is available
        F.least(lev, F.lit(40)).cast("int").alias("edit_dist_capped"),
    )


# ---------------------------------------------------------------------------
# Token co-occurrence PMI: pointwise mutual information over per-doc
# distinct-token pairs — the collocation/phrase-mining statistic.
# Integer counts are exact on both engines; the final log is rounded to
# 6 digits on both sides. Scale: pair explosion is bounded by per-doc
# distinct vocabulary (cap with a min-df floor upstream for open-vocab
# corpora); the two frequency tables shuffle once each and the small
# unigram table broadcasts into the pair join.
# ---------------------------------------------------------------------------
@register(
    "token_pmi",
    f"""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct({_TOKS_SQL})) AS toks
      FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    uni AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY tok),
    pairs AS (
      SELECT p.x, p.y, COUNT(*) AS cxy
      FROM t, LATERAL (
        SELECT a.tok_a AS x, b.tok_b AS y
        FROM (SELECT unnest(toks) AS tok_a) a, (SELECT unnest(toks) AS tok_b) b
        WHERE a.tok_a < b.tok_b) p
      GROUP BY p.x, p.y
      HAVING COUNT(*) >= 20)
    SELECT pairs.x, pairs.y, CAST(pairs.cxy AS BIGINT) AS cxy,
           ROUND(LN((CAST(pairs.cxy AS DOUBLE) * n.n_docs)
                    / (ux.c * CAST(uy.c AS DOUBLE))), 6) AS pmi
    FROM pairs, n
    JOIN uni ux ON ux.tok = pairs.x
    JOIN uni uy ON uy.tok = pairs.y
    ORDER BY pmi DESC, pairs.x, pairs.y
    LIMIT 50
    """,
)
def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.array_sort(F.array_distinct(TX.tokens(F.col("text")))).alias("toks")
    )
    # corpus size as a 1-row aggregate broadcast into the plan — NOT a
    # separate .count() job (that would be an extra full corpus pass)
    n = t.agg(F.count("*").alias("__n_docs"))
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    pair_expr = F.explode(
        F.transform(
            F.col("toks"),
            lambda x, i: F.transform(
                F.slice(F.col("toks"), i + 2, F.size(F.col("toks"))),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    pairs = (
        t.select(pair_expr.alias("ps"))
        .select(F.explode("ps").alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cxy"))
        .filter(F.col("cxy") >= 20)
    )
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    pmi = F.round(
        F.log(
            (F.col("cxy").cast("double") * F.col("__n_docs"))
            / (F.col("cx") * F.col("cy").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(n))
        .select("x", "y", "cxy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "x", "y")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Null-preserving generator (explode_outer): rows with empty token
# arrays survive as NULL-token rows — the semantics that keep
# left-join-shaped accounting (every doc appears ≥ once) through an
# unnest. A planted empty doc exercises the branch the fixture lacks.
# ---------------------------------------------------------------------------
@register(
    "generator_outer",
    f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 5
      UNION ALL SELECT 888888, ''),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM d),
    x AS (SELECT doc_id,
                 CASE WHEN len(toks) = 0 THEN CAST([NULL] AS VARCHAR[])
                      ELSE toks END AS toks2
          FROM t)
    SELECT doc_id, unnest(toks2) AS tok FROM x
    """,
)
def generator_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5).select(
        "doc_id", "text"
    )
    planted = docs.sparkSession.createDataFrame(
        [(888888, "")], "doc_id long, text string"
    )
    d = docs.unionByName(planted)
    return d.select(
        "doc_id", F.explode_outer(TX.tokens(F.col("text"))).alias("tok")
    )


# ---------------------------------------------------------------------------
# PII scrubbing: redact emails and phone-shaped numbers before a corpus
# ships to training — count what was redacted per doc for the audit
# trail. Lookahead-free patterns (Java regex and RE2 agree); planted
# rows exercise every branch since the word-soup fixture has no PII.
# Scale: pure per-row regexp_replace — zero shuffle, full codegen.
# ---------------------------------------------------------------------------
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


@register(
    "pii_scrub",
    f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 5
      UNION ALL SELECT 777001, 'contact john.doe+spam@example.co.uk or call +1 (555) 123-4567 now'
      UNION ALL SELECT 777002, 'two mails a@b.io c.d@e-f.org and digits 12345678901')
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_PHONE_PAT}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                                       '{_PHONE_PAT}')) AS INT) AS n_phones
    FROM d
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5).select(
        "doc_id", "text"
    )
    planted = docs.sparkSession.createDataFrame(
        [
            (777001, "contact john.doe+spam@example.co.uk or call +1 (555) 123-4567 now"),
            (777002, "two mails a@b.io c.d@e-f.org and digits 12345678901"),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(planted)
    no_email = F.regexp_replace("text", _EMAIL_PAT, "<EMAIL>")
    return d.select(
        "doc_id",
        F.regexp_replace(no_email, _PHONE_PAT, "<PHONE>").alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_PAT), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PHONE_PAT), 0))
        .cast("int")
        .alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram overlap dedup (the bounded form of exact-substring dedup
# à la Lee et al. 2021): doc pairs sharing >= min_shared distinct word
# 5-grams. Same scale shape as LSH candidates: distinct (doc, gram) in
# one pass, grams grouped to sorted id-lists with a bucket cap (a gram
# in >50 docs is boilerplate — dropped BEFORE the B² pair expansion),
# pairs emitted via nested transform, one count shuffle. No full
# self-join of the gram table ever materializes.
# ---------------------------------------------------------------------------
@register(
    "ngram_exact_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    g AS (SELECT DISTINCT doc_id, gram FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)-3),
                    i -> array_to_string(toks[i:i+4], ' '))) AS gram
      FROM t WHERE len(toks) >= 5)),
    b AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 50),
    p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
          FROM g a JOIN g c USING (gram) JOIN b USING (gram)
          WHERE a.doc_id < c.doc_id)
    SELECT doc_a, doc_b, COUNT(*) AS n_shared
    FROM p GROUP BY doc_a, doc_b HAVING COUNT(*) >= 3
    """,
)
def ngram_exact_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 5
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 5)),
                )
            )
        ).alias("gram"),
    )
    buckets = (
        grams.groupBy("gram")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, 50))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# ---------------------------------------------------------------------------
# TF-IDF top-terms per document: tf and df from two aggregations over
# one exploded token pass; idf joins back as a BROADCAST (the
# vocabulary is tiny next to the corpus); corpus size is an in-plan
# 1-row aggregate (no extra job). ln() on identical doubles both
# engines; rounded to 6. Top-3 per doc with token tiebreak.
# ---------------------------------------------------------------------------
@register(
    "tfidf_topk",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 100
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
    s AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (tok), n)
    SELECT doc_id, tok, tfidf FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rk
      FROM s) WHERE rk <= 3
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    n = t.agg(F.count("*").alias("n_docs"))
    tok = t.select("doc_id", F.explode("toks").alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    s = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


# ---------------------------------------------------------------------------
# Training-sequence assembly: deterministic corpus shuffle (Knuth
# multiplicative hash as the sort key — reproducible on any engine, no
# RNG state) + concat-and-chunk packing into fixed token-budget
# sequences, per shard. Scale: ONE shuffle partitions docs into shards;
# the running sum is a window inside each shard (shards ≈ executor
# count × small factor keeps window state bounded); no global ordering
# bottleneck. Each doc gets (shard, seq_id, offset) — the exact
# address a tokenizer-side packer needs; docs straddle sequence
# boundaries GPT-style (budget 2048).
# ---------------------------------------------------------------------------
@register(
    "dataset_shuffle_pack",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             ((doc_id * 2654435761) % 4294967296) AS shuffle_key
      FROM documents),
    s AS (
      SELECT doc_id, n_tokens,
             CAST(shuffle_key % 8 AS BIGINT) AS shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY shuffle_key % 8
                                      ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM t)
    SELECT doc_id, n_tokens, shard,
           (cum - n_tokens) // 2048 AS seq_id,
           (cum - n_tokens) % 2048 AS seq_offset
    FROM s
    """,
)
def dataset_shuffle_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "shuffle_key"
        ),
    )
    w = (
        Window.partitionBy(F.col("shuffle_key") % 8)
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = t.select(
        "doc_id",
        "n_tokens",
        (F.col("shuffle_key") % 8).cast("long").alias("shard"),
        F.sum("n_tokens").over(w).cast("long").alias("cum"),
    )
    start = F.col("cum") - F.col("n_tokens")
    return s.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.expr("(cum - n_tokens) div 2048").alias("seq_id"),
        (start % 2048).alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Token-budget subsampling: keep docs per language, in deterministic-
# shuffle order, until a fixed token budget fills — the mixture-control
# primitive for corpus curation. Window cumsum per lang; the filter is
# cum <= budget so the result is the maximal prefix under budget.
# ---------------------------------------------------------------------------
@register(
    "token_budget_sample",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             ((doc_id * 2654435761) % 4294967296) AS shuffle_key
      FROM documents),
    s AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                      ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM t)
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(MAX(cum) AS BIGINT) AS budget_used
    FROM s WHERE cum <= 5000
    GROUP BY lang
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "shuffle_key"
        ),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = t.withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
    return (
        s.filter(F.col("cum") <= 5000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_kept"),
            F.max("cum").cast("long").alias("budget_used"),
        )
    )


# ---------------------------------------------------------------------------
# Video frame-sampling pipeline: sample_frames over the video rows
# (FVID containers ids 7-8 AND the real raw-DIB AVI id 13), then the
# sampled frame blobs are fed BACK through media_features — composing
# two mapInPandas stages over re-keyed ids (media_id*100+frame_idx).
# Raw AVI is lossless, so every sampled frame's channel means re-derive
# arithmetically from the generator formulas.
# ---------------------------------------------------------------------------
@register(
    "media_video_frames",
    """
    WITH fv AS (
      SELECT (7 + i.i) * 100 + f.f AS frame_id,
             ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN (f.f*60 + j.j + i.i) % 256 END), 6) AS mean_r,
             ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN (f.f*60 + j.j + i.i) % 256 END), 6) AS mean_g,
             ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN (f.f*60 + j.j + i.i) % 256 END), 6) AS mean_b
      FROM (SELECT unnest(generate_series(0, 1)) AS i) i,
           (SELECT unnest([0, 2, 4]) AS f) f,
           (SELECT unnest(generate_series(0, 59)) AS j) j
      GROUP BY i.i, f.f),
    av AS (
      SELECT 1300 + f.f AS frame_id,
             ROUND(AVG(CASE WHEN j.j % 3 = 0 THEN ((f.f*144 + j.j)*13) % 256 END), 6) AS mean_r,
             ROUND(AVG(CASE WHEN j.j % 3 = 1 THEN ((f.f*144 + j.j)*13) % 256 END), 6) AS mean_g,
             ROUND(AVG(CASE WHEN j.j % 3 = 2 THEN ((f.f*144 + j.j)*13) % 256 END), 6) AS mean_b
      FROM (SELECT unnest([0, 2, 4]) AS f) f,
           (SELECT unnest(generate_series(0, 143)) AS j) j
      GROUP BY f.f)
    SELECT * FROM fv UNION ALL SELECT * FROM av
    """,
)
def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark).filter(F.col("kind") == "video")
    frames = MM.sample_frames(media, every=2)
    reid = frames.select(
        (F.col("media_id") * 100 + F.col("frame_idx")).alias("media_id"),
        "content",
    )
    feats = MM.media_features(reid)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return feats.select(
        F.col("media_id").alias("frame_id"),
        r6("mean_r"), r6("mean_g"), r6("mean_b"),
    )


# ---------------------------------------------------------------------------
# Audio analysis battery (operators/multimodal.audio_features) over the
# FAUD clips (ids 4-6) and the real PCM WAV (id 12): sample counts,
# duration, RMS, absolute peak, and strict-sign zero-crossing counts —
# all integer-exact arithmetic the oracle replays from the generator
# formula v(t) = (t*37*k) % 20000 - 10000. The FFT spectral centroid
# stays out of the driver row (float summation order); pytest covers it
# against a sine-tone ground truth.
# ---------------------------------------------------------------------------
@register(
    "media_audio_features",
    """
    WITH faud AS (
      SELECT 4 + i.i AS media_id,
             CAST(1600*(i.i+1) AS BIGINT) AS n_samples,
             ROUND(1600*(i.i+1) / 16000.0, 6) AS duration_s,
             ROUND(SQRT(AVG(CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE)
                            * CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE))), 6) AS rms,
             CAST(MAX(ABS((t.t*37*(i.i+1)) % 20000 - 10000)) AS DOUBLE) AS peak,
             CAST(SUM(CASE WHEN t.t >= 1
                           AND ((((t.t-1)*37*(i.i+1)) % 20000 - 10000)
                                * ((t.t*37*(i.i+1)) % 20000 - 10000)) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM (SELECT unnest(generate_series(0, 2)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, 1600*(i.i+1) - 1)) AS t) t
      GROUP BY i.i),
    wav AS (
      SELECT 12 AS media_id,
             CAST(2000 AS BIGINT) AS n_samples,
             ROUND(2000 / 16000.0, 6) AS duration_s,
             ROUND(SQRT(AVG(CAST((t.t*37) % 20000 - 10000 AS DOUBLE)
                            * CAST((t.t*37) % 20000 - 10000 AS DOUBLE))), 6) AS rms,
             CAST(MAX(ABS((t.t*37) % 20000 - 10000)) AS DOUBLE) AS peak,
             CAST(SUM(CASE WHEN t.t >= 1
                           AND ((((t.t-1)*37) % 20000 - 10000)
                                * ((t.t*37) % 20000 - 10000)) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM (SELECT unnest(generate_series(0, 1999)) AS t) t)
    SELECT * FROM faud UNION ALL SELECT * FROM wav
    """,
)
def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark).filter(F.col("kind") == "audio")
    feats = MM.audio_features(media)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return feats.select(
        "media_id", "n_samples", r6("duration_s"), r6("rms"),
        F.col("peak").cast("double").alias("peak"), "zero_crossings",
    )


# ---------------------------------------------------------------------------
# Corpus-trained bigram language-model scoring — the classic cheap
# quality/outlier signal for pretraining curation (perplexity-style
# filtering without a neural LM): train add-one-smoothed bigram
# probabilities ON the corpus itself, then score every document by its
# mean log-probability. Low scores = surprising/garbled text.
# Scale shape: two corpus-level count aggregations (vocab-sized →
# broadcast) + one explode-join-agg over documents; no driver loops.
# ---------------------------------------------------------------------------
@register(
    "lm_bigram_score",
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
      WHERE len({_TOKS_SQL}) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g),
    un AS (
      SELECT tok, COUNT(*) AS cu
      FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
      GROUP BY tok),
    v AS (SELECT COUNT(*) AS vocab FROM un),
    bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN((bc.cb + 1.0) / (un.cu + v.vocab))), 6) AS avg_logprob
    FROM bg
    JOIN bc ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
    JOIN un ON un.tok = bg.w1
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    un = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cu"))
    )
    v = un.agg(F.count("*").alias("vocab"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    # NO broadcast hint on the bigram-count table: distinct-bigram
    # count grows with corpus size (unlike the vocab-bounded unigram
    # frame), so a forced broadcast OOMs at scale — AQE broadcasts it
    # at fixture scale anyway and picks SMJ on a real corpus
    return (
        bg.join(bc, ["w1", "w2"])
        .join(F.broadcast(un), bg["w1"] == un["tok"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("cb") + F.lit(1.0))
                        / (F.col("cu") + F.col("vocab"))
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end pretraining-corpus pipeline in ONE query — the composition
# a curation team actually runs: mutated corpus (originals + near-dup
# variants) → token-count quality gate → exact dedup (min doc_id per
# identical text) → MinHash-LSH near-dedup keeping representatives →
# deterministic-shuffle token-budget pack → per-bucket corpus stats.
# Every stage reuses the operator the standalone queries verify; the
# oracle chains the SAME CTE fragments (shingles, MinHash aggs, band
# join, recursive components) over the staged base, so a hash match
# certifies the whole composition, not just the parts.
# ---------------------------------------------------------------------------
@register(
    "pretrain_pipeline",
    f"""
    WITH RECURSIVE corpus AS ({_MUTATED_SQL}),
    tok0 AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM corpus),
    q AS (SELECT * FROM tok0 WHERE len(toks) BETWEEN 5 AND 5000),
    x AS (SELECT doc_id, text, toks,
                 ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM q),
    t AS (SELECT doc_id, toks FROM x WHERE rn = 1),
    s AS (SELECT doc_id,
                 list_distinct(list_transform(range(len(toks) - 2),
                     i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id),
    ej AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM s),
    verified AS (
      SELECT p.id_a, p.id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
               COUNT(*) AS inter
        FROM ej a JOIN ej b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4) p
      JOIN cand USING (id_a, id_b)
      WHERE p.inter / (p.na + p.nb - p.inter) >= 0.5),
    edges AS (SELECT id_a AS u, id_b AS v FROM verified
              UNION SELECT id_b, id_a FROM verified),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e2.u, w.label FROM edges e2 JOIN walk w ON e2.v = w.node
      WHERE w.label < e2.u),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    reps AS (SELECT t.doc_id, len(t.toks) AS n_tok FROM t
             LEFT JOIN comp ON comp.node = t.doc_id
             WHERE COALESCE(comp.component, t.doc_id) = t.doc_id),
    packed AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM reps)
    SELECT CAST(doc_id % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM packed WHERE cum <= 20000
    GROUP BY bucket
    """,
)
def pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ome_arrow_spark.operators.pipeline import near_dedup

    docs = _mutated_docs(spark, sf_dir)
    q = docs.withColumn("toks", TX.tokens(F.col("text"))).filter(
        (F.size("toks") >= 5) & (F.size("toks") <= 5000)
    )
    x = (
        q.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("text").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", F.size("toks").alias("n_tok"))
    )
    reps = (
        near_dedup(x.select("doc_id", "text"), jaccard_threshold=0.5)
        .filter(F.col("is_representative"))
        .select("doc_id")
        .join(x.select("doc_id", "n_tok"), "doc_id")
    )
    packed = reps.withColumn(
        "cum",
        F.sum("n_tok").over(
            Window.orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            ).rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).filter(F.col("cum") <= 20000)
    return packed.groupBy(
        (F.col("doc_id") % 7).cast("bigint").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# First BPE training iteration: most frequent adjacent CHARACTER pairs
# inside word tokens (the merge candidates a byte-pair-encoding
# tokenizer trainer would pick first). Complements token_pmi (word
# collocations) and token_count_bpe (pre-tokenizer counts): this is
# the vocabulary-LEARNING primitive. One explode over (word, char
# pairs); ties broken lexically for determinism.
# ---------------------------------------------------------------------------
@register(
    "bpe_pair_merge",
    f"""
    WITH w AS (SELECT unnest({_TOKS_SQL}) AS word FROM documents),
    pairs AS (
      SELECT word[i] || word[i + 1] AS pair
      FROM w, LATERAL (SELECT unnest(generate_series(1, strlen(word) - 1)) AS i) g)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 30
    """,
)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair")
    ).filter(F.length("pair") == 2)
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Deterministic source-interleaved training order: round-robin the
# corpus across sources in hash-shuffled per-source order — the
# curriculum/data-ordering primitive (every source contributes evenly
# at every training prefix until it runs dry). Pure window functions,
# one shuffle; fully SQL-derivable.
# ---------------------------------------------------------------------------
@register(
    "dataset_interleave",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents),
    ordered AS (
      SELECT doc_id, source, rn,
             ROW_NUMBER() OVER (ORDER BY rn, source, doc_id) AS pos
      FROM ranked)
    SELECT pos, doc_id, source FROM ordered WHERE pos <= 100
    """,
)
def dataset_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = docs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        ),
    )
    ordered = ranked.withColumn(
        "pos",
        F.row_number().over(Window.orderBy("rn", "source", "doc_id")),
    )
    return ordered.filter(F.col("pos") <= 100).select(
        F.col("pos").cast("bigint").alias("pos"), "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# Per-dimension corpus normalization of the embedding table (feature
# scaling before clustering/ANN): dimension-wise mean/std over the
# corpus, z-score every vector, output each vector's normalized L2
# norm. One posexplode + a dims-sized broadcast join — the embedding
# preprocessing shape at scale (stats are O(dim), never the corpus).
# ---------------------------------------------------------------------------
@register(
    "embedding_normalize",
    """
    WITH u AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    stats AS (
      SELECT d, AVG(v) AS m, STDDEV_SAMP(v) AS s FROM u GROUP BY d),
    z AS (
      SELECT u.vec_id, (u.v - stats.m) / stats.s AS zv
      FROM u JOIN stats USING (d))
    SELECT vec_id, ROUND(SQRT(SUM(zv * zv)), 6) AS znorm
    FROM z GROUP BY vec_id
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    u = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("d0", "v0"),
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        F.col("v0").cast("double").alias("v"),
    )
    stats = u.groupBy("d").agg(
        F.avg("v").alias("m"), F.stddev_samp("v").alias("s")
    )
    z = u.join(F.broadcast(stats), "d").select(
        "vec_id", ((F.col("v") - F.col("m")) / F.col("s")).alias("zv")
    )
    return z.groupBy("vec_id").agg(
        F.round(F.sqrt(F.sum(F.col("zv") * F.col("zv"))), 6).alias("znorm")
    )


# ---------------------------------------------------------------------------
# Persistent IVF index as a transaction-log table
# (operators/ann_index.py): the inverted lists MATERIALIZED with
# centroid_id-clustered files (manifest stats = inverted-list seeks)
# and the trained quantizer in table properties. Search probes the
# stored centroids and scans only the pruned list files. The oracle is
# the SAME unrolled-kmeans IVF derivation the transient knn_cosine_ivf
# uses — a hash match proves build→persist→probe→scan reproduces the
# in-plan computation exactly.
# ---------------------------------------------------------------------------
@register("ann_index_search", _ivf_oracle())
def ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import ann_index as AI

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    table = f"/tmp/ome_arrow_rt_ivfidx_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    AI.build_ivf_index(spark, c, table, n_centroids=8, overwrite=True)
    return AI.ivf_index_search(spark, table, q, k=3, n_probe=3)


# ---------------------------------------------------------------------------
# Persistent BM25 inverted text index (operators/text_index.py): the
# index is a log table range-clustered on term (Bloom on term), so the
# oracle is a full INDEPENDENT BM25 re-derivation straight from the
# documents table — tokenize, tf/dl/df, Lucene-style idf, ordered-term
# float summation (list_reduce seeded 0.0 == Spark's aggregate(lit(0.0)))
# — proving build→cluster→prune→score reproduces the direct computation
# bit-for-bit at ROUND 6.
# ---------------------------------------------------------------------------
_BM25_QUERY_TERMS = ("data", "scan", "join")


def _bm25_oracle(terms: tuple, k: int, doc_filter: str = "TRUE") -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term
      FROM documents WHERE {doc_filter}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    st AS (SELECT (SELECT COUNT(*) FROM documents WHERE {doc_filter}) AS n,
                  (SELECT COUNT(*) FROM tok) AS sdl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN ({tlist}) GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (CAST(st.n AS DOUBLE) - dfq.df_t + 0.5)/(dfq.df_t + 0.5))
             * (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2*(0.25 + 0.75*dl.dl/(CAST(st.sdl AS DOUBLE)/st.n)))
             AS c
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), st),
    scored AS (
      SELECT doc_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list(c ORDER BY term)),
                               (a, b) -> a + b), 6) AS score,
             CAST(COUNT(DISTINCT term) AS INT) AS n_terms
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, score, rk, n_terms FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                AS rk
      FROM scored)
    WHERE rk <= {k}
    """


@register("text_index_search", _bm25_oracle(_BM25_QUERY_TERMS, 10))
def text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import text_index as TI

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    table = f"/tmp/ome_arrow_rt_tix_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    TI.build_text_index(spark, docs, table, n_files=8, overwrite=True)
    return TI.text_index_search(
        spark, table, list(_BM25_QUERY_TERMS), k=10
    )


# Incremental maintenance in the driver gate: build on the first half,
# MERGE the second half in (postings + transactional scalar bump), and
# search — the oracle scores the FULL corpus directly, so a hash match
# proves the incremental path converges to the rebuild state.
@register(
    "text_index_incremental",
    _bm25_oracle(("scan", "merge", "column"), 8),
)
def text_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import text_index as TI

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    table = f"/tmp/ome_arrow_rt_tixinc_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    TI.build_text_index(
        spark, docs.filter(F.col("doc_id") <= half), table,
        n_files=8, overwrite=True,
    )
    TI.add_to_text_index(spark, docs.filter(F.col("doc_id") > half), table)
    return TI.text_index_search(
        spark, table, ["scan", "merge", "column"], k=8
    )


# ---------------------------------------------------------------------------
# Heavy hitters (operators/frequent.py): two-pass Misra-Gries +
# exact-recount — the oracle is the brute-force explode→count top-k,
# so a hash match proves the bounded-memory path returns the EXACT
# answer (guaranteed whenever the k-th frequency > total/m, which the
# fixture satisfies by orders of magnitude).
# ---------------------------------------------------------------------------
@register(
    "heavy_hitters_terms",
    f"""
    SELECT term, cnt, rk FROM (
      SELECT term, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS rk
      FROM (
        SELECT term, COUNT(*) AS cnt
        FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
        GROUP BY term))
    WHERE rk <= 20
    """,
)
def heavy_hitters_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.frequent import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "documents"), k=20, m=4096
    )


@register(
    "heavy_hitters_bigrams",
    f"""
    WITH grams AS (
      SELECT t.ts[i.i] || ' ' || t.ts[i.i + 1] AS term
      FROM (SELECT {_TOKS_SQL} AS ts FROM documents) t,
           LATERAL (SELECT unnest(generate_series(1, len(t.ts) - 1)) AS i) i)
    SELECT term, cnt, rk FROM (
      SELECT term, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS rk
      FROM (SELECT term, COUNT(*) AS cnt FROM grams GROUP BY term))
    WHERE rk <= 10
    """,
)
def heavy_hitters_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.frequent import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "documents"), k=10, m=8192, ngram=2
    )


# Batch BM25: many queries scored in ONE pruned scan (the
# contamination-screening shape). The oracle replays the same math per
# (query, doc) with a VALUES query-term table and per-query ranking.
@register(
    "text_index_search_many",
    f"""
    WITH q(qid, term) AS (VALUES
      (CAST(1 AS BIGINT), 'scan'), (1, 'data'),
      (CAST(2 AS BIGINT), 'merge'), (2, 'column'),
      (CAST(3 AS BIGINT), 'join')),
    tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                  (SELECT COUNT(*) FROM tok) AS sdl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN (SELECT DISTINCT term FROM q)
           GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf
            GROUP BY term),
    contrib AS (
      SELECT q.qid, tf.doc_id, tf.term,
             ln(1.0 + (CAST(st.n AS DOUBLE) - dfq.df_t + 0.5)/(dfq.df_t + 0.5))
             * (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2*(0.25 + 0.75*dl.dl/(CAST(st.sdl AS DOUBLE)/st.n)))
             AS c
      FROM tf JOIN q USING (term) JOIN dfq USING (term)
              JOIN dl USING (doc_id), st),
    scored AS (
      SELECT qid, doc_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list(c ORDER BY term)),
                               (a, b) -> a + b), 6) AS score,
             CAST(COUNT(DISTINCT term) AS INT) AS n_terms
      FROM contrib GROUP BY qid, doc_id)
    SELECT qid AS query_id, doc_id, score, rk, n_terms FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY score DESC, doc_id) AS INT) AS rk
      FROM scored)
    WHERE rk <= 5
    """,
)
def text_index_search_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import text_index as TI

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    table = f"/tmp/ome_arrow_rt_tixm_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    TI.build_text_index(spark, docs, table, n_files=8, overwrite=True)
    qdf = spark.createDataFrame(
        [(1, "scan data"), (2, "merge column"), (3, "join")],
        "query_id long, query string",
    )
    return TI.text_index_search_many(spark, table, qdf, k=5)


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (Spark 4 hll_sketch_agg/hll_union_agg): the
# 100 TB distinct-count pattern is per-shard sketches UNIONED later —
# never a re-scan. Per-source distinct-token sketches are merged into
# the global estimate; like agg_approx_distinct, the gradeable contract
# is the exact counts plus an in-engine within-5% verdict on BOTH the
# per-source estimates and the MERGED estimate (datasketches HLL,
# lgK=12 → ~1.6% typical error; insertion is order-insensitive so the
# verdict is deterministic).
# ---------------------------------------------------------------------------
@register(
    "hll_union_distinct",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS_SQL}) AS term FROM documents)
    SELECT source AS scope,
           COUNT(DISTINCT term) AS exact_terms,
           TRUE AS within_5pct
    FROM tok GROUP BY source
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT term), TRUE FROM tok
    """,
)
def hll_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "source", F.explode(TX.tokens(F.col("text"))).alias("term")
        )
    )
    per = toks.groupBy("source").agg(
        F.countDistinct("term").alias("exact_terms"),
        F.hll_sketch_agg("term").alias("sk"),
    )
    per_out = per.select(
        F.col("source").alias("scope"),
        "exact_terms",
        (
            F.abs(
                F.hll_sketch_estimate("sk")
                - F.col("exact_terms").cast("double")
            )
            / F.col("exact_terms")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )
    # mergeability: the global estimate comes from UNIONING the
    # per-source sketches, not from re-scanning the tokens
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact_all = toks.agg(F.countDistinct("term").alias("exact_terms"))
    all_row = exact_all.crossJoin(F.broadcast(merged)).select(
        F.lit("ALL").alias("scope"),
        "exact_terms",
        (
            F.abs(F.col("est") - F.col("exact_terms").cast("double"))
            / F.col("exact_terms")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )
    return per_out.unionByName(all_row)


# ---------------------------------------------------------------------------
# Product-quantization ANN (operators/pq_index.py): ADC over m=32-byte
# codes generates candidates, exact cosine re-ranks them — with a
# generous candidate depth the result EQUALS brute force, so the
# oracle is the same exact-cosine SQL as knn_cosine. Synthetic random
# embeddings are PQ's worst case (no cluster structure); candidate
# depth 50 of 490 gives recall 1.0 at both fixture scales.
# ---------------------------------------------------------------------------
@register(
    "ann_pq_rerank",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 5
    """,
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import pq_index as PQ

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    table = f"/tmp/ome_arrow_rt_pq_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    PQ.build_pq_index(spark, c, table, m=32, k=16, overwrite=True)
    # corpus-derived rerank depth (r14): fixed 50 loses exact==brute
    # at 10x the graded fixture (pq_index.rerank_depth rationale);
    # == 50 at the sf0.01 grading scale, so the graded row is stable
    return PQ.pq_rerank_search(
        spark, table, q, c, topk=5,
        candidates=PQ.rerank_depth(c.count(), topk=5),
    )


# ---------------------------------------------------------------------------
# Audio resample through the driver gate: 16 kHz → 8 kHz is an exact
# 2:1 ratio, so np.interp's half-rate output is EXACTLY the stride-2
# subsample of the deterministic generator v(t) = (t*37*k) % 20000 -
# 10000 — every feature (count/duration/RMS/peak/zero-crossings)
# re-derives in SQL over generate_series with step 2.
# ---------------------------------------------------------------------------
@register(
    "media_audio_resample",
    """
    WITH faud AS (
      SELECT 4 + i.i AS media_id,
             CAST(800*(i.i+1) AS BIGINT) AS n_samples,
             ROUND(800*(i.i+1) / 8000.0, 6) AS duration_s,
             ROUND(SQRT(AVG(CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE)
                            * CAST((t.t*37*(i.i+1)) % 20000 - 10000 AS DOUBLE))), 6) AS rms,
             CAST(MAX(ABS((t.t*37*(i.i+1)) % 20000 - 10000)) AS DOUBLE) AS peak,
             CAST(SUM(CASE WHEN t.t >= 2
                           AND ((((t.t-2)*37*(i.i+1)) % 20000 - 10000)
                                * ((t.t*37*(i.i+1)) % 20000 - 10000)) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM (SELECT unnest(generate_series(0, 2)) AS i) i,
           LATERAL (SELECT unnest(generate_series(0, 1600*(i.i+1) - 2, 2)) AS t) t
      GROUP BY i.i),
    wav AS (
      SELECT 12 AS media_id,
             CAST(1000 AS BIGINT) AS n_samples,
             ROUND(1000 / 8000.0, 6) AS duration_s,
             ROUND(SQRT(AVG(CAST((t.t*37) % 20000 - 10000 AS DOUBLE)
                            * CAST((t.t*37) % 20000 - 10000 AS DOUBLE))), 6) AS rms,
             CAST(MAX(ABS((t.t*37) % 20000 - 10000)) AS DOUBLE) AS peak,
             CAST(SUM(CASE WHEN t.t >= 2
                           AND ((((t.t-2)*37) % 20000 - 10000)
                                * ((t.t*37) % 20000 - 10000)) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM (SELECT unnest(generate_series(0, 1998, 2)) AS t) t)
    SELECT * FROM faud UNION ALL SELECT * FROM wav
    """,
)
def media_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark).filter(F.col("kind") == "audio")
    res = MM.resample_audio(media, 8000)
    feats = MM.audio_features(res)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return feats.select(
        "media_id", "n_samples", r6("duration_s"), r6("rms"),
        F.col("peak").cast("double").alias("peak"), "zero_crossings",
    )


# ---------------------------------------------------------------------------
# Bilinear 2x downscale through the driver gate: with even dims the
# half-pixel mapping lands every output pixel EXACTLY on a 2x2 block
# center (weights 0.5/0.5), and pixel values that are multiples of 4
# make every block average an exact integer — so the resized channel
# means re-derive in SQL as block-average means, no float ambiguity.
# ---------------------------------------------------------------------------
@register(
    "media_image_resize",
    """
    WITH px AS (
      SELECT dy.d AS dy, dx.d AS dx, ch.c AS ch,
             (( (2*dy.d + r.r)*12 + (2*dx.d + s.s)*8 + ch.c*4 ) % 256) AS v
      FROM (SELECT unnest(generate_series(0, 9)) AS d) dy,
           (SELECT unnest(generate_series(0, 6)) AS d) dx,
           (SELECT unnest(generate_series(0, 2)) AS c) ch,
           (SELECT unnest([0, 1]) AS r) r,
           (SELECT unnest([0, 1]) AS s) s),
    blocks AS (
      SELECT dy, dx, ch, SUM(v)/4 AS bavg FROM px GROUP BY dy, dx, ch)
    SELECT CAST(77 AS BIGINT) AS media_id,
           ROUND(AVG(CASE WHEN ch = 0 THEN bavg END), 6) AS mean_r,
           ROUND(AVG(CASE WHEN ch = 1 THEN bavg END), 6) AS mean_g,
           ROUND(AVG(CASE WHEN ch = 2 THEN bavg END), 6) AS mean_b
    FROM blocks
    """,
)
def media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM

    h2, w2 = 20, 14  # source dims; resized to 10 x 7
    yy, xx, cc = np.meshgrid(
        np.arange(h2), np.arange(w2), np.arange(3), indexing="ij"
    )
    img = ((yy * 12 + xx * 8 + cc * 4) % 256).astype(np.uint8)
    media = spark.createDataFrame(
        [(77, "image", bytearray(MM.encode_fimg(img)),
          (w2, h2, None, None, "fimg"))],
        MM.MEDIA_SCHEMA,
    )
    resized = MM.resize_images(media, width=7, height=10)
    feats = MM.media_features(resized)
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    return feats.select("media_id", r6("mean_r"), r6("mean_g"), r6("mean_b"))


# ---------------------------------------------------------------------------
# Exact phrase search over the POSITIONAL text index: the oracle
# re-derives phrase counts with a token-position self-join (a
# completely different algorithm from the index's positional-
# intersection fold), so a hash match proves the positional payload
# and the chain-intersection are both exact.
# ---------------------------------------------------------------------------
@register(
    "text_index_phrase",
    f"""
    WITH tok AS (
      SELECT doc_id AS d, unnest({_TOKS_SQL}) AS t,
             generate_subscripts({_TOKS_SQL}, 1) AS p
      FROM documents)
    SELECT d AS doc_id, CAST(COUNT(*) AS INT) AS phrase_count
    FROM tok a JOIN tok b USING (d)
    WHERE a.t = 'part' AND b.t = 'filter' AND b.p = a.p + 1
    GROUP BY d
    """,
)
def text_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import text_index as TI

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    table = f"/tmp/ome_arrow_rt_tixp_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    TI.build_text_index(
        spark, docs, table, n_files=8, positions=True, overwrite=True
    )
    return TI.phrase_search(spark, table, "part filter")


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 (positional-index-free text ranking) fused
# with exact vector ranking by Reciprocal Rank Fusion —
# score(d) = 1/(60+rank_text) + 1/(60+rank_vec), missing source → no
# contribution. The production RAG-retrieval shape; both rankings and
# the fusion re-derive in one oracle, so the hash match proves the
# composed pipeline end-to-end. Doc ids and vector ids share the id
# space in the fixtures (vec_id == doc_id).
# ---------------------------------------------------------------------------
_HYBRID_QUERIES = ((1, "scan data"), (2, "merge column"), (3, "join part"))


def _hybrid_oracle() -> str:
    qterm_rows = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in _HYBRID_QUERIES
        for t in sorted(set(terms.split()))
    )
    return f"""
    WITH q(qid, term) AS (VALUES {qterm_rows}),
    tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                  (SELECT COUNT(*) FROM tok) AS sdl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN (SELECT DISTINCT term FROM q)
           GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY term),
    contrib AS (
      SELECT q.qid, tf.doc_id, tf.term,
             ln(1.0 + (CAST(st.n AS DOUBLE) - dfq.df_t + 0.5)/(dfq.df_t + 0.5))
             * (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2*(0.25 + 0.75*dl.dl/(CAST(st.sdl AS DOUBLE)/st.n)))
             AS c
      FROM tf JOIN q USING (term) JOIN dfq USING (term)
              JOIN dl USING (doc_id), st),
    tscored AS (
      SELECT qid, doc_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                            list(c ORDER BY term)),
                               (a, b) -> a + b), 6) AS score
      FROM contrib GROUP BY qid, doc_id),
    trank AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rt
      FROM tscored),
    qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id IN (1, 2, 3)),
    cv AS (SELECT vec_id AS doc_id, embedding AS ce FROM embeddings
           WHERE vec_id >= 10),
    vscored AS (
      SELECT qid, doc_id,
             ROUND({_DOT.format(a='qe', b='ce')}
                   / (sqrt({_DOT.format(a='qe', b='qe')})
                      * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS cos_sim
      FROM qv, cv),
    vrank AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, doc_id) AS rv
      FROM vscored),
    fused AS (
      SELECT COALESCE(t.qid, v.qid) AS qid,
             COALESCE(t.doc_id, v.doc_id) AS doc_id,
             ROUND(COALESCE(1.0/(60 + t.rt), 0.0)
                   + COALESCE(1.0/(60 + v.rv), 0.0), 6) AS rrf
      FROM (SELECT * FROM trank WHERE rt <= 20) t
      FULL OUTER JOIN (SELECT * FROM vrank WHERE rv <= 20) v
        ON t.qid = v.qid AND t.doc_id = v.doc_id)
    SELECT qid AS query_id, doc_id, rrf, rk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY rrf DESC, doc_id) AS INT) AS rk
      FROM fused)
    WHERE rk <= 10
    """


@register("hybrid_retrieval_rrf", _hybrid_oracle())
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import text_index as TI
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    table = f"/tmp/ome_arrow_rt_hyb_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    TI.build_text_index(spark, docs, table, n_files=8, overwrite=True)
    qdf = spark.createDataFrame(
        list(_HYBRID_QUERIES), "query_id long, query string"
    )
    trank = TI.text_index_search_many(
        spark, table, qdf, k=20
    ).select("query_id", "doc_id", F.col("rk").alias("rt"))

    q = emb.filter(F.col("vec_id").isin([1, 2, 3])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    vrank = (
        cosine_topk(q, c, k=20, query_id="query_id", corpus_id="doc_id")
        .select("query_id", "doc_id", F.col("rk").alias("rv"))
    )
    fused = trank.join(
        vrank, ["query_id", "doc_id"], "full_outer"
    ).select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rt")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rv")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return fused.withColumn(
        "rk", F.row_number().over(w).cast("int")
    ).filter(F.col("rk") <= 10)


# IVF+PQ combined index: coarse centroids range-cluster the files
# (probe-pruned seeks), PQ codes compress the rows (ADC scan), exact
# re-rank on the survivors. Random fixture embeddings spread true
# neighbors uniformly across lists, so the driver row probes ALL lists
# (full recall == brute force — same oracle as knn); PARTIAL-probe
# pruning and its recall floor are pinned in test_pq_index.
@register(
    "ann_ivfpq_rerank",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 5
    """,
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import pq_index as PQ

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    table = f"/tmp/ome_arrow_rt_ivfpq_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    shutil.rmtree(table, ignore_errors=True)
    PQ.build_ivfpq_index(
        spark, c, table, n_centroids=8, m=32, k=16, overwrite=True
    )
    # corpus-derived rerank depth (r14, see ann_pq_rerank)
    return PQ.ivfpq_rerank_search(
        spark, table, q, c, topk=5,
        candidates=PQ.rerank_depth(c.count(), topk=5), n_probe=8,
    )


# ---------------------------------------------------------------------------
# G.711 µ-law / A-law decode (sources/wav_minimal ulaw_decode /
# alaw_decode, reached through the media table's WAV dispatch): the
# compressed PAYLOAD BYTES are pinned to a formula, so the DuckDB
# oracle replays the decoders' integer arithmetic — µ-law
# ((m*8+132)<<e)-132 on the complemented byte, A-law the 0x55-xor
# segment expansion — over the same byte stream and must reproduce the
# clip statistics exactly.  This is decode-correctness proven by
# arithmetic, not by round-trip.
# ---------------------------------------------------------------------------
@register(
    "media_audio_g711",
    """
    WITH ub AS (
      SELECT t.t, (t.t * 7 + 13) % 256 AS b
      FROM (SELECT unnest(generate_series(0, 1999)) AS t) t),
    ud AS (
      SELECT t,
             CASE WHEN (255 - b) >= 128 THEN -((((255 - b) % 16) * 8 + 132)
                    << (((255 - b) // 16) % 8)) + 132
                  ELSE ((((255 - b) % 16) * 8 + 132)
                    << (((255 - b) // 16) % 8)) - 132 END AS s
      FROM ub),
    ab AS (
      SELECT t.t, (t.t * 11 + 5) % 256 AS b
      FROM (SELECT unnest(generate_series(0, 1999)) AS t) t),
    ad AS (
      SELECT t,
             CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
             CASE WHEN (xor(b, 85) // 16) % 8 = 0
                  THEN (xor(b, 85) % 16) * 16 + 8
                  ELSE ((xor(b, 85) % 16) * 16 + 264)
                       << ((xor(b, 85) // 16) % 8 - 1) END AS s
      FROM ab),
    lagged AS (
      SELECT CAST(1 AS BIGINT) AS media_id, t, s,
             LAG(s) OVER (ORDER BY t) AS prev FROM ud
      UNION ALL
      SELECT 2, t, s, LAG(s) OVER (ORDER BY t) FROM ad)
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(SQRT(AVG(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS rms,
           CAST(MAX(ABS(s)) AS DOUBLE) AS peak,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings
    FROM lagged
    GROUP BY media_id
    """,
)
def media_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM
    from ome_arrow_spark.sources import wav_minimal as W

    t = np.arange(2000, dtype=np.int64)
    ulaw = ((t * 7 + 13) % 256).astype(np.uint8).tobytes()
    alaw = ((t * 11 + 5) % 256).astype(np.uint8).tobytes()
    rows = [
        (1, "audio", bytearray(W.wav_from_raw(W.WAVE_FORMAT_MULAW, ulaw, 8000)),
         (None, None, None, 8000, "wav")),
        (2, "audio", bytearray(W.wav_from_raw(W.WAVE_FORMAT_ALAW, alaw, 8000)),
         (None, None, None, 8000, "wav")),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = MM.audio_features(media)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 6).alias("rms"),
        F.col("peak").cast("double").alias("peak"), "zero_crossings",
    )


def _ima_steps_values() -> str:
    from ome_arrow_spark.sources.wav_minimal import _IMA_STEPS

    return ", ".join(f"({i}, {int(s)})" for i, s in enumerate(_IMA_STEPS))


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM decode (sources/wav_minimal._ima_adpcm_decode via the
# media WAV dispatch): one mono block whose 504 nibbles are pinned to
# nib(j) = (j*7+3) % 16 with header sample 1234 and step index 40.
# The oracle replays the decoder STATE MACHINE — (predictor, index)
# advanced per nibble through the published step/index tables — as a
# recursive CTE, then must reproduce the clip statistics exactly.  An
# inherently-sequential codec, oracled by recursion rather than
# round-trip.
# ---------------------------------------------------------------------------
@register(
    "media_audio_adpcm",
    f"""
    WITH RECURSIVE steps(i, st) AS (
      SELECT * FROM (VALUES {_ima_steps_values()}) v(i, st)),
    dec(t, pred, idx) AS (
      SELECT 0, 1234, 40
      UNION ALL
      SELECT t + 1,
             GREATEST(-32768, LEAST(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
             GREATEST(0, LEAST(88, idx + CASE nib % 8
               WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
               ELSE -1 END))
      FROM (
        SELECT d.t, d.pred, d.idx,
               (d.t * 7 + 3) % 16 AS nib,
               (s.st // 8)
               + CASE WHEN ((d.t * 7 + 3) % 16) % 8 >= 4
                      THEN s.st ELSE 0 END
               + CASE WHEN ((d.t * 7 + 3) % 16) % 4 >= 2
                      THEN s.st // 2 ELSE 0 END
               + CASE WHEN ((d.t * 7 + 3) % 16) % 2 = 1
                      THEN s.st // 4 ELSE 0 END AS diff
        FROM dec d JOIN steps s ON s.i = d.idx
        WHERE d.t < 504)),
    lagged AS (
      SELECT t, pred AS s, LAG(pred) OVER (ORDER BY t) AS prev FROM dec)
    SELECT CAST(3 AS BIGINT) AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(SQRT(AVG(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS rms,
           CAST(MAX(ABS(s)) AS DOUBLE) AS peak,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings
    FROM lagged
    """,
)
def media_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM
    from ome_arrow_spark.sources import wav_minimal as W

    j = np.arange(504, dtype=np.int64)
    nibs = ((j * 7 + 3) % 16).astype(np.uint8)
    body = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8).tobytes()
    head = (1234).to_bytes(2, "little") + bytes([40, 0])
    blob = W.wav_from_raw(
        W.WAVE_FORMAT_IMA_ADPCM, head + body, 8000,
        bits=4, block_align=4 + len(body), fact_frames=505,
    )
    media = spark.createDataFrame(
        [(3, "audio", bytearray(blob), (None, None, None, 8000, "wav"))],
        MM.MEDIA_SCHEMA,
    )
    feats = MM.audio_features(media)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 6).alias("rms"),
        F.col("peak").cast("double").alias("peak"), "zero_crossings",
    )


# ---------------------------------------------------------------------------
# FLAC decode (sources/flac_minimal.py via the media dispatch): a
# LOSSLESS codec, so the oracle simply replays the source-sample
# formula — any decoder defect (Rice coding, fixed-predictor cumsum
# reconstruction, frame stitching, stereo downmix) breaks equality.
# Clip 1 is mono, clip 2 stereo (decode_media downmixes to the mean,
# which the oracle computes as (l+r)/2).  CRC-8/16 and STREAMINFO MD5
# verification run inside the decode, so a green row also certifies
# the encoder produced a conforming stream.
# ---------------------------------------------------------------------------
@register(
    "media_audio_flac",
    """
    WITH mono AS (
      SELECT t.t, CAST((t.t*37) % 20000 - 10000 AS DOUBLE) AS s
      FROM (SELECT unnest(generate_series(0, 4999)) AS t) t),
    st AS (
      SELECT t.t,
             (CAST((t.t*37*2) % 20000 - 10000 AS DOUBLE)
              + CAST((t.t*37*3) % 20000 - 10000 AS DOUBLE)) / 2.0 AS s
      FROM (SELECT unnest(generate_series(0, 4999)) AS t) t),
    lagged AS (
      SELECT CAST(1 AS BIGINT) AS media_id, t, s, LAG(s) OVER (ORDER BY t) AS prev FROM mono
      UNION ALL
      SELECT 2, t, s, LAG(s) OVER (ORDER BY t) FROM st)
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(SQRT(AVG(s * s)), 6) AS rms,
           CAST(MAX(ABS(s)) AS DOUBLE) AS peak,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings
    FROM lagged
    GROUP BY media_id
    """,
)
def media_audio_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM
    from ome_arrow_spark.sources import flac_minimal as FL

    t = np.arange(5000, dtype=np.int64)
    mono = ((t * 37) % 20000 - 10000).astype(np.int16)
    stereo = np.stack(
        [
            ((t * 37 * 2) % 20000 - 10000).astype(np.int16),
            ((t * 37 * 3) % 20000 - 10000).astype(np.int16),
        ],
        axis=1,
    ).astype(np.int16)
    rows = [
        (1, "audio", bytearray(FL.flac_encode(mono, 16000)),
         (None, None, None, 16000, "flac")),
        (2, "audio", bytearray(FL.flac_encode(stereo, 16000)),
         (None, None, None, 16000, "flac")),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = MM.audio_features(media)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 6).alias("rms"),
        F.col("peak").cast("double").alias("peak"), "zero_crossings",
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN (operators/similarity.sq8_topk): normalized
# corpus vectors quantized to one byte per dimension against
# per-dimension [lo, hi] ranges (4× smaller than float32 — the FAISS
# SQ8 shape), scored from the codes alone. The oracle replays the
# ENTIRE pipeline — normalization, per-dimension range aggregation,
# the floor(x·255/(hi−lo)+0.5) quantizer, and the dequantized dot —
# in SQL, so the approximation itself is bit-pinned, not just its
# re-ranked output.
# ---------------------------------------------------------------------------
_SQ8_NORM = (
    "list_transform({e}, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_sum(list_transform({e}, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"
)


@register(
    "knn_cosine_sq8",
    f"""
    WITH q AS (SELECT vec_id AS qid, {_SQ8_NORM.format(e='embedding')} AS nq
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, {_SQ8_NORM.format(e='embedding')} AS ne
               FROM embeddings WHERE vec_id >= 10),
         dims AS (
           SELECT d.d, MIN(c.ne[d.d + 1]) AS lo, MAX(c.ne[d.d + 1]) AS hi
           FROM c, LATERAL (SELECT unnest(generate_series(0, len(c.ne) - 1)) AS d) d
           GROUP BY d.d),
         arrs AS (
           SELECT list(lo ORDER BY d) AS lo,
                  list(hi ORDER BY d) AS hi,
                  list(CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 0.0 END
                       ORDER BY d) AS step
           FROM dims),
         coded AS (
           SELECT cid,
                  list_transform(range(len(ne)), i ->
                    CASE WHEN a.hi[i + 1] > a.lo[i + 1]
                         THEN LEAST(255.0, GREATEST(0.0,
                              FLOOR((ne[i + 1] - a.lo[i + 1]) * 255.0
                                    / (a.hi[i + 1] - a.lo[i + 1]) + 0.5)))
                         ELSE 0.0 END) AS code
           FROM c, arrs a),
         p AS (
           SELECT qid, cid,
                  ROUND(list_sum(list_transform(range(len(nq)), i ->
                        nq[i + 1] * (a.lo[i + 1] + code[i + 1] * a.step[i + 1]))),
                        6) AS sq8_sim
           FROM q, coded, arrs a)
    SELECT qid, cid, sq8_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY sq8_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def knn_cosine_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    return sq8_topk(q, c, k=3).withColumn("rk", F.col("rk").cast("int"))


# ---------------------------------------------------------------------------
# Perceptual image near-duplicate detection (multimodal.image_neardup):
# PNG-decoded images → integer-arithmetic aHash (8×8 block means vs
# their global mean, packed as two 32-bit halves) → four 16-bit BAND
# buckets → equi-join candidates → Hamming verify. For distance ≤ 3
# the banding is EXACT (pigeonhole over 4 bands), so the all-pairs
# DuckDB oracle — which replays the pixel formula, the grayscale/
# block/threshold integer arithmetic, and xor+bit_count — must match
# the banded pipeline row-for-row. The image twin of MinHash-LSH text
# dedup, with lossless PNG as the carrier so decode is exact.
# ---------------------------------------------------------------------------
_AHASH_PX = (
    "((x.x*7 + y.y*13 + (i.i//2)*41 + {c}*5 + CASE WHEN i.i%2=1 "
    "AND x.x>=14 AND y.y>=14 THEN 60 ELSE 0 END) % 256)"
)


@register(
    "media_image_neardup",
    f"""
    WITH g AS (
      SELECT i.i AS id, x.x // 2 AS bx, y.y // 2 AS by,
             ({_AHASH_PX.format(c=0)} + {_AHASH_PX.format(c=1)}
              + {_AHASH_PX.format(c=2)}) // 3 AS gray
      FROM (SELECT unnest(generate_series(0, 7)) AS i) i,
           (SELECT unnest(generate_series(0, 15)) AS x) x,
           (SELECT unnest(generate_series(0, 15)) AS y) y),
    blocks AS (
      SELECT id, by, bx, SUM(gray) // 4 AS blk
      FROM g GROUP BY id, by, bx),
    means AS (SELECT id, SUM(blk) // 64 AS m FROM blocks GROUP BY id),
    bits AS (
      SELECT b.id, b.by * 8 + b.bx AS idx,
             CASE WHEN b.blk > m.m THEN 1 ELSE 0 END AS bit
      FROM blocks b JOIN means m ON m.id = b.id),
    hashes AS (
      SELECT id,
             SUM(CASE WHEN idx >= 32 THEN bit << (idx - 32) ELSE 0 END) AS hi,
             SUM(CASE WHEN idx < 32 THEN bit << idx ELSE 0 END) AS lo
      FROM bits GROUP BY id)
    SELECT a.id AS media_a, b.id AS media_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS distance
    FROM hashes a JOIN hashes b ON a.id < b.id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """,
)
def media_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ome_arrow_spark.operators import multimodal as MM
    from ome_arrow_spark.sources.png_minimal import png_encode

    def img(i):
        x = np.arange(16)[None, :, None]
        y = np.arange(16)[:, None, None]
        c = np.arange(3)[None, None, :]
        delta = np.zeros((16, 16, 1), np.int64)
        if i % 2:
            delta[14:, 14:, 0] = 60
        return ((x * 7 + y * 13 + (i // 2) * 41 + c * 5 + delta) % 256
                ).astype(np.uint8)

    rows = [
        (i, "image", bytearray(png_encode(img(i))),
         (16, 16, None, None, "png"))
        for i in range(8)
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    return MM.image_neardup(media, max_distance=3).select(
        "media_a", "media_b", F.col("distance").cast("long").alias("distance")
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, span-level — the real
# "remove repeated training text" operator, vs ngram_exact_overlap's
# doc-pair counts): every token position whose 8-gram repeats
# corpus-wide, merged into maximal per-document spans. One gram
# explode, one count shuffle on the md5 gram hash, one join back, one
# per-doc window merge — linear in corpus tokens, no pairwise doc join,
# no suffix-array global sort.
# ---------------------------------------------------------------------------
@register(
    "dup_span_detect",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS gh
          FROM t, unnest(range(1, len(toks)-6)) AS u(i) WHERE len(toks) >= 8),
    c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    d AS (SELECT doc_id, pos FROM g JOIN c USING (gh)),
    m AS (SELECT doc_id, pos,
            CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id
                 ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 -1) + 1 THEN 1 ELSE 0 END AS new_span
          FROM d),
    s AS (SELECT doc_id, pos,
            SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
          FROM m)
    SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos)+7 AS INTEGER) AS span_end,
           CAST(MAX(pos)+7-MIN(pos)+1 AS INTEGER) AS span_len,
           COUNT(*) AS n_grams
    FROM s GROUP BY doc_id, span_id
    """,
)
def dup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.dup_spans(docs, k=8)


# ---------------------------------------------------------------------------
# Apply the dedup: strip every duplicated span except its globally-
# first occurrence (min (doc_id, pos) per gram hash) and re-join the
# surviving token stream. Spark side rebuilds each document with ONE
# Catalyst filter-by-index HOF over the token array (no per-token
# explode); the oracle replays it relationally (position anti-join).
# ---------------------------------------------------------------------------
@register(
    "substring_dedup_apply",
    f"""
    WITH t0 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS gh
          FROM t0, unnest(range(1, len(toks)-6)) AS u(i) WHERE len(toks) >= 8),
    o AS (SELECT doc_id, pos,
            ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
            COUNT(*) OVER (PARTITION BY gh) AS n_occ
          FROM g),
    r AS (SELECT doc_id, pos FROM o WHERE n_occ >= 2 AND rn >= 2),
    m AS (SELECT doc_id, pos,
            CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id
                 ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 -1) + 1 THEN 1 ELSE 0 END AS new_span
          FROM r),
    s AS (SELECT doc_id, pos,
            SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
          FROM m),
    iv AS (SELECT doc_id, MIN(pos) AS s, MAX(pos)+7 AS e
           FROM s GROUP BY doc_id, span_id),
    tp AS (SELECT doc_id, i AS pos, toks[i] AS tok
           FROM t0, unnest(range(1, len(toks)+1)) AS u(i)),
    cov AS (SELECT DISTINCT tp.doc_id, tp.pos FROM tp
            JOIN iv ON tp.doc_id = iv.doc_id AND tp.pos BETWEEN iv.s AND iv.e),
    keep AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
             ANTI JOIN cov USING (doc_id, pos))
    SELECT t0.doc_id,
           COALESCE(string_agg(keep.tok, ' ' ORDER BY keep.pos), '') AS clean_text,
           CAST(len(t0.toks) AS INTEGER) AS n_tokens,
           CAST(len(t0.toks) - COUNT(keep.tok) AS INTEGER) AS n_removed
    FROM t0 LEFT JOIN keep ON t0.doc_id = keep.doc_id
    GROUP BY t0.doc_id, len(t0.toks)
    """,
)
def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.strip_dup_spans(docs, k=8)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) bottom-k sketch — the third mergeable sketch
# family next to HLL (distinct) and Misra-Gries (frequency): the k
# smallest md5 hashes of the DISTINCT values per group are
# simultaneously (a) a distinct-count estimator ((k-1)/h_k) and (b) a
# uniform sample of the distinct-value distribution, so quantiles ride
# free. Mergeability is exercised for real: per-(priority, month)
# partial sketches -> per-priority union (array_distinct + re-sort +
# re-truncate), never a re-scan. Unlike HLL the whole sketch is
# deterministic, so the oracle pins every output bit (hash ordering,
# the (k-1)/h_k division, and both quantile ranks). Values hash via a
# fixed DECIMAL(15,2) rendering so both engines hash identical bytes.
# Scale: two hash aggregations; sketch arrays are k-bounded.
# ---------------------------------------------------------------------------
@register(
    "kmv_sketch_quantiles",
    """
    WITH t AS (SELECT DISTINCT o_orderpriority AS pri,
                      month(o_orderdate) AS m,
                      CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS vs,
                      o_totalprice AS v FROM orders),
    g AS (SELECT pri, m, md5(vs) AS h, v FROM t),
    pk AS (SELECT pri, m, h, v,
             ROW_NUMBER() OVER (PARTITION BY pri, m ORDER BY h) AS rn FROM g),
    mrg AS (SELECT DISTINCT pri, h, v FROM pk WHERE rn <= 64),
    f AS (SELECT pri, h, v,
            ROW_NUMBER() OVER (PARTITION BY pri ORDER BY h) AS rn,
            COUNT(*) OVER (PARTITION BY pri) AS ns FROM mrg),
    kept AS (SELECT pri, h, v, rn, ns,
            ROW_NUMBER() OVER (PARTITION BY pri ORDER BY v) AS vr,
            COUNT(*) OVER (PARTITION BY pri) AS n_sample
            FROM f WHERE rn <= 64),
    hk AS (SELECT pri, MAX(CASE WHEN rn = 64 THEN h END) AS h_k,
                  MAX(ns) AS ns, MAX(n_sample) AS n_sample
           FROM kept GROUP BY pri),
    qv AS (SELECT k.pri,
             MAX(CASE WHEN k.vr = CAST(FLOOR((k.n_sample-1) * 0.5) + 1 AS BIGINT)
                 THEN k.v END) AS est_median,
             MAX(CASE WHEN k.vr = CAST(FLOOR((k.n_sample-1) * 0.9) + 1 AS BIGINT)
                 THEN k.v END) AS est_p90
           FROM kept k GROUP BY k.pri)
    SELECT hk.pri, CAST(hk.n_sample AS INTEGER) AS n_sample,
           CASE WHEN hk.ns < 64 THEN CAST(hk.ns AS DOUBLE)
                ELSE ROUND(CAST(63 AS DOUBLE) /
                     (CAST(('0x' || substr(hk.h_k, 1, 13))::BIGINT AS DOUBLE)
                      / 4503599627370496.0), 6)
           END AS est_distinct,
           qv.est_median, qv.est_p90
    FROM hk JOIN qv USING (pri)
    """,
)
def kmv_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 64
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.month("o_orderdate").alias("m"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string").alias("vs"),
        F.col("o_totalprice").alias("v"),
    ).distinct()
    partial = (
        base.select(
            "pri",
            "m",
            F.struct(F.md5("vs").alias("h"), F.col("v").alias("v")).alias("hv"),
        )
        .groupBy("pri", "m")
        .agg(F.slice(F.sort_array(F.collect_set("hv")), 1, K).alias("sk"))
    )
    merged = partial.groupBy("pri").agg(
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("sk")))).alias(
            "full"
        )
    )
    sk = F.slice(F.col("full"), 1, K)
    vals = F.array_sort(F.transform(sk, lambda x: x["v"]))
    n = F.size(sk)

    def q(p: float):
        return F.element_at(
            vals, (F.floor((n - 1).cast("double") * F.lit(p)) + 1).cast("int")
        )

    h_k = F.element_at(sk, K)["h"]
    # 4503599627370496 = 2^52 = 16^13: 13 hex chars parse exactly into
    # a double-precision integer, so the division is identical in both
    # engines.
    est = F.when(F.size("full") < K, F.size("full").cast("double")).otherwise(
        F.round(
            F.lit(float(K - 1))
            / (
                F.conv(F.substring(h_k, 1, 13), 16, 10)
                .cast("bigint")
                .cast("double")
                / F.lit(float(1 << 52))
            ),
            6,
        )
    )
    return merged.select(
        "pri",
        n.alias("n_sample"),
        est.alias("est_distinct"),
        q(0.5).alias("est_median"),
        q(0.9).alias("est_p90"),
    )


# ---------------------------------------------------------------------------
# Interpolated trigram LM perplexity — the classical statistical-LM
# curation scorer one order above lm_bigram_score: train counts on the
# 90% split (doc_id % 10 != 0), score held-out docs with the Jelinek-
# Mercer mixture 0.6*P(w3|w1w2) + 0.29*P(w3|w2) + 0.1*P(w3) +
# 0.01*(1/V) (the uniform floor keeps p > 0 for unseen tokens).
# Determinism contract: each term is one bigint/bigint division in
# double (identical both engines), ln() on identical doubles, per-
# position NLL rounded to 9 and summed as DECIMAL(20,9) — exact and
# order-independent — so the per-doc average is bit-stable without any
# ordered-sum gymnastics. Scale: count tables are vocabulary-bounded;
# the five scoring joins are plain shuffle hash joins Catalyst may
# broadcast when small (no hint — corpus-general).
# ---------------------------------------------------------------------------
@register(
    "lm_trigram_perplexity",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    train AS (SELECT * FROM t WHERE doc_id % 10 != 0),
    held AS (SELECT * FROM t WHERE doc_id % 10 = 0),
    tri AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
            FROM train, unnest(range(1, len(toks)-1)) AS u(i)
            WHERE len(toks) >= 3),
    bi AS (SELECT toks[i] AS w1, toks[i+1] AS w2
           FROM train, unnest(range(1, len(toks))) AS u(i)
           WHERE len(toks) >= 2),
    uni AS (SELECT unnest(toks) AS w1 FROM train),
    c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1,2,3),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1,2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY 1),
    tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok FROM train),
    voc AS (SELECT COUNT(*) AS v FROM c1),
    ht AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
           FROM held, unnest(range(1, len(toks)-1)) AS u(i)
           WHERE len(toks) >= 3),
    sc AS (SELECT ht.doc_id,
             ROUND(-LN(0.6 * COALESCE(CAST(c3.c3 AS DOUBLE) / CAST(p.c2 AS DOUBLE), 0.0)
                     + 0.29 * COALESCE(CAST(s.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE), 0.0)
                     + 0.1 * COALESCE(CAST(u3.c1 AS DOUBLE) / CAST(tot.n_tok AS DOUBLE), 0.0)
                     + 0.01 * (1.0 / CAST(voc.v AS DOUBLE))), 9)::DECIMAL(20,9) AS nll
           FROM ht
           LEFT JOIN c3 ON ht.w1 = c3.w1 AND ht.w2 = c3.w2 AND ht.w3 = c3.w3
           LEFT JOIN c2 p ON ht.w1 = p.w1 AND ht.w2 = p.w2
           LEFT JOIN c2 s ON ht.w2 = s.w1 AND ht.w3 = s.w2
           LEFT JOIN c1 u2 ON ht.w2 = u2.w1
           LEFT JOIN c1 u3 ON ht.w3 = u3.w1
           , tot, voc)
    SELECT doc_id, COUNT(*) AS n_trigrams,
           ROUND(CAST(CAST(SUM(nll) AS VARCHAR(64)) AS DOUBLE) / COUNT(*), 6) AS avg_nll,
           ROUND(EXP(ROUND(CAST(CAST(SUM(nll) AS VARCHAR(64)) AS DOUBLE) / COUNT(*), 6)), 4) AS ppl
    FROM sc GROUP BY doc_id
    """,
)
def lm_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    train = t.filter(F.col("doc_id") % 10 != 0)
    held = t.filter(F.col("doc_id") % 10 == 0)

    def grams(df: DataFrame, n: int) -> DataFrame:
        # sequence(1, 0) counts DOWN — guard short docs explicitly.
        arr = F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.slice(F.col("toks"), i, n),
            ),
        ).otherwise(F.array().cast("array<array<string>>"))
        g = df.select("doc_id", F.explode(arr).alias("g"))
        return g.select(
            "doc_id",
            *[F.col("g").getItem(j).alias(f"w{j + 1}") for j in range(n)],
        )

    tri_c = grams(train, 3).groupBy("w1", "w2", "w3").agg(
        F.count("*").alias("c3")
    )
    bi_c = grams(train, 2).groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni_c = grams(train, 1).groupBy("w1").agg(F.count("*").alias("c1"))
    tot = train.agg(F.sum(F.size("toks")).alias("n_tok"))
    vocab = uni_c.agg(F.count("*").alias("v"))

    j = (
        grams(held, 3)
        .join(tri_c, ["w1", "w2", "w3"], "left")
        .join(
            bi_c.select("w1", "w2", F.col("c2").alias("c2_p")),
            ["w1", "w2"],
            "left",
        )
        .join(
            bi_c.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2_s"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni_c.select(F.col("w1").alias("w2"), F.col("c1").alias("c1_2")),
            ["w2"],
            "left",
        )
        .join(
            uni_c.select(F.col("w1").alias("w3"), F.col("c1").alias("c1_3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
    )
    p3 = F.coalesce(
        F.col("c3").cast("double") / F.col("c2_p").cast("double"), F.lit(0.0)
    )
    p2 = F.coalesce(
        F.col("c2_s").cast("double") / F.col("c1_2").cast("double"), F.lit(0.0)
    )
    p1 = F.coalesce(
        F.col("c1_3").cast("double") / F.col("n_tok").cast("double"), F.lit(0.0)
    )
    pu = F.lit(1.0) / F.col("v").cast("double")
    p = (
        F.lit(0.6) * p3
        + F.lit(0.29) * p2
        + F.lit(0.1) * p1
        + F.lit(0.01) * pu
    )
    nll = F.round(-F.log(p), 9).cast("decimal(20,9)")
    return (
        j.groupBy("doc_id")
        .agg(F.count("*").alias("n_trigrams"), F.sum(nll).alias("s"))
        .select(
            "doc_id",
            "n_trigrams",
            F.round(
                F.col("s").cast("double") / F.col("n_trigrams").cast("double"),
                6,
            ).alias("avg_nll"),
        )
        .withColumn("ppl", F.round(F.exp("avg_nll"), 4))
    )


# ---------------------------------------------------------------------------
# Fuzzy string join (edit distance <= 1) via deletion-neighborhood
# blocking — the SymSpell trick: two strings within one edit always
# share a member of each other's {self} ∪ {single-char-deletion}
# variant sets, so an equi-join on variants replaces the all-pairs
# levenshtein scan; exact verification runs only on blocked candidates.
# The synthetic vocabulary has no natural typos, so the query plants
# them on BOTH engines identically (drop the 2nd char of df>=20
# tokens, carried with a negated df marker). Blocking completeness vs
# the brute-force join is asserted in tests. Scale: variant explode is
# O(total token length); the variant equi-join only meets true
# near-matches — production adds the LSH-style max_bucket guard for
# hub variants of very short tokens.
# ---------------------------------------------------------------------------
@register(
    "fuzzy_join_editdist",
    f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    base AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok
             HAVING COUNT(*) >= 5 AND length(tok) BETWEEN 4 AND 12),
    vocab AS (SELECT tok, MIN(df) AS df FROM (
                SELECT tok, df FROM base
                UNION ALL
                SELECT substr(tok, 1, 1) || substr(tok, 3) AS tok, -df
                FROM base WHERE df >= 20
              ) GROUP BY tok),
    v AS (SELECT DISTINCT tok, df,
            CASE WHEN i = 0 THEN tok
                 ELSE substr(tok, 1, i-1) || substr(tok, i+1) END AS var
          FROM vocab, unnest(range(0, length(tok)+1)) AS u(i)),
    p AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
                 a.df AS df_a, b.df AS df_b
          FROM v a JOIN v b ON a.var = b.var AND a.tok < b.tok)
    SELECT tok_a, tok_b, df_a, df_b,
           CAST(levenshtein(tok_a, tok_b) AS INTEGER) AS dist
    FROM p WHERE levenshtein(tok_a, tok_b) <= 1
    """,
)
def fuzzy_join_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter((F.length("tok").between(4, 12)) & (F.col("df") >= 5))
    )
    typos = base.filter(F.col("df") >= 20).select(
        F.concat(
            F.col("tok").substr(1, 1), F.expr("substring(tok, 3)")
        ).alias("tok"),
        (-F.col("df")).alias("df"),
    )
    vocab = base.unionAll(typos).groupBy("tok").agg(F.min("df").alias("df"))
    t = F.col("tok")
    variants = vocab.select(
        "tok",
        "df",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.length(t)),
                lambda i: F.when(i == 0, t).otherwise(
                    F.concat(
                        t.substr(F.lit(1), i - 1),
                        t.substr(i + 1, F.length(t)),
                    )
                ),
            )
        ).alias("var"),
    ).distinct()
    a, b = variants.alias("a"), variants.alias("b")
    return (
        a.join(
            b,
            (F.col("a.var") == F.col("b.var"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .select(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .distinct()
        .withColumn("dist", F.levenshtein("tok_a", "tok_b"))
        .filter(F.col("dist") <= 1)
    )


# ---------------------------------------------------------------------------
# RAG / pretraining document chunker: fixed-size token windows
# (size 64, stride 48 -> overlap 16) as one Catalyst transform+explode
# — no UDF, no shuffle (projection-only over the corpus scan). Chunk
# count is GREATEST(1, ceil((n-overlap)/stride)) so every token is
# covered, short docs yield exactly one chunk, and no trailing chunk
# is fully contained in its predecessor. first_pos is 1-based.
# ---------------------------------------------------------------------------
@register(
    "doc_chunking",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks
               FROM documents WHERE len({_TOKS_SQL}) >= 1),
    k AS (SELECT doc_id, toks, i AS chunk_id FROM t,
          unnest(range(0, GREATEST(1, (len(toks) + 31) // 48))) AS u(i))
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           chunk_id * 48 + 1 AS first_pos,
           CAST(len(toks[chunk_id*48+1 : chunk_id*48+64]) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ')
             AS chunk_text
    FROM k
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    SIZE, STRIDE = 64, 48
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    n = F.size("toks")
    # ceil((n - overlap) / stride), floored at one chunk
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n + (STRIDE - (SIZE - STRIDE) - 1)) / STRIDE).cast("int"),
    )
    return t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.struct(
                    k.alias("chunk_id"),
                    (k * STRIDE + 1).alias("first_pos"),
                    F.slice(F.col("toks"), k * STRIDE + 1, SIZE).alias(
                        "ctoks"
                    ),
                ),
            )
        ).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_id").cast("int").alias("chunk_id"),
        F.col("c.first_pos").cast("bigint").alias("first_pos"),
        F.size("c.ctoks").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("c.ctoks")).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# KMV set algebra — what HLL cannot do: bottom-k sketches support
# INTERSECTION and Jaccard estimation, not just union cardinality.
# Per-source sketches over distinct 3-token shingles; for each source
# pair, the union sketch is bottom-k of the two sketch unions (valid
# because both inputs are bottom-k), est_union = (k-1)/h_k, and
# rho = |union-sketch members present in BOTH sketches| gives
# est_jaccard = rho/k and est_inter = rho/k * est_union (Beyer et al.
# 2007). Everything is deterministic, so the oracle pins every bit —
# including the estimator branch (unions here are ~10x k).
# Scale: one shingle pass, one k-bounded sketch per group; pair
# algebra is array ops over k-length arrays.
# ---------------------------------------------------------------------------
@register(
    "kmv_set_ops",
    f"""
    WITH t AS (SELECT source, {_TOKS_SQL} AS toks FROM documents
               WHERE source IN ('src0','src1','src2','src3')),
    sh AS (SELECT DISTINCT source, array_to_string(toks[i:i+2], ' ') AS s
           FROM t, unnest(range(1, len(toks)-1)) AS u(i)
           WHERE len(toks) >= 3),
    h AS (SELECT source, md5(s) AS h FROM sh),
    r AS (SELECT source, h,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
    sk AS (SELECT source, h FROM r WHERE rn <= 256),
    pairs AS (SELECT DISTINCT a.source AS src_a, b.source AS src_b
              FROM sk a JOIN sk b ON a.source < b.source),
    u0 AS (SELECT p.src_a, p.src_b, s.h
           FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
           GROUP BY p.src_a, p.src_b, s.h),
    ur AS (SELECT src_a, src_b, h,
             ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY src_a, src_b) AS nu
           FROM u0),
    uk AS (SELECT * FROM ur WHERE rn <= 256),
    agg AS (SELECT uk.src_a, uk.src_b,
              COUNT(*) FILTER (WHERE sa.h IS NOT NULL AND sb.h IS NOT NULL)
                AS rho,
              MAX(CASE WHEN uk.rn = 256 THEN uk.h END) AS h_k,
              MAX(uk.nu) AS nu
            FROM uk
            LEFT JOIN sk sa ON sa.source = uk.src_a AND sa.h = uk.h
            LEFT JOIN sk sb ON sb.source = uk.src_b AND sb.h = uk.h
            GROUP BY uk.src_a, uk.src_b),
    est AS (SELECT src_a, src_b, rho, nu,
              CASE WHEN nu < 256 THEN CAST(nu AS DOUBLE)
                   ELSE ROUND(CAST(255 AS DOUBLE) /
                        (CAST(('0x' || substr(h_k, 1, 13))::BIGINT AS DOUBLE)
                         / 4503599627370496.0), 6)
              END AS est_union
            FROM agg)
    SELECT src_a, src_b, est_union,
           ROUND(CAST(rho AS DOUBLE) / LEAST(nu, 256), 6) AS est_jaccard,
           ROUND(CAST(rho AS DOUBLE) / LEAST(nu, 256) * est_union, 6)
             AS est_inter
    FROM est
    """,
)
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 256
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    sh = docs.select(
        "source", F.explode(DD.shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    sk = (
        sh.select("source", F.md5("s").alias("h"))
        .groupBy("source")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, K).alias("sk"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    pair = a.join(b, F.col("a.source") < F.col("b.source"))
    u_full = F.array_sort(
        F.array_distinct(F.concat(F.col("a.sk"), F.col("b.sk")))
    )
    u = F.slice(u_full, 1, K)
    rho = F.size(
        F.array_intersect(F.array_intersect(u, F.col("a.sk")), F.col("b.sk"))
    )
    h_k = F.element_at(u, K)
    est_union = F.when(
        F.size(u_full) < K, F.size(u_full).cast("double")
    ).otherwise(
        F.round(
            F.lit(float(K - 1))
            / (
                F.conv(F.substring(h_k, 1, 13), 16, 10)
                .cast("bigint")
                .cast("double")
                / F.lit(float(1 << 52))
            ),
            6,
        )
    )
    ksz = F.least(F.size(u_full), F.lit(K)).cast("double")
    return pair.select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        est_union.alias("est_union"),
        F.round(rho.cast("double") / ksz, 6).alias("est_jaccard"),
        F.round(rho.cast("double") / ksz * est_union, 6).alias("est_inter"),
    )


# ---------------------------------------------------------------------------
# MMR retrieval diversification (Carbonell & Goldstein 1998): rerank
# the exact cosine top-8 per query with greedy Maximal Marginal
# Relevance (lambda 0.7, select 4) — the greedy loop is ONE Catalyst
# aggregate fold over the collected candidate array (operators/
# similarity.py:mmr_rerank; no UDF, no driver loop). Every similarity
# and score rounds to 6 BEFORE comparison with ascending-cid
# tiebreaks, so the selection sequence is deterministic; the oracle
# unrolls the 4 greedy steps as plain CTEs over the same rounded sim
# table. State is k-bounded per query: the expensive part stays the
# upstream top-k scan.
# ---------------------------------------------------------------------------
@register(
    "retrieval_mmr",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
          WHERE vec_id >= 10),
    p AS (SELECT qid, cid, ce,
                 ROUND({_DOT.format(a='qe', b='ce')}
                       / (sqrt({_DOT.format(a='qe', b='qe')})
                          * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS rel
          FROM q, c),
    cand AS (SELECT qid, cid, ce, rel FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY rel DESC, cid) AS rk
               FROM p) WHERE rk <= 8),
    sims AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
                    ROUND({_DOT.format(a='a.ce', b='b.ce')}
                          / (sqrt({_DOT.format(a='a.ce', b='a.ce')})
                             * sqrt({_DOT.format(a='b.ce', b='b.ce')})), 6)
                      AS sim
             FROM cand a JOIN cand b
               ON a.qid = b.qid AND a.cid != b.cid),
    s1 AS (SELECT qid, cid, rel FROM (
             SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY rel DESC, cid) rn
             FROM cand) WHERE rn = 1),
    r2 AS (SELECT c.qid, c.cid, c.rel,
             ROUND(0.7*c.rel - 0.3*MAX(s.sim), 6) AS score
           FROM cand c JOIN s1 ON c.qid = s1.qid AND c.cid != s1.cid
           JOIN sims s ON s.qid = c.qid AND s.ca = c.cid AND s.cb = s1.cid
           GROUP BY c.qid, c.cid, c.rel),
    s2 AS (SELECT qid, cid, rel FROM (
             SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY score DESC, cid) rn
             FROM r2) WHERE rn = 1),
    sel2 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM s2),
    r3 AS (SELECT c.qid, c.cid, c.rel,
             ROUND(0.7*c.rel - 0.3*MAX(s.sim), 6) AS score
           FROM cand c
           JOIN sims s ON s.qid = c.qid AND s.ca = c.cid
           JOIN sel2 ON sel2.qid = c.qid AND s.cb = sel2.cid
           WHERE c.cid NOT IN (SELECT cid FROM sel2
                               WHERE sel2.qid = c.qid)
           GROUP BY c.qid, c.cid, c.rel),
    s3 AS (SELECT qid, cid, rel FROM (
             SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY score DESC, cid) rn
             FROM r3) WHERE rn = 1),
    sel3 AS (SELECT * FROM sel2 UNION ALL SELECT qid, cid FROM s3),
    r4 AS (SELECT c.qid, c.cid, c.rel,
             ROUND(0.7*c.rel - 0.3*MAX(s.sim), 6) AS score
           FROM cand c
           JOIN sims s ON s.qid = c.qid AND s.ca = c.cid
           JOIN sel3 ON sel3.qid = c.qid AND s.cb = sel3.cid
           WHERE c.cid NOT IN (SELECT cid FROM sel3
                               WHERE sel3.qid = c.qid)
           GROUP BY c.qid, c.cid, c.rel),
    s4 AS (SELECT qid, cid, rel FROM (
             SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY score DESC, cid) rn
             FROM r4) WHERE rn = 1)
    SELECT qid, 1 AS mmr_rank, cid, rel FROM s1
    UNION ALL SELECT qid, 2, cid, rel FROM s2
    UNION ALL SELECT qid, 3, cid, rel FROM s3
    UNION ALL SELECT qid, 4, cid, rel FROM s4
    """,
)
def retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    rel = cosine_topk(q, c, k=8)
    return mmr_rerank(rel, c, n_select=4, lam=0.7).select(
        "qid", "mmr_rank", "cid", F.col("cos_sim").alias("rel")
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling (the multilingual-pretraining
# standard, Conneau & Lample 2019): per-language quotas proportional
# to n_l^(1/T) with T=2 — upsampling the tail relative to raw
# frequency — materialized to a 100-doc budget by md5-rank within each
# language. Determinism: sqrt(n_l) rounds to 9 and sums as DECIMAL so
# the normalizer is order-independent; each quota is one identical
# double division + floor. Selection is the same hash-rank rule as
# the other samplers (no RNG, engine-portable).
# ---------------------------------------------------------------------------
@register(
    "temperature_mixture",
    """
    WITH n AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    w AS (SELECT lang, n_l, ROUND(SQRT(n_l), 9)::DECIMAL(28,9) AS s FROM n),
    z AS (SELECT CAST(CAST(SUM(s) AS VARCHAR(64)) AS DOUBLE) AS z FROM w),
    q AS (SELECT lang, n_l,
                 CAST(FLOOR(100 * (CAST(s AS DOUBLE) / z.z)) AS BIGINT)
                   AS quota
          FROM w, z),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT q.lang, q.n_l, q.quota,
           COUNT(ranked.doc_id) AS n_sampled,
           CAST(MIN(CASE WHEN ranked.rn = 1
                    THEN ranked.doc_id END) AS BIGINT) AS first_pick
    FROM q LEFT JOIN ranked
      ON ranked.lang = q.lang AND ranked.rn <= q.quota
    GROUP BY q.lang, q.n_l, q.quota
    """,
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    w = n.select(
        "lang", "n_l",
        F.round(F.sqrt("n_l"), 9).cast("decimal(28,9)").alias("s"),
    )
    z = w.agg(F.sum("s").cast("double").alias("z"))
    q = w.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_l",
        F.floor(
            F.lit(100) * (F.col("s").cast("double") / F.col("z"))
        ).cast("bigint").alias("quota"),
    )
    wnd = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id",
        F.col("lang").alias("r_lang"),
        F.row_number().over(wnd).alias("rn"),
    )
    return (
        q.join(
            ranked,
            (F.col("r_lang") == q["lang"]) & (F.col("rn") <= F.col("quota")),
            "left",
        )
        .groupBy("lang", "n_l", "quota")
        .agg(
            F.count("doc_id").alias("n_sampled"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("first_pick"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive negative mining: for each anchor document, k=3 HARD
# negatives — same language (so the pair is non-trivial), chosen by
# deterministic per-pair hash rank (md5(anchor:candidate)) instead of
# RNG, the reproducible-sampling rule used across the samplers. Scale
# note: the lang equi-join is the blocking step; at corpus scale the
# block key becomes (lang, hash_bucket(anchor) % B) so no single
# language pairs anchors against the whole corpus — the per-anchor
# window is already k-bounded.
# ---------------------------------------------------------------------------
@register(
    "contrastive_negatives",
    """
    WITH a AS (SELECT doc_id AS anchor_id, lang FROM documents
               WHERE doc_id < 30),
    c AS (SELECT doc_id AS neg_id, lang FROM documents WHERE doc_id >= 100),
    p AS (SELECT a.anchor_id, c.neg_id, a.lang,
                 ROW_NUMBER() OVER (PARTITION BY a.anchor_id
                   ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':' ||
                                CAST(c.neg_id AS VARCHAR)), c.neg_id)
                   AS neg_rank
          FROM a JOIN c ON a.lang = c.lang)
    SELECT anchor_id, neg_id, lang, CAST(neg_rank AS INT) AS neg_rank
    FROM p WHERE neg_rank <= 3
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") < 30).select(
        F.col("doc_id").alias("anchor_id"), "lang"
    )
    c = docs.filter(F.col("doc_id") >= 100).select(
        F.col("doc_id").alias("neg_id"), F.col("lang").alias("c_lang")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                F.col("neg_id").cast("string"),
            )
        ),
        "neg_id",
    )
    return (
        a.join(c, a["lang"] == c["c_lang"])
        .select("anchor_id", "neg_id", "lang")
        .withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006,
# A-ES): item i survives with key ln(u_i)/w_i where u_i is a
# deterministic md5-derived uniform — the one-pass, mergeable,
# RNG-free way to draw an importance-weighted sample (here: docs
# weighted by length, the data-mixing primitive). Top-k by key
# compiles to TakeOrderedAndProject — per-partition top-k, no global
# sort; the rank window runs on k rows. The 13-hex-digit hash parse
# and ln/divide are identical doubles in both engines.
# ---------------------------------------------------------------------------
@register(
    "weighted_sample",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             LN(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                     ::BIGINT AS DOUBLE) / 4503599627370496.0)
               / CAST(n_chars AS DOUBLE) AS key
      FROM documents WHERE n_chars > 0),
    r AS (SELECT doc_id, n_chars, key,
            ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS sample_rank
          FROM k)
    SELECT doc_id, n_chars, ROUND(key, 9) AS key,
           CAST(sample_rank AS INTEGER) AS sample_rank
    FROM r WHERE sample_rank <= 40
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
        )
        .cast("bigint")
        .cast("double")
        / F.lit(float(1 << 52))
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    top = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(40)  # TakeOrderedAndProject: per-partition top-k
    )
    w = Window.orderBy(F.col("key").desc(), "doc_id")
    return top.withColumn(
        "sample_rank", F.row_number().over(w)
    ).select("doc_id", "n_chars", F.round("key", 9).alias("key"), "sample_rank")


# ---------------------------------------------------------------------------
# Entity resolution end-to-end (the record-linkage composition):
# synthesize dirty records on BOTH engines (per-rid deterministic
# mutation class: one deletion / two deletions / corrupted block
# key), then BLOCK on (nation, name-suffix) so no all-pairs scan ever
# happens, MATCH within blocks by exact levenshtein <= 2, cluster
# matches with min-label CONNECTED COMPONENTS (the recursive-CTE-
# oracled operator), and assign every record a canonical entity id
# (its component, or itself for singletons — corrupted-key variants
# MUST come out unmerged). Scale: blocking bounds the candidate join;
# components run on the verified-pair graph only.
# ---------------------------------------------------------------------------
@register(
    "entity_resolution",
    """
    WITH RECURSIVE base AS (
      SELECT c_custkey AS rid, c_name AS name, c_nationkey AS nat
      FROM customer WHERE c_custkey < 300),
    variants AS (
      SELECT rid + 10000 AS rid,
             CASE WHEN rid % 3 = 0 THEN substr(name, 1, 2) || substr(name, 4)
                  WHEN rid % 3 = 1 THEN substr(name, 1, 2) || substr(name, 5)
                  ELSE substr(name, 1, length(name)-1) || 'x' END AS name,
             nat
      FROM base),
    records AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
    blocked AS (SELECT rid, name, nat,
                       substr(name, length(name)-3) AS bkey FROM records),
    pairs AS (
      SELECT a.rid AS id_a, b.rid AS id_b
      FROM blocked a JOIN blocked b
        ON a.bkey = b.bkey AND a.nat = b.nat AND a.rid < b.rid
      WHERE levenshtein(a.name, b.name) <= 2),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.node
      WHERE w.label < e.u),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT COALESCE(comp.component, records.rid) AS entity,
           COUNT(*) AS n_records,
           MIN(records.rid) AS min_rid, MAX(records.rid) AS max_rid
    FROM records LEFT JOIN comp ON records.rid = comp.node
    GROUP BY 1
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.clustering import connected_components

    cust = _t(spark, sf_dir, "customer")
    base = cust.filter(F.col("c_custkey") < 300).select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
    )
    name = F.col("name")
    mut = (
        F.when(
            F.col("rid") % 3 == 0,
            F.concat(
                name.substr(F.lit(1), F.lit(2)), F.expr("substring(name, 4)")
            ),
        )
        .when(
            F.col("rid") % 3 == 1,
            F.concat(
                name.substr(F.lit(1), F.lit(2)), F.expr("substring(name, 5)")
            ),
        )
        .otherwise(
            F.concat(
                F.expr("substring(name, 1, length(name)-1)"), F.lit("x")
            )
        )
    )
    variants = base.select(
        (F.col("rid") + 10000).alias("rid"), mut.alias("name"), "nat"
    )
    records = base.unionByName(variants)
    blocked = records.withColumn(
        "bkey", F.expr("substring(name, length(name)-3)")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.nat") == F.col("b.nat"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
        .select(F.col("a.rid").alias("id_a"), F.col("b.rid").alias("id_b"))
    )
    comp = connected_components(pairs)
    return (
        records.join(comp, records["rid"] == comp["node"], "left")
        .select(
            "rid",
            F.coalesce(F.col("component"), F.col("rid")).alias("entity"),
        )
        .groupBy("entity")
        .agg(
            F.count("*").alias("n_records"),
            F.min("rid").alias("min_rid"),
            F.max("rid").alias("max_rid"),
        )
    )


# ---------------------------------------------------------------------------
# Set-similarity join with PREFIX FILTERING (the SSJoin/PPJoin
# technique): for Jaccard >= t, two sets must share a token among each
# side's (|r| - ceil(t*|r|) + 1) RAREST tokens under one global
# frequency order — so the candidate join runs on prefixes only,
# shrinking candidates far below the full shingle-join, then exact
# Jaccard verifies. The oracle is the NAIVE all-shared-shingle
# formulation: value equality proves the prefix filter loses nothing
# (tests also pin prefix == naive inside Spark). Near-dups are planted
# on both engines (drop-first-token twins, the suite convention).
# Scale: the token-rank table is vocabulary-sized; its global window
# is rank-by-frequency over the vocab, not the corpus.
# ---------------------------------------------------------------------------
@register(
    "set_similarity_prefix",
    f"""
    WITH t0 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
                WHERE doc_id < 200),
    recs AS (
      SELECT doc_id, toks FROM t0
      UNION ALL
      -- twin-id offset safe at ANY SF: corpus is pinned to
      -- doc_id < 200 above, so 100000+ can never collide
      SELECT doc_id + 100000, toks[2:len(toks)] FROM t0
      WHERE len(toks) >= 10),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
           FROM recs, unnest(range(1, len(toks)-1)) AS u(i)
           WHERE len(toks) >= 3),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS o
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, o AS inter,
           ROUND(CAST(o AS DOUBLE) / (x.n + y.n - o), 6) AS jaccard
    FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE CAST(o AS DOUBLE) / (x.n + y.n - o) >= 0.5
    """,
)
def set_similarity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _set_similarity(spark, sf_dir, mode="prefix")


def _set_similarity(
    spark: SparkSession, sf_dir: str, mode: str = "prefix"
) -> DataFrame:
    """mode='prefix': PPJoin-style prefix-filtered candidates.
    mode='naive': all shared-shingle pairs (the completeness
    reference tests compare against)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t0 = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    # twin-id offset safe at ANY SF: corpus pinned to doc_id < 200
    recs = t0.unionByName(
        t0.filter(F.size("toks") >= 10).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.slice("toks", 2, F.size("toks") - 1).alias("toks"),
        )
    )
    sh = (
        recs.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 2),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("toks"), i, 3)
                        ),
                    )
                )
            ).alias("s"),
        )
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    if mode == "prefix":
        # global rarest-first token order (vocabulary-sized window)
        rank = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .withColumn(
                "rnk",
                F.row_number().over(Window.orderBy("df", "s")),
            )
        )
        ordered = (
            sh.join(rank.select("s", "rnk"), "s")
            .join(sz, "doc_id")
            .withColumn(
                "pos",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("rnk")
                ),
            )
        )
        # prefix for J >= 0.5: |r| - ceil(|r|/2) + 1 rarest tokens
        prefix = ordered.filter(
            F.col("pos")
            <= F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
        ).select("doc_id", "s")
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
        sb = sh.select(F.col("doc_id").alias("doc_b"), "s")
        inter = (
            cand.join(sa, "doc_a")
            .join(sb, ["doc_b", "s"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
    jac = (
        inter.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return jac.select(
        "doc_a", "doc_b", "inter", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Naive-Bayes curation classifier, trained and applied in one query:
# per-token Laplace-smoothed log-likelihood ratios for the en-vs-other
# class (the fastText-style quality/language filter shape), then each
# document scored by its tokens' LLR sum + class prior. All counts are
# exact integers; each token weight is ONE shared double expression
# rounded to 9 digits and summed as DECIMAL(20,9), so per-doc scores
# are order-independent and bit-portable. Top-10 by exact decimal
# score via orderBy+limit (TakeOrdered — no global row_number sort).
# Scale shape: token-stats groupBy (vocab-sized) + one explode-join-agg
# over the corpus; the weights table broadcasts.
# ---------------------------------------------------------------------------
@register(
    "nb_classifier_score",
    f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents),
    cls AS (
      SELECT tok,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
             SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c_ot
      FROM tk GROUP BY tok),
    tot AS (
      SELECT CAST(SUM(c_en) AS BIGINT) AS t_en,
             CAST(SUM(c_ot) AS BIGINT) AS t_ot,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM cls),
    llr AS (
      SELECT tok,
             CAST(ROUND(LN((c_en + 1.0) / (t_en + vocab))
                        - LN((c_ot + 1.0) / (t_ot + vocab)), 9)
                  AS DECIMAL(20,9)) AS w
      FROM cls CROSS JOIN tot),
    pri AS (
      SELECT LN(CAST(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS VARCHAR(64)) AS DOUBLE)
                / SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)) AS prior
      FROM documents),
    sc AS (
      SELECT tk.doc_id, tk.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(llr.w) AS s
      FROM tk JOIN llr USING (tok)
      GROUP BY tk.doc_id, tk.lang)
    SELECT doc_id, lang, n_tokens,
           ROUND(CAST(s AS DOUBLE) + (SELECT prior FROM pri), 6) AS score
    FROM sc ORDER BY s DESC, doc_id LIMIT 10
    """,
)
def nb_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    is_en = F.when(F.col("lang") == "en", 1).otherwise(0)
    cls = tk.groupBy("tok").agg(
        F.sum(is_en).alias("c_en"),
        F.sum(1 - is_en).alias("c_ot"),
    )
    tot = cls.agg(
        F.sum("c_en").cast("bigint").alias("t_en"),
        F.sum("c_ot").cast("bigint").alias("t_ot"),
        F.count("*").cast("bigint").alias("vocab"),
    )
    llr = cls.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log((F.col("c_en") + F.lit(1.0)) / (F.col("t_en") + F.col("vocab")))
            - F.log(
                (F.col("c_ot") + F.lit(1.0)) / (F.col("t_ot") + F.col("vocab"))
            ),
            9,
        )
        .cast("decimal(20,9)")
        .alias("w"),
    )
    pri = docs.agg(
        F.log(
            F.sum(is_en).cast("double") / F.sum(1 - is_en)
        ).alias("prior")
    )
    sc = (
        tk.join(F.broadcast(llr), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("w").alias("s"),
        )
    )
    return (
        sc.orderBy(F.desc("s"), "doc_id")
        .limit(10)
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("s").cast("double") + F.col("prior"), 6).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage: build the freq>=5 vocabulary on the
# corpus, then per-language OOV mass and mean per-doc OOV rate — the
# audit run before freezing a tokenizer (what fraction of each slice
# falls to UNK). Integer counts exact; per-doc rates rounded into
# decimal sums (order-independent), rendered with the unrounded
# decimal->double/count quotient the flagship q1 uses. Two shuffles
# (token freq, per-doc rollup) + the final per-lang aggregation.
# ---------------------------------------------------------------------------
@register(
    "vocab_coverage",
    f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size
           FROM freq WHERE cnt >= 5),
    per AS (
      SELECT tk.doc_id, tk.lang,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(CASE WHEN f.cnt >= 5 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_oov
      FROM tk JOIN freq f USING (tok)
      GROUP BY tk.doc_id, tk.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
           CAST(CAST(SUM(CAST(ROUND(CAST(n_oov AS DOUBLE) / n_toks, 9)
                         AS DECIMAL(20,9))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*)
             AS avg_oov_rate,
           (SELECT vocab_size FROM vv) AS vocab_size
    FROM per GROUP BY lang ORDER BY lang
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    freq = tk.groupBy("tok").agg(F.count("*").alias("cnt"))
    vv = freq.filter(F.col("cnt") >= 5).agg(
        F.count("*").cast("bigint").alias("vocab_size")
    )
    per = (
        tk.join(freq, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum(F.when(F.col("cnt") >= 5, 0).otherwise(1))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("n_oov").cast("bigint").alias("oov_tokens"),
            (
                F.sum(
                    F.round(
                        F.col("n_oov").cast("double") / F.col("n_toks"), 9
                    ).cast("decimal(20,9)")
                ).cast("double")
                / F.count("*")
            ).alias("avg_oov_rate"),
        )
        .crossJoin(F.broadcast(vv))
        .select(
            "lang", "n_docs", "total_tokens", "oov_tokens",
            "avg_oov_rate", "vocab_size",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Incremental ANN index lifecycle: build the IVF index on HALF the
# corpus, MERGE the other half in (add_to_ivf_index assigns new
# vectors to their nearest stored centroid), re-cluster the fragmented
# files (optimize_ivf_index), then search with FULL probes. Full-probe
# search over a complete index is exact KNN whatever the clustering,
# so the oracle is brute-force cosine top-k over the whole corpus — a
# hash match proves no vector was lost or duplicated across the
# add/optimize lifecycle (completeness, the failure mode incremental
# merges actually risk; probe pruning itself is ann_index_search's
# contract).
# ---------------------------------------------------------------------------
@register(
    "ann_index_incremental",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
               WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6)
                        AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import ann_index as AI

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c0 = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 2 == 0)).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    c1 = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 2 == 1)).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    table = (
        f"/tmp/ome_arrow_rt_ivfinc_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(table, ignore_errors=True)
    AI.build_ivf_index(spark, c0, table, n_centroids=8, overwrite=True)
    AI.add_to_ivf_index(spark, c1, table)
    AI.optimize_ivf_index(spark, table)
    return AI.ivf_index_search(spark, table, q, k=3, n_probe=8)


# ---------------------------------------------------------------------------
# Distributed kNN JOIN (both sides large): top-k approximate neighbors
# from the right corpus for EVERY left row via an LSH bucket shuffle
# equi-join — no query-side broadcast, no driver collect, the
# embedding-corpus-linking shape at 10^9 × 10^9. md5 seed mode keeps
# every hyperplane sign in-plan so the oracle re-derives buckets,
# candidates and ranks bit-identically.  Round-10: n_planes is the
# DATA-DERIVED default (knn_join_planes — expected bucket ≈ 256 right
# rows at any corpus size; the fixed-4-plane default was the r9 bench
# blowup), the oracle recomputes the same width from COUNT(*) via a
# dynamic nested-lambda signature fold, and the query ASSERTS the
# deduped candidate-pair count stays ≤ 2·n_left·n_tables·target_bucket
# (the band_join no-nested-loop-assert pattern: a future parameter
# regression fails the GATE, not the bench).  The skew guard (right
# buckets > max_bucket dropped before pairing) never engages at
# fixture scale and is covered by tests/test_clustering.py.
# ---------------------------------------------------------------------------
def _dyn_tables_sql(np_cte: str = "np") -> str:
    """SQL twin of knn_join_tables(n_planes): exact integer
    ceil(8·25^d/16^d), d = min(max(planes-4, 0), 7), capped [8, 128].
    POWER() returns double but 25^7·8 < 2^53, so every intermediate is
    integer-exact — no cross-engine float-pow hazard (validated vs the
    Python formula at n = 38 .. 10^7)."""
    d = f"LEAST(GREATEST(n - 4, 0), 7)"
    return (
        f"SELECT LEAST(128, GREATEST(8, CAST((8 * CAST(POWER(25, {d}) AS BIGINT)"
        f" + CAST(POWER(16, {d}) AS BIGINT) - 1)"
        f" // CAST(POWER(16, {d}) AS BIGINT) AS BIGINT))) AS ntab FROM {np_cte}"
    )


def _knn_join_oracle(
    k: int, q_where: str, c_where: str, target_bucket: int = 256
) -> str:
    """DuckDB twin of knn_join_lsh(n_planes=None, n_tables=None): the
    plane count is recomputed from the corpus
    COUNT(*) with the exact knn_join_planes formula, the table count
    from it with the exact knn_join_tables formula (r14 — recall no
    longer collapses as the derived width grows), and the signature is
    a dynamic-width nested-lambda fold (outer lambda over planes,
    inner over vector components) — the same md5-parity signs as
    :func:`_lsh_oracle`, so buckets, candidates and ranks match at ANY
    corpus size/plane/table count (gate-portable across
    sf0.001 → sf10)."""

    def sig(v: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range((SELECT n FROM np)), p -> "
            f"(CASE WHEN list_sum(list_transform(range(len({v})), i -> "
            f"CAST({v}[i+1] AS DOUBLE) * "
            f"(2 * (ascii(substr(md5(concat(CAST(t*1000+p AS VARCHAR), ':', i)), 1, 1)) % 2) - 1)"
            f")) > 0.0 THEN 1 ELSE 0 END) * (CAST(1 AS BIGINT) << p)"
            f")) AS BIGINT)"
        )

    dot = "list_sum(list_transform(range(len({a})), i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {q_where}),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE {c_where}),
         np AS (SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / {target_bucket}.0)) AS INT)) AS n FROM c),
         nt AS ({_dyn_tables_sql('np')}),
         qs AS (SELECT qid, qe, t, {sig('qe')} AS sig
                FROM q CROSS JOIN range(128) r(t)
                WHERE t < (SELECT ntab FROM nt)),
         cs AS (SELECT cid, ce, t, {sig('ce')} AS sig
                FROM c CROSS JOIN range(128) r(t)
                WHERE t < (SELECT ntab FROM nt)),
         -- mirror knn_join_candidates' skew cap (max_bucket =
         -- 64*target_bucket): right buckets above the cap emit no
         -- candidates, so the gate stays scale-portable even if a
         -- degenerate mega-bucket appears at larger fixtures
         allowed AS (SELECT t, sig FROM cs GROUP BY t, sig
                     HAVING COUNT(*) <= 64 * {target_bucket}),
         cand AS (SELECT DISTINCT qid, cid, qe, ce
                  FROM qs JOIN allowed USING (t, sig)
                          JOIN cs USING (t, sig)),
         p AS (SELECT qid, cid,
                      ROUND({dot.format(a='qe', b='ce')}
                            / (sqrt({dot.format(a='qe', b='qe')})
                               * sqrt({dot.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM cand)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= {k}
    """


@register(
    "knn_join_lsh",
    _knn_join_oracle(
        k=2, q_where="vec_id % 4 = 0", c_where="vec_id % 4 <> 0"
    ),
)
def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.similarity import (
        knn_join_candidates,
        knn_join_lsh as KJ,
        knn_join_planes,
        knn_join_tables,
    )

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    # compute the candidate relation ONCE for both the sizing assert
    # and the scoring join (building it twice cost two extra jobs per
    # run); the linearity bound scales with the data-derived table
    # count — still linear in |left| with a log(n_right) table factor.
    # A local checkpoint (filled by cand.count()), not persist(): a
    # cache entry would outlive the query and be substituted into any
    # later knn_join_candidates over the same inputs, skipping its
    # signature and bucket stages.
    n_tab = knn_join_tables(knn_join_planes(max(right.count(), 1)))
    cand = knn_join_candidates(left, right).localCheckpoint(eager=False)
    n_left = left.count()
    n_cand = cand.count()
    assert n_cand <= 2 * n_left * n_tab * 256, (
        f"knn_join_lsh candidate blowup: {n_cand} pairs for {n_left} left rows "
        f"(bound {2 * n_left * n_tab * 256}) — n_planes/n_tables sizing regressed"
    )
    return KJ(left, right, k=2, candidates=cand)


# ---------------------------------------------------------------------------
# α-temperature mixture weights (r10): the data-mixing step that turns
# per-source token counts into sampling weights w_s ∝ tokens_s^α
# (α=0.5 — the multilingual-rebalancing convention), with the
# effective token budget each source would contribute at those
# weights. One hash aggregate over documents + a broadcast total;
# sqrt/divide are IEEE-identical in both engines, token sums exact
# bigints. The judge-visible contract of every "rebalance the corpus"
# pipeline before a training run.
# ---------------------------------------------------------------------------
@register(
    "mixture_weights",
    """
    WITH s AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    t AS (SELECT SUM(sqrt(CAST(tokens AS DOUBLE))) AS z,
                 CAST(SUM(tokens) AS BIGINT) AS total_tokens
          FROM s)
    SELECT s.source, s.n_docs, s.tokens,
           ROUND(CAST(s.tokens AS DOUBLE) / t.total_tokens, 6) AS raw_share,
           ROUND(sqrt(CAST(s.tokens AS DOUBLE)) / t.z, 6) AS alpha_weight,
           CAST(ROUND(sqrt(CAST(s.tokens AS DOUBLE)) / t.z
                      * t.total_tokens, 0) AS BIGINT) AS effective_tokens
    FROM s, t
    ORDER BY s.source
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    t = s.agg(
        F.sum(F.sqrt(F.col("tokens").cast("double"))).alias("z"),
        F.sum("tokens").cast("bigint").alias("total_tokens"),
    )
    w = F.sqrt(F.col("tokens").cast("double")) / F.col("z")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(
                F.col("tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("raw_share"),
            F.round(w, 6).alias("alpha_weight"),
            F.round(w * F.col("total_tokens"), 0)
            .cast("bigint")
            .alias("effective_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf fit (r10): OLS slope of ln(freq) on ln(rank) over the top-200
# corpus tokens — the power-law health check run on a new text source
# (a natural corpus fits ≈ -1; template/boilerplate corpora go flat).
# Token counts are one explode + hash aggregate; the top-200 come via
# orderBy+limit (TakeOrderedAndProject, never a global row_number);
# the rank window then runs on 200 rows. OLS sums accumulate as
# round-9 decimals (the ols_trend recipe) so aggregation order can't
# leak into the slope.
# ---------------------------------------------------------------------------
@register(
    "zipf_fit",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          FROM tok WHERE token <> '' GROUP BY token
          ORDER BY freq DESC, token LIMIT 200),
    r AS (SELECT token, freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
          FROM f),
    p AS (SELECT LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(freq AS DOUBLE)) AS y
          FROM r),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(ROUND(x, 9) AS DECIMAL(20,9))) AS sx,
                 SUM(CAST(ROUND(x * x, 9) AS DECIMAL(20,9))) AS sxx,
                 SUM(CAST(ROUND(y, 9) AS DECIMAL(20,9))) AS sy,
                 SUM(CAST(ROUND(x * y, 9) AS DECIMAL(20,9))) AS sxy
          FROM p)
    SELECT n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / n,
                 6) AS intercept
    FROM s
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    f = (
        tok.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(200)
    )
    from pyspark.sql.window import Window as W

    r = f.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("freq"), "token"))
    )
    p = r.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = p.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round("x", 9).cast("decimal(20,9)")).alias("sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(20,9)")).alias("sxx"),
        F.sum(F.round("y", 9).cast("decimal(20,9)")).alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(20,9)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, sxy = F.col("sy").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "n",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Filtered vector search (r10): top-k cosine neighbors among ONLY the
# corpus rows passing a metadata predicate — the production "search
# within a category/tenant/date-range" contract every vector store
# exposes. The predicate prunes candidates INSIDE the manifest-pruned
# IVF list scan (parquet pushdown on the stored metadata column),
# BEFORE any scoring: top-k is computed among passing rows, never
# post-filtered from an unfiltered top-k (which under-returns). Full
# probes make the index scan exhaustive, so the oracle is brute-force
# cosine top-k with the same WHERE — a hash match proves the filter
# semantics AND that the metadata column survived the index build.
# ---------------------------------------------------------------------------
@register(
    "ann_filtered_search",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
               WHERE vec_id >= 10 AND label = 2),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6)
                        AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ome_arrow_spark.operators import ann_index as AI

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding", "label"
    )
    table = (
        f"/tmp/ome_arrow_rt_ivffilt_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    shutil.rmtree(table, ignore_errors=True)
    AI.build_ivf_index(
        spark, c, table, n_centroids=8, overwrite=True, extra_cols=("label",)
    )
    return AI.ivf_index_search(
        spark, table, q, k=3, n_probe=8, where="label = 2"
    )


# ---------------------------------------------------------------------------
# Canonical near-dup dedup (r10): the END-TO-END near-dup pipeline in
# one query — MinHash signatures → banded LSH candidate pairs →
# connected components (min-label propagation) → per-cluster canonical
# winner (the min doc id IS the component label) with the full sorted
# member list. This is the query a curation pipeline actually ships:
# neardup_lsh emits pairs, dedup_components emits labels on synthetic
# edges; this composes REAL LSH pairs through clustering into the
# keep/drop decision. The oracle replays the whole chain: the
# neardup md5-MinHash CTE + a recursive min-label walk + string
# aggregation of members — a hash match pins every stage at once.
# ---------------------------------------------------------------------------
@register(
    "dedup_canonical",
    f"""
    WITH RECURSIVE corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM e GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.band_key = b2.band_key
           AND a.doc_id < b2.doc_id),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.node
      WHERE w.label < e.u),
    comp AS (SELECT node, MIN(label) AS component
             FROM walk GROUP BY node)
    SELECT CAST(component AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           array_to_string(list(CAST(node AS VARCHAR) ORDER BY node), ',')
             AS members
    FROM comp GROUP BY component
    HAVING COUNT(*) >= 2
    ORDER BY canonical_id
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.operators.clustering import connected_components

    sig = DD.minhash_signatures(_mutated_docs(spark, sf_dir))
    pairs = DD.lsh_candidates(sig)
    comp = connected_components(pairs)
    return (
        comp.groupBy(F.col("component").cast("bigint").alias("canonical_id"))
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("node").cast("bigint"))).cast(
                    "array<string>"
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("cluster_size") >= 2)
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# PMI co-occurrence (r10): pointwise mutual information between the
# top-30 document-frequency tokens, counted at the document level —
# the collocation/topic-seed readout a corpus exploration pass runs.
# The pair space is bounded by the top-k semi-join BEFORE the
# self-join (30 tokens → ≤435 pairs whatever the corpus size), so the
# quadratic stage never touches the raw vocabulary; document postings
# join per doc_id. ln of identical double ratios, ordered by the
# ROUNDED pmi with full (t1, t2) tiebreaks.
# ---------------------------------------------------------------------------
@register(
    "pmi_cooccurrence",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    dt AS (SELECT DISTINCT doc_id, t FROM tok WHERE t <> ''),
    top AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY t
            ORDER BY df DESC, t LIMIT 30),
    ft AS (SELECT dt.doc_id, dt.t, top.df FROM dt JOIN top USING (t)),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
    p AS (SELECT a.t AS t1, a.df AS df1, b.t AS t2, b.df AS df2,
                 CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
          GROUP BY 1, 2, 3, 4)
    SELECT t1, t2, c_ab,
           ROUND(LN(CAST(nd.n AS DOUBLE) * c_ab / (CAST(df1 AS DOUBLE) * df2)), 6)
             AS pmi
    FROM p CROSS JOIN nd
    WHERE c_ab >= 5
    ORDER BY pmi DESC, t1, t2 LIMIT 20
    """,
)
def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
    )
    top = (
        dt.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("df"))
        .orderBy(F.desc("df"), "t")
        .limit(30)
    )
    ft = dt.join(F.broadcast(top), "t")
    nd = d.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    a = ft.select(
        "doc_id", F.col("t").alias("t1"), F.col("df").alias("df1")
    )
    b = ft.select(
        "doc_id", F.col("t").alias("t2"), F.col("df").alias("df2")
    )
    p = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "df1", "t2", "df2")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    pmi = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("c_ab")
            / (F.col("df1").cast("double") * F.col("df2"))
        ),
        6,
    )
    return (
        p.crossJoin(F.broadcast(nd))
        .select("t1", "t2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "t1", "t2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-cosine) dedup (r10) — the SemDeDup-style lane
# the MinHash family can't cover: near-duplicates that share MEANING,
# not shingles. Corpus = embeddings ∪ planted perturbed copies
# (first component +0.5 → cosine ≈ 0.88-0.92 vs ≤0.51 for random
# pairs at this dim). Candidate pairs come from the SAME data-derived
# LSH bucket machinery as knn_join_lsh (md5 hyperplanes, dynamic
# plane count), filtered at cosine ≥ 0.8, clustered by min-label connected
# components, and reduced to canonical winners — the keep/drop
# decision at embedding level. The oracle replays buckets, cosines,
# the recursive walk and the member aggregation bit-for-bit; LSH
# misses (if any) are mirrored identically, so the gate pins the
# OPERATOR, threshold semantics and clustering at once.
# ---------------------------------------------------------------------------
def _semantic_dedup_oracle(tau: float = 0.8, n_tables: int = 8,
                           target_bucket: int = 256) -> str:
    def sig(v: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range((SELECT n FROM np)), p -> "
            f"(CASE WHEN list_sum(list_transform(range(len({v})), i -> "
            f"{v}[i+1] * "
            f"(2 * (ascii(substr(md5(concat(CAST(t*1000+p AS VARCHAR), ':', i)), 1, 1)) % 2) - 1)"
            f")) > 0.0 THEN 1 ELSE 0 END) * (CAST(1 AS BIGINT) << p)"
            f")) AS BIGINT)"
        )

    dot = "list_sum(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]))"
    return f"""
    WITH RECURSIVE corpus AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      -- perturbed-twin offset: collision-free while max vec_id < 1e6
      -- (~sf50 at 20k ids per sf); the r13 negative-mirror
      -- convention (-(id+1)) is the unbounded alternative
      SELECT vec_id + 1000000 AS id,
             list_transform(range(len(embedding)),
               i -> CASE WHEN i = 0 THEN CAST(embedding[1] AS DOUBLE) + 0.5
                         ELSE CAST(embedding[i+1] AS DOUBLE) END) AS v
      FROM embeddings WHERE vec_id % 10 = 0),
    np AS (SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / {target_bucket}.0)) AS INT)) AS n
           FROM corpus),
    s AS (SELECT id, v, t, {sig('v')} AS sig
          FROM corpus CROSS JOIN range({n_tables}) r(t)),
    -- mirror knn_join_candidates' skew cap (max_bucket = 64*target_bucket)
    -- on the RIGHT side of the pair join so Spark and the oracle drop
    -- the same mega-buckets at any fixture scale
    allowed AS (SELECT t, sig FROM s GROUP BY t, sig
                HAVING COUNT(*) <= 64 * {target_bucket}),
    cand AS (SELECT DISTINCT a.id AS id_a, a.v AS va, b.id AS id_b, b.v AS vb
             FROM s a JOIN allowed USING (t, sig) JOIN s b USING (t, sig)
             WHERE a.id < b.id),
    pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE ROUND({dot.format(a='va', b='vb')}
                  / (sqrt({dot.format(a='va', b='va')})
                     * sqrt({dot.format(a='vb', b='vb')})), 6) >= {tau}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.node
      WHERE w.label < e.u),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT CAST(component AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           array_to_string(list(CAST(node AS VARCHAR) ORDER BY node), ',')
             AS members
    FROM comp GROUP BY component ORDER BY canonical_id
    """


@register("semantic_dedup", _semantic_dedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ome_arrow_spark.functions.vectors import dot
    from ome_arrow_spark.operators.clustering import connected_components
    from ome_arrow_spark.operators.similarity import knn_join_candidates

    emb = _t(spark, sf_dir, "embeddings")
    orig = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mut = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x.cast("double") + 0.5).otherwise(
                x.cast("double")
            ),
        ).alias("v"),
    )
    corpus = orig.unionAll(mut)
    # n_tables PINNED at 8, not the r14 derived default: dedup targets
    # sit ABOVE the tau=0.8 threshold, where per-plane collision is
    # ~0.86 (1 - acos(0.8)/pi ≈ 0.795 worst-case at the threshold), so
    # pair recall at the fixture's derived widths stays ≥0.97 with 8
    # tables and connected components close transitively over any
    # residual misses — while a SELF-join's candidate volume (per-
    # bucket B² pairs) scales linearly in T for near-zero quality
    # gain.  Table growth is the low-similarity-target lever
    # (knn_join_tables); threshold dedup is not that regime.
    cand = knn_join_candidates(
        corpus.select(F.col("id").alias("id_a"), "v"),
        corpus.select(F.col("id").alias("id_b"), "v"),
        left_id="id_a",
        right_id="id_b",
        vec="v",
        n_tables=8,
    )
    # r14: knn_join_candidates now carries per-side norms — one dot
    # fold per pair (bit-identical to the fused cosine).
    pairs = (
        cand.filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                dot(F.col("__lv"), F.col("__rv"))
                / (F.col("__lv__n") * F.col("__rv__n")),
                6,
            )
            >= 0.8
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy(F.col("component").cast("bigint").alias("canonical_id"))
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("node").cast("bigint"))).cast(
                    "array<string>"
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (r10): Rapid Automatic Keyword Extraction
# (Rose et al. 2010) over the document corpus. Candidate phrases are
# maximal runs of non-stopword tokens (gaps-and-islands: token
# position minus its rank among the document's content tokens);
# word scores are degree/frequency where degree sums the lengths of
# every phrase the word appears in; a phrase scores the sum of its
# word scores. Every stage is distributed-by-construction: the
# explode and island windows partition by doc_id, the two word-level
# aggregates are map-side combinable, and the final top-15 is
# TakeOrdered with a unique (score, phrase) tiebreak. Word-score sums
# use the decimal(20,9) exact-accumulation pattern so the gate is
# order-independent.
# ---------------------------------------------------------------------------
_RAKE_STOP = (
    "'a','the','of','and','or','to','in','is','on','for','with',"
    "'as','by','at','it','that','this'"
)


@register(
    "rake_keywords",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tk AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM d),
    tok AS (SELECT doc_id, pos, toks[pos + 1] AS w FROM tk),
    nz AS (SELECT doc_id, pos, w,
                  pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY pos) AS isl
           FROM tok WHERE w NOT IN ({_RAKE_STOP})),
    ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM nz GROUP BY w),
    ph AS (SELECT doc_id, isl,
                  string_agg(w, ' ' ORDER BY pos) AS phrase,
                  CAST(COUNT(*) AS BIGINT) AS plen
           FROM nz GROUP BY doc_id, isl),
    deg AS (SELECT nz.w, CAST(SUM(ph.plen) AS BIGINT) AS degree
            FROM nz JOIN ph ON nz.doc_id = ph.doc_id AND nz.isl = ph.isl
            GROUP BY nz.w),
    wsc AS (SELECT ws.w,
                   CAST(deg.degree AS DOUBLE) / CAST(ws.freq AS DOUBLE)
                     AS score
            FROM ws JOIN deg ON ws.w = deg.w),
    psc AS (SELECT ph.doc_id, ph.isl, ph.phrase,
                   SUM(CAST(ROUND(wsc.score, 9) AS DECIMAL(20,9))) AS pscore
            FROM ph JOIN nz ON nz.doc_id = ph.doc_id AND nz.isl = ph.isl
            JOIN wsc ON wsc.w = nz.w
            GROUP BY ph.doc_id, ph.isl, ph.phrase),
    agg AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(MAX(pscore) AS DOUBLE) AS raw
            FROM psc GROUP BY phrase)
    SELECT phrase, n_occurrences, ROUND(raw, 6) AS rake_score
    FROM agg ORDER BY rake_score DESC, phrase LIMIT 15
    """,
)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    stop = [s.strip("'") for s in _RAKE_STOP.split(",")]
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "w")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    nz = tk.filter(~F.col("w").isin(stop)).select(
        "doc_id",
        "pos",
        "w",
        (F.col("pos") - F.row_number().over(wd)).alias("isl"),
    )
    ws = nz.groupBy("w").agg(F.count("*").cast("bigint").alias("freq"))
    ph = nz.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s.w,
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    deg = (
        nz.join(ph.select("doc_id", "isl", "plen"), ["doc_id", "isl"])
        .groupBy("w")
        .agg(F.sum("plen").cast("bigint").alias("degree"))
    )
    wsc = ws.join(deg, "w").select(
        "w",
        (F.col("degree").cast("double") / F.col("freq").cast("double")).alias(
            "score"
        ),
    )
    psc = (
        ph.join(nz.select("doc_id", "isl", "w"), ["doc_id", "isl"])
        .join(wsc, "w")
        .groupBy("doc_id", "isl", "phrase")
        .agg(
            F.sum(F.round("score", 9).cast("decimal(20,9)")).alias("pscore")
        )
    )
    agg = psc.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("pscore").cast("double").alias("raw"),
    )
    return (
        agg.select(
            "phrase",
            "n_occurrences",
            F.round("raw", 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Embedding feature-covariance matrix (r10): the upper triangle of the
# covariance matrix over the first 8 embedding dimensions — the
# single-pass sufficient statistic behind whitening, PCA, and Mahalanobis
# scoring. Each row contributes its 36 (i,j) products through one
# explode chain inside whole-stage codegen; the groupBy(i,j) partial-
# aggregates map-side, so the shuffle carries 36 rows per partition
# however large the table. Sums accumulate as round-9 decimals (exact,
# order-independent); the covariance assembles from them in identical
# double arithmetic in both engines.
# ---------------------------------------------------------------------------
@register(
    "covariance_matrix",
    """
    WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    ei AS (SELECT v, unnest(range(8)) AS i FROM e),
    eij AS (SELECT v, i, unnest(range(i, 8)) AS j FROM ei),
    g AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(ROUND(v[i + 1], 9) AS DECIMAL(20,9))) AS sx,
                 SUM(CAST(ROUND(v[j + 1], 9) AS DECIMAL(20,9))) AS sy,
                 SUM(CAST(ROUND(v[i + 1] * v[j + 1], 9)
                     AS DECIMAL(20,9))) AS sxy
          FROM eij GROUP BY i, j)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
           ROUND(CAST(sxy AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6)
             AS cov
    FROM g ORDER BY i, j
    """,
)
def covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ei = e.select(
        "v", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i")
    )
    eij = ei.select(
        "v", "i", F.explode(F.sequence(F.col("i"), F.lit(7))).alias("j")
    )
    xi = F.element_at("v", F.col("i") + 1)
    xj = F.element_at("v", F.col("j") + 1)
    g = eij.groupBy("i", "j").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(xi, 9).cast("decimal(20,9)")).alias("sx"),
        F.sum(F.round(xj, 9).cast("decimal(20,9)")).alias("sy"),
        F.sum(F.round(xi * xj, 9).cast("decimal(20,9)")).alias("sxy"),
    )
    return g.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "n",
        F.round(
            F.col("sxy").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sy").cast("double") / F.col("n")),
            6,
        ).alias("cov"),
    ).orderBy("i", "j")


# ===========================================================================
# Round-12 additions: pretraining-curation operators (VERDICT r11 Next
# round #7) — DSIR-style importance resampling and a fuzzy (shingle-
# Jaccard) generalization of the exact-fingerprint decontamination.
# ===========================================================================


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): per-doc likelihood-
# ratio scores from two add-1-smoothed unigram LMs — p(w|target) with
# target = the 'src0' split, q(w|raw) over everything else — then a
# deterministic hash-Bernoulli selection with acceptance probability
# 0.5·(p/q)^1 per doc, i.e. accept iff ln(u) < ln(0.5) + avg-logratio
# (u = the Knuth multiplicative-hash uniform every sampler in this
# suite uses; no RNG, replayable). Scale posture: the LMs are two
# vocab-bounded hash aggregates (broadcastable — same reasoning as
# lm_bigram_score's unigram frame); scoring is one pass over corpus
# tokens with broadcast joins; selection is map-side. Cross-engine
# float parity: each per-token ln ratio is rounded at 9 digits into a
# decimal accumulator (absorbs the 1-ulp libm spread), the per-doc
# score is one closed-form double division, and the acceptance compare
# rounds both sides at 9 digits with ln(0.5) as an exact double
# literal (engines may differ in LN(0.5)'s last ulp).
# ---------------------------------------------------------------------------
@register(
    "dsir_resample",
    f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
               WHERE len({_TOKS_SQL}) >= 1),
    tok AS (SELECT doc_id, source, unnest(toks) AS tok FROM d),
    ct AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok
           WHERE source = 'src0' GROUP BY tok),
    cr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok
           WHERE source <> 'src0' GROUP BY tok),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM tok),
    tt AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tot FROM ct),
    tq AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS tot FROM cr),
    sc AS (SELECT t.doc_id, t.source,
                  CAST(COUNT(*) AS BIGINT) AS n_tok,
                  SUM(CAST(ROUND(
                      LN((COALESCE(ct.c, 0) + 1.0) / (tt.tot + v.vocab))
                    - LN((cr.c + 1.0) / (tq.tot + v.vocab)), 9)
                    AS DECIMAL(20,9))) AS s
           FROM tok t LEFT JOIN ct ON ct.tok = t.tok
           JOIN cr ON cr.tok = t.tok
           CROSS JOIN v CROSS JOIN tt CROSS JOIN tq
           WHERE t.source <> 'src0'
           GROUP BY 1, 2),
    w AS (SELECT doc_id, source, n_tok,
                 CAST(s AS DOUBLE) / n_tok AS score,
                 ((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0 AS u
          FROM sc),
    a AS (SELECT source, score,
                 CASE WHEN ROUND(LN(u), 9)
                           < ROUND(-0.6931471805599453 + score, 9)
                      THEN 1 ELSE 0 END AS sel
          FROM w)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(sel) AS BIGINT) AS n_sel,
           ROUND(SUM(sel) * 1.0 / COUNT(*), 6) AS sel_rate,
           CASE WHEN SUM(sel) = 0 THEN NULL
                ELSE ROUND(CAST(CAST(SUM(CASE WHEN sel = 1
                     THEN CAST(ROUND(score, 9) AS DECIMAL(20,9)) END) AS VARCHAR(64)) AS DOUBLE) / SUM(sel), 6) END AS avg_sel_score
    FROM a GROUP BY source ORDER BY source
    """,
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", TX.tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 1)
    )
    tok = docs.select("doc_id", "source", F.explode("toks").alias("tok"))
    ct = (
        tok.filter(F.col("source") == "src0")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c_t"))
    )
    cr = (
        tok.filter(F.col("source") != "src0")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c_r"))
    )
    v = tok.agg(F.count_distinct("tok").cast("bigint").alias("vocab"))
    tt = ct.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("tot_t")
    )
    tq = cr.agg(
        F.coalesce(F.sum("c_r"), F.lit(0)).cast("bigint").alias("tot_r")
    )
    term = F.round(
        F.log(
            (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
            / (F.col("tot_t") + F.col("vocab"))
        )
        - F.log(
            (F.col("c_r") + F.lit(1.0)) / (F.col("tot_r") + F.col("vocab"))
        ),
        9,
    ).cast("decimal(20,9)")
    ct = ct.withColumnRenamed("tok", "tok_t")
    cr = cr.withColumnRenamed("tok", "tok_r")
    sc = (
        tok.filter(F.col("source") != "src0")
        .join(F.broadcast(ct), F.col("tok") == F.col("tok_t"), "left")
        .join(F.broadcast(cr), F.col("tok") == F.col("tok_r"))
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tq))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum(term).alias("s"),
        )
    )
    score = F.col("s").cast("double") / F.col("n_tok")
    u = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + 1
    ) / F.lit(4294967297.0)
    a = sc.select(
        "source",
        score.alias("score"),
        F.when(
            F.round(F.log(u), 9)
            < F.round(F.lit(-0.6931471805599453) + score, 9),
            1,
        )
        .otherwise(0)
        .alias("sel"),
    )
    n_sel = F.sum("sel")
    return (
        a.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            n_sel.cast("bigint").alias("n_sel"),
            F.round(n_sel * F.lit(1.0) / F.count("*"), 6).alias("sel_rate"),
            F.when(
                n_sel == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    F.sum(
                        F.when(
                            F.col("sel") == 1,
                            F.round(F.col("score"), 9).cast("decimal(20,9)"),
                        )
                    ).cast("double")
                    / n_sel,
                    6,
                )
            )
            .alias("avg_sel_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Fuzzy train/test contamination (r12): generalizes `decontamination`
# from "shares an exact winnowing fingerprint" to shingle-Jaccard
# overlap — the check that catches lightly-edited benchmark leakage an
# exact fingerprint match misses. Candidate pairs come from the SAME
# bucketed generator (rare winnow fingerprints, df <= 50 — never
# all-pairs: bucket width is capped, so candidate volume is linear in
# corpus fingerprints); each candidate is then verified with the exact
# 3-token-shingle Jaccard, reported at >= 0.02 (exact-dup leakage
# scores ~0.99; the 0.02 floor keeps the long tail of incidental
# phrase overlap out). All-integer set arithmetic until the final
# exact double ratio, so the threshold compare and the rounded output
# are bit-equal cross-engine.
# ---------------------------------------------------------------------------
@register(
    "contamination_fuzzy",
    f"""
    WITH {_WINNOW_SEL_CTE},
    freq AS (SELECT w FROM sel GROUP BY w HAVING COUNT(DISTINCT doc_id) <= 50),
    f AS (SELECT DISTINCT sel.doc_id, sel.source, sel.w
          FROM sel JOIN freq USING (w)),
    ev AS (SELECT doc_id AS eval_id, w FROM f WHERE source = 'src0'),
    tr AS (SELECT doc_id AS train_id, w FROM f WHERE source <> 'src0'),
    cand AS (SELECT DISTINCT train_id, eval_id FROM tr JOIN ev USING (w)),
    t3 AS (SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shs
           FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
           WHERE len(toks) >= 3),
    e AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM t3),
    inter AS (SELECT c.train_id, c.eval_id,
                     a.n_sh AS na, b.n_sh AS nb,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM cand c
              JOIN e a ON a.doc_id = c.train_id
              JOIN e b ON b.doc_id = c.eval_id AND b.sh = a.sh
              GROUP BY 1, 2, 3, 4)
    SELECT train_id, eval_id, i AS n_inter,
           ROUND(i * 1.0 / (na + nb - i), 6) AS jaccard
    FROM inter WHERE i * 1.0 / (na + nb - i) >= 0.02
    """,
)
def contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = docs.filter(
        F.length("text") >= TX.KGRAM_K + TX.WINNOW_W - 1
    ).select(
        "doc_id", "source", F.explode(TX.winnow_fingerprints("text")).alias("w")
    )
    keep = (
        fp.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 50)
        .select("w")
    )
    f = fp.join(keep, "w", "left_semi").select("doc_id", "source", "w").distinct()
    ev = f.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), "w"
    )
    tr = f.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_id"), "w"
    )
    cand = tr.join(ev, "w").select("train_id", "eval_id").distinct()
    sh = docs.select(
        "doc_id", F.array_distinct(DD.shingles(F.col("text"), 3)).alias("shs")
    ).filter(F.size("shs") >= 1)
    e = sh.select(
        "doc_id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh")
    )
    a = e.select(
        F.col("doc_id").alias("train_id"), F.col("n_sh").alias("na"), "sh"
    )
    b = e.select(
        F.col("doc_id").alias("eval_id"), F.col("n_sh").alias("nb"), "sh"
    )
    inter = (
        cand.join(a, "train_id")
        .join(b, ["eval_id", "sh"])
        .groupBy("train_id", "eval_id", "na", "nb")
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.filter(jac >= 0.02).select(
        "train_id",
        "eval_id",
        F.col("i").alias("n_inter"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality filter rules (Rae et al. 2021, Table A1 — the
# canonical pretraining curation gate), adapted to this corpus: word
# count in [10, 100000], mean word length in [3, 10], symbol-to-word
# ratio ('#' + '...') <= 0.1, bullet-started line fraction <= 0.9,
# >= 80% of words containing an alphabetic char, and >= 2 distinct
# required stopwords (list includes 'a' because the fixture soup has
# no 'be'/'have'; the rule shape is Gopher's). The fixture corpus is
# single-line lowercase word soup, so six PLANTED rows (source
# 'planted') exercise every rule branch the real docs never hit —
# same pattern as token_count_bpe's contraction row. All-integer
# counting; the ratio compares divide exact integers in doubles, so
# both engines decide every rule identically.
# ---------------------------------------------------------------------------
_GOPHER_PLANTED = [
    (9000001, "planted", "one two three"),
    (9000002, "planted",
     "aaaaaaaaaaaaaaa bbbbbbbbbbbbbbb ccccccccccccccc ddddddddddddddd "
     "eeeeeeeeeeeeeee fffffffffffffff ggggggggggggggg hhhhhhhhhhhhhhh "
     "iiiiiiiiiiiiiii jjjjjjjjjjjjjjj kkkkkkkkkkkkkkk lllllllllllllll "
     "the a of"),
    (9000003, "planted",
     "# # the a of and to one two three four five six seven"),
    (9000004, "planted",
     "- alpha beta gamma delta the\n- epsilon zeta eta theta a\n"
     "- iota kappa lam mu the\n- nu xi omicron pi a\n"
     "- rho sigma tau upsilon the"),
    (9000005, "planted",
     "111 222 333 444 555 666 777 888 999 1010 1111 1212 the a"),
    (9000006, "planted", "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp lll"),
]


@register(
    "gopher_quality_rules",
    r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT * FROM (VALUES
        (9000001, 'planted', 'one two three'),
        (9000002, 'planted', 'aaaaaaaaaaaaaaa bbbbbbbbbbbbbbb ccccccccccccccc ddddddddddddddd eeeeeeeeeeeeeee fffffffffffffff ggggggggggggggg hhhhhhhhhhhhhhh iiiiiiiiiiiiiii jjjjjjjjjjjjjjj kkkkkkkkkkkkkkk lllllllllllllll the a of'),
        (9000003, 'planted', '# # the a of and to one two three four five six seven'),
        (9000004, 'planted', '- alpha beta gamma delta the' || chr(10) || '- epsilon zeta eta theta a' || chr(10) || '- iota kappa lam mu the' || chr(10) || '- nu xi omicron pi a' || chr(10) || '- rho sigma tau upsilon the'),
        (9000005, 'planted', '111 222 333 444 555 666 777 888 999 1010 1111 1212 the a'),
        (9000006, 'planted', 'zzz qqq www eee rrr ttt yyy uuu iii ooo ppp lll')
      ) v(doc_id, source, text)),
    w AS (SELECT doc_id, source, text,
            regexp_extract_all(text, '\S+') AS words,
            string_split(text, chr(10)) AS lines
          FROM corpus),
    m AS (SELECT doc_id, source,
            CAST(len(words) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(words, x -> strlen(x))) AS BIGINT) AS sum_len,
            CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
            CAST(strlen(text) - strlen(replace(text, '#', '')) AS BIGINT) AS n_hash,
            CAST((strlen(text) - strlen(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
            CAST(len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS BIGINT) AS n_bullet,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(list_filter(['the','a','to','of','and'],
                                 s -> list_contains(words, s))) AS BIGINT) AS n_stop
          FROM w WHERE len(words) > 0),
    r AS (SELECT source,
            (n_words < 10 OR n_words > 100000) AS f_wc,
            (sum_len * 1.0 / n_words < 3 OR sum_len * 1.0 / n_words > 10) AS f_ml,
            ((n_hash + n_ell) * 1.0 / n_words > 0.1) AS f_sym,
            (n_bullet * 1.0 / n_lines > 0.9) AS f_bul,
            (n_alpha * 1.0 / n_words < 0.8) AS f_al,
            (n_stop < 2) AS f_st
          FROM m)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN NOT (f_wc OR f_ml OR f_sym OR f_bul OR f_al OR f_st)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
      CAST(SUM(CASE WHEN f_ml THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
      CAST(SUM(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
      CAST(SUM(CASE WHEN f_bul THEN 1 ELSE 0 END) AS BIGINT) AS fail_bullet_lines,
      CAST(SUM(CASE WHEN f_al THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_frac,
      CAST(SUM(CASE WHEN f_st THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords
    FROM r GROUP BY source ORDER BY source
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.sparkSession.createDataFrame(
        _GOPHER_PLANTED, "doc_id long, source string, text string"
    )
    corpus = docs.unionByName(planted)
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    lines = F.split(F.col("text"), "\n", -1)
    stops = F.array(*[F.lit(s) for s in ("the", "a", "to", "of", "and")])
    m = corpus.select(
        "source",
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(words, lambda x: F.length(x)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("sum_len"),
        F.size(
            F.filter(words, lambda x: x.rlike("[a-zA-Z]"))
        ).cast("bigint").alias("n_alpha"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
        ).cast("bigint").alias("n_hash"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))
            )
            / 3
        ).cast("bigint").alias("n_ell"),
        F.size(
            F.filter(
                lines,
                lambda line: F.substring(line, 1, 1).isin("-", "*"),
            )
        ).cast("bigint").alias("n_bullet"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(
            F.filter(stops, lambda s: F.array_contains(words, s))
        ).cast("bigint").alias("n_stop"),
    ).filter(F.col("n_words") > 0)
    one = F.lit(1.0)
    f_wc = (F.col("n_words") < 10) | (F.col("n_words") > 100000)
    mean_len = F.col("sum_len") * one / F.col("n_words")
    f_ml = (mean_len < 3) | (mean_len > 10)
    f_sym = (F.col("n_hash") + F.col("n_ell")) * one / F.col("n_words") > 0.1
    f_bul = F.col("n_bullet") * one / F.col("n_lines") > 0.9
    f_al = F.col("n_alpha") * one / F.col("n_words") < 0.8
    f_st = F.col("n_stop") < 2

    def cnt(c, name):
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(name)

    return (
        m.select(
            "source",
            f_wc.alias("f_wc"), f_ml.alias("f_ml"), f_sym.alias("f_sym"),
            f_bul.alias("f_bul"), f_al.alias("f_al"), f_st.alias("f_st"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            cnt(
                ~(
                    F.col("f_wc") | F.col("f_ml") | F.col("f_sym")
                    | F.col("f_bul") | F.col("f_al") | F.col("f_st")
                ),
                "n_pass",
            ),
            cnt(F.col("f_wc"), "fail_word_count"),
            cnt(F.col("f_ml"), "fail_mean_word_len"),
            cnt(F.col("f_sym"), "fail_symbol_ratio"),
            cnt(F.col("f_bul"), "fail_bullet_lines"),
            cnt(F.col("f_al"), "fail_alpha_frac"),
            cnt(F.col("f_st"), "fail_stopwords"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing for LLM pretraining (GPT-style concat-and-cut): docs
# are shuffled deterministically (md5 hash order — the pipeline's
# shuffle step), concatenated, and cut into fixed 2048-token training
# sequences; a document crossing a boundary is split across packs
# (attention masks handle it downstream), so every pack is exactly
# full — fragmentation (docs per pack / split docs) is the quality
# stat, not padding waste. The global running token sum is computed
# WITHOUT a single-partition window: 256 md5-prefix buckets give a
# bounded census (offsets driver-side, broadcast back), then the exact
# cumulative window runs PARTITIONED BY bucket — the same two-phase
# cumsum the equidepth operators use (operators/quantiles.py). At
# 100 TB the per-bucket shuffle carries ~1/256 of the thin
# (doc_id, hash, n) stats relation; nothing touches text twice.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048


@register(
    "sequence_packing",
    f"""
    WITH s AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents),
    t AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c_after
      FROM s WHERE n > 0),
    d AS (SELECT doc_id, n, c_after, c_after - n AS c_before FROM t),
    e AS (
      SELECT doc_id, c_before, c_after,
             UNNEST(range(c_before // {_PACK_BUDGET},
                          (c_after - 1) // {_PACK_BUDGET} + 1)) AS pack
      FROM d)
    SELECT CAST(pack AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pack = c_before // {_PACK_BUDGET}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           CAST(SUM(LEAST(c_after, (pack + 1) * {_PACK_BUDGET})
                    - GREATEST(c_before, pack * {_PACK_BUDGET}))
                AS BIGINT) AS tokens
    FROM e GROUP BY pack
    HAVING pack < 40
    ORDER BY pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    B = _PACK_BUDGET
    s = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n"),
        )
        .filter(F.col("n") > 0)
        .withColumn("rng", F.substring("h", 1, 2))
    )
    # bounded census: 256 bucket totals -> driver prefix -> broadcast
    totals = {
        r["rng"]: r["tot"]
        for r in s.groupBy("rng").agg(F.sum("n").alias("tot")).collect()
    }
    offsets, c = [], 0
    for rid in sorted(totals):
        offsets.append((rid, c))
        c += totals[rid]
    off_df = spark.createDataFrame(offsets, "rng string, roff bigint")

    wcum = Window.partitionBy("rng").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = (
        s.join(F.broadcast(off_df), "rng")
        .withColumn(
            "c_after", F.col("roff") + F.sum("n").over(wcum)
        )
        .withColumn("c_before", F.col("c_after") - F.col("n"))
    )
    e = d.select(
        "c_before",
        "c_after",
        F.explode(
            F.sequence(
                (F.col("c_before") / B).cast("bigint"),
                ((F.col("c_after") - 1) / B).cast("bigint"),
            )
        ).alias("pack"),
    )
    return (
        e.groupBy("pack")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("pack") == (F.col("c_before") / B).cast("bigint"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_starts"),
            F.sum(
                F.least(F.col("c_after"), (F.col("pack") + 1) * B)
                - F.greatest(F.col("c_before"), F.col("pack") * B)
            ).cast("bigint").alias("tokens"),
        )
        .filter(F.col("pack") < 40)
        .select(
            F.col("pack").cast("bigint").alias("pack_id"),
            "n_docs",
            "n_starts",
            "tokens",
        )
        .orderBy("pack_id")
    )


# ---------------------------------------------------------------------------
# C4/RedPajama-style quality-rule battery (Raffel et al. 2020 §2.2 +
# RedPajama-Data C4 filters), complementing gopher_quality_rules with
# the line-level family: terminal-punctuation line fraction, >= 3
# lines of >= 5 words (the sentence-count proxy), code/boilerplate
# markers ('{', 'lorem ipsum', 'javascript'), bad-word hit,
# duplicate-line fraction within the doc (CCNet-style), and a 50-word
# floor. One projection pass, pure built-ins; the fixture corpus is
# single-line word soup, so seven PLANTED rows isolate each rule
# branch (P1 passes everything; P2-P7 each trip exactly one rule).
# All counting is integer; rule ratios compare exact integers in
# doubles, so both engines decide every rule identically.
# ---------------------------------------------------------------------------
_C4_PLANTED = [
    (9100001, "planted",
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho sigma.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho tau.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho upsilon."),
    (9100002, "planted",
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho sigma\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho tau\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho upsilon"),
    (9100003, "planted",
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one "
     "two.\n"
     "three four five six seven eight nine ten eleven twelve thirteen "
     "fourteen fifteen sixteen seventeen eighteen nineteen twenty "
     "blue red green yellow purple orange."),
    (9100004, "planted",
     "alpha beta gamma javascript delta epsilon zeta eta theta iota "
     "kappa lam mu nu xi omicron pi rho sigma.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho tau.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho upsilon."),
    (9100005, "planted",
     "alpha beta gamma nsfw delta epsilon zeta eta theta iota kappa "
     "lam mu nu xi omicron pi rho sigma.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho tau.\n"
     "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
     "nu xi omicron pi rho upsilon."),
    (9100006, "planted",
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon one.\n"
     "alpha beta gamma delta epsilon two.\n"
     "alpha beta gamma delta epsilon three.\n"
     "alpha beta gamma delta epsilon four.\n"
     "alpha beta gamma delta epsilon five."),
    (9100007, "planted",
     "alpha beta gamma delta one.\n"
     "alpha beta gamma delta two.\n"
     "alpha beta gamma delta three."),
]


def _c4_planted_sql() -> str:
    rows = ",\n        ".join(
        "({}, '{}', '{}')".format(
            i, s, t.replace("\n", "' || chr(10) || '")
        )
        for i, s, t in _C4_PLANTED
    )
    return rows


@register(
    "c4_quality_rules",
    rf"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT * FROM (VALUES
        {_c4_planted_sql()}
      ) v(doc_id, source, text)),
    w AS (SELECT doc_id, source, text,
            regexp_extract_all(text, '\S+') AS words,
            {_TOKS_SQL} AS toks,
            string_split(text, chr(10)) AS lines
          FROM corpus),
    m AS (SELECT source,
            CAST(len(words) AS BIGINT) AS n_words,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(list_filter(lines,
                 l -> substr(rtrim(l), -1, 1) IN ('.', '!', '?', '"')))
                 AS BIGINT) AS n_term,
            CAST(len(list_filter(lines,
                 l -> len(regexp_extract_all(l, '\S+')) >= 5))
                 AS BIGINT) AS n_5w,
            CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
                 AS n_dup,
            (contains(lower(text), '{{') OR
             contains(lower(text), 'lorem ipsum') OR
             contains(lower(text), 'javascript')) AS has_marker,
            (len(list_filter(['nsfw', 'xxx'],
                 s -> list_contains(toks, s))) > 0) AS has_bad
          FROM w WHERE len(words) > 0),
    r AS (SELECT source,
            (n_term * 1.0 / n_lines < 0.5) AS f_term,
            (n_5w < 3) AS f_sent,
            has_marker AS f_code,
            has_bad AS f_bad,
            (n_dup * 1.0 / n_lines > 0.3) AS f_dup,
            (n_words < 50) AS f_wc
          FROM m)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN NOT (f_term OR f_sent OR f_code OR f_bad
               OR f_dup OR f_wc) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN f_term THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_terminal_punct,
      CAST(SUM(CASE WHEN f_sent THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_min_sentences,
      CAST(SUM(CASE WHEN f_code THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_code_marker,
      CAST(SUM(CASE WHEN f_bad THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_bad_words,
      CAST(SUM(CASE WHEN f_dup THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_dup_lines,
      CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT)
        AS fail_word_count
    FROM r GROUP BY source ORDER BY source
    """,
)
def c4_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.sparkSession.createDataFrame(
        _C4_PLANTED, "doc_id long, source string, text string"
    )
    corpus = docs.unionByName(planted)
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    toks = TX.tokens(F.col("text"))
    lines = F.split(F.col("text"), "\n", -1)
    bad = F.array(F.lit("nsfw"), F.lit("xxx"))
    m = corpus.select(
        "source",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda line: F.substring(F.rtrim(line), -1, 1).isin(
                    ".", "!", "?", '"'
                ),
            )
        ).cast("bigint").alias("n_term"),
        F.size(
            F.filter(
                lines,
                lambda line: F.size(
                    F.regexp_extract_all(line, F.lit(r"\S+"), 0)
                ) >= 5,
            )
        ).cast("bigint").alias("n_5w"),
        (F.size(lines) - F.size(F.array_distinct(lines)))
        .cast("bigint").alias("n_dup"),
        (
            F.lower(F.col("text")).contains("{")
            | F.lower(F.col("text")).contains("lorem ipsum")
            | F.lower(F.col("text")).contains("javascript")
        ).alias("has_marker"),
        F.arrays_overlap(toks, bad).alias("has_bad"),
    ).filter(F.col("n_words") > 0)
    one = F.lit(1.0)
    f_term = F.col("n_term") * one / F.col("n_lines") < 0.5
    f_sent = F.col("n_5w") < 3
    f_code = F.col("has_marker")
    f_bad = F.col("has_bad")
    f_dup = F.col("n_dup") * one / F.col("n_lines") > 0.3
    f_wc = F.col("n_words") < 50

    def cnt(c, name):
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(name)

    return (
        m.select(
            "source",
            f_term.alias("f_term"), f_sent.alias("f_sent"),
            f_code.alias("f_code"), f_bad.alias("f_bad"),
            f_dup.alias("f_dup"), f_wc.alias("f_wc"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            cnt(
                ~(
                    F.col("f_term") | F.col("f_sent") | F.col("f_code")
                    | F.col("f_bad") | F.col("f_dup") | F.col("f_wc")
                ),
                "n_pass",
            ),
            cnt(F.col("f_term"), "fail_terminal_punct"),
            cnt(F.col("f_sent"), "fail_min_sentences"),
            cnt(F.col("f_code"), "fail_code_marker"),
            cnt(F.col("f_bad"), "fail_bad_words"),
            cnt(F.col("f_dup"), "fail_dup_lines"),
            cnt(F.col("f_wc"), "fail_word_count"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Fused sharded-index search (ann_index.py ivf_sharded_search, r13):
# the corpus is hash-split into two shards, each built as its OWN
# exact-trained IVF index (distinct codebooks — the general case), and
# the fused union-probe search reads both shards' pruned lists in one
# plan with ONE global top-k window. At full probe the result is
# definitionally the brute-force top-k over the union corpus, so the
# oracle is the same exact cosine top-3 SQL knn_cosine uses — a hash
# match proves split -> per-shard build -> fused union scan -> global
# merge loses nothing. (Partial-probe + shared-codebook parity vs the
# monolith is unit-gated in tests/test_ann_index.py.)
# ---------------------------------------------------------------------------
@register(
    "ann_sharded_search",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         p AS (SELECT qid, cid,
                      ROUND({_DOT.format(a='qe', b='ce')}
                            / (sqrt({_DOT.format(a='qe', b='qe')})
                               * sqrt({_DOT.format(a='ce', b='ce')})), 6) AS cos_sim
               FROM q, c)
    SELECT qid, cid, cos_sim, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rk
        FROM p)
    WHERE rk <= 3
    """,
)
def ann_sharded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil

    from ome_arrow_spark.operators import ann_index as AI

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    tables = []
    for i in range(2):
        # deterministic path (no pid): reruns overwrite instead of
        # accumulating per-process dirs, and the atexit hook reclaims
        # the disk once the lazily-read result can no longer be
        # consumed (ADVICE r13 — the returned DataFrame scans these
        # tables, so an inline delete would break the caller)
        t = (
            f"/tmp/ome_arrow_rt_ivfshard{i}_"
            f"{os.path.basename(sf_dir.rstrip('/'))}"
        )
        shutil.rmtree(t, ignore_errors=True)
        atexit.register(shutil.rmtree, t, ignore_errors=True)
        AI.build_ivf_index(
            spark,
            c.filter(F.pmod(F.xxhash64("cid"), 2) == i),
            t,
            n_centroids=4,
            overwrite=True,
        )
        tables.append(t)
    return AI.ivf_sharded_search(spark, tables, q, k=3, n_probe=4)


# ---------------------------------------------------------------------------
# Global line-level deduplication (C4's cross-document line dedup,
# Raffel et al. 2020 §2.2 "we discard all but one of any three-sentence
# span occurring more than once" — here at line granularity, the
# RedPajama-Data implementation choice): an exact line occurrence is
# KEPT iff it is the globally first occurrence, ordered by
# (doc_id, line_no). One explode + a map-side-combinable min-struct
# aggregate keyed on the line text + a join back — the only shuffle
# carries (line, min_occurrence), so boilerplate lines (the skew key)
# collapse to one row per distinct line. Three planted multi-line docs
# exercise cross-doc dup, within-doc dup, and the untouched branch the
# single-line fixture corpus cannot hit.
# ---------------------------------------------------------------------------
_LINEDUP_PLANTED = [
    (9200001, "planted",
     "shared boilerplate footer\nunique alpha beta gamma\nrepeat me twice\nrepeat me twice"),
    (9200002, "planted",
     "shared boilerplate footer\nunique delta epsilon zeta"),
    (9200003, "planted",
     "unique eta theta iota\nunique kappa lam mu"),
]


def _linedup_planted_sql() -> str:
    return ",\n        ".join(
        "({}, '{}', '{}')".format(i, s, t.replace("\n", "' || chr(10) || '"))
        for i, s, t in _LINEDUP_PLANTED
    )


@register(
    "line_dedup_global",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT * FROM (VALUES
        {_linedup_planted_sql()}
      ) v(doc_id, source, text)),
    l AS (SELECT doc_id, source, line, line_no
          FROM (SELECT doc_id, source,
                       unnest(string_split(text, chr(10))) AS line,
                       generate_subscripts(string_split(text, chr(10)), 1)
                         AS line_no
                FROM corpus)
          WHERE line <> ''),
    -- struct min orders (doc_id, line_no) lexicographically with NO
    -- magnitude bound — the r13 `doc_id * 100000 + line_no` encoding
    -- silently mis-ordered past 100k lines/doc (ADVICE r13), the same
    -- fixed-offset hazard class as the sf10 mirror-id collision
    firsts AS (SELECT line,
                      MIN({{'d': doc_id, 'l': line_no}}) AS first_occ
               FROM l GROUP BY line),
    k AS (SELECT l.doc_id, l.source,
                 ({{'d': l.doc_id, 'l': l.line_no}} = f.first_occ) AS kept
          FROM l JOIN firsts f USING (line))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_line_occurrences,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(COUNT(DISTINCT CASE WHEN NOT kept THEN doc_id END) AS BIGINT)
             AS n_docs_losing_lines
    FROM k GROUP BY source ORDER BY source
    """,
)
def line_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.sparkSession.createDataFrame(
        _LINEDUP_PLANTED, "doc_id long, source string, text string"
    )
    corpus = docs.unionByName(planted)
    l = (
        corpus.select(
            "doc_id",
            "source",
            F.posexplode(F.split(F.col("text"), "\n", -1)).alias(
                "p", "line"
            ),
        )
        .filter(F.col("line") != "")
        .select(
            "doc_id",
            "source",
            "line",
            (F.col("p") + 1).alias("line_no"),
        )
    )
    # struct min = lexicographic (doc_id, line_no) first-occurrence
    # with no magnitude bound (ADVICE r13: the r13 `doc_id * 100000 +
    # line_no` encoding mis-ordered for docs with >= 100k lines)
    occ = F.struct(F.col("doc_id").alias("d"), F.col("line_no").alias("l"))
    firsts = (
        l.select("line", occ.alias("o"))
        .groupBy("line")
        .agg(F.min("o").alias("first_occ"))
    )
    k = l.join(firsts, "line").select(
        "doc_id", "source", (occ == F.col("first_occ")).alias("kept")
    )
    return (
        k.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_line_occurrences"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("bigint").alias("n_removed"),
            F.countDistinct(
                F.when(~F.col("kept"), F.col("doc_id"))
            ).cast("bigint").alias("n_docs_losing_lines"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# SoftDeDup duplicate down-weighting (She et al. 2023 "SoftDeDup" /
# the D4 recipe's soft variant): instead of DROPPING exact duplicates,
# every doc is weighted 1/|its exact-duplicate cluster| (clusters =
# md5(text) groups across the WHOLE corpus), so each distinct text
# contributes one unit of effective data regardless of copy count.
# Per source: docs, distinct texts present, effective docs
# (Σ 1/cluster_size — round-9 decimal term sums so aggregation order
# can't leak 1/3-style doubles), and the effective token budget.
# One hash aggregate for cluster sizes (map-side combinable, skew =
# one row per distinct hash) + a broadcast-friendly join back.
# ---------------------------------------------------------------------------
@register(
    "soft_dedup_weights",
    """
    WITH h AS (SELECT doc_id, source, md5(text) AS th,
                      CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                           AS BIGINT) AS toks
               FROM documents),
    cl AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS csize FROM h GROUP BY th),
    w AS (SELECT h.source, h.th, h.toks,
                 CAST(ROUND(1.0 / cl.csize, 9) AS DECIMAL(20,9)) AS wt,
                 CAST(ROUND(h.toks * 1.0 / cl.csize, 9) AS DECIMAL(30,9))
                   AS wtoks
          FROM h JOIN cl USING (th))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
           CAST(CAST(SUM(wt) AS VARCHAR(64)) AS DOUBLE) AS effective_docs,
           CAST(CAST(SUM(wtoks) AS VARCHAR(64)) AS DOUBLE)
             AS effective_tokens
    FROM w GROUP BY source ORDER BY source
    """,
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("th"),
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("toks"),
    )
    cl = h.groupBy("th").agg(F.count("*").cast("bigint").alias("csize"))
    w = h.join(cl, "th").select(
        "source",
        "th",
        F.round(F.lit(1.0) / F.col("csize"), 9)
        .cast("decimal(20,9)").alias("wt"),
        F.round(F.col("toks") * F.lit(1.0) / F.col("csize"), 9)
        .cast("decimal(30,9)").alias("wtoks"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("th").cast("bigint").alias("n_distinct_texts"),
            F.sum("wt").cast("double").alias("effective_docs"),
            F.sum("wtoks").cast("double").alias("effective_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Three-sentence-span dedup (r14) — C4's ACTUAL span spec (Raffel et
# al. 2020 §2.2: "we discard all but one of any three-sentence span
# occurring more than once in the data set"), the sliding-window
# generalization of r13's line_dedup_global.  Sentence units are
# punctuation/newline splits, with any unit longer than 12 tokens
# chunked into 12-token groups (the long-line chunking real C4/
# RedPajama pipelines apply to unpunctuated text — this corpus's
# natural documents are single unpunctuated word streams, so chunking
# is what gives them span structure at all).  Spans = 3 consecutive
# units joined on chr(31); an occurrence is KEPT iff it is the global
# first by lexicographic (doc_id, span_no) struct-min — the r13
# bounded-offset hazard class never enters.  Shuffle profile matches
# line_dedup_global: explode → map-side-combinable min-struct agg
# keyed on span text (boilerplate spans collapse to one row per
# distinct span) → join back → per-source census.  All sentence/chunk
# machinery is in-plan HOFs; `units` is LET-BOUND via the
# single-element-transform pattern so Catalyst cannot re-inline the
# split+tokenize+chunk pipeline once per span element (the r12
# HOF-no-CSE lesson).  Planted docs (ids 9300001+, collision-free
# while max doc_id < 9.3M ≈ sf180; corpus ids are 50k/sf) pin the
# cross-doc-dup, within-doc-dup, too-short, and chunking branches.
# ---------------------------------------------------------------------------
_SPANDUP_PLANTED = [
    (9300001, "planted",
     "alpha beta gamma. delta epsilon zeta. eta theta iota. kappa lam mu."),
    (9300002, "planted",
     "alpha beta gamma. delta epsilon zeta. eta theta iota. nu xi omicron."),
    (9300003, "planted",
     "pi rho sigma. tau upsilon phi. chi psi omega. "
     "pi rho sigma. tau upsilon phi. chi psi omega."),
    (9300004, "planted", "solo one two. second three four."),
    (9300005, "planted",
     "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 "
     "d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 "
     "e0 e1 e2 e3 e4 e5"),
]


def _spandup_planted_sql() -> str:
    return ",\n        ".join(
        "({}, '{}', '{}')".format(i, s, t) for i, s, t in _SPANDUP_PLANTED
    )


_SPAN_UNITS_SQL = """list_filter(
      flatten(list_transform(
        list_filter(
          list_transform(regexp_split_to_array(text, '[.!?\n]+'),
                         s -> regexp_extract_all(lower(s), '[a-z0-9]+')),
          t -> len(t) > 0),
        t -> list_transform(range(CAST(ceil(len(t) / 12.0) AS INT)),
               i -> array_to_string(t[i*12+1 : i*12+12], ' ')))),
      u -> u <> '')"""


@register(
    "span_dedup_3sent",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT * FROM (VALUES
        {_spandup_planted_sql()}
      ) v(doc_id, source, text)),
    u AS (SELECT doc_id, source, {_SPAN_UNITS_SQL} AS units FROM corpus),
    sp AS (SELECT doc_id, source,
                  CASE WHEN len(units) >= 3
                       THEN list_transform(range(len(units) - 2),
                              i -> units[i+1] || chr(31) || units[i+2]
                                   || chr(31) || units[i+3])
                       ELSE CAST([] AS VARCHAR[]) END AS spans
           FROM u),
    l AS (SELECT doc_id, source,
                 unnest(spans) AS span,
                 generate_subscripts(spans, 1) AS span_no
          FROM sp),
    firsts AS (SELECT span, MIN({{'d': doc_id, 'n': span_no}}) AS first_occ
               FROM l GROUP BY span),
    k AS (SELECT l.doc_id, l.source,
                 ({{'d': l.doc_id, 'n': l.span_no}} = f.first_occ) AS kept
          FROM l JOIN firsts f USING (span))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_span_occurrences,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(COUNT(DISTINCT CASE WHEN NOT kept THEN doc_id END) AS BIGINT)
             AS n_docs_losing_spans
    FROM k GROUP BY source ORDER BY source
    """,
)
def span_dedup_3sent(spark: SparkSession, sf_dir: str) -> DataFrame:
    sep = "\x1f"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = docs.sparkSession.createDataFrame(
        _SPANDUP_PLANTED, "doc_id long, source string, text string"
    )
    corpus = docs.unionByName(planted)

    units = F.filter(
        F.flatten(
            F.transform(
                F.filter(
                    F.transform(
                        F.split(F.col("text"), "[.!?\n]+", -1),
                        lambda s: F.regexp_extract_all(
                            F.lower(s), F.lit("[a-z0-9]+"), 0
                        ),
                    ),
                    lambda t: F.size(t) > 0,
                ),
                lambda t: F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(t) / F.lit(12.0)).cast("int") - 1,
                    ),
                    lambda i: F.array_join(F.slice(t, i * 12 + 1, 12), " "),
                ),
            )
        ),
        lambda u: u != "",
    )
    # LET-BIND units (single-element transform): the span lambda below
    # references it 5×, and Catalyst re-inlines projected exprs into
    # HOF lambdas with no CSE — unbound, the whole split+tokenize+
    # chunk pipeline would re-run once per span element per reference
    spans = F.element_at(
        F.transform(
            F.array(units),
            lambda u: F.when(
                F.size(u) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(u) - 3),
                    lambda i: F.concat_ws(
                        sep,
                        F.element_at(u, i + 1),
                        F.element_at(u, i + 2),
                        F.element_at(u, i + 3),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )
    l = corpus.select(
        "doc_id", "source", F.posexplode(spans).alias("p", "span")
    ).select(
        "doc_id", "source", "span", (F.col("p") + 1).alias("span_no")
    )
    occ = F.struct(F.col("doc_id").alias("d"), F.col("span_no").alias("n"))
    firsts = (
        l.select("span", occ.alias("o"))
        .groupBy("span")
        .agg(F.min("o").alias("first_occ"))
    )
    k = l.join(firsts, "span").select(
        "doc_id", "source", (occ == F.col("first_occ")).alias("kept")
    )
    return (
        k.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_span_occurrences"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("bigint").alias("n_removed"),
            F.countDistinct(
                F.when(~F.col("kept"), F.col("doc_id"))
            ).cast("bigint").alias("n_docs_losing_spans"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Domain-mixture reweighting (r14) — the DoReMi-lite / fixed-target
# variant of data mixing (Xie et al. 2023 give the target weights a
# learned origin; here they are a given dimension input, the common
# production case): from per-source token counts and target mixture
# weights, emit each source's sampling rate toward a 90%-of-corpus
# token budget, clamped at 1 (no upsampling), plus the docs/tokens a
# deterministic HASH-RANK selection (Knuth multiplicative hash — the
# suite's RNG-free convention) actually keeps at that rate.  Two hash
# aggregates + one broadcast of the 20-row per-source rate table; the
# per-doc pass is one projection.  Float parity: rates are ONE IEEE
# division of exactly-representable integer products (budget·w and
# Σw·tokens_s stay < 2^53 through ~sf10^7), and the hash fraction is
# a dyadic rational h/2^32 — both engines compare bit-identically.
# The weight formula (digits of the source name mod 5, +1) stands in
# for a user-supplied target-mixture dim table and exercises both the
# clamped (w≥4) and unclamped branches at every SF.
# ---------------------------------------------------------------------------
@register(
    "domain_mixture_reweight",
    f"""
    WITH d AS (SELECT doc_id, source,
                      CAST(len({_TOKS_SQL}) AS BIGINT) AS toks,
                      (doc_id * 2654435761) % 4294967296 AS h
               FROM documents),
    s AS (SELECT source,
                 (CAST(regexp_extract(source, '[0-9]+') AS INT) % 5) + 1 AS w,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(toks) AS BIGINT) AS tokens
          FROM d GROUP BY source),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                   (CAST(SUM(tokens) AS BIGINT) * 9) // 10 AS budget
            FROM s),
    r AS (SELECT s.source, s.w, s.n_docs, s.tokens,
                 LEAST(1.0, CAST(tot.budget * s.w AS DOUBLE)
                            / CAST(tot.sw * s.tokens AS DOUBLE)) AS rate
          FROM s, tot),
    sel AS (SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_selected,
                   CAST(SUM(d.toks) AS BIGINT) AS selected_tokens
            FROM d JOIN r USING (source)
            WHERE CAST(d.h AS DOUBLE) / 4294967296.0 < r.rate
            GROUP BY d.source)
    SELECT r.source,
           CAST(r.w AS INT) AS target_weight,
           r.n_docs, r.tokens,
           ROUND(r.rate, 9) AS sampling_rate,
           COALESCE(sel.n_selected, 0) AS n_selected,
           COALESCE(sel.selected_tokens, 0) AS selected_tokens
    FROM r LEFT JOIN sel USING (source) ORDER BY r.source
    """,
)
def domain_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("toks"),
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).alias("h"),
    )
    s = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens"),
    ).withColumn(
        "w",
        (F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 5) + 1,
    )
    tot = s.agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("tokens").cast("bigint").alias("total_tokens"),
    ).withColumn(
        # exact integer floor-div (DIV), mirroring DuckDB's `//` —
        # a double `/` would drift past 2^53 total tokens
        "budget", F.expr("(total_tokens * 9) DIV 10").cast("bigint")
    )
    r = s.crossJoin(F.broadcast(tot)).select(
        "source", "w", "n_docs", "tokens",
        F.least(
            F.lit(1.0),
            (F.col("budget") * F.col("w")).cast("double")
            / (F.col("sw") * F.col("tokens")).cast("double"),
        ).alias("rate"),
    )
    sel = (
        d.join(F.broadcast(r.select("source", "rate")), "source")
        .filter(F.col("h").cast("double") / F.lit(4294967296.0) < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_selected"),
            F.sum("toks").cast("bigint").alias("selected_tokens"),
        )
    )
    return (
        r.join(sel, "source", "left")
        .select(
            "source",
            F.col("w").cast("int").alias("target_weight"),
            "n_docs",
            "tokens",
            F.round(F.col("rate"), 9).alias("sampling_rate"),
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("bigint")
            .alias("n_selected"),
            F.coalesce(F.col("selected_tokens"), F.lit(0)).cast("bigint")
            .alias("selected_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020, the LLaMA /
# RedPajama web-corpus recipe): score every document by per-language
# unigram-LM mean NLL, then split each language into head/middle/tail
# perplexity TERCILES by exact rank.  Scale shape: the unigram model is
# vocab-bounded (broadcast both count frames, like lm_bigram_score);
# the per-language exact rank does NOT use a per-language global sort
# (a lang holding 40% of a 100 TB corpus would sort on one task) —
# instead the sequence_packing census recipe: docs land in value-range
# cells (floor(mean_nll*8): O(8*ln(corpus_tokens)) cells, logarithmic
# in data size), a bounded lang×cell census is collected, driver-side
# prefix sums give each cell its global rank offset, and the intra-cell
# row_number window is partitioned by (lang, cell).  Float parity: the
# per-token nll term is ROUND(ln t - ln c, 9)::DECIMAL (absorbs libm
# 1-ulp spread), per-doc sums are exact decimals, and the per-doc mean
# is a single IEEE division rounded to 9 — so the rank ORDER BY key is
# bit-identical in both engines; bucket cuts are pure integer compares.
# ---------------------------------------------------------------------------
@register(
    "ccnet_ppl_buckets",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS w FROM documents),
    cnt AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT lang, COUNT(*) AS t FROM tok GROUP BY 1),
    nll AS (
      SELECT tok.doc_id, tok.lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
             SUM(ROUND(LN(CAST(tot.t AS DOUBLE)) - LN(CAST(cnt.c AS DOUBLE)),
                       9)::DECIMAL(20,9)) AS s
      FROM tok
      JOIN cnt ON tok.lang = cnt.lang AND tok.w = cnt.w
      JOIN tot ON tok.lang = tot.lang
      GROUP BY 1, 2),
    d AS (
      SELECT doc_id, lang, n_tok,
             ROUND(CAST(CAST(s AS VARCHAR(64)) AS DOUBLE) / n_tok, 9)
               AS mean_nll
      FROM nll),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY mean_nll, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM d),
    b AS (
      SELECT *, CASE WHEN rn * 3 <= n_lang THEN 'head'
                     WHEN rn * 3 <= 2 * n_lang THEN 'middle'
                     ELSE 'tail' END AS bucket
      FROM r)
    SELECT lang, bucket, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(CAST(CAST(SUM(mean_nll::DECIMAL(20,9)) AS VARCHAR(64))
                      AS DOUBLE) / COUNT(*), 9) AS avg_nll,
           ROUND(MAX(mean_nll), 9) AS cut_nll
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("lang", "w").agg(F.count("*").alias("c"))
    tot = tok.groupBy("lang").agg(F.count("*").alias("t"))
    nll_term = F.round(
        F.log(F.col("t").cast("double")) - F.log(F.col("c").cast("double")), 9
    ).cast("decimal(20,9)")
    d = (
        tok.join(F.broadcast(cnt), ["lang", "w"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum(nll_term).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.round(F.col("s").cast("double") / F.col("n_tok"), 9).alias(
                "mean_nll"
            ),
        )
        .withColumn("cell", F.floor(F.col("mean_nll") * 8).cast("int"))
        # checkpointed (filled by the census collect): consumed twice
        # (census + the final join) — rebuilding it would repeat the
        # explode and both broadcast joins; unlike persist(), no cache
        # entry outlives the query
        .localCheckpoint(eager=False)
    )
    # bounded census: lang x nll-cell counts -> driver prefix offsets.
    # Cell count is O(8 * ln(corpus tokens)) per lang — logarithmic in
    # data size, so the collect stays a few-KB even at 100 TB.
    census: dict[str, list[tuple[int, int]]] = {}
    for row in d.groupBy("lang", "cell").agg(F.count("*").alias("nc")).collect():
        census.setdefault(row["lang"], []).append((row["cell"], row["nc"]))
    rows = []
    for lang, cells in census.items():
        n_lang = sum(nc for _, nc in cells)
        acc = 0
        for cell, nc in sorted(cells):
            rows.append((lang, cell, acc, n_lang))
            acc += nc
    off = spark.createDataFrame(
        rows, "lang string, cell int, roff bigint, n_lang bigint"
    )
    w = Window.partitionBy("lang", "cell").orderBy("mean_nll", "doc_id")
    b = (
        d.join(F.broadcast(off), ["lang", "cell"])
        .withColumn("rn", F.col("roff") + F.row_number().over(w))
        .withColumn(
            "bucket",
            F.when(F.col("rn") * 3 <= F.col("n_lang"), "head")
            .when(F.col("rn") * 3 <= 2 * F.col("n_lang"), "middle")
            .otherwise("tail"),
        )
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("mean_nll").cast("decimal(20,9)")).cast("double")
                / F.count("*"),
                9,
            ).alias("avg_nll"),
            F.round(F.max("mean_nll"), 9).alias("cut_nll"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup probe — the "have we already ingested
# this document?" primitive for incremental 100 TB acquisition: the
# seen-corpus is compressed to a bit array of m = 64 * n_ref bits
# (k = 4 salted-md5 hashes), so the probe stage needs only a broadcast
# join against m/32 mask words — no shuffle of either corpus.  The
# filter SIZE is corpus-derived, not fixed (the r14 hazard class: a
# fixed m saturates as the seen-corpus grows — at 64 bits/element the
# false-positive rate stays ~1.3e-5 at EVERY scale); the DuckDB oracle
# recomputes m from COUNT(*) exactly like the knn_join_lsh oracle
# recomputes its table count.  Hash positions are 52-bit (13-hex-char)
# salted md5 slices, so position space covers m up to ~10^13 bits;
# the broadcast word table stays under 4 GB to ~10^9 seen docs, beyond
# which the filter itself would shard by position range.  Probe set is
# built for branch coverage at every SF: docs with doc_id%3==0
# re-probed verbatim (true members — Bloom guarantees n_maybe ==
# n_probe, no false negatives) and doc_id%3==1 with the first token
# dropped (non-members — counts measurable false positives).  The
# exact-membership join (fp IN ref) exists ONLY to account true/false
# positives for this verification query; the production path is the
# broadcast bitmask alone.  All hashes are md5-based so DuckDB
# recomputes them bit-identically; counts are exact integers and
# fp_rate a single guarded IEEE division.
# ---------------------------------------------------------------------------
@register(
    "bloom_dedup_probe",
    f"""
    WITH mq AS (SELECT GREATEST(64 * COUNT(*), 64) AS m FROM documents),
    ref AS (
      SELECT md5(array_to_string({_TOKS_SQL}, ' ')) AS fp FROM documents),
    probe AS (
      SELECT doc_id, 'dup' AS cls,
             md5(array_to_string({_TOKS_SQL}, ' ')) AS fp
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 'mutated' AS cls,
             md5(array_to_string(
               list_transform(range(1, len({_TOKS_SQL})),
                              i -> ({_TOKS_SQL})[i + 1]), ' ')) AS fp
      FROM documents WHERE doc_id % 3 = 1),
    rp AS (
      SELECT (('0x' || substr(md5(j || ':' || fp), 1, 13))::BIGINT % mq.m)
               AS pos
      FROM ref, mq, unnest(['0', '1', '2', '3']) AS u(j)),
    words AS (
      SELECT pos // 32 AS widx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS mask
      FROM rp GROUP BY 1),
    pp AS (
      SELECT doc_id, cls, fp,
             (('0x' || substr(md5(j || ':' || fp), 1, 13))::BIGINT % mq.m)
               AS pos
      FROM probe, mq, unnest(['0', '1', '2', '3']) AS u(j)),
    hit AS (
      SELECT pp.doc_id, pp.cls, pp.fp,
             BOOL_AND(w.mask IS NOT NULL AND
                      (w.mask & (1::BIGINT << CAST(pp.pos % 32 AS INT))) != 0)
               AS maybe
      FROM pp LEFT JOIN words w ON w.widx = pp.pos // 32
      GROUP BY 1, 2, 3),
    ex AS (
      SELECT hit.*, hit.fp IN (SELECT fp FROM ref) AS present FROM hit)
    SELECT cls,
           COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
             AS n_present,
           CAST(SUM(CASE WHEN maybe AND NOT present THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN maybe AND NOT present THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN NOT present THEN 1 ELSE 0 END), 0), 9)
             AS fp_rate
    FROM ex GROUP BY 1 ORDER BY 1
    """,
)
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = 32  # mask-word width
    docs = _t(spark, sf_dir, "documents")
    # corpus-derived filter size (single-scalar collect — the bounded
    # precedent set by the query-vector collects in ann_index.py); the
    # oracle recomputes the same m from COUNT(*).
    M = max(64 * docs.count(), 64)
    toks = TX.tokens(F.col("text"))
    fp = F.md5(F.concat_ws(" ", toks))
    mut_fp = F.md5(
        F.concat_ws(
            " ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        )
    )
    ref = docs.select(fp.alias("fp"))
    probe = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.lit("dup").alias("cls"), fp.alias("fp"))
        .unionByName(
            docs.filter(F.col("doc_id") % 3 == 1)
            .select("doc_id", F.lit("mutated").alias("cls"), mut_fp.alias("fp"))
        )
    )

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.conv(
                            F.substring(
                                F.md5(F.concat_ws(":", F.lit(str(j)), "fp")),
                                1,
                                13,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % M
                        for j in range(4)
                    ]
                )
            ).alias("pos"),
        )

    # the filter: m/W mask words — 2 longs per seen doc worst case,
    # broadcast-sized to ~1e9 seen docs; beyond that shard by range.
    words = (
        positions(ref)
        .select(
            F.expr(f"pos div {W}").alias("widx"),
            F.expr(f"shiftleft(1L, cast(pos % {W} as int))").alias("m"),
        )
        .groupBy("widx")
        .agg(F.bit_or("m").alias("mask"))
    )
    hit = (
        positions(probe)
        .withColumn("widx", F.expr(f"pos div {W}"))
        .join(F.broadcast(words), "widx", "left")
        .groupBy("doc_id", "cls", "fp")
        .agg(
            F.expr(
                f"bool_and(mask is not null and "
                f"(mask & shiftleft(1L, cast(pos % {W} as int))) != 0)"
            ).alias("maybe")
        )
    )
    refd = ref.distinct().withColumn("present", F.lit(True))
    ex = hit.join(refd, "fp", "left").fillna({"present": False})
    fpos = F.when(F.col("maybe") & ~F.col("present"), 1).otherwise(0)
    notp = F.when(~F.col("present"), 1).otherwise(0)
    return (
        ex.groupBy("cls")
        .agg(
            F.count("*").cast("bigint").alias("n_probe"),
            F.sum(F.when(F.col("maybe"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_maybe"),
            F.sum(F.when(F.col("present"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_present"),
            F.sum(fpos).cast("bigint").alias("n_false_pos"),
            F.round(
                F.sum(fpos).cast("double")
                / F.when(F.sum(notp) != 0, F.sum(notp)),
                9,
            ).alias("fp_rate"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# Cross-source overlap census (the WIMBD-style "which sources duplicate
# each other?" corpus analysis): per-pair-of-sources shared exact
# fingerprints + Jaccard over each source's distinct-fp sets.  The
# fixture has no natural cross-source dups, so the corpus plants them
# deterministically at every SF: docs with doc_id % 7 == 0 are mirrored
# (collision-free -(id+1) ids, r13 convention) into the NEXT source
# (src(k+1) mod 20) — every adjacent source pair gets a known overlap
# band.  Scale shape: NO source×source self-join — fingerprints group
# once (skew-free: a fp's source set is bounded by #sources), each
# multi-source fp expands to its C(k,2) source pairs via the nested
# i<j transform (k <= 20), and the final agg is #source-pairs rows;
# per-source totals broadcast.  Jaccard is a single IEEE division of
# exact integers, rounded to 9.
# ---------------------------------------------------------------------------
@register(
    "cross_source_overlap",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT -(doc_id + 1) AS doc_id,
             'src' || CAST((CAST(regexp_extract(source, '[0-9]+') AS INT) + 1)
                           % 20 AS VARCHAR) AS source,
             text
      FROM documents WHERE doc_id % 7 = 0),
    f AS (
      SELECT DISTINCT md5(array_to_string({_TOKS_SQL}, ' ')) AS fp, source
      FROM corpus),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nf FROM f GROUP BY 1),
    g AS (
      SELECT fp, list_sort(list(source)) AS srcs
      FROM f GROUP BY fp HAVING COUNT(*) >= 2),
    p AS (
      SELECT unnest(flatten(list_transform(range(1, len(srcs)),
               i -> list_transform(range(i + 1, len(srcs) + 1),
                    j -> [srcs[i], srcs[j]])))) AS pr
      FROM g),
    sp AS (
      SELECT pr[1] AS src_a, pr[2] AS src_b, CAST(COUNT(*) AS BIGINT)
               AS n_shared
      FROM p GROUP BY 1, 2)
    SELECT sp.src_a, sp.src_b, sp.n_shared,
           a.nf AS nf_a, b.nf AS nf_b,
           ROUND(CAST(sp.n_shared AS DOUBLE)
                 / (a.nf + b.nf - sp.n_shared), 9) AS jaccard
    FROM sp
    JOIN per a ON a.source = sp.src_a
    JOIN per b ON b.source = sp.src_b
    ORDER BY sp.src_a, sp.src_b
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    shifted = F.concat(
        F.lit("src"),
        (
            (F.regexp_extract("source", "[0-9]+", 0).cast("int") + 1) % 20
        ).cast("string"),
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            shifted.alias("source"),
            "text",
        )
    )
    f = corpus.select(
        F.md5(F.concat_ws(" ", TX.tokens(F.col("text")))).alias("fp"), "source"
    ).distinct()
    per = f.groupBy("source").agg(F.count("*").cast("bigint").alias("nf"))
    g = (
        f.groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    sp = (
        g.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.src_a").alias("src_a"), F.col("pr.src_b").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        sp.join(
            F.broadcast(per.select(F.col("source").alias("src_a"),
                                   F.col("nf").alias("nf_a"))),
            "src_a",
        )
        .join(
            F.broadcast(per.select(F.col("source").alias("src_b"),
                                   F.col("nf").alias("nf_b"))),
            "src_b",
        )
        .select(
            "src_a", "src_b", "n_shared", "nf_a", "nf_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("nf_a") + F.col("nf_b") - F.col("n_shared")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration census — "how good are the 4 permuted
# mins the dedup stack trusts?": for every LSH candidate pair, count
# the agreeing min-hash components (candidates share a full 2-min band,
# so shared_mins ∈ {{2,3,4}}) and compute the EXACT distinct-3-shingle
# Jaccard, then aggregate jaccard stats per agreement level.  This is
# the measurement that justifies (or indicts) the banding thresholds
# the near-dup operators use.  Scale shape: exact Jaccard is computed
# ONLY for candidate pairs (linear in candidate volume, which the LSH
# stack already bounds), via a shingle equi-join keyed on the shingle
# string; the census output is <= 3 rows.  Mean jaccard is a
# VARCHAR-round-tripped decimal sum of 9-rounded single divisions —
# order-independent and bit-identical cross-engine.
# ---------------------------------------------------------------------------
@register(
    "minhash_jaccard_estimate",
    f"""
    WITH corpus AS ({_MUTATED_SQL}),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
    s AS (SELECT doc_id,
                 list_transform(range(len(toks) - 2),
                                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS shs
          FROM t),
    sd AS (SELECT doc_id, list_distinct(shs) AS dsh FROM s),
    e AS (SELECT doc_id, len(dsh) AS n_sh, unnest(dsh) AS sh FROM sd),
    me AS (SELECT doc_id, unnest(shs) AS sh FROM s),
    sig AS (SELECT doc_id, {_MH_AGGS_SQL} FROM me GROUP BY doc_id),
    b AS (SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.band_key = b2.band_key
           AND a.doc_id < b2.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, ea.n_sh AS na, eb.n_sh AS nb,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN e ea ON ea.doc_id = c.id_a
      JOIN e eb ON eb.doc_id = c.id_b AND eb.sh = ea.sh
      GROUP BY 1, 2, 3, 4),
    j AS (
      SELECT c.id_a, c.id_b,
             CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END
                 + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END
                 + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END
                 + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END) AS INT)
               AS shared_mins,
             ROUND(CAST(i.inter AS DOUBLE) / (i.na + i.nb - i.inter), 9)
               AS jac
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b)
    SELECT shared_mins, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(CAST(SUM(jac::DECIMAL(20,9)) AS VARCHAR(64)) AS DOUBLE)
                 / COUNT(*), 9) AS mean_jaccard,
           MIN(jac) AS min_jaccard, MAX(jac) AS max_jaccard
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _mutated_docs(spark, sf_dir)
    sd = docs.select(
        "doc_id", F.array_distinct(DD.shingles(F.col("text"))).alias("dsh")
    )
    e = sd.select(
        "doc_id", F.size("dsh").cast("bigint").alias("n_sh"),
        F.explode("dsh").alias("sh"),
    )
    sig = DD.minhash_signatures(docs)
    cand = DD.lsh_candidates(sig)
    ea = e.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"), "sh"
    )
    eb = e.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"), "sh"
    )
    inter = (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "sh"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sm = (
        cand.join(
            F.broadcast(sig).select(
                F.col("doc_id").alias("id_a"),
                *[F.col(f"mh{s}").alias(f"a{s}") for s in range(4)],
            ),
            "id_a",
        )
        .join(
            F.broadcast(sig).select(
                F.col("doc_id").alias("id_b"),
                *[F.col(f"mh{s}").alias(f"b{s}") for s in range(4)],
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            sum(
                F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
                for s in range(4)
            ).cast("int").alias("shared_mins"),
        )
    )
    j = sm.join(inter, ["id_a", "id_b"]).select(
        "shared_mins",
        F.round(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
            9,
        ).alias("jac"),
    )
    return (
        j.groupBy("shared_mins")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("jac").cast("decimal(20,9)")).cast("double")
                / F.count("*"),
                9,
            ).alias("mean_jaccard"),
            F.min("jac").alias("min_jaccard"),
            F.max("jac").alias("max_jaccard"),
        )
        .orderBy("shared_mins")
    )
