"""Deduplication operators for training-data pipelines (SURVEY.md §2C):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

All distributed-by-construction: hash-groupBys and shingle-explode
joins — no pairwise O(n²) over the full corpus. Hash functions are
md5-based so results are engine-portable (the DuckDB oracles recompute
them exactly); at pure-Spark scale you'd swap md5 for xxhash64, which
is cheaper — the structure is identical.

Scale notes:
* exact dedup is one shuffle on the 128-bit fingerprint — safe at any
  corpus size; fingerprints are uniform so no skew.
* MinHash-LSH: cost is #shingles rows in the explode; band buckets are
  tiny except for boilerplate-heavy corpora — cap bucket size before
  pairing (candidate pairs within a B-row bucket are B², so a 10k-doc
  boilerplate bucket would generate 10⁸ pairs; ``max_bucket`` guards).
* verification joins are broadcast-able when the candidate set is
  small; here they stay shuffle joins for generality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ome_arrow_spark.functions.text import fingerprint, tokens
from ome_arrow_spark.plans import tuning


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of normalized-content duplicates: one row per distinct
    content with the representative (min id) and the group size."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def drop_exact_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative per content group (the actual
    dedup sink path)."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the token stream. Guarded for docs shorter
    than k tokens — Spark's ``sequence(0, negative)`` would count DOWN,
    fabricating bogus shingles."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    k: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """MinHash signature per document: for seed s, ``min(md5('s:' ||
    shingle))``. Documents with fewer than k tokens produce no shingles
    and are absent (they can't near-dup on k-grams anyway).

    ``shingles_col`` names a precomputed shingle-array column to reuse
    (a pipeline that also verifies Jaccard shingles once, not per
    stage); min is multiplicity-insensitive, so distinct shingle sets
    give identical signatures.

    Plan-shape note (r14 measurement): an ``array_min(transform(shs,
    md5))`` per-row rewrite — no shingle explode, no SortAggregate —
    was tried and REVERTED: higher-order-function lambdas evaluate
    interpreted (outside whole-stage codegen), and the measured wall
    was 5-6× WORSE than this explode + groupBy(min) form at both sf0.1
    (1.0 s vs 4.9 s) and sf1 (8.0 s vs 49 s, noop sink, best-of-3
    interleaved A/B). The SortAggregate the rewrite removed is cheaper
    than losing codegen on the md5-per-shingle inner loop. Signatures
    were bit-identical both ways; this form is the fast one."""
    sh_expr = (
        F.col(shingles_col) if shingles_col else shingles(F.col(text_col), k)
    )
    sh = tuning.spread_small_input(df, id_col).select(
        F.col(id_col), F.explode(sh_expr).alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: tuple[tuple[str, ...], ...] = (("mh0", "mh1"), ("mh2", "mh3")),
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any full band signature.
    Buckets larger than ``max_bucket`` are dropped (boilerplate guard —
    see module scale notes).

    All bands materialize from ONE pass over ``sig`` (explode of the
    per-band keys), and pairs come from ONE shuffle: group ids per
    bucket, guard the bucket size, emit i<j combinations with a nested
    ``transform``. The join formulation (bucket counts → join back →
    self-join) costs three shuffles of the same data and materializes
    every oversized bucket's B² pairs before any guard can drop them;
    here oversized buckets are dropped as B-row id lists, never as
    pairs."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws("|", *[F.col(c) for c in cols]).alias("band_key"),
            )
            for bi, cols in enumerate(bands)
        ]
    )
    b = sig.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    buckets = (
        b.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def lsh_candidates_incremental(
    sig: DataFrame,
    id_col: str = "doc_id",
    new_col: str = "is_new",
    bands: tuple[tuple[str, ...], ...] = (("mh0", "mh1"), ("mh2", "mh3")),
    max_bucket: int = 1000,
) -> DataFrame:
    """Asymmetric LSH candidates for INCREMENTAL dedup: only pairs with
    at least one NEW-side doc (``new_col``) — the "dedup this batch
    against the seen corpus" shape.  Per bucket the emission is
    |new|·|old| + C(|new|, 2) instead of C(B, 2): with a small batch
    against a huge corpus the candidate volume is proportional to the
    BATCH, not the corpus² — old×old pairs are never materialized, so
    re-ingesting 1 GB against 100 TB costs 1-GB-sized work.  Pair
    orientation is canonical id_a < id_b (matching ``lsh_candidates``)
    so results equal the full pair set filtered to new-touching pairs."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws("|", *[F.col(c) for c in cols]).alias("band_key"),
            )
            for bi, cols in enumerate(bands)
        ]
    )
    b = sig.select(
        F.col(id_col), F.col(new_col), F.explode(band_structs).alias("bk")
    ).select(
        id_col,
        new_col,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    buckets = (
        b.groupBy("band", "band_key")
        .agg(
            F.sort_array(
                F.collect_set(F.when(F.col(new_col), F.col(id_col)))
            ).alias("new_ids"),
            F.sort_array(
                F.collect_set(F.when(~F.col(new_col), F.col(id_col)))
            ).alias("old_ids"),
        )
        .filter(
            (F.size("new_ids") >= 1)
            & ((F.size("new_ids") + F.size("old_ids")).between(2, max_bucket))
        )
    )
    mk = lambda x, y: F.struct(  # noqa: E731
        F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
    )
    cross = F.flatten(
        F.transform(
            F.col("new_ids"),
            lambda x: F.transform(F.col("old_ids"), lambda y: mk(x, y)),
        )
    )
    nn = F.flatten(
        F.transform(
            F.col("new_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("new_ids"), i + 2, F.size(F.col("new_ids"))),
                lambda y: mk(x, y),
            ),
        )
    )
    return (
        buckets.select(F.explode(F.concat(cross, nn)).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash over the token multiset. Bit j of a token's hash is the
    parity of hex digit j of its md5; the document bit is the sign of
    the ±1 vote sum. Engine-portable (ascii/md5/substr are identical in
    DuckDB), at the cost of using only parity per hex char — swap for
    xxhash64 bit tests in a pure-Spark deployment."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    h = F.md5(F.col("tok"))
    votes = [
        F.sum(2 * (F.ascii(F.substring(h, j + 1, 1)) % 2) - 1).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = tok.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return voted.select(F.col(id_col), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.1,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard similarity on distinct k-gram shingle sets, via
    shingle-explode + equi-join (no all-pairs scan: only docs sharing
    ≥1 shingle meet). ``block_col`` optionally restricts pairs to the
    same block (e.g. source) — the standard blocking trick."""
    base = df.select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.array_distinct(shingles(F.col(text_col), k)).alias("shs"),
    ).withColumn("n_sh", F.size("shs"))
    ex = base.select(id_col, *( [block_col] if block_col else [] ), "n_sh", F.explode("shs").alias("sh"))
    a, b = ex.alias("a"), ex.alias("b")
    cond = (F.col(f"a.sh") == F.col(f"b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "inter", "jaccard"
    )


def _gram_positions(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, gh) for every token-position k-gram: pos is the
    1-based token index of the gram's first token, gh the md5 of the
    space-joined gram. One explode over the corpus; gram strings never
    leave the expression (only the 128-bit hash is shuffled)."""
    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") >= k
    )
    return t.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))).alias(
                        "gh"
                    ),
                ),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))


def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated-substring spans — the span-level form of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): every token position whose
    k-gram occurs >= min_count times corpus-wide is duplicated;
    overlapping/adjacent duplicated k-gram intervals merge into
    maximal spans per document.

    Returns (id, span_start, span_end, span_len, n_grams) with 1-based
    inclusive token positions.

    Scale shape: one gram explode, one count shuffle on the gram hash
    (map-side combined; uniform 128-bit keys, skew-free), one hash join
    back (dup grams are a small fraction but unbounded — a broadcast
    would be wrong at corpus scale, so it stays a shuffle join), one
    per-document window merge. No pairwise doc join at any point — cost
    is linear in corpus token count, unlike the suffix-array
    formulation which needs a global sort."""
    pos = _gram_positions(df, text_col, id_col, k)
    dup_gh = (
        pos.groupBy("gh")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= min_count)
        .select("gh")
    )
    dup = pos.join(dup_gh, "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        dup.withColumn(
            "new_span",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(
                0
            ),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .withColumn(
            "span_len", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
    )
    return spans.select(
        id_col, "span_start", "span_end", "span_len", "n_grams"
    )


def strip_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove duplicated substrings, keeping one occurrence: for each
    duplicated k-gram the globally-first occurrence (min (id, pos)) is
    KEPT; every other occurrence marks its k tokens for removal.
    Removal intervals merge per document and the surviving token
    stream is re-joined with single spaces (output is the normalized
    lower-cased token stream — the dedup sink contract, not a byte-
    preserving rewrite).

    Returns every input row: (id, clean_text, n_tokens, n_removed).

    Same linear scale shape as dup_spans plus: a per-gram first-
    occurrence window (one shuffle on gh), a per-doc interval collect
    (bounded by document length), and a Catalyst filter-by-index HOF
    over the token array — no UDF, no per-token explode on the Spark
    side."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    pos = _gram_positions(df, text_col, id_col, k)
    wg = Window.partitionBy("gh").orderBy(id_col, "pos")
    occ = pos.withColumn("rn", F.row_number().over(wg)).withColumn(
        "n_occ", F.count("*").over(Window.partitionBy("gh"))
    )
    removals = occ.filter(
        (F.col("n_occ") >= min_count) & (F.col("rn") >= 2)
    ).select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    ivs = (
        removals.withColumn(
            "new_span",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(
                0
            ),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (k - 1)).alias("e"),
        )
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    joined = base.join(ivs, id_col, "left").withColumn(
        "ivs",
        F.coalesce(
            F.col("ivs"),
            F.array().cast("array<struct<s:bigint,e:bigint>>"),
        ),
    )
    kept = F.filter(
        F.col("toks"),
        lambda tok, i: ~F.exists(
            F.col("ivs"),
            lambda iv: (i + 1 >= iv["s"]) & (i + 1 <= iv["e"]),
        ),
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).alias("n_removed"),
    )
