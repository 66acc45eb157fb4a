"""Composed pipeline operators — the multi-step jobs a training-data /
imaging platform actually schedules, built from the parity-tested
primitives.

``near_dedup`` is the canonical corpus-dedup pipeline:
LSH candidates → exact Jaccard verification → connected components →
keep min-id representative per duplicate cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ome_arrow_spark.operators.clustering import connected_components
from ome_arrow_spark.operators.dedup import (
    lsh_candidates,
    minhash_signatures,
    shingles,
)
from ome_arrow_spark.plans import tuning


def near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Full near-dedup: returns the input's columns plus
    ``component`` (duplicate-cluster id, = own id when unique) and
    ``is_representative`` (min id in its cluster).

    Stage economics at 100 TB: LSH bounds the candidate set (linear in
    shingles), Jaccard verification touches only candidates, label
    propagation runs on the (tiny) verified-pair graph, and the final
    join back is key-partitioned. No stage is quadratic in the corpus.
    """
    # one materialization carrying the distinct shingle sets: tokenize +
    # shingle ONCE for the whole pipeline (signatures, LSH, and Jaccard
    # verification all derive from the same materialized arrays; MinHash
    # is multiplicity-insensitive so the distinct set is equivalent).
    # Only (id, shingles) is checkpointed — the corpus text itself is
    # never materialized twice; the final join re-reads it from source.
    # r14: spread a small-split input BEFORE the tokenize+shingle
    # build — the checkpoint (and everything derived from it) otherwise
    # inherits the scan's 1-2 local partitions (see
    # tuning.spread_small_input; no-op at scale).
    shs_tbl = tuning.spread_small_input(docs, id_col).select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("__shs")
    ).localCheckpoint(eager=True)
    sig = minhash_signatures(
        shs_tbl, text_col, id_col, num_hashes, shingle_k, shingles_col="__shs"
    )
    candidates = lsh_candidates(sig, id_col)
    # verify ONLY the candidate pairs with exact Jaccard: join each
    # side's distinct-shingle set onto the pair and intersect in place.
    # The alternative (full shingle-collision self-join, then semi-join
    # the candidates) computes intersections for EVERY colliding pair in
    # the corpus — at 100 TB the candidate-driven form touches
    # |candidates| rows instead of Σ|bucket|² and shuffles on doc id,
    # which the corpus is already partitioned by.
    shs = shs_tbl.select(
        F.col(id_col), F.col("__shs").alias("shs")
    ).withColumn("n_sh", F.size("shs"))
    verified = (
        candidates.join(
            shs.select(
                F.col(id_col).alias("id_a"),
                F.col("shs").alias("shs_a"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            shs.select(
                F.col(id_col).alias("id_b"),
                F.col("shs").alias("shs_b"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )
    comps = connected_components(verified)
    out = docs.join(
        comps.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    return out.withColumn("is_representative", F.col(id_col) == F.col("component"))


def drop_near_duplicates(docs: DataFrame, **kw) -> DataFrame:
    """The sink form: only cluster representatives survive."""
    return (
        near_dedup(docs, **kw)
        .filter(F.col("is_representative"))
        .drop("component", "is_representative")
    )
