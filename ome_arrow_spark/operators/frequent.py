"""Distributed heavy hitters: parallel Misra-Gries + exact recount.

"Top-k most frequent tokens/n-grams over the corpus" is a daily
training-data question (vocab builds, boilerplate detection, stopword
mining).  A plain explode→groupBy→top-k is one shuffle but keys every
distinct term — at 100 TB the distinct-term (worse: distinct-n-gram)
cardinality explodes the shuffle.  This module runs the classic
two-pass bounded-memory algorithm instead:

1. **Candidates** — each partition summarizes its token stream with a
   Misra-Gries sketch of capacity ``m`` (mapInArrow, one dict of ≤ m
   entries per partition, no shuffle).  Pigeonhole guarantee: any term
   with GLOBAL count > total_tokens/m must survive in at least one
   partition's sketch, so the union of partition candidates contains
   every true heavy hitter.  Candidate volume ≤ m × partitions,
   independent of corpus cardinality.
2. **Exact recount** — a second corpus pass counts ONLY the candidate
   terms (semi-join against the broadcast candidate set inside the
   tokenizer), then one tiny groupBy yields EXACT counts; top-k by
   (count desc, term asc) via TakeOrdered.

The output is therefore the exact top-k whenever the k-th frequency
exceeds total/m — not an estimate — while shuffling at most
m × partitions + |candidates| rows.  Choose ``m`` ≥ k × (a few
hundred) for comfortable margins.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ome_arrow_spark.functions.text import TOKEN_PATTERN

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def _tokenize(text: str, ngram: int) -> Iterator[str]:
    toks = _TOKEN_RE.findall(text.lower())
    if ngram <= 1:
        yield from toks
    else:
        for i in range(len(toks) - ngram + 1):
            yield " ".join(toks[i : i + ngram])


def _texts(batches: Iterator[pa.RecordBatch], text_col: str) -> Iterator[str]:
    """The non-null texts of a ``mapInArrow`` partition, in row order."""
    for batch in batches:
        for text in batch.column(text_col).to_pylist():
            if text is not None:
                yield str(text)


def _misra_gries_partition(m: int, ngram: int, text_col: str):
    """mapInArrow stage: one capacity-``m`` MG sketch per partition."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counters: dict[str, int] = {}
        for text in _texts(batches, text_col):
            for tok in _tokenize(text, ngram):
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < m:
                    counters[tok] = 1
                else:
                    # decrement-all step, dropping zeroed entries
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pa.RecordBatch.from_pydict(
            {"term": pa.array(list(counters), pa.string())}
        )

    return run


def _exact_count_partition(cand: frozenset, ngram: int, text_col: str):
    """Second pass: per-partition exact counts restricted to the
    candidate set (bounded by |candidates|)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts: dict[str, int] = {}
        for text in _texts(batches, text_col):
            for tok in _tokenize(text, ngram):
                if tok in cand:
                    counts[tok] = counts.get(tok, 0) + 1
        yield pa.RecordBatch.from_pydict(
            {
                "term": pa.array(list(counts), pa.string()),
                "cnt": pa.array(list(counts.values()), pa.int64()),
            }
        )

    return run


def heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    m: int = 4096,
    ngram: int = 1,
    text: str = "text",
) -> DataFrame:
    """Exact top-``k`` most frequent terms (or ``ngram``-grams) →
    (term, cnt, rk).  Exactness holds whenever the k-th true frequency
    exceeds total_tokens/``m`` — the regime top-k questions live in.
    Two corpus scans, zero wide shuffles: candidates ≤ m/partition,
    recount keyed only by candidates."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    src = docs.select(F.col(text).alias("__text"))
    cand_rows = (
        src.mapInArrow(
            _misra_gries_partition(m, ngram, "__text"), "term string"
        )
        .distinct()
        .collect()
    )
    cand = frozenset(r["term"] for r in cand_rows)
    if not cand:
        return spark.createDataFrame([], "term string, cnt long, rk int")
    counts = (
        src.mapInArrow(
            _exact_count_partition(cand, ngram, "__text"),
            "term string, cnt long",
        )
        .groupBy("term")
        .agg(F.sum("cnt").alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    return top.withColumn("rk", F.row_number().over(w).cast("int"))
