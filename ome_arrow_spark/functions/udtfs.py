"""Python UDTFs (table functions, SURVEY.md §2C "grouped map / UDTF"
row): one input row → many output rows with arbitrary Python logic.

Like the Arrow UDAFs these are built lazily (the decorator resolves
its DDL schema against the active session). UDTFs run row-at-a-time in
the Python worker — the slow path by design, reserved for logic that
neither built-ins nor Arrow-batched UDFs can express; the sentence
splitter here is an interface demonstration (production text-splitting
stays in `functions/text.py` expressions)."""

from __future__ import annotations

from functools import lru_cache


@lru_cache(maxsize=1)
def sentence_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_words int")
    class SplitSentences:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            if not text:
                return
            start, idx = 0, 0
            for i, ch in enumerate(text):
                if ch in ".!?":
                    chunk = text[start : i + 1].strip()
                    if chunk:
                        yield idx, chunk, len(chunk.split())
                        idx += 1
                    start = i + 1
            tail = text[start:].strip()
            if tail:
                yield idx, tail, len(tail.split())

    return SplitSentences


def split_sentences(spark, docs, id_col: str = "doc_id", text_col: str = "text"):
    """docs(doc_id, text) → (doc_id, sent_idx, sentence, n_words)."""
    fn = sentence_udtf()
    spark.udtf.register("split_sentences", fn)
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        f"""
        SELECT d.{id_col} AS doc_id, s.sent_idx, s.sentence, s.n_words
        FROM __udtf_docs d, LATERAL split_sentences(d.{id_col}, d.{text_col}) s
        """
    )
