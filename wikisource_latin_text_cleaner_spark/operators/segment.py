"""Corpus vocabulary operator.

Word-frequency tables over the documents that survive the quality filter
(the ``oov_rate`` and ``vocabulary_top100`` queries read them). No
reference precedent (the reference emits whole files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vocabulary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    top_n: int | None = None, doc_counts: bool = True,
) -> DataFrame:
    """Corpus vocabulary: (word, n_occurrences[, n_docs]), optionally top-n.

    explode(split) -> two-level aggregation; partial aggregation makes the
    shuffle carry one row per distinct (partition, word), not per token.

    ``doc_counts=False`` drops the n_docs column AND its cost: the
    count_distinct forces the partial aggregate to keep one row per
    distinct (word, doc) pair -- for frequency-only consumers (BPE
    training, OOV vocabularies) the plain count shuffles one row per
    (partition, word) instead, which at 10^12 docs is the difference
    between shuffling the corpus's (word x doc) incidence and its
    vocabulary.
    """
    words = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
        ).alias("word"),
    )
    aggs = [F.count("*").alias("n_occurrences")]
    if doc_counts:
        aggs.append(F.count_distinct("_doc").alias("n_docs"))
    vocab = words.groupBy("word").agg(*aggs)
    if top_n:
        vocab = vocab.orderBy(F.desc("n_occurrences"), "word").limit(top_n)
    return vocab

