"""Passage segmentation + vocabulary operators (training-data prep).

After the quality filter, a pretraining pipeline chunks surviving documents
into context-window-sized passages and builds corpus vocabularies. No
reference precedent (the reference emits whole files); these are the
standard downstream ops the task brief's training-data scope implies.

Two chunkers:
  - fixed_char_chunks: deterministic fixed-width character windows --
    expressible in pure SQL (sequence + substring), so it carries a DuckDB
    oracle in the driver contract;
  - sentence_packed_chunks: greedy sentence packing up to a token budget
    (never splits a sentence unless a single sentence exceeds the budget) --
    positional/stateful, implemented in an Arrow UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_WS = re.compile(r"\s+")


def fixed_char_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    width: int = 512,
) -> DataFrame:
    """One row per fixed-width character window: (id, chunk_idx, chunk).

    Pure Catalyst: posexplode over a substring sequence -- scans stay in
    whole-stage codegen, output rows ~len/width per doc.
    """
    n_chunks = F.ceil(F.length(text_col) / F.lit(width)).cast("int")
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.substring(F.col(text_col), i * width + 1, width),
            )
        ).alias("chunk_idx", "chunk"),
    ).where(F.length("chunk") > 0)


def _pack_sentences(text: str, max_tokens: int) -> list[str]:
    sentences = [s for s in _SENT_SPLIT.split(text or "") if s.strip()]
    chunks: list[str] = []
    cur: list[str] = []
    cur_tokens = 0
    for s in sentences:
        n = len(_WS.split(s.strip()))
        if cur and cur_tokens + n > max_tokens:
            chunks.append(" ".join(cur))
            cur, cur_tokens = [], 0
        cur.append(s.strip())
        cur_tokens += n
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def sentence_packed_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_tokens: int = 128,
) -> DataFrame:
    """Greedy sentence-boundary packing into <=max_tokens-word passages."""

    @F.pandas_udf(ArrayType(StringType()))
    def pack_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _pack_sentences(t, max_tokens))

    return df.select(
        F.col(id_col),
        F.posexplode(pack_udf(text_col)).alias("chunk_idx", "chunk"),
    )


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

