"""Benchmark decontamination: flag training documents sharing any word
n-gram (default 13, the GPT-3/PaLM decontamination window) with a benchmark
/ eval-set table.

No reference precedent (the reference never mixes corpora); task-brief
scope -- this is the standard last gate before a corpus ships to training.
Pure Catalyst throughout: tokenization is the same \\w+ -> lower scheme the
quality metrics use, n-grams are space-joined token windows, and the
containment test is an exploded LEFT SEMI join against the (broadcast)
benchmark gram set -- no Python, no regex engine divergence, exactly
re-derivable in SQL (the driver oracle does).

Scale shape: benchmark gram sets are small (eval suites are ~10^5-10^7
grams) -> broadcast semi-join, zero shuffle of the corpus side beyond the
explode projection. Open limit: the join forces ``F.broadcast``, which
overrides ``autoBroadcastJoinThreshold``, so a benchmark gram set past the
executors' broadcast budget fails the job instead of falling back to a
shuffled semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_ngrams_col(text_col, n: int = 13):
    """Distinct space-joined lowercase word n-grams of a text column."""
    w = F.regexp_extract_all(F.lower(text_col), F.lit(r"\w+"), F.lit(0))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )
    # guard BEFORE building the sequence: Spark's sequence(1, k) runs
    # DESCENDING for k < 1 and slice(start=0) then throws
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Return ``docs`` with an ``is_contaminated`` boolean: true iff the
    document shares at least one word ``n``-gram with any benchmark row.

    Documents shorter than ``n`` words produce no grams and are never
    flagged (matching the published decontamination rules: the window IS
    the matching unit).
    """
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_col(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("_did"),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(F.col("_did"))
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return (
        docs.join(hits, docs[id_col] == hits["_did"], "left")
        .drop("_did")
        .withColumn("is_contaminated", F.coalesce("is_contaminated", F.lit(False)))
    )
