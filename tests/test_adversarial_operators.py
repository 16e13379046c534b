"""Cross-operator adversarial sweep: the degenerate web-text inputs from
test_adversarial_inputs.py must flow through every major TRAINING-DATA
operator (dedup / quality / sampling / vocabulary / langid / scrub
extensions) without throwing — real crawl data contains exactly these
rows, and at 10^12 documents every pathological shape WILL occur.

Each case just has to complete and return a well-formed DataFrame; the
semantics of keep/drop on garbage rows are pinned elsewhere (operator
fixtures + oracles). A mixed corpus (pathological + a few normal docs)
is used so model-training operators have non-degenerate input.
"""

import pytest
from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.operators import (
    dedup,
    sampling,
    segment,
    textstats,
)
from wikisource_latin_text_cleaner_spark.functions import quality, udfs

ADVERSARIAL = [
    None,
    "",
    " " * 300,
    "\n" * 500,
    "[" * 5000,
    "x" * 200_000,
    ("\t\r " * 100) + "\x0b\x0c",
    "a\x00b " * 100,
]
NORMAL = [
    "the quick brown fox jumps over the lazy dog and runs away",
    "a completely ordinary sentence about ordinary web text content",
    "some other prose with enough words to pass basic quality gates",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, f"adv://{i}", f"d{i % 3}.example", t, "la")
        for i, t in enumerate(ADVERSARIAL + NORMAL)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, domain string, text string, lang string"
    )
    return df.cache()


def test_exact_and_near_dedup_survive(corpus):
    assert dedup.exact_dedup(corpus).count() > 0
    assert dedup.minhash_dedup(corpus).count() > 0
    dedup.ngram_jaccard_near_duplicates(corpus).count()


def test_line_and_span_dedup_survive(corpus):
    assert dedup.corpus_line_dedup(corpus).count() > 0
    assert dedup.exact_span_dedup(corpus).count() > 0


def test_incremental_dedup_survives(corpus):
    kept, ledger = dedup.incremental_exact_dedup(corpus)
    assert kept.count() > 0 and ledger.count() > 0
    kept2, ledger2 = dedup.incremental_minhash_dedup(corpus)
    assert kept2.count() > 0 and ledger2.count() > 0


def test_quality_exprs_survive(corpus):
    out = corpus.select(
        "doc_id",
        quality.stopword_ratio(F.col("text")).alias("sw"),
        quality.symbol_ratio(F.col("text")).alias("sym"),
        quality.dup_line_char_fraction(F.col("text")).alias("dup"),
        quality.first_fail_from_flags(
            quality.gopher_flags_udf()(F.col("text"))).alias("gate"),
    )
    # collect, not count: Catalyst prunes a count's projected columns, so a
    # count would evaluate none of the expressions or UDFs named here
    n = corpus.count()
    assert len(out.collect()) == n
    fr = corpus.select(quality.repetition_fracs_udf()(F.col("text")).alias("r"))
    assert len(fr.collect()) == n
    cl = corpus.select(quality.c4_line_clean(F.col("text")).alias("c"))
    assert len(cl.collect()) == n


def test_langid_and_segmentation_survive(corpus):
    lid = corpus.select(udfs.langid_label_udf(F.col("text")).alias("pred"))
    assert len(lid.collect()) == corpus.count()
    segment.vocabulary(corpus, top_n=50).count()


def test_sampling_survives(corpus):
    sampling.domain_cap(corpus, "domain", 2).count()


def test_stats_survive(corpus):
    sized = corpus.withColumn("n_chars", F.length("text"))
    assert len(textstats.size_stats(sized).collect()) == 1
    assert textstats.top_k(sized, "n_chars", 3, "doc_id").count() <= 3
