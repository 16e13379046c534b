"""Corpus vocabulary operator."""

from wikisource_latin_text_cleaner_spark.operators import segment


def test_vocabulary(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma")], "doc_id long, text string")
    v = {r.word: (r.n_occurrences, r.n_docs) for r in segment.vocabulary(df).collect()}
    assert v == {"alpha": (1, 1), "beta": (3, 2), "gamma": (1, 1)}
    top1 = segment.vocabulary(df, top_n=1).collect()
    assert [(r.word, r.n_occurrences) for r in top1] == [("beta", 3)]
    # frequency-only mode: same words/counts/order, no n_docs column, and
    # no count_distinct in the plan (the cheap shuffle shape)
    freq = segment.vocabulary(df, top_n=2, doc_counts=False)
    assert freq.columns == ["word", "n_occurrences"]
    assert [(r.word, r.n_occurrences) for r in freq.collect()] == [
        ("beta", 3), ("alpha", 1)]
    plan = freq._jdf.queryExecution().executedPlan().toString()
    assert "distinct" not in plan.lower()
