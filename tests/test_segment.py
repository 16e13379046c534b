"""Passage segmentation + vocabulary operators."""

from wikisource_latin_text_cleaner_spark.operators import segment


def test_fixed_char_chunks_reassemble(spark):
    rows = [(1, "a" * 1200), (2, "b" * 512), (3, "c" * 5), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = segment.fixed_char_chunks(df, width=512).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk
    # reassembly is lossless, indices dense
    assert "".join(by_doc[1][i] for i in sorted(by_doc[1])) == "a" * 1200
    assert list(sorted(by_doc[1])) == [0, 1, 2]
    assert by_doc[2] == {0: "b" * 512}
    assert by_doc[3] == {0: "c" * 5}
    assert 4 not in by_doc  # empty doc -> no chunks


def test_sentence_packed_chunks(spark):
    text = " ".join(f"sentence number {i} has exactly six words." for i in range(20))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(segment.sentence_packed_chunks(df, max_tokens=20).collect(),
                 key=lambda r: r.chunk_idx)
    # no chunk exceeds the budget; no sentence is split (chunks end with '.')
    for r in out:
        assert len(r.chunk.split()) <= 20
        assert r.chunk.endswith(".")
    # lossless modulo whitespace
    assert " ".join(r.chunk for r in out).split() == text.split()


def test_sentence_packing_oversized_sentence(spark):
    # a single sentence larger than the budget still emits (never dropped)
    df = spark.createDataFrame([(1, "w " * 100 + "end.")], "doc_id long, text string")
    out = segment.sentence_packed_chunks(df, max_tokens=10).collect()
    assert len(out) == 1 and out[0].chunk.split()[-1] == "end."


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
