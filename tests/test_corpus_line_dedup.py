"""Corpus-level duplicate-line removal (dedup.corpus_line_dedup).

Planted-fixture tests against a pure-Python re-implementation of both
published rules (CCNet drop-all, C4 keep-first), plus structural
guarantees: blanks survive, untouched docs are byte-identical, fully
boilerplate docs stay in the corpus with empty text, and the physical
plan broadcasts the heavy set and stays Python-free.
"""

import pytest
from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.operators import dedup


DOCS = [
    # doc 1: unique body + the global footer + a blank line
    (1, "alpha body one\nAll rights reserved.\n\nunique tail 1"),
    # doc 2: footer appears FIRST here by (id,pos)? no -- doc 1 pos 1 wins.
    (2, "All rights reserved.\nbeta body two\nSubscribe now!\nunique tail 2"),
    # doc 3: both boilerplate lines, plus whitespace-only line (structural)
    (3, "Subscribe now!\ngamma body three\n   \nAll rights reserved."),
    # doc 4: 100% boilerplate -> empty text under drop-all, must NOT vanish
    (4, "All rights reserved.\nSubscribe now!"),
    # doc 5: no heavy lines at all -> must pass through byte-identical,
    # including its own internally-repeated line (count 2 corpus-wide? no:
    # "solo line" appears twice IN THIS DOC, so corpus count IS 2)
    (5, "solo line\nsolo line\ndistinct tail 5"),
    # doc 6: completely untouched
    (6, "zeta body six\ndistinct tail 6"),
]


def _py_corpus_line_dedup(rows, min_count, keep_first):
    from collections import Counter

    cnt = Counter()
    for _id, text in rows:
        for ln in text.split("\n"):
            if ln.strip() != "":
                cnt[ln] += 1
    heavy = {ln for ln, c in cnt.items() if c >= min_count}
    first = {}
    for _id, text in sorted(rows):
        for pos, ln in enumerate(text.split("\n")):
            if ln in heavy and ln not in first:
                first[ln] = (_id, pos)
    out = {}
    for _id, text in rows:
        kept = []
        for pos, ln in enumerate(text.split("\n")):
            if ln.strip() != "" and ln in heavy:
                if keep_first and first[ln] == (_id, pos):
                    kept.append(ln)
                continue
            kept.append(ln)
        out[_id] = "\n".join(kept)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.mark.parametrize("keep_first", [False, True])
@pytest.mark.parametrize("min_count", [2, 3])
def test_matches_python_reference(spark, docs_df, keep_first, min_count):
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(
            docs_df, min_count=min_count, keep_first=keep_first
        ).collect()
    }
    want = _py_corpus_line_dedup(DOCS, min_count, keep_first)
    assert got == want


def test_drop_all_semantics(spark, docs_df):
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(docs_df, min_count=2).collect()
    }
    # every occurrence of both boilerplate lines is gone
    for text in got.values():
        assert "All rights reserved." not in text
        assert "Subscribe now!" not in text
    # doc 5's internally-repeated line hits corpus count 2 -> dropped
    assert got[5] == "distinct tail 5"
    # blanks/whitespace-only lines survive in place
    assert got[1] == "alpha body one\n\nunique tail 1"
    assert got[3] == "gamma body three\n   "
    # fully-boilerplate doc keeps its row with empty text
    assert got[4] == ""
    # untouched doc byte-identical
    assert got[6] == DOCS[5][1]
    assert set(got) == {1, 2, 3, 4, 5, 6}


def test_keep_first_keeps_exactly_one(spark, docs_df):
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(
            docs_df, min_count=2, keep_first=True
        ).collect()
    }
    joined = "\n".join(got[k] for k in sorted(got))
    assert joined.count("All rights reserved.") == 1
    assert joined.count("Subscribe now!") == 1
    # first occurrence by (doc_id, pos): doc 1 pos 1 / doc 2 pos 2
    assert "All rights reserved." in got[1]
    assert "Subscribe now!" in got[2]
    # doc 5: first "solo line" (pos 0) survives, second drops
    assert got[5] == "solo line\ndistinct tail 5"


def test_min_count_above_max_is_noop(spark, docs_df):
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.corpus_line_dedup(docs_df, min_count=10).collect()
    }
    assert got == dict(DOCS)


def test_other_columns_and_schema_preserved(spark):
    df = spark.createDataFrame(
        [(1, "x\nshared", "en", 7), (2, "shared\ny", "la", 8)],
        "doc_id long, text string, lang string, extra long",
    )
    out = dedup.corpus_line_dedup(df, min_count=2)
    assert out.columns == df.columns
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["lang"] == "en" and rows[1]["extra"] == 7
    assert rows[1]["text"] == "x" and rows[2]["text"] == "y"


def test_plan_broadcasts_heavy_set_and_is_python_free(spark, docs_df):
    plan = (
        dedup.corpus_line_dedup(docs_df, min_count=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --- exact duplicated-span removal (Lee et al. 2021) -----------------------

def _span_dedup_py(rows, g):
    """From-scratch ExactSubstr oracle over the \\w+ lowercase stream."""
    import re
    from collections import defaultdict

    toks = {i: re.findall(r"\w+", (t or "").lower()) for i, t in rows}
    occs = defaultdict(list)
    for i in sorted(toks):
        w = toks[i]
        for p in range(len(w) - g + 1):
            occs[" ".join(w[p:p + g])].append((i, p))
    marked = defaultdict(set)
    for key, lst in occs.items():
        if len(lst) > 1:
            for (i, p) in sorted(lst)[1:]:
                marked[i].update(range(p, p + g))
    out = {}
    for i, w in toks.items():
        kept = [x for j, x in enumerate(w) if j not in marked[i]]
        out[i] = (" ".join(kept), len(w) - len(kept))
    return out


def test_exact_span_dedup_matches_python_oracle(spark):
    """Planted shared passage + within-doc repeat + random fillers: keep
    first occurrence globally, remove the rest, exact word counts."""
    from wikisource_latin_text_cleaner_spark.operators import dedup
    import random

    rng = random.Random(5)
    vocab = ["w%03d" % i for i in range(150)]
    passage = " ".join(rng.choice(vocab) for _ in range(20))
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(20)]
    rows += [
        (20, f"start filler words {passage} end bits"),
        (21, f"{passage} trailing other text here now"),
        (22, f"{passage} middle junk {passage}"),
        (23, "tiny doc"),
        (24, ""),
        (25, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.kept_text, r.n_removed_words)
           for r in dedup.exact_span_dedup(df, g=13).collect()}
    want = _span_dedup_py(rows, 13)
    assert got == want
    assert got[20][1] == 0, "globally first copy survives"
    assert got[21][1] >= 20 and got[22][1] >= 40, "later copies removed"
    assert got[23] == ("tiny doc", 0) and got[24] == ("", 0) and got[25] == ("", 0)


def test_exact_span_dedup_persist_explodes_once(spark, tmp_path):
    """The exploded window frame feeds both the key stats and the
    join-back; cached, the corpus explodes once."""
    from wikisource_latin_text_cleaner_spark.operators import dedup

    rows = [(i, " ".join("tok%d%d" % (i % 4, j) for j in range(30)))
            for i in range(40)]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    d = spark.read.parquet(path)
    out_p = dedup.exact_span_dedup(d)
    plan_p = out_p._jdf.queryExecution().executedPlan().toString()
    # occ cache read on both consumers inside starts, and the starts
    # cache read by both union branches (its inline-printed child plan
    # re-lists the occ scans, hence >= 4 in the plan string)
    assert plan_p.count("InMemoryTableScan") >= 4, plan_p
    got = {r.doc_id: (r.kept_text, r.n_removed_words) for r in out_p.collect()}
    assert got == _span_dedup_py(rows, 13)
    with pytest.raises(ValueError, match="g must be"):
        dedup.exact_span_dedup(d, g=1)
