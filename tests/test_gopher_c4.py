"""Gopher ladder / repetition battery, C4 line cleaning and PII redaction:
the engine's definitions (pure Python in rules.py, wrapped as pandas UDFs in
quality.py; Catalyst expressions for C4 and PII) against brute-force
twins and planted inputs. The corpus oracles check the aggregate surface;
these pin per-document semantics (tie-breaks, guards, tokenization, rule
order, chain order) on inputs the synthetic corpus cannot produce."""

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.functions import pii, quality, rules


# -- brute-force twins ------------------------------------------------------

def py_top_ngram(t: str, n: int) -> float:
    ws = re.findall(r"\w+", t.lower())
    grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
    if not grams or not t:
        return 0.0
    c = Counter(grams)
    gram, cnt = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    return cnt * len(gram) / len(t)


def py_dup_ngram(t: str, n: int) -> float:
    ws = re.findall(r"\w+", t.lower())
    grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
    if not grams or not t:
        return 0.0
    c = Counter(grams)
    return sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2) / len(t)


NS_TOP = sorted(rules.GOPHER_TOP_NGRAM_MAX)
NS_DUP = sorted(rules.GOPHER_DUP_NGRAM_MAX)


def py_fracs(t: str | None) -> tuple:
    """The nine battery fractions, brute force, in REPETITION_FIELDS order
    (python's unicode \\w: only valid on ASCII-word texts)."""
    if t is None:
        return (0.0,) * len(rules.REPETITION_FIELDS)
    return tuple([py_top_ngram(t, n) for n in NS_TOP]
                 + [py_dup_ngram(t, n) for n in NS_DUP])


TEXTS = [
    "b a b a c",
    "x y x y z w z w",                      # count tie: 'x y' must win over 'z w'
    "one two",                              # fewer than 3 words -> trigram 0.0
    "",
    "repeat me repeat me repeat me again and again and again",
    "all distinct words here nothing repeats at any order",
    "aa bb aa bb aa bb aa bb cc dd cc dd",
]

#: Java \w is ASCII-only, so only "ascii token ascii token" tokenizes
#: (text length 41): top2 'ascii token' x2, top3 a count tie won by the
#: smaller 'ascii token ascii', top4 the whole tail, too few words for dup
CJK = "你好 世界 你好 世界 你好 世界 ascii token ascii token"
CJK_FRACS = (2 * 11 / 41, 17 / 41, 23 / 41) + (0.0,) * len(NS_DUP)


def udf_fracs(spark, texts) -> dict:
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    g = quality.repetition_fracs_udf()(F.col("text"))
    return {r["i"]: tuple(r["g"][f] for f in rules.REPETITION_FIELDS)
            for r in df.select("i", g.alias("g")).collect()}


def test_top_and_dup_ngram_match_python(spark):
    """The repetition battery, direct and through repetition_fracs_udf
    (bit-identical), on the planted tie, guard, empty, NULL and CJK cases
    against the brute-force twins."""
    texts = TEXTS + [None, CJK]
    want = [py_fracs(t) for t in TEXTS] + [py_fracs(None), CJK_FRACS]
    via_udf = udf_fracs(spark, texts)
    for i, t in enumerate(texts):
        got = rules._repetition_fracs_py(t)
        assert via_udf[i] == got, (i, t)
        for f, g, w in zip(rules.REPETITION_FIELDS, got, want[i]):
            assert abs(g - w) < 1e-12, (i, f, t)


def test_ngram_fractions_randomized_vs_python(spark):
    rng = random.Random(41)
    vocab = ["spark", "data", "row", "the", "a", "join", "merge", "scan"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        for _ in range(40)
    ]
    via_udf = udf_fracs(spark, texts)
    for i, t in enumerate(texts):
        assert via_udf[i] == rules._repetition_fracs_py(t), i
        for f, g, w in zip(rules.REPETITION_FIELDS, via_udf[i], py_fracs(t)):
            assert abs(g - w) < 1e-9, (i, f)


def test_repetition_flag_matches_battery(spark):
    """The repetition verdict, as rules.repetition_fails and as
    repetition_flag_from_fracs over the UDF struct, is 'any brute-force
    fraction above its bound', on planted and randomized texts with both
    outcomes present."""
    rng = random.Random(43)
    vocab = ["spark", "data", "row", "the", "a", "join", "merge", "scan"]
    texts = TEXTS + [None, CJK] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 80)))
        for _ in range(40)
    ] + [" ".join(f"w{i}" for i in range(60))]
    bounds = ([rules.GOPHER_TOP_NGRAM_MAX[n] for n in NS_TOP]
              + [rules.GOPHER_DUP_NGRAM_MAX[n] for n in NS_DUP])
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    flag = quality.repetition_flag_from_fracs(
        quality.repetition_fracs_udf()(F.col("text")))
    via_udf = {r["i"]: r["f"] for r in df.select("i", flag.alias("f")).collect()}
    seen = set()
    for i, t in enumerate(texts):
        fracs = CJK_FRACS if t == CJK else py_fracs(t)
        want = any(f > b for f, b in zip(fracs, bounds))
        assert rules.repetition_fails(t) == want == via_udf[i], (i, t)
        seen.add(want)
    assert seen == {True, False}


def test_gopher_first_fail_rule_order(spark):
    """One planted doc per rule, each failing exactly its rule first; plus a
    doc passing everything, checked on rules.gopher_first_fail and on the
    CASE over gopher_flags_udf. Word counts are kept >= 50 downstream of
    the word-count rules so later rules are actually reached. Words split
    on Java \\s only: an em space joins, a vertical tab splits."""
    fifty = " ".join(["word the a nice text"] * 12)          # 60 words, has stopwords
    cases = [
        ("short text here.", "too_few_words"),
        (" ".join(["pad"] * 100_001), "too_many_words"),
        (" ".join(["a"] * 60), "word_length"),               # mean word len 1
        (" ".join(["word"] * 50 + ["####"] * 12), "symbol_ratio"),
        ("\n".join(["- item number five six seven"] * 10), "bullet_lines"),
        ("\n".join(["plain words line here okay extra more"] * 6 + ["ending with dots and more here..."] * 4), "ellipsis_lines"),
        (" ".join(["word"] * 30 + ["1234"] * 25), "alpha_words"),
        (" ".join(["zzzz"] * 60), "stopwords"),
        (fifty, None),
        (fifty.replace(" ", "\u2003"), "too_few_words"),     # one 'word'
        (fifty.replace(" ", "\x0b"), None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, text string"
    )
    flags = quality.gopher_flags_udf()(F.col("text"))
    got = {
        r["i"]: r["ff"]
        for r in df.select(
            "i", quality.first_fail_from_flags(flags).alias("ff")
        ).collect()
    }
    for i, (t, want) in enumerate(cases):
        assert rules.gopher_first_fail(t) == want, (i, want)
        assert got[i] == want, (i, got[i], want)


def test_c4_line_clean_and_poison(spark):
    page = "\n".join(
        [
            "This is a good sentence here.",
            "short.",
            "No terminal punctuation line",
            "This mentions JavaScript heavily.",
            "  Another fine long sentence!  ",
        ]
    )
    df = spark.createDataFrame([(page,), ("uses { brace",), ("has Lorem Ipsum inside",)], "text string")
    rows = df.select(
        quality.c4_line_clean(F.col("text")).alias("c"),
        quality.c4_doc_poisoned(F.col("text")).alias("p"),
    ).collect()
    assert rows[0]["c"]["text"] == "This is a good sentence here.\nAnother fine long sentence!"
    assert rows[0]["c"]["n_kept"] == 2
    assert not rows[0]["p"]
    assert rows[1]["p"] and rows[2]["p"]


def test_pii_redact_matches_python_scrub(spark):
    texts = [
        "write to First.Last+tag@sub.example.co.uk today",
        "see HTTPS://Example.COM/path?q=1 and www.Example.ORG/x",
        "server at 10.0.0.1 responded",
        "card 4111 1111 1111 1111 expired",
        "call +44 20 7946 0958 now",
        "ref 123456789012 in the system",
        "all clean text with no pii at all",
        "mix a@b.io http://x.io 1.2.3.4 4111-1111-1111-1111 +1 555 0199 2811 987654321",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    red, hits = pii.redact_columns(F.col("text"))
    got = {
        r["i"]: (r["red"], r["hits"])
        for r in df.select("i", red.alias("red"), hits.alias("hits")).collect()
    }
    for i, t in enumerate(texts):
        want_text, counts = pii.scrub_pii(t)
        assert got[i][0] == want_text, (i, got[i][0], want_text)
        assert got[i][1] == sum(counts.values()), (i, got[i][1], counts)


def test_pipeline_gopher_gates_differential(spark):
    """Gate-on vs gate-off pipeline runs over the same pages, the gated run
    also blocking one URL domain. Already-dropped rows are untouched. A
    kept row on the blocked domain gets exactly 'url_blocklist' and no
    Gopher reason, even when it fails a Gopher rule. Other kept rows
    failing the ladder (or, passing it, the repetition battery) flip with
    exactly one appended 'gopher:*' reason, and passing rows are unchanged.
    Expectations come from the rules functions on the gate-off run's
    clean_text. Thresholds are tuned so both the dropped and surviving sets
    are non-empty."""
    import __spark_entry__ as em
    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        PipelineConfig,
        QualityFilterPipeline,
    )

    # urls doc://site0<k>.example/<doc_id>: four registrable domains
    docs = em._docs(spark, "/root/testdata/sf0.001").withColumn(
        "source", F.format_string("site%02d.example", F.col("doc_id") % 4))
    pages = em._docs_as_pages(docs)
    base_cfg = PipelineConfig(langid=False, classify=False)
    gate_cfg = PipelineConfig(
        langid=False,
        classify=False,
        gopher_opts={"min_words": 10},
        gopher_repetition_gate=True,
        url_blocklist=("site00.example",),
    )
    base = (
        QualityFilterPipeline(base_cfg)
        .transform(pages)
        .select("url", "keep", "drop_reasons", "clean_text")
        .collect()
    )
    gated = {
        r["url"]: r
        for r in QualityFilterPipeline(gate_cfg).transform(pages).collect()
    }
    n_ladder, n_blocked_failing = 0, 0
    for r in base:
        g = gated[r["url"]]
        assert g["clean_text"] == r["clean_text"]
        if not r["keep"]:
            assert not g["keep"] and g["drop_reasons"] == r["drop_reasons"]
            continue
        ff = rules.gopher_first_fail(r["clean_text"], min_words=10)
        rep = rules.repetition_fails(r["clean_text"])
        if r["url"].startswith("doc://site00.example/"):
            assert not g["keep"]
            assert g["drop_reasons"] == r["drop_reasons"] + ["url_blocklist"]
            n_blocked_failing += ff is not None or rep
        elif ff is not None:
            assert not g["keep"]
            assert g["drop_reasons"] == r["drop_reasons"] + ["gopher:" + ff]
            n_ladder += 1
        elif rep:
            assert not g["keep"]
            assert g["drop_reasons"] == r["drop_reasons"] + ["gopher:repetition"]
        else:
            assert g["keep"] and g["drop_reasons"] == r["drop_reasons"]
    assert n_ladder > 0 and n_blocked_failing > 0
    assert any(g["keep"] for g in gated.values())


def test_gopher_ablation_consistent_with_first_fail(spark, sf_dir):
    """Structural invariants tying the ablation report to the ladder:
    n_failing >= first-fail attributions per rule, totals reconcile, and a
    doc with zero flags is exactly a ladder-NULL doc."""
    from functools import reduce

    from wikisource_latin_text_cleaner_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    abl = {r["rule"]: (r["n_failing"], r["n_sole_failure"])
           for r in textstats.gopher_ablation(docs, "text").collect()}
    assert set(abl) == set(rules.GOPHER_RULES)
    flagged = docs.select(quality.gopher_flags_udf()(F.col("text")).alias("f"))
    ladder = (
        flagged.select(quality.first_fail_from_flags(F.col("f")).alias("r"))
        .groupBy("r").count().collect()
    )
    first_fail = {row["r"]: row["count"] for row in ladder}
    for rule, (n_fail, n_sole) in abl.items():
        assert 0 <= n_sole <= n_fail
        # every first-fail attribution is a failure of that rule
        assert first_fail.get(rule, 0) <= n_fail
        # a sole failure is always attributed to itself by the ladder
        assert n_sole <= first_fail.get(rule, 0)
    # docs with no failing rule == ladder NULLs
    flagged_any = flagged.where(
        reduce(lambda a, b: a | b, [F.col("f")[r] for r in rules.GOPHER_RULES])
    ).count()
    assert docs.count() - flagged_any == first_fail.get(None, 0)


def test_gopher_oracle_word_split_is_java_space():
    """The Gopher oracles' SQL word split (``_GOPHER_FEAT_CTES``) is the
    engine's Java ``\\s``, which unlike RE2's ``\\s`` holds the vertical tab."""
    import duckdb

    import __spark_entry__ as entry_mod

    texts = ["\x0ba\x0bb c", "one\ttwo\x0cthree\r\nfour", "x\x0b\x0by",
             "  lead and trail  ", ""]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    got = dict(con.execute(
        f"WITH {entry_mod._GOPHER_FEAT_CTES} SELECT doc_id, nw FROM feat"
    ).fetchall())
    assert got == {i: len([w for w in rules._JAVA_SPACE.split(t) if w])
                   for i, t in enumerate(texts)}
