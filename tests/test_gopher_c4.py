"""Gopher gate / repetition battery, C4 line cleaning and PII redaction:
Spark Catalyst expressions vs pure-Python twins on planted and randomized
inputs. The corpus oracles check the aggregate surface; these pin
per-document semantics (tie-breaks, guards, rule order, chain order) on
inputs the synthetic corpus cannot produce."""

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.functions import pii, quality


# -- python twins -----------------------------------------------------------

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


TEXTS = [
    "b a b a c",
    "x y x y z w z w",                      # count tie: 'x y' must win over 'z w'
    "one two",                              # fewer than 3 words -> trigram 0.0
    "",
    "repeat me repeat me repeat me again and again and again",
    "all distinct words here nothing repeats at any order",
    "aa bb aa bb aa bb aa bb cc dd cc dd",
]


def test_top_and_dup_ngram_match_python(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i long, text string"
    )
    cols = ["i"]
    for n in (2, 3, 5):
        cols.append(F.round(quality.top_ngram_char_fraction(F.col("text"), n), 10).alias(f"t{n}"))
        cols.append(F.round(quality.dup_ngram_char_fraction(F.col("text"), n), 10).alias(f"d{n}"))
    got = {r["i"]: r for r in df.select(*cols).collect()}
    for i, t in enumerate(TEXTS):
        for n in (2, 3, 5):
            assert abs(got[i][f"t{n}"] - py_top_ngram(t, n)) < 1e-9, (i, n, t)
            assert abs(got[i][f"d{n}"] - py_dup_ngram(t, n)) < 1e-9, (i, n, t)


def test_ngram_fractions_randomized_vs_python(spark):
    rng = random.Random(41)
    vocab = ["spark", "data", "row", "the", "a", "join", "merge", "scan"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    cols = ["i"] + [
        F.round(quality.top_ngram_char_fraction(F.col("text"), n), 10).alias(f"t{n}")
        for n in range(2, 11)
    ] + [
        F.round(quality.dup_ngram_char_fraction(F.col("text"), n), 10).alias(f"d{n}")
        for n in range(2, 11)
    ]
    got = {r["i"]: r for r in df.select(*cols).collect()}
    for i, t in enumerate(texts):
        for n in range(2, 11):
            assert abs(got[i][f"t{n}"] - py_top_ngram(t, n)) < 1e-9, (i, n)
            assert abs(got[i][f"d{n}"] - py_dup_ngram(t, n)) < 1e-9, (i, n)


def test_repetition_fracs_udf_three_way_parity(spark):
    """The Arrow-fused battery (repetition_fracs_udf) must be BIT-identical
    to the Catalyst fold exprs and the Python twins on every planted edge
    case plus randomized texts -- exact ==, no tolerance: the UDF replays
    the fold's tokenization, tie-break, and double-addition order."""
    rng = random.Random(43)
    vocab = ["spark", "data", "row", "the", "a", "join", "merge", "scan"]
    texts = TEXTS + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 80)))
        for _ in range(40)
    ] + [None, "你好 世界 你好 世界 你好 世界 ascii token ascii token"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    fused = {
        r["i"]: r
        for r in df.select(
            "i", quality.repetition_fracs_udf()(F.col("text")).alias("g")
        ).select("i", "g.*").collect()
    }
    ns = sorted(quality.GOPHER_TOP_NGRAM_MAX) + sorted(quality.GOPHER_DUP_NGRAM_MAX)
    expr_cols = ["i"] + [
        quality.top_ngram_char_fraction(F.col("text"), n).alias(f"top{n}")
        for n in sorted(quality.GOPHER_TOP_NGRAM_MAX)
    ] + [
        quality.dup_ngram_char_fraction(F.col("text"), n).alias(f"dup{n}")
        for n in sorted(quality.GOPHER_DUP_NGRAM_MAX)
    ]
    exprs = {r["i"]: r for r in df.select(*expr_cols).collect()}
    for i, t in enumerate(texts):
        for f in quality.REPETITION_FIELDS:
            assert fused[i][f] == exprs[i][f], (i, f, t)
        if t:  # python twins (unicode-\w) only match on ascii-word texts
            if all(ord(c) < 128 for c in t):
                for n in sorted(quality.GOPHER_TOP_NGRAM_MAX):
                    assert abs(fused[i][f"top{n}"] - py_top_ngram(t, n)) < 1e-12
                for n in sorted(quality.GOPHER_DUP_NGRAM_MAX):
                    assert abs(fused[i][f"dup{n}"] - py_dup_ngram(t, n)) < 1e-12
    # the flag built from the struct equals the Catalyst flag expr
    flags = df.select(
        "i",
        quality.repetition_flag_from_fracs(
            quality.repetition_fracs_udf()(F.col("text"))
        ).alias("fu"),
        quality.gopher_repetition_flag(F.col("text")).alias("fc"),
    ).collect()
    for r in flags:
        assert bool(r["fu"] or False) == bool(r["fc"] or False), r["i"]


def test_gopher_first_fail_rule_order(spark):
    """One planted doc per rule, each failing exactly its rule first; plus a
    doc passing everything. Word counts are kept >= 50 downstream of the
    word-count rules so later rules are actually reached."""
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
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, text string"
    )
    got = {
        r["i"]: r["ff"]
        for r in df.select(
            "i", quality.gopher_first_fail(F.col("text")).alias("ff")
        ).collect()
    }
    for i, (_t, want) in enumerate(cases):
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
    """Gate-on vs gate-off pipeline runs over the same pages: already-
    dropped rows are untouched, keep=true rows failing the ladder (or the
    repetition battery) flip with exactly one appended 'gopher:*' reason,
    and passing rows are byte-identical. Thresholds are tuned so both the
    dropped and surviving sets are non-empty."""
    import __spark_entry__ as em
    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        PipelineConfig,
        QualityFilterPipeline,
    )

    pages = em._docs_as_pages(em._docs(spark, "/root/testdata/sf0.001"))
    base_cfg = PipelineConfig(langid=False, classify=False)
    gate_cfg = PipelineConfig(
        langid=False,
        classify=False,
        gopher_gate=True,
        gopher_opts={"min_words": 10},
        gopher_repetition_gate=True,
    )
    base = (
        QualityFilterPipeline(base_cfg)
        .transform(pages)
        .select("url", "keep", "drop_reasons", "clean_text")
    )
    gated = {
        r["url"]: r
        for r in QualityFilterPipeline(gate_cfg).transform(pages).collect()
    }
    expect = base.select(
        "url",
        "keep",
        "drop_reasons",
        quality.gopher_first_fail(F.col("clean_text"), min_words=10).alias("ff"),
        quality.gopher_repetition_flag(F.col("clean_text")).alias("rep"),
    ).collect()
    n_ladder, n_rep = 0, 0
    for r in expect:
        g = gated[r["url"]]
        if not r["keep"]:
            assert not g["keep"] and g["drop_reasons"] == r["drop_reasons"]
        elif r["ff"] is not None:
            assert not g["keep"]
            assert g["drop_reasons"] == r["drop_reasons"] + ["gopher:" + r["ff"]]
            n_ladder += 1
        elif r["rep"]:
            assert not g["keep"]
            assert g["drop_reasons"] == r["drop_reasons"] + ["gopher:repetition"]
            n_rep += 1
        else:
            assert g["keep"] and g["drop_reasons"] == r["drop_reasons"]
    assert n_ladder > 0
    assert any(g["keep"] for g in gated.values())


def test_gopher_ablation_consistent_with_first_fail(spark, sf_dir):
    """Structural invariants tying the ablation report to the ladder:
    n_failing >= first-fail attributions per rule, totals reconcile, and a
    doc with zero flags is exactly a ladder-NULL doc."""
    from pyspark.sql import functions as F

    from wikisource_latin_text_cleaner_spark.functions import quality
    from wikisource_latin_text_cleaner_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    abl = {r["rule"]: (r["n_failing"], r["n_sole_failure"])
           for r in textstats.gopher_ablation(docs, "text").collect()}
    flags = quality.gopher_rule_flags(F.col("text"))
    assert set(abl) == set(flags)
    ladder = (
        docs.select(quality.gopher_first_fail(F.col("text")).alias("r"))
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
    flagged_any = docs.where(
        __import__("functools").reduce(lambda a, b: a | b, flags.values())
    ).count()
    assert docs.count() - flagged_any == first_fail.get(None, 0)
