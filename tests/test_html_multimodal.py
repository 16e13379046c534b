"""HTML->text extraction tests."""

from wikisource_latin_text_cleaner_spark.functions import html as H


# -- pure-python extractor ---------------------------------------------------

def test_html_basic_strip():
    raw = b"<html><body><p>Salve  munde</p><div>alter   versus</div></body></html>"
    assert H.html_to_text(raw) == "Salve munde\nalter versus"


def test_html_script_style_comment_dropped():
    raw = (b"<style>p{color:red}</style><script>var x=1;</script>"
           b"<!-- hidden -->\n<p>textus</p>")
    assert H.html_to_text(raw) == "textus"


def test_html_entities_unescaped():
    assert H.html_to_text(b"<p>a &amp; b &lt;c&gt; &quot;d&quot;</p>") == 'a & b <c> "d"'


def test_html_inline_tags_no_newline():
    assert H.html_to_text(b"<p><b>fortis</b> <i>miles</i></p>") == "fortis miles"


def test_html_empty_and_none():
    assert H.html_to_text(b"") == ""
    assert H.html_to_text(None) == ""


def test_html_escape_round_trip():
    text = "prima linea\nsecunda  cum   spatiis\n\n& <tag> finis"
    expected = "prima linea\nsecunda cum spatiis\n& <tag> finis"
    assert H.html_to_text(H.escape_text_as_html(text).encode()) == expected


def test_html_udf_over_synth_corpus(spark):
    from wikisource_latin_text_cleaner_spark.sources import synth

    pages = synth.pages_dataframe(spark, 50, seed=11, partitions=4)
    out = pages.select(H.html_to_text_udf("html").alias("extracted")).collect()
    assert len(out) == 50
    # synth html wraps the text body; extraction must recover real content
    assert all(r.extracted for r in out)
    # deterministic across runs
    out2 = pages.select(H.html_to_text_udf("html").alias("extracted")).collect()
    assert [r.extracted for r in out] == [r.extracted for r in out2]


def test_pipeline_html_fallback(spark):
    """Rows with null text derive it from the html column; rows with text
    are untouched; rows with neither drop as null_text."""
    from pyspark.sql import functions as F

    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        PipelineConfig,
        QualityFilterPipeline,
    )
    from wikisource_latin_text_cleaner_spark.sources import synth

    pages = synth.pages_dataframe(spark, 60, seed=13, partitions=4)
    # null out text for half the rows (html still carries the content)
    mixed = pages.withColumn(
        "text", F.when(F.pmod(F.xxhash64("url"), F.lit(2)) == 0, F.col("text"))
    ).union(
        spark.createDataFrame(
            [("u-none", None, None, None, "la")],
            schema=synth.PAGES_SCHEMA_DDL,
        )
    )
    pipe = QualityFilterPipeline(
        PipelineConfig(langid=False, classify=False, html_fallback=True)
    )
    out = pipe.transform(mixed)
    rows = {r.url: r for r in out.collect()}
    assert rows["u-none"].drop_reasons == ["null_text"]
    # every synth row got SOME text path (none dropped as null_text)
    assert all(r.drop_reasons != ["null_text"] for u, r in rows.items() if u != "u-none")
    # html-derived rows go through the same scrub; plenty survive
    assert sum(1 for r in rows.values() if r.keep) > 10


# -- robots meta directives ----------------------------------------------------

def _robots_df(spark):
    rows = [
        (1, b'<head><meta name="robots" content="noindex, nofollow"></head>'),
        (2, b"<head><meta name='robots' content='noindex'></head>"),
        # attribute order reversed: content before name
        (3, b'<head><meta content="nofollow" name="robots"></head>'),
        # non-robots meta must not match
        (4, b'<head><meta name="viewport" content="noindex"></head>'),
        # directive word in body text only -- not a meta tag
        (5, b"<body>please noindex this</body>"),
        (6, None),
        # unquoted attribute value + mixed case
        (7, b"<META NAME=ROBOTS CONTENT=NOINDEX>"),
    ]
    return spark.createDataFrame(rows, "doc_id long, html binary")


def test_meta_robots_flags(spark):
    from pyspark.sql import functions as F

    df = _robots_df(spark)
    got = {
        r["doc_id"]: (r["f"]["noindex"], r["f"]["nofollow"])
        for r in df.select(
            "doc_id", H.meta_robots_flags(F.col("html")).alias("f")
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[2] == (True, False)
    assert got[3] == (False, True)
    assert got[4] == (False, False)
    assert got[5] == (False, False)
    assert got[6] == (False, False)
    assert got[7] == (True, False)


def test_drop_meta_noindex(spark):
    kept = H.drop_meta_noindex(_robots_df(spark))
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 4, 5, 6]


def test_meta_robots_plan_is_jvm_only(spark):
    from pyspark.sql import functions as F

    df = _robots_df(spark).select(H.meta_robots_flags(F.col("html")).alias("f"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


# -- main-content block extraction --------------------------------------------

PAGE = (
    b'<html><body>'
    b'<div class="nav"><a href="/">home</a> <a href="/a">about</a> '
    b'<a href="/c">contact our team</a></div>'
    b'<p>gallia est omnis divisa in partes tres quarum unam</p>'
    b'<p>ok</p>'
    b'<div>see also <a href="/x">alpha beta gamma delta epsilon zeta</a></div>'
    b'<p>arma virumque cano troiae qui primus ab oris</p>'
    b'<footer>&copy; 2026 <a href="/t">terms</a></footer>'
    b'</body></html>'
)


def test_main_content_keeps_prose_drops_boilerplate():
    text, kept, total = H.extract_main_content(PAGE)
    assert text == (
        "gallia est omnis divisa in partes tres quarum unam\n"
        "arma virumque cano troiae qui primus ab oris"
    )
    assert (kept, total) == (2, 6)


def test_main_content_block_scores():
    blocks = H.main_content_blocks(PAGE)
    texts = [b[0] for b in blocks]
    assert texts[0] == "home about contact our team"
    # nav: all text is anchor text except the 2 inter-anchor spaces (25/27)
    assert blocks[0][2] == 25 / 27
    # "see also <a>six words</a>": 8 words but anchor-dominated
    see_also = next(b for b in blocks if b[0].startswith("see also"))
    assert see_also[1] == 8 and see_also[2] > 0.5
    # prose blocks carry zero link chars
    assert blocks[1] == ("gallia est omnis divisa in partes tres quarum unam", 9, 0.0)


def test_main_content_link_density_boundary():
    # 5 words, anchor text exactly half the chars -> density 0.5 is KEPT
    page = b"<p>aaaa bbbb <a href='/'>cccc dddd e</a>x</p>"
    blocks = H.main_content_blocks(page)
    (text, words, ld), = blocks
    assert text == "aaaa bbbb cccc dddd ex"
    assert words == 5 and ld == 0.5
    out, kept, total = H.extract_main_content(page)
    assert kept == 1 and out == text


def test_main_content_adversarial_inputs():
    assert H.extract_main_content(None) == ("", 0, 0)
    assert H.extract_main_content(b"") == ("", 0, 0)
    assert H.extract_main_content(b"no tags at all but six words here") == (
        "no tags at all but six words here", 1, 1)
    # unclosed anchor: no </a> match -> counts as plain text, not link
    t, k, n = H.extract_main_content(b"<p>one two three four <a href='/'>five six</p>")
    assert t == "one two three four five six" and (k, n) == (1, 1)
    # invalid utf-8 decodes with replacement, never throws
    t, k, n = H.extract_main_content(b"<p>\xff\xfe valid words follow here now</p>")
    assert k == 1


def test_pipeline_main_content_extractor(spark):
    """html_extractor='main_content' strips boilerplate blocks during the
    fallback; 'simple' keeps them; rows that already have text never touch
    either extractor; unknown names fail loudly."""
    import pytest as _pytest

    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        PipelineConfig,
        QualityFilterPipeline,
    )
    from wikisource_latin_text_cleaner_spark.sources import synth

    prose = (
        "gallia est omnis divisa in partes tres quarum unam incolunt belgae "
        "aliam aquitani tertiam qui ipsorum lingua celtae nostra galli "
        "appellantur hi omnes lingua institutis legibus inter se differunt "
        "gallos ab aquitanis garumna flumen a belgis matrona et sequana "
        "dividit horum omnium fortissimi sunt belgae propterea quod a cultu "
        "atque humanitate provinciae longissime absunt minimeque ad eos "
        "mercatores saepe commeant atque ea quae ad effeminandos animos "
        "pertinent important proximique sunt germanis qui trans rhenum "
        "incolunt quibuscum continenter bellum gerunt"
    )
    page = (
        '<html><body><div class="nav"><a href="/">home</a> <a href="/a">about'
        '</a> <a href="/c">contact us now</a></div>'
        f"<p>{prose}</p>"
        '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'
        "</body></html>"
    ).encode()
    rows = [("u-html", None, page, None, "la"),
            ("u-text", None, page, prose + " iam habeo textum", "la")]
    pages = spark.createDataFrame(rows, schema=synth.PAGES_SCHEMA_DDL)

    def run(extractor):
        pipe = QualityFilterPipeline(PipelineConfig(
            langid=False, classify=False,
            html_fallback=True, html_extractor=extractor,
        ))
        return {r.url: r for r in pipe.transform(pages).collect()}

    main = run("main_content")
    simple = run("simple")
    # boilerplate stripped on the main-content path only
    assert "home about" not in main["u-html"].clean_text
    assert prose.split()[0] in main["u-html"].clean_text
    assert "home about" in simple["u-html"].clean_text
    # rows that already have text bypass extraction identically
    assert main["u-text"].clean_text == simple["u-text"].clean_text
    with _pytest.raises(ValueError, match="html_extractor"):
        run("tarfilatura")
