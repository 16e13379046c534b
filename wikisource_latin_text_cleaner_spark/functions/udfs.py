"""Arrow-batched pandas UDFs binding the pure-Python cores to Spark.

Per BASELINE.json:input_hint all Python execution is vectorized pandas/Arrow
UDFs -- each UDF here receives a ``pd.Series`` per Arrow batch (no
row-at-a-time Spark Python UDFs anywhere in the engine). The regex batteries
compile once per executor at module import (the Spark analog of the
reference's precompile-once singleton, Text Cleaner/optimized_regex_patterns.py:11-14,185-186).

The scrub and fused UDFs intentionally keep Python ``re`` semantics (not
Catalyst ``regexp_replace``) because byte-identical output per url is a
contract (SURVEY.md §4.3-2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from . import classify, langid, perplexity, pii, rules, scrub

#: scrub stage name -> function, in canonical composition order
#: (ref steps 3,4,5,6 -- Text Cleaner/clean_texts_v2.py:242-251)
SCRUB_STAGES = (
    ("content", scrub.stage_content),
    ("headings", scrub.stage_headings),
    ("orthography", scrub.stage_orthography),
    ("final", scrub.stage_final),
)


def make_scrub_stages_udf(stages: tuple):
    """UDF applying a SUBSET of scrub stages in canonical order -- the
    engine's analog of the reference's step-suffix re-run (--steps 4,5,6,
    Text Cleaner/clean_texts_v2.py:195-211): re-process a table whose text
    column already holds an intermediate stage's output. One fused
    ArrowEvalPython stage regardless of how many stages are selected."""
    known = {name for name, _ in SCRUB_STAGES}
    unknown = set(stages) - known
    if unknown:
        raise ValueError(f"unknown scrub stages {sorted(unknown)}; "
                         f"choose from {sorted(known)}")
    fns = [fn for name, fn in SCRUB_STAGES if name in stages]

    @pandas_udf(StringType())
    def scrub_stages_udf(texts: pd.Series) -> pd.Series:
        def run(t):
            t = t or ""
            for fn in fns:
                t = fn(t)
            return t

        return texts.map(run)

    return scrub_stages_udf


@pandas_udf(StringType())
def langid_label_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(langid.predict_batch(texts))


@pandas_udf(DoubleType())
def perplexity_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(perplexity.perplexity_batch(texts))


@pandas_udf(DoubleType())
def toxicity_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: pii.toxicity_score(t or ""))


#: drop reasons the fused UDF appends after the rule verdict
LANGID_REASON = "langid"
PERPLEXITY_REASON = "perplexity"

FUSED_SCHEMA = StructType([
    StructField("keep", BooleanType()),
    StructField("drop_reasons", ArrayType(StringType())),
    StructField("clean_text", StringType()),
    StructField("period", StringType()),
    StructField("genre", StringType()),
    StructField("confidence", StringType()),
    StructField("lang_pred", StringType()),
    StructField("lang_margin", DoubleType()),
    StructField("ppx", DoubleType()),
    StructField("pii_spans", IntegerType()),
    StructField("rule_hits", MapType(StringType(), IntegerType())),
    StructField("gopher_fail", StringType()),
])


def make_fused_udf(
    min_size_bytes: int = rules.MIN_SIZE_BYTES,
    extensions: rules.ExtensionConfig | None = None,
    classify_on: bool = True,
    langid_on: bool = True,
    allowed_langs: tuple = ("la",),
    ppx_threshold: float | None = None,
    pii_on: bool = False,
    rule_metrics: bool = False,
    gopher_opts: dict | None = None,
    gopher_repetition: bool = False,
):
    """Single-pass UDF computing the whole per-document pipeline.

    Composes verdict -> classify -> langid -> perplexity -> pii -> Gopher
    per document, so the text crosses the JVM<->Python Arrow boundary
    exactly once, in one ArrowEvalPython stage with one Python worker pool.
    Fields for disabled components are null.

    The Gopher gates run only on rows still kept, over the PII-scrubbed
    clean text: the quality ladder (``rules.gopher_first_fail`` with
    ``gopher_opts`` as its options; None = off, ``{}`` = paper defaults)
    first, then, with ``gopher_repetition``, the repetition battery.
    ``gopher_fail`` holds the first failing rule name (or
    ``rules.GOPHER_REPETITION``), else null. The verdict fields do not
    reflect it: the pipeline applies it after its URL gate.
    """

    @pandas_udf(FUSED_SCHEMA)
    def fused_udf(texts: pd.Series) -> pd.DataFrame:
        out: dict = {k: [] for k in (
            "keep", "drop_reasons", "clean_text", "period", "genre",
            "confidence", "lang_pred", "lang_margin", "ppx", "pii_spans",
            "rule_hits", "gopher_fail",
        )}
        for t in texts:
            v = rules.evaluate_document(t, min_size_bytes, extensions,
                                        collect_rule_hits=rule_metrics)
            keep, reasons, cleaned = v.keep, list(v.drop_reasons), v.clean_text
            period = genre = conf = None
            if classify_on:
                c = classify.classify_document(t or "")
                period, genre, conf = c["period"], c["genre"], c["confidence"]
            lang_pred, lang_margin = None, None
            if langid_on:
                lang_pred, lang_margin = langid.predict(cleaned or "")
                if keep and lang_pred not in allowed_langs:
                    reasons.append(LANGID_REASON)
                    keep = False
            px = None
            if ppx_threshold is not None:
                px = perplexity.perplexity(cleaned or "")
                if keep and px > ppx_threshold:
                    reasons.append(PERPLEXITY_REASON)
                    keep = False
            spans = None
            if pii_on:
                scrubbed, counts = pii.scrub_pii(cleaned or "")
                spans = sum(counts.values())
                if keep:
                    cleaned = scrubbed
            gopher_fail = None
            if keep and gopher_opts is not None:
                gopher_fail = rules.gopher_first_fail(cleaned, **gopher_opts)
            if (keep and gopher_fail is None and gopher_repetition
                    and rules.repetition_fails(cleaned)):
                gopher_fail = rules.GOPHER_REPETITION
            out["keep"].append(keep)
            out["drop_reasons"].append(reasons)
            out["clean_text"].append(cleaned)
            out["period"].append(period)
            out["genre"].append(genre)
            out["confidence"].append(conf)
            out["lang_pred"].append(lang_pred)
            out["lang_margin"].append(lang_margin)
            out["ppx"].append(px)
            out["pii_spans"].append(spans)
            out["rule_hits"].append(v.rule_hits)
            out["gopher_fail"].append(gopher_fail)
        return pd.DataFrame(out)

    return fused_udf
