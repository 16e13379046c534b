"""Single-core cost of each per-document Python component, in-process.

Each component is timed over the inputs it sees inside the fused UDF:
scrub stages over the documents that pass the early gates, the language,
perplexity and PII components over the cleaned text, classification over
the raw text. Costs are thread CPU time, so other processes on the box do
not inflate them.
"""

from __future__ import annotations

import time

import pandas as pd

from corpus import EARLY_REASONS, web_fused_func

#: Arrow batch size the engine's UDFs see (driver.py sets maxRecordsPerBatch)
BATCH = 512


def _us_per_doc(fn, items) -> tuple[float, list]:
    t0 = time.thread_time()
    out = [fn(x) for x in items]
    return (time.thread_time() - t0) / max(1, len(items)) * 1e6, out


def _series_us_per_doc(func, texts: list[str]) -> float:
    t0 = time.thread_time()
    for i in range(0, len(texts), BATCH):
        func(pd.Series(texts[i:i + BATCH], dtype=object))
    return (time.thread_time() - t0) / max(1, len(texts)) * 1e6


def measure(texts: list[str]) -> dict:
    from wikisource_latin_text_cleaner_spark.functions import (
        classify, langid, perplexity, pii, rules, scrub,
    )
    from wikisource_latin_text_cleaner_spark.operators import dedup

    ext = rules.ExtensionConfig()
    m: dict = {}
    m["rules.evaluate_us"], verdicts = _us_per_doc(
        lambda t: rules.evaluate_document(t, extensions=ext), texts)
    early = [bool(EARLY_REASONS & set(v.drop_reasons)) for v in verdicts]
    m["rules.early_drop_share"] = sum(early) / len(texts)

    scrubbed = [t for t, e in zip(texts, early) if not e]
    for name, fn in (("content", scrub.stage_content),
                     ("headings", scrub.stage_headings),
                     ("orthography", scrub.stage_orthography),
                     ("final", scrub.stage_final)):
        m[f"scrub.{name}_us"], scrubbed = _us_per_doc(fn, scrubbed)

    cleaned = [v.clean_text for v in verdicts]
    m["rules.extensions_us"], _ = _us_per_doc(
        lambda t: rules.extension_reasons(t, ext), [c for c in cleaned if c])
    m["langid.predict_us"], _ = _us_per_doc(langid.predict, cleaned)
    m["perplexity.score_us"], _ = _us_per_doc(perplexity.perplexity, cleaned)
    m["pii.scrub_us"], _ = _us_per_doc(pii.scrub_pii, cleaned)
    m["classify.document_us"], _ = _us_per_doc(
        lambda t: classify.classify_document(t or ""), texts)
    m["udfs.fused_us"] = _series_us_per_doc(web_fused_func(), texts)
    m["dedup.signature_us"] = _series_us_per_doc(dedup.minhash_udf.func, texts)
    return m
