"""Pipeline URL gate (PipelineConfig.url_blocklist / max_url_kw_hits)."""

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.functions import rules
from wikisource_latin_text_cleaner_spark.operators.pipeline import (
    PipelineConfig,
    QualityFilterPipeline,
)

WEB = rules.ExtensionConfig()


def _run(pages, **kw):
    cfg = PipelineConfig(extensions=WEB, classify=False, **kw)
    return QualityFilterPipeline(cfg).transform(pages)


def test_gate_off_by_default_is_byte_stable(spark, pages_df):
    base = _run(pages_df).select("url", "keep", "drop_reasons")
    gated_empty = _run(pages_df, url_blocklist=()).select(
        "url", "keep", "drop_reasons"
    )
    assert base.exceptAll(gated_empty).count() == 0
    assert gated_empty.exceptAll(base).count() == 0
    assert base.where(F.array_contains("drop_reasons", "url_blocklist")).count() == 0


def test_blocked_domain_flips_only_kept_docs(spark, pages_df):
    base = {r["url"]: r for r in _run(pages_df).collect()}
    out = {r["url"]: r for r in
           _run(pages_df, url_blocklist=("site00.example",)).collect()}
    assert set(base) == set(out)
    n_flipped = 0
    for url, row in out.items():
        b = base[url]
        if "site00.example" in url:
            assert not row["keep"]
            if b["keep"]:
                n_flipped += 1
                assert row["drop_reasons"] == b["drop_reasons"] + ["url_blocklist"]
            else:
                # already-dropped docs keep their original reasons untouched
                assert row["drop_reasons"] == b["drop_reasons"]
        else:
            assert (row["keep"], row["drop_reasons"]) == (b["keep"], b["drop_reasons"])
    assert n_flipped > 0  # the heavy zipf domain must contain kept docs


def test_dataframe_blocklist_matches_tuple_path(spark, pages_df):
    bl_df = spark.createDataFrame(
        [("SITE00.example",), ("site03.example",)], "domain string"
    )
    via_df = _run(pages_df, url_blocklist=bl_df).select(
        "url", "keep", "drop_reasons"
    )
    via_tuple = _run(
        pages_df, url_blocklist=("site00.example", "site03.example")
    ).select("url", "keep", "drop_reasons")
    assert via_df.exceptAll(via_tuple).count() == 0
    assert via_tuple.exceptAll(via_df).count() == 0
    # the table gate stays Catalyst-only: the fused UDF is the plan's one
    # Python stage, and the blocklist is a broadcast join
    plan = via_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_keyword_gate(spark):
    from wikisource_latin_text_cleaner_spark.sources import synth

    pages = synth.pages_dataframe(spark, 40, seed=7, partitions=2)
    spiked = pages.withColumn(
        "url",
        F.when(F.monotonically_increasing_id() % 4 == 0,
               F.concat("url", F.lit("?ref=casino-bonus")))
        .otherwise(F.col("url")),
    )
    out = _run(spiked, max_url_kw_hits=0)
    bad_kept = out.where(
        F.col("url").contains("casino") & F.col("keep")
    ).count()
    assert bad_kept == 0
    flagged = out.where(F.array_contains("drop_reasons", "url_blocklist"))
    assert flagged.count() > 0
    assert all("casino" in r["url"] for r in flagged.collect())
