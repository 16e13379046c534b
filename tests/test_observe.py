"""df.observe counters ride the job without an extra pass (ref A4/S10)."""

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.operators.pipeline import (
    PipelineConfig,
    QualityFilterPipeline,
)


def test_observed_counters_match_metrics(spark, pages_df):
    pipe = QualityFilterPipeline(PipelineConfig(langid=False, classify=False))
    out = pipe.transform(pages_df)
    observed_df, obs = pipe.observed(out)
    observed_df.write.mode("overwrite").format("noop").save()
    got = obs.get
    expect_in = pages_df.count()
    expect_kept = out.where("keep").count()
    assert got["docs_in"] == expect_in
    assert got["docs_kept"] == expect_kept
    assert got["clean_chars"] > 0

    totals = {r.rule: r for r in pipe.metrics(out).groupBy("rule").agg(
        F.sum("docs_dropped").alias("docs_dropped"),
        F.sum("chars_removed").alias("chars_removed"),
    ).collect()}
    assert got["chars_removed"] == totals["_partition_total"].chars_removed
    reasons = pipe.reason_vocabulary()
    assert got["_unlisted"] == 0
    assert {r: got[r] for r in reasons if got[r]} == {
        r: row.docs_dropped for r, row in totals.items()
        if r != "_partition_total"}
