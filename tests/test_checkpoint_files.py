"""The driver-local control files of the checkpoint contract: manifest
parts, per-bucket ``_counts.json`` files and the temp names their writers
rename from, plus the local-path rule they impose on outputs."""

import contextlib
import io
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import driver
from wikisource_latin_text_cleaner_spark.operators.pipeline import QualityFilterPipeline
from wikisource_latin_text_cleaner_spark.plans import checkpoints
from wikisource_latin_text_cleaner_spark.sources import synth

N_BUCKETS = 4


def _docs(spark, n=40):
    return spark.range(n).select(
        F.concat(F.lit("https://ex.org/d"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 3 == 0).alias("keep"),
    )


def test_leftover_temp_files_are_invisible(spark, tmp_path):
    """A writer killed before its rename leaves a ``.``-prefixed file; the
    manifest reader and both data readers skip it (here it is not even
    valid parquet, so a reader that did not skip it would fail)."""
    out = str(tmp_path / "out")
    docs = _docs(spark)
    assert checkpoints.run_resumable(
        lambda df: df, docs, out, n_buckets=N_BUCKETS) == list(range(N_BUCKETS))
    for d in ("_checkpoints", os.path.join("data", "bucket=0")):
        for name in (".part-dead.parquet", "." + checkpoints.COUNTS_FILE):
            with open(os.path.join(out, d, name), "wb") as f:
                f.write(b"half-written")

    assert checkpoints.completed_buckets(out, N_BUCKETS) == set(range(N_BUCKETS))
    data = os.path.join(out, "data")
    assert spark.read.parquet(data).count() == 40
    assert pq.read_table(data).num_rows == 40
    n_kept = docs.where("keep").count()
    assert checkpoints.bucket_counts(out, range(N_BUCKETS)) == (40, n_kept)


def test_counts_files_match_each_bucket(spark, tmp_path):
    """Each bucket's counts file equals its data, an empty bucket gets zero
    counts, and a transform with no ``keep`` column counts every row kept."""
    out = str(tmp_path / "out")
    docs = _docs(spark, 3)  # 3 rows over 8 buckets: some buckets are empty
    checkpoints.run_resumable(lambda df: df.drop("keep"), docs, out, n_buckets=8)
    per_bucket = {r["bucket"]: r["count"] for r in
                  checkpoints.read_output(spark, out).groupBy("bucket").count().collect()}
    assert len(per_bucket) < 8
    # an empty bucket's dir holds only its counts file: no reader sees it
    assert pq.read_table(os.path.join(out, "data")).num_rows == 3
    for b in range(8):
        n = per_bucket.get(b, 0)
        assert checkpoints.bucket_counts(out, [b]) == (n, n)


def test_checkpointed_bucket_without_counts_raises(spark, tmp_path):
    """Output written before buckets recorded their counts has manifest
    rows but no counts files: summing it raises instead of rescanning."""
    out = str(tmp_path / "out")
    checkpoints.run_resumable(lambda df: df, _docs(spark), out, n_buckets=N_BUCKETS)
    os.remove(os.path.join(out, "data", "bucket=2", checkpoints.COUNTS_FILE))
    assert checkpoints.bucket_counts(out, [0, 1, 3])[0] > 0
    with pytest.raises(ValueError, match="rerun without --resume"):
        checkpoints.bucket_counts(out, range(N_BUCKETS))


def test_failed_fresh_run_leaves_no_checkpoints(spark, tmp_path):
    """A non-resume run's static overwrite deletes every bucket's data and
    counts file as it starts, so a write that then fails must not leave
    the old manifest rows for a later resume to trust."""
    out = str(tmp_path / "out")
    docs = _docs(spark)
    checkpoints.run_resumable(lambda df: df, docs, out, n_buckets=N_BUCKETS)

    def boom(df):
        return df.withColumn("keep", F.raise_error(F.lit("boom")).cast("boolean"))

    with pytest.raises(Exception, match="boom"):
        checkpoints.run_resumable(boom, docs, out, n_buckets=N_BUCKETS,
                                  resume=False)
    assert checkpoints.completed_buckets(out, N_BUCKETS) == set()


def test_failed_flat_driver_run_leaves_no_checkpoints(spark, tmp_path, monkeypatch):
    """The driver's flat write (``--buckets 0``) is a static overwrite of the
    same ``data`` dir, so it too must empty a prior bucketed manifest before
    its job starts, not after the write succeeds."""
    inp, out = str(tmp_path / "pages.parquet"), str(tmp_path / "out")
    synth.write_pages_parquet(inp, 40, seed=7)
    base = ["--input", inp, "--output", out, "--mode", "reference", "--no-classify"]
    with contextlib.redirect_stdout(io.StringIO()):
        assert driver.main([*base, "--buckets", str(N_BUCKETS), "--resume"]) == 0
    assert checkpoints.completed_buckets(out, N_BUCKETS) == set(range(N_BUCKETS))

    observed = QualityFilterPipeline.observed

    def boom(self, df, name="quality_filter"):
        df, obs = observed(self, df, name)
        return df.withColumn("keep", F.raise_error(F.lit("boom")).cast("boolean")), obs

    monkeypatch.setattr(QualityFilterPipeline, "observed", boom)
    with pytest.raises(Exception, match="boom"):
        driver.main([*base, "--buckets", "0"])
    assert checkpoints.completed_buckets(out, N_BUCKETS) == set()


@pytest.mark.parametrize("uri", ["s3a://bucket/out", "hdfs://nn:8020/out"])
def test_uri_outputs_raise(spark, tmp_path, monkeypatch, uri):
    """Control files are driver-local, so a URI output raises up front
    rather than reading as "nothing done" or landing in a local ``s3a:``
    directory, on the bucketed path, the flat path and the manifest read."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="URI"):
        checkpoints.run_resumable(lambda df: df, _docs(spark), uri, n_buckets=2)
    with pytest.raises(ValueError, match="URI"):
        checkpoints.completed_buckets(uri, 2)
    with pytest.raises(ValueError, match="URI"):
        driver.main(["--input", str(tmp_path / "missing"), "--output", uri,
                     "--buckets", "0"])
    with pytest.raises(ValueError, match="URI"):
        driver.main(["--input", str(tmp_path / "missing"),
                     "--output", str(tmp_path / "o"), "--metrics", uri])
    assert os.listdir(tmp_path) == []
