"""driver.py run record and metrics rows come from counters observed on the
one data write; they must equal a brute-force rescan of the output.

The driver runs in-process on the session fixture (no subprocess JVM)."""

import contextlib
import dataclasses
import io
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import driver
from wikisource_latin_text_cleaner_spark.functions import langid, perplexity, rules
from wikisource_latin_text_cleaner_spark.operators import pipeline
from wikisource_latin_text_cleaner_spark.operators.pipeline import (
    QualityFilterPipeline,
)
from wikisource_latin_text_cleaner_spark.sources import synth

N_BUCKETS = 4
LOST_BUCKET = 2
METRIC_SUMS = ("docs_dropped", "docs_in", "docs_out", "chars_removed",
               "rule_hits")


def _write_corpus(path: str) -> float:
    """Synth pages plus four planted pages whose text is doubled (the Gopher
    repetition battery fires on them, nothing earlier does); returns a
    perplexity threshold at the median of the pages the fused rules keep,
    so the perplexity gate fires too."""
    rows = synth.generate_pages(240, seed=41)
    scored = []
    for r in rows:
        v = rules.evaluate_document(r.text, extensions=rules.ExtensionConfig())
        if v.keep and langid.predict(v.clean_text)[0] == "la":
            scored.append((perplexity.perplexity(v.clean_text), r))
    scored.sort(key=lambda s: s[0])
    rows += [dataclasses.replace(r, url=f"https://planted.example/rep_{i}",
                                 text=f"{r.text}\n{r.text}")
             for i, (_, r) in enumerate(scored[:4])]
    pq.write_table(pa.table({
        "url": [r.url for r in rows],
        "warc_ts": pa.array([r.warc_ts for r in rows], pa.timestamp("us")),
        "text": [r.text for r in rows],
        "lang": [r.lang for r in rows],
    }), path)
    return scored[len(scored) // 2][0]


def _lose_bucket(out_dir: str, bucket: int) -> None:
    """Delete one bucket's data and manifest row, as a crash before its
    write would have left them."""
    shutil.rmtree(os.path.join(out_dir, "data", f"bucket={bucket}"))
    manifest = os.path.join(out_dir, "_checkpoints")
    shutil.rmtree(manifest)
    os.makedirs(manifest)
    done = [b for b in range(N_BUCKETS) if b != bucket]
    pq.write_table(pa.table({
        "bucket": pa.array(done, pa.int32()),
        "n_buckets": pa.array([N_BUCKETS] * len(done), pa.int32()),
    }), os.path.join(manifest, "part-00000.parquet"))


def _rule_sums(df) -> dict:
    rows = df.groupBy("rule").agg(
        *[F.sum(c).alias(c) for c in METRIC_SUMS]).collect()
    return {r["rule"]: tuple(r[c] for c in METRIC_SUMS) for r in rows}


def test_run_record_matches_rescan(spark, tmp_path, monkeypatch):
    inp, out = str(tmp_path / "pages.parquet"), str(tmp_path / "out")
    threshold = _write_corpus(inp)
    # a 100-word Gopher minimum makes the ladder fire on the synth pages
    base = ["--input", inp, "--output", out, "--mode", "web",
            "--url-blocklist", "site00.example",
            "--gopher-gate", "--gopher-min-words", "100",
            "--gopher-repetition", "--perplexity-threshold", repr(threshold),
            "--rule-metrics"]

    observations = []
    observed = QualityFilterPipeline.observed

    def spy(self, df, name="quality_filter"):
        df, obs = observed(self, df, name)
        observations.append(obs)
        return df, obs

    monkeypatch.setattr(QualityFilterPipeline, "observed", spy)

    def run(i, *extra):
        """One driver call with its own metrics dir; returns the record and
        the run's metrics rows (None when it appended none)."""
        metrics_dir = str(tmp_path / f"metrics{i}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert driver.main([*base, "--metrics", metrics_dir, *extra]) == 0
        rec = json.loads(buf.getvalue().strip().splitlines()[-1])
        m = spark.read.parquet(metrics_dir) if os.path.isdir(metrics_dir) else None
        return rec, m

    def check(rec, metrics, ran):
        data = spark.read.parquet(os.path.join(out, "data"))
        by_keep = {r["keep"]: r["count"]
                   for r in data.groupBy("keep").count().collect()}
        assert (rec["docs_in"], rec["docs_kept"], rec["docs_quarantined"]) == (
            sum(by_keep.values()), by_keep.get(True, 0), by_keep.get(False, 0))
        assert rec["docs_processed"] == ran.count()
        # one set of rows per run, not per Spark partition
        assert metrics.where(F.col("partition_id").isNotNull()).count() == 0
        assert metrics.count() == metrics.select("rule").distinct().count()
        assert observations[-1].get["_unlisted"] == 0
        got = _rule_sums(metrics)
        assert got == _rule_sums(QualityFilterPipeline().metrics(ran))
        return got

    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch)
    try:
        rec, m = run(0, "--buckets", str(N_BUCKETS))
        assert rec["buckets_run"] == N_BUCKETS
        fresh = check(rec, m, spark.read.parquet(os.path.join(out, "data")))

        _lose_bucket(out, LOST_BUCKET)
        rec, m = run(1, "--buckets", str(N_BUCKETS), "--resume")
        assert rec["buckets_run"] == 1
        data = spark.read.parquet(os.path.join(out, "data"))
        check(rec, m, data.where(F.col("bucket") == LOST_BUCKET))

        n_obs = len(observations)
        rec, m = run(2, "--buckets", str(N_BUCKETS), "--resume")
        assert (rec["buckets_run"], rec["docs_processed"], m) == (0, 0, None)
        assert len(observations) == n_obs  # nothing written, nothing observed
        assert rec["docs_in"] == data.count()

        rec, m = run(3, "--buckets", "0")
        assert rec["buckets_run"] == -1
        assert check(rec, m, spark.read.parquet(os.path.join(out, "data"))) == fresh
    finally:
        spark.conf.set(batch, prev_batch)

    fired = {r for r, sums in fresh.items() if sums[0]}
    families = {
        "early": set(rules.EARLY_REASONS),
        "extension": set(rules.EXTENSION_REASONS),
        "langid": {"langid"},
        "perplexity": {"perplexity"},
        "url": {pipeline.URL_BLOCKLIST_REASON},
        "gopher": {r for r in fired if r.startswith(pipeline.GOPHER_PREFIX)}
        - {pipeline.GOPHER_REPETITION_REASON},
        "repetition": {pipeline.GOPHER_REPETITION_REASON},
    }
    assert not [f for f, names in families.items() if not fired & names]
    assert any(r.startswith(pipeline.VARIANT_PREFIX) for r in fresh)
