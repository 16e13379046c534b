#!/usr/bin/env python
"""Production driver: spark-submit entry point for the quality-filter pipeline.

Cluster launch (north_rule):

    zip -r pipeline.zip wikisource_latin_text_cleaner_spark
    spark-submit --py-files pipeline.zip driver.py \\
        --input  <pages parquet dir or Iceberg table> \\
        --output <output dir/table> \\
        --mode web --resume --buckets 256

Local smoke (same code path; spark-submit not required):

    python driver.py --input .bench/pages_2000.parquet --output /tmp/out \\
        --master "local[8]"

Stages (one declarative DataFrame chain, SURVEY.md §3.4): read -> [salted
repartition] -> fused scrub/verdict/langid/perplexity/PII/Gopher Arrow UDF
-> URL gate -> Gopher verdict -> run counters and per-bucket counts
(df.observe) -> bucket-checkpointed write (quarantine rows kept, never
deleted) -> per-bucket counts files -> manifest append -> per-run metrics
rows append. Resume (--resume) skips buckets whose manifest rows exist.

The bucket write is the run's only Spark job besides the input's schema
inference. The counters ride that write, so the run record and the metrics
rows cost no scan of the output; the cumulative counts of the buckets a
resume leaves untouched come from their counts files. The manifest and
path-target metrics rows are small parquet files written on the driver with
pyarrow, so --output (and a path --metrics) must be driver-local paths.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def comma_list(value: str | None) -> tuple[str, ...]:
    """Items of a comma-separated flag value, each stripped of surrounding
    whitespace, empty items dropped: ``"la, en,"`` -> ``("la", "en")``."""
    return tuple(s for s in (v.strip() for v in (value or "").split(",")) if s)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="web-text quality-filter pipeline")
    p.add_argument("--input", required=True, help="pages parquet dir or table name")
    p.add_argument("--output", required=True, help="output dir or table name")
    p.add_argument("--mode", choices=("reference", "web"), default="web",
                   help="reference = byte-fidelity scrub+gates only; "
                        "web = + langid, perplexity, PII scrub, Gopher rules")
    p.add_argument("--min-size", type=int, default=200,
                   help="min raw doc bytes (ref step1 --min-size)")
    p.add_argument("--allowed-langs", default="la",
                   help="comma-separated langid allowlist (web mode)")
    p.add_argument("--perplexity-threshold", type=float, default=None,
                   help="drop docs above this char-bigram perplexity")
    p.add_argument("--max-toxicity", type=float, default=None,
                   help="drop docs whose toxicity-lexicon word fraction "
                        "exceeds this (0.0 = C4-style any-badword drop; "
                        "omit = gate off)")
    p.add_argument("--url-blocklist", default=None,
                   help="comma-separated registrable domains to drop "
                        "(RefinedWeb-style URL gate; omit = gate off). "
                        "For UT1-sized lists pass a table via the API "
                        "(PipelineConfig.url_blocklist DataFrame, a "
                        "broadcast join).")
    p.add_argument("--max-url-kw-hits", type=int, default=None,
                   help="drop docs whose URL contains more than this many "
                        "block keywords (omit = gate off)")
    p.add_argument("--gopher-gate", action="store_true",
                   help="apply the Gopher document-quality ladder to the "
                        "cleaned text (drop reason gopher:<rule>)")
    p.add_argument("--gopher-min-words", type=int, default=50,
                   help="Gopher gate minimum word count (with --gopher-gate)")
    p.add_argument("--gopher-repetition", action="store_true",
                   help="apply the Gopher repetition battery to the cleaned "
                        "text (drop reason gopher:repetition)")
    p.add_argument("--salt-partitions", type=int, default=0,
                   help="salted-repartition width for domain skew (0 = off)")
    p.add_argument("--buckets", type=int, default=64,
                   help="checkpoint bucket count (resume granularity); "
                        "0 = flat single-shot write, no checkpointing")
    p.add_argument("--resume", action="store_true",
                   help="skip buckets already marked complete in the manifest; "
                        "without it a rerun recomputes everything from scratch")
    p.add_argument("--no-classify", action="store_true",
                   help="skip period/genre classification columns")
    p.add_argument("--html-fallback", action="store_true",
                   help="derive text from the html column when text is null")
    p.add_argument("--html-extractor", choices=("simple", "main-content"),
                   default="simple",
                   help="fallback extractor: 'simple' keeps every block, "
                        "'main-content' drops boilerplate blocks by "
                        "min-words + link-density (jusText-style)")
    p.add_argument("--drop-noindex", action="store_true",
                   help="honor <meta name=robots> noindex opt-outs: drop "
                        "those pages BEFORE the pipeline (publisher opt-out, "
                        "not a quality verdict -- never in drop_reasons)")
    p.add_argument("--rule-metrics", action="store_true",
                   help="record per-orthography-rule substitution counts "
                        "in the metrics table (ref step5 per-pattern stats)")
    p.add_argument("--partition-by", default="",
                   help="comma-separated output columns to physically "
                        "partition the data by (e.g. period,genre -- the "
                        "ref's sorted_texts/{period}/{genre}/ layout); "
                        "period/genre/confidence exist only when "
                        "classification runs (do not combine with "
                        "--no-classify)")
    p.add_argument("--stages", default="",
                   help="comma-separated scrub stage subset "
                        "(content,headings,orthography,final) -- re-run only "
                        "those stages over a table whose text column holds "
                        "an intermediate stage's output (ref --steps "
                        "suffix re-run, clean_texts_v2.py:195-211). "
                        "Gates/classification are skipped in this mode.")
    p.add_argument("--master", default=None,
                   help="override spark master (default: from spark-submit)")
    p.add_argument("--metrics", default=None,
                   help="metrics table/dir (default: <output>/metrics)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    import pyarrow as pa
    from pyspark.sql import Observation, SparkSession

    from wikisource_latin_text_cleaner_spark import catalog
    from wikisource_latin_text_cleaner_spark.functions import rules
    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        PipelineConfig,
        QualityFilterPipeline,
    )
    from wikisource_latin_text_cleaner_spark.plans import checkpoints

    # control files are driver-local: reject a URI before any work is done
    # (an Iceberg metrics table name has no scheme and passes)
    metrics_target = args.metrics or f"{args.output.rstrip('/')}/metrics"
    for path in (args.output, metrics_target):
        catalog.local_path(path)

    builder = SparkSession.builder.appName("wltc-quality-filter")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches overlap JVM<->Python transfer with UDF compute
        # in the single fused ArrowEvalPython stage (BENCH/BASELINE.md)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )

    web = args.mode == "web"
    cfg = PipelineConfig(
        min_size_bytes=args.min_size,
        extensions=(
            rules.ExtensionConfig(max_toxicity=args.max_toxicity)
            if web else None
        ),
        classify=not args.no_classify,
        langid=web,
        allowed_langs=comma_list(args.allowed_langs),
        perplexity_threshold=args.perplexity_threshold,
        pii_scrub=web,
        salt_partitions=args.salt_partitions,
        html_fallback=args.html_fallback,
        html_extractor=args.html_extractor.replace("-", "_"),
        rule_metrics=args.rule_metrics,
        url_blocklist=comma_list(args.url_blocklist) or None,
        max_url_kw_hits=args.max_url_kw_hits,
        gopher_opts=(
            {"min_words": args.gopher_min_words} if args.gopher_gate else None
        ),
        gopher_repetition_gate=args.gopher_repetition,
    )
    pipe = QualityFilterPipeline(cfg)
    pages = catalog.read_table(spark, args.input)

    from pyspark.sql import functions as F

    if args.drop_noindex:
        from wikisource_latin_text_cleaner_spark.functions import html as _html

        pages = _html.drop_meta_noindex(pages)

    if args.stages:
        # stage-subset re-run (ref --steps suffix): rewrite the text column
        # through the selected scrub stages only; output keeps the pages
        # shape so a later full/suffix run can consume it directly
        from wikisource_latin_text_cleaner_spark.functions import udfs

        stage_udf = udfs.make_scrub_stages_udf(comma_list(args.stages))

        def stage_transform(df):
            return df.select(
                "url", "warc_ts", stage_udf("text").alias("text"), "lang"
            )

        pipe = None
        transform = stage_transform
    else:
        transform = pipe.transform

    obs = None  # set when the transform is built; None = nothing written

    def observed(df):
        nonlocal obs
        if pipe is None:  # stage-subset mode: every row passes through
            obs = Observation("stages")
            return transform(df).observe(obs, F.count(F.lit(1)).alias("docs_in"))
        df, obs = pipe.observed(transform(df))
        return df

    part_cols = comma_list(args.partition_by)
    t0 = time.time()
    run_ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    if args.buckets >= 1:
        run_buckets = checkpoints.run_resumable(
            observed, pages, args.output, n_buckets=args.buckets,
            resume=args.resume, partition_cols=part_cols,
        )
        # a resume leaves the buckets it did not run in place
        untouched = (sorted(set(range(args.buckets)) - set(run_buckets))
                     if args.resume else [])
        n_run = len(run_buckets)
    else:
        # same <output>/data layout as the bucketed path, so the metrics
        # table never nests inside the scanned dataset. The static overwrite
        # deletes any prior bucketed data and counts files as it starts, so
        # their manifest is emptied first: a write that then fails leaves no
        # checkpoints for a later --resume to trust
        checkpoints.write_manifest(args.output, [], 0)
        writer = observed(pages).write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(os.path.join(args.output, "data"))
        untouched, n_run = [], -1

    # this run's counters came with its write; Observation.get would block
    # forever when nothing was written
    run = obs.get if obs is not None else {}
    docs_processed = run.get("docs_in", 0)
    docs_kept = (run.get("docs_kept") or 0) if pipe is not None else docs_processed
    if pipe is not None and obs is not None:
        # metrics scoped to exactly the buckets this invocation computed
        # (full-output metrics on every resume would double-count docs).
        # Known tradeoff: a crash between the manifest write and this append
        # loses one run's metrics rather than double-counting them.
        metrics = pipe.observed_metrics(run)
        metrics = metrics.append_column(
            "run_ts", pa.array([run_ts] * metrics.num_rows, pa.string()))
        if catalog.is_iceberg(spark, metrics_target):
            catalog.append(catalog.local_frame(spark, metrics), metrics_target)
        else:
            catalog.write_rows(metrics, metrics_target, append=True)

    # cumulative counts describe the full output table; throughput is scoped
    # to the docs THIS invocation processed (a resume that ran 1 of 64
    # buckets must not report the whole table's docs over its own wall time)
    n_old, kept_old = checkpoints.bucket_counts(args.output, untouched)
    docs_in = docs_processed + n_old
    docs_kept += kept_old
    elapsed = time.time() - t0
    print(json.dumps({
        "docs_in": docs_in,
        "docs_kept": docs_kept,
        "docs_quarantined": docs_in - docs_kept,
        "buckets_run": n_run,
        "docs_processed": docs_processed,
        "sec": round(elapsed, 2),
        "docs_per_sec": round(docs_processed / elapsed, 1) if elapsed else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
