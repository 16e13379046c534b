#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Beyond the per-query timings it measures the north-rule headline number --
quality-filter pipeline throughput in docs/sec -- over a deterministic
synthetic `pages` corpus (sources/synth.py, seed=42), cached as parquet under
``.bench/`` so repeated runs re-read identical bytes.

Every query is forced with a `noop`-format write so projections and UDFs are
fully evaluated (a bare ``count()`` lets Catalyst prune unreferenced
projections and would under-measure).

Scaling evidence (local[8] vs local[32], north rule) is recorded in
``BENCH/BASELINE.md``; the layered benchmark is ``perfbench/run.py``. This
script stays fast enough for the per-round driver loop.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from wikisource_latin_text_cleaner_spark.operators.pipeline import (  # noqa: E402
    PipelineConfig,
    QualityFilterPipeline,
)
from wikisource_latin_text_cleaner_spark.functions import rules  # noqa: E402
from wikisource_latin_text_cleaner_spark.sources import synth  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: synthetic corpus size for the docs/sec headline (scrub is ~165 docs/s/core)
PAGES_ROWS = int(os.environ.get("BENCH_PAGES_ROWS", "20000"))

#: representative spread: cube, text heuristics, dedup (exact + minhash +
#: jaccard), and the full-fidelity pipeline decisions over the sf
#: documents table.
HEADLINE = (
    "lang_source_cube",
    "token_counts",
    "stopword_ratio",
    "fingerprints",
    "dedup_exact",
    "minhash_dedup_count",
    "ngram_jaccard_near_dups",
    "langid_histogram",
    "pipeline_decisions",
    # added round 3 (totals are NOT comparable to earlier rounds' JSON;
    # per-query timings are): corpus-wide line dedup (explode + broadcast
    # heavy set + affected-only rebuild)
    "corpus_line_dedup",
    # added round 3, later: ExactSubstr duplicated-span removal
    "exact_span_dedup",
    # added round 3, later still: the Gopher repetition battery
    # (Arrow-fused nine-fraction UDF) and the KMV overlap sketch
    "gopher_repetition",
    "corpus_overlap_kmv",
    # snapshot-over-snapshot near-dup dedup against a signature ledger
    # (UDF signatures for both sides + LSH band probe + anti-join)
    "incremental_minhash",
    # added late round 3: the Gopher rule-ablation single-pass report
    "gopher_ablation",
    # added round 3, session 2: jusText-style block extraction (Arrow
    # struct UDF over synthesized pages) and the pure-Catalyst outlink
    # extraction -> canonicalize -> domain aggregation
    "main_content",
    "outlink_domains",
    # added round 3, session 3: the remaining per-doc Catalyst signals —
    # within-doc line dedup (array_distinct), OOV rate vs the corpus-trained
    # top-1k vocabulary, and the mojibake marker-rate encoding QA
    "doc_line_dedup",
    "oov_rate",
    "mojibake_stats",
)


def _alu(n: int) -> float:
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def calibrate() -> list[dict]:
    """What the VM delivers right now: total pure-ALU throughput by procs.

    The sandbox hypervisor swings deliverable compute >2x between minutes;
    bracketing the run with this probe lets a reader tell a real regression
    from a contended window (round-2 recorded a 30.9s figure for a ~1.1s
    query this way).
    """
    out = []
    n = 1_000_000
    for procs in (2, 8, 32):
        with mp.Pool(procs) as p:
            t0 = time.perf_counter()
            p.map(_alu, [n] * procs)
            wall = time.perf_counter() - t0
        out.append({"procs": procs, "mops": round(procs * n / wall / 1e6, 1)})
    return out


def pages_parquet(n_rows: int) -> str:
    path = os.path.join(REPO, ".bench", f"pages_{n_rows}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        synth.write_pages_parquet(path, n_rows)
    return path


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def build_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("wltc-bench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


#: reps per query.  ALWAYS >=2 (never record a single sample: round 2's
#: single-rep path logged a 30.9s contention spike for a ~1.1s query).
#: Default 3: this hypervisor swings deliverable compute ~4x between
#: minutes (see calibration history), and with interleaved passes the
#: per-query min needs only ONE pass to land in a quiet window.
REPS = int(os.environ.get("BENCH_REPS", "3"))


def main() -> None:
    cal_before = calibrate()
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}

    # Warmup: spin up the Arrow Python UDF worker pool (one per core -- the
    # first pandas-UDF query otherwise absorbs ~3-4s of fork/import cost) +
    # JIT the scan path, so timed queries measure steady-state work.
    from wikisource_latin_text_cleaner_spark.operators import dedup as _dedup

    warm = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    force(warm)
    force(warm.repartition(CPUS).select(_dedup.minhash_udf("text")))

    # Two full interleaved passes over the headline set (A B C ... A B C ...)
    # rather than back-to-back reps of each query: a contended window then
    # hits one whole pass, not both reps of one query, so the per-query min
    # is far more likely to include a quiet sample.
    for _pass in range(REPS):
        for name in HEADLINE:
            t0 = time.perf_counter()
            force(qmap[name](spark, SF_DIR))
            reps.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
    for name in HEADLINE:
        timings[name] = min(reps[name])

    # North-rule headline: full web-mode pipeline throughput in docs/sec.
    # Tuned for the UDF-chain job (BENCH/BASELINE.md): small
    # Arrow batches overlap JVM<->Python transfer with compute; AQE's
    # stage-wise materialization only adds latency to this shuffle-free job.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    path = pages_parquet(PAGES_ROWS)
    pages = spark.read.parquet(path).repartition(2 * CPUS)
    pipe = QualityFilterPipeline(
        PipelineConfig(
            extensions=rules.ExtensionConfig(),
            classify=True,
            langid=True,
            perplexity_threshold=1e9,  # compute ppx, gate effectively off
            pii_scrub=True,
        )
    )
    force(pipe.transform(pages).limit(500))  # warm pipeline UDF workers
    for _pass in range(REPS):
        t0 = time.perf_counter()
        force(pipe.transform(pages))
        reps.setdefault("pipeline_full_web_mode", []).append(
            round(time.perf_counter() - t0, 3)
        )
    pipeline_sec = min(reps["pipeline_full_web_mode"])
    timings["pipeline_full_web_mode"] = pipeline_sec
    docs_per_sec = round(PAGES_ROWS / pipeline_sec, 1)

    cal_after = calibrate()
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pipeline_docs_per_sec": docs_per_sec,
        "pipeline_corpus_rows": PAGES_ROWS,
        "cpus": CPUS,
        "query_reps": reps,
        "calibration_mops": {
            "before": cal_before,
            "after": cal_after,
        },
    }
    # The driver keeps only the last N bytes of stdout, and the full JSON is
    # one very long line — BENCH_r03.json lost its headline `value` to that
    # tail capture. Persist the full record to a file, print it for humans,
    # then print a short totals-only JSON line LAST so the tail always
    # parses as complete JSON no matter where truncation lands. The file
    # goes to the git-ignored .bench/, so a run leaves the tree clean.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "last_run.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": total,
                "unit": "sec",
                "sf": full["sf"],
                "cpus": CPUS,
                "queries": timings,
                "n_queries": len(timings),
                "pipeline_docs_per_sec": docs_per_sec,
                "calibration_mops": {"before": cal_before, "after": cal_after},
                "full_record": ".bench/last_run.json",
            }
        )
    )
    # Final, truly minimal line (~150 bytes): the tail-capture window
    # measured from BENCH_r03.json is ~2.2 KB, so this plus the per-query
    # line above both survive no matter how the queries map grows.
    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": total,
                "unit": "sec",
                "sf": full["sf"],
                "cpus": CPUS,
                "n_queries": len(timings),
                "pipeline_docs_per_sec": docs_per_sec,
                "full_record": ".bench/last_run.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
