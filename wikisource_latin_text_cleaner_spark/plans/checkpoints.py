"""Per-partition checkpoint/resume bookkeeping (north_rule: resumable).

Re-expresses the reference's step-level resumability (--steps re-runs a
suffix, Text Cleaner/clean_texts_v2.py:195-211; stage directories as
checkpoints :111-131) at the right granularity for a cluster: deterministic
URL-hash buckets.

Contract:
  - every row belongs to bucket = pmod(xxhash64(url), n_buckets)
  - output is written partitionBy("bucket") with dynamic partition
    overwrite, so re-processing a bucket replaces exactly that bucket
  - a bucket is "done" when its manifest row exists in <out>/_checkpoints
    (written only AFTER the data write for that run completes)
  - resume = recompute only buckets absent from the manifest; a kill
    between data write and manifest write just re-does those buckets
    idempotently (same input -> same bytes)

At 100 TB this means a failed job resumes at bucket granularity with no
coordination beyond one tiny manifest read.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_frame


def with_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def completed_buckets(spark: SparkSession, out_dir: str,
                      n_buckets: int | None = None) -> set:
    """Bucket ids marked complete. When ``n_buckets`` is given, a manifest
    written under a DIFFERENT bucket scheme raises instead of silently
    mixing schemes (resuming pmod-8 data with pmod-64 arithmetic would
    both duplicate and drop rows)."""
    manifest = os.path.join(out_dir, "_checkpoints")
    if not os.path.exists(manifest):
        return set()
    try:
        df = spark.read.parquet(manifest)
    except Exception as e:  # AnalysisException and friends
        # a crash during the very first manifest write can leave only a
        # _temporary dir behind: no committed rows means no completed
        # buckets -- treat like a missing manifest and recompute cleanly
        if type(e).__name__ == "AnalysisException" or "infer schema" in str(e):
            return set()
        raise
    if n_buckets is not None and "n_buckets" not in df.columns:
        raise ValueError(
            f"checkpoint manifest at {manifest} predates bucket-scheme "
            "recording and cannot be safely resumed; rerun without "
            "--resume to recompute"
        )
    # one row per bucket a run completed: a single small job, and the
    # scheme check runs over the collected rows
    rows = df.collect()
    if n_buckets is not None:
        schemes = {r["n_buckets"] for r in rows}
        if None in schemes or schemes - {n_buckets}:
            known = sorted(s for s in schemes if s is not None)
            raise ValueError(
                f"checkpoint manifest at {manifest} was written with "
                f"n_buckets={known or 'unknown'}, current run uses {n_buckets}; "
                "rerun without --resume to recompute under the new scheme"
            )
    return {r["bucket"] for r in rows}


def write_manifest(spark: SparkSession, out_dir: str, buckets,
                   n_buckets: int, append: bool = False) -> None:
    """Mark ``buckets`` complete under the pmod-``n_buckets`` scheme; each
    row records its scheme so cross-scheme resumes are caught. An empty
    ``buckets`` with ``append=False`` invalidates every checkpoint."""
    buckets = sorted(int(b) for b in buckets)
    local_frame(spark, {
        "bucket": pa.array(buckets, pa.int32()),
        "n_buckets": pa.array([n_buckets] * len(buckets), pa.int32()),
    }).write.mode("append" if append else "overwrite").parquet(
        os.path.join(out_dir, "_checkpoints"))


def run_resumable(
    transform,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    resume: bool = True,
    partition_cols: tuple = (),
) -> list[int]:
    """Run `transform` over all not-yet-done buckets; returns the sorted
    list of bucket ids this call ran (empty = nothing to do), so callers
    can scope per-run side effects (e.g. metrics) without re-deriving the
    resume arithmetic.

    `transform` is DataFrame -> DataFrame (e.g. QualityFilterPipeline.transform).

    ``resume=False`` ignores any existing manifest, truncates the data dir
    (static overwrite -- stale buckets from an older bucket scheme must not
    survive) and rewrites the manifest from scratch.

    ``partition_cols`` adds physical write partitions UNDER bucket (the
    Spark re-expression of the reference's period/genre directory layout,
    Text Cleaner/step2_sort_by_period_genre.py:487): bucket stays the
    outermost level so per-bucket dynamic overwrite/resume is unchanged,
    and consumers filtering on the extra columns get partition pruning.
    Safe under resume because the transform is deterministic: a re-run
    bucket writes a subset-or-equal set of (bucket, cols...) partitions.
    """
    spark = pages.sparkSession
    done = completed_buckets(spark, out_dir, n_buckets) if resume else set()
    # coverage check, not cardinality: a manifest written under a different
    # n_buckets must not report this scheme complete
    if resume and set(range(n_buckets)) <= done:
        return []
    bucketed = with_bucket(pages, n_buckets)
    todo = bucketed.filter(~F.col("bucket").isin(list(done))) if done else bucketed

    result = transform(todo.drop("bucket"))
    result = with_bucket(result, n_buckets)

    data_dir = os.path.join(out_dir, "data")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    # dynamic (per-partition) overwrite ONLY when genuinely continuing past
    # completed buckets; a full run -- resume with an empty/absent manifest
    # included -- truncates, so stale partitions from a crashed run under a
    # different bucket scheme can never survive
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode",
        "dynamic" if (resume and done) else "static",
    )
    try:
        result.write.mode("overwrite").partitionBy(
            "bucket", *partition_cols
        ).parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # manifest write AFTER data is durable; fresh runs replace the manifest
    run_buckets = sorted(set(range(n_buckets)) - done)
    write_manifest(spark, out_dir, run_buckets, n_buckets, append=resume)
    return run_buckets


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))
