"""Per-partition checkpoint/resume bookkeeping (north_rule: resumable).

Re-expresses the reference's step-level resumability (--steps re-runs a
suffix, Text Cleaner/clean_texts_v2.py:195-211; stage directories as
checkpoints :111-131) at the right granularity for a cluster: deterministic
URL-hash buckets.

Contract:
  - every row belongs to bucket = pmod(xxhash64(url), n_buckets)
  - output is written partitionBy("bucket") with dynamic partition
    overwrite, so re-processing a bucket replaces exactly that bucket
  - each bucket a run writes gets <out>/data/bucket=<b>/_counts.json, its
    row and kept counts, observed on the data write itself (``df.observe``)
    and written after that write completes; ``_``-prefixed files are
    invisible to Spark and pyarrow readers of the data
  - a bucket is "done" when its manifest row exists in <out>/_checkpoints
    (written only AFTER the data write and the counts files of that run)
  - invariant: a bucket's manifest row exists only if its counts file is
    current. A resume re-runs only buckets with no manifest row and
    rewrites their counts files before appending their rows; a fresh run
    empties the manifest before its static overwrite truncates the data dir
  - resume = recompute only buckets absent from the manifest; a kill
    between data write and manifest write just re-does those buckets
    idempotently (same input -> same bytes)

The manifest and the counts files are small driver-local files, read and
written with ``pyarrow`` and ``json``: the bucket write is the only Spark job
this module submits. At 100 TB this means a failed job resumes at bucket
granularity with no coordination beyond listing one small directory, and
the cumulative counts of the buckets a resume leaves untouched cost one
small file read each, never a scan of their data.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_path, write_rows

#: per-bucket counts file, beside the bucket's data files
COUNTS_FILE = "_counts.json"


def with_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def completed_buckets(out_dir: str, n_buckets: int | None = None) -> set:
    """Bucket ids marked complete. When ``n_buckets`` is given, a manifest
    written under a DIFFERENT bucket scheme raises instead of silently
    mixing schemes (resuming pmod-8 data with pmod-64 arithmetic would
    both duplicate and drop rows).

    Reads the committed ``*.parquet`` files only: names starting with ``_``
    or ``.`` (``_SUCCESS``, checksums, a ``_temporary`` dir left by a crash
    during a Spark-written manifest, a writer's temp file) are skipped, so
    a manifest with no committed file reads as "nothing complete"."""
    manifest = os.path.join(local_path(out_dir), "_checkpoints")
    if not os.path.isdir(manifest):
        return set()
    parts = [pq.read_table(os.path.join(manifest, n))
             for n in sorted(os.listdir(manifest))
             if n.endswith(".parquet") and not n.startswith(("_", "."))]
    if n_buckets is not None and any(
            "n_buckets" not in t.column_names for t in parts):
        raise ValueError(
            f"checkpoint manifest at {manifest} predates bucket-scheme "
            "recording and cannot be safely resumed; rerun without "
            "--resume to recompute"
        )
    if n_buckets is not None:
        schemes = {s for t in parts for s in t.column("n_buckets").to_pylist()}
        if None in schemes or schemes - {n_buckets}:
            known = sorted(s for s in schemes if s is not None)
            raise ValueError(
                f"checkpoint manifest at {manifest} was written with "
                f"n_buckets={known or 'unknown'}, current run uses {n_buckets}; "
                "rerun without --resume to recompute under the new scheme"
            )
    return {b for t in parts for b in t.column("bucket").to_pylist()}


def write_manifest(out_dir: str, buckets, n_buckets: int,
                   append: bool = False) -> None:
    """Mark ``buckets`` complete under the pmod-``n_buckets`` scheme; each
    row records its scheme so cross-scheme resumes are caught. An empty
    ``buckets`` with ``append=False`` invalidates every checkpoint."""
    buckets = sorted(int(b) for b in buckets)
    write_rows(pa.table({
        "bucket": pa.array(buckets, pa.int32()),
        "n_buckets": pa.array([n_buckets] * len(buckets), pa.int32()),
    }), os.path.join(out_dir, "_checkpoints"), append)


def _counts_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "data", f"bucket={bucket}", COUNTS_FILE)


def _write_counts(out_dir: str, bucket: int, rows: int, kept: int) -> None:
    path = _counts_path(out_dir, bucket)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + COUNTS_FILE)
    with open(tmp, "w") as f:
        json.dump({"rows": rows, "kept": kept}, f)
    os.replace(tmp, path)


def bucket_counts(out_dir: str, buckets) -> tuple[int, int]:
    """(rows, kept) summed over the counts files of done ``buckets``,
    without reading their data. A done bucket with no counts file was
    written before buckets recorded their counts, so it raises."""
    rows = kept = 0
    for b in buckets:
        path = _counts_path(out_dir, b)
        try:
            with open(path) as f:
                c = json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"bucket {b} is checkpointed but has no {path}: the output "
                "predates per-bucket counts; rerun without --resume to "
                "recompute"
            ) from None
        rows += c["rows"]
        kept += c["kept"]
    return rows, kept


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
    Its ``keep`` column, when it has one, gives each bucket's kept count;
    without one every row counts as kept.

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

    ``out_dir`` must be a driver-local path: a ``scheme://`` URI raises.
    """
    local_path(out_dir)
    spark = pages.sparkSession
    done = completed_buckets(out_dir, n_buckets) if resume else set()
    # coverage check, not cardinality: a manifest written under a different
    # n_buckets must not report this scheme complete
    if resume and set(range(n_buckets)) <= done:
        return []
    run_buckets = sorted(set(range(n_buckets)) - done)
    bucketed = with_bucket(pages, n_buckets)
    todo = bucketed.filter(~F.col("bucket").isin(list(done))) if done else bucketed

    result = transform(todo.drop("bucket"))
    result = with_bucket(result, n_buckets)
    keep = F.col("keep") if "keep" in result.columns else F.lit(True)
    counters = []
    for b in run_buckets:
        in_b = F.col("bucket") == b
        counters += [F.count_if(in_b).alias(f"rows_{b}"),
                     F.count_if(in_b & keep).alias(f"kept_{b}")]
    obs = Observation()
    result = result.observe(obs, *counters)
    if not resume:
        # the static overwrite below deletes every bucket's data and counts
        # file as it starts: drop their manifest rows first (invariant)
        write_manifest(out_dir, [], n_buckets)

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

    # counts, then manifest, each AFTER the data is durable; a bucket with
    # no rows gets zero counts. Fresh runs replace the manifest
    counts = obs.get
    for b in run_buckets:
        _write_counts(out_dir, b, counts[f"rows_{b}"], counts[f"kept_{b}"])
    write_manifest(out_dir, run_buckets, n_buckets, append=resume)
    return run_buckets


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))
