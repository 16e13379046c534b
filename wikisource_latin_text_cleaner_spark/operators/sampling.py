"""Corpus sampling operators: the deterministic md5 bucket, per-domain
quota capping and the domain-level quality gate.

No reference precedent (the reference emits whole corpora); these are the
web-pipeline ops that run after the per-document quality filter (task
brief scope). All are Catalyst plans, deterministic under re-runs and
resumes (a requirement the engine's checkpointing already imposes: same
input -> same bytes), and exactly replicable in ANSI SQL, so each carries a
DuckDB oracle in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bucket space of split_bucket_col; 10^4 gives 0.01% granularity
SPLIT_BUCKETS = 10_000


def split_bucket_col(key_col) -> F.Column:
    """Deterministic [0, SPLIT_BUCKETS) bucket from the md5 of the key.

    md5 (not xxhash64/crc32) because it is the one hash every engine in the
    toolchain computes identically -- the assignment can be re-derived in
    SQL, pandas, or a downstream system without shipping code. The first 8
    hex chars (32 bits) are plenty of entropy for 10^4 buckets.
    """
    return (
        F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10)
        .cast("long") % SPLIT_BUCKETS
    )


#: refuse to literal-inline more heavy domains than this (an isin() with
#: bounded cardinality; above it the caller's threshold is too low)
_MAX_HEAVY_DOMAINS = 10_000


def domain_cap(
    df: DataFrame,
    domain_col: str,
    k: int,
    order_col: str = "doc_id",
    heavy_threshold: int | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Keep at most ``k`` rows per domain (deterministic: the k smallest
    ``order_col`` values win; ``order_col`` must be unique within a domain
    or the boundary pick is tie-ambiguous) -- the standard domain-balancing
    step that stops a handful of mega-domains from dominating a training
    mix.

    Normal tier (``heavy_threshold=None``): one hash-partition by domain +
    per-partition sort (window row_number), no global sort.

    Extreme tier: Zipfian domains make that window the skew pinch-point at
    10^12 rows -- AQE skew-join splitting does not apply to windows, so one
    mega-domain's rows all land in one window partition.  Pass
    ``heavy_threshold`` to auto-enable the salted two-phase path for any
    domain whose row count exceeds it:

    1. a per-domain count (map-side partial agg, broadcast-sized result)
       finds the heavy set -- bounded by total_rows/heavy_threshold, and
       capped at 10k entries so the inlined membership test stays sane;
    2. heavy rows window over (domain, salt) with
       salt = xxhash64(order_col) % n_salts, keeping k per salt.  Each of
       the true k smallest is by definition among the k smallest of its
       own salt bucket, so the <= k*n_salts survivors are a superset of
       the answer and the max window-partition input drops from
       |domain| to |domain|/n_salts;
    3. an exact domain window over those <= k*n_salts survivors (tiny)
       finishes the cap.

    Survivor sets are IDENTICAL to the unsalted path (same k smallest per
    domain), so the same oracle covers both -- asserted by
    tests/test_dedup_similarity.py::test_domain_cap_salted_matches_unsalted.
    Rows with a NULL domain are treated as one light group (they cannot
    appear in the heavy list).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(domain_col).orderBy(F.col(order_col).asc())
    single = (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    if heavy_threshold is None:
        return single
    if heavy_threshold <= 0:
        raise ValueError(f"heavy_threshold must be positive, got {heavy_threshold}")
    if n_salts < 2:
        raise ValueError(f"n_salts must be >= 2, got {n_salts}")

    heavy = [
        r["d"]
        for r in (
            df.groupBy(F.col(domain_col).alias("d"))
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > heavy_threshold)
            .select("d")
            .limit(_MAX_HEAVY_DOMAINS + 1)
            .collect()
        )
    ]
    if len(heavy) > _MAX_HEAVY_DOMAINS:
        raise ValueError(
            f"domain_cap: >{_MAX_HEAVY_DOMAINS} domains exceed "
            f"heavy_threshold={heavy_threshold}; raise the threshold"
        )
    if not heavy:
        return single

    is_heavy = F.coalesce(F.col(domain_col).isin(heavy), F.lit(False))
    light = (
        df.where(~is_heavy)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    w_salt = Window.partitionBy(domain_col, "_salt").orderBy(F.col(order_col).asc())
    heavy_capped = (
        df.where(is_heavy)
        .withColumn("_salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts)))
        .withColumn("_rn", F.row_number().over(w_salt))
        .where(F.col("_rn") <= k)
        .drop("_salt", "_rn")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    return light.unionByName(heavy_capped)


def domain_quality_gate(
    df: DataFrame,
    score_col,
    domain_col: str = "domain",
    min_mean: float | None = None,
    max_mean: float | None = None,
    min_docs: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Domain-LEVEL quality filtering: aggregate a per-document quality
    score (any Catalyst column -- stopword ratio, a perplexity score
    or a 0/1 rule verdict) to the registrable domain and drop
    EVERY page of a domain whose mean falls outside ``[min_mean,
    max_mean]`` or that has fewer than ``min_docs`` pages. This is the
    measured counterpart of a static domain blocklist: spam/SEO farms are
    much easier to separate at the site level, where per-page noise
    averages out, than page by page (RefinedWeb Penedo et al. 2023 sec
    3.1 motivates URL-level filtering; the aggregate-then-gate shape is
    the UT1-style list-building step). Pages with a NULL domain cannot be
    attributed and are dropped -- pre-filter them if they must survive.

    The mean is rounded to ``round_to`` dp before the band test, the same
    cross-engine determinism surface as ccnet_ppx_buckets (a 1-ulp
    summation-order divergence must not flip a domain at the boundary).

    Scale shape: the per-domain aggregate is partial-aggregatable (one
    (sum, count) pair per domain per map task -- a mega-domain costs its
    map tasks one accumulator each, never a row explosion); the verdict
    frame is one row per domain and joins back as a LEFT SEMI on the
    domain key. At 10^8 domains that join shuffles both sides on a key
    whose build side is unique per key, so AQE's skew splitting handles a
    mega-domain's probe rows; below broadcast range it degrades to a
    broadcast semi-join with zero corpus shuffle. No reference precedent
    (the reference has no notion of a site); part of the web-pipeline
    surface the task brief asks for.
    """
    if min_mean is None and max_mean is None and min_docs <= 1:
        raise ValueError("set at least one of min_mean / max_mean / min_docs")
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    verdicts = df.groupBy(F.col(domain_col).alias("_d")).agg(
        F.round(F.avg(score), round_to).alias("_mean"),
        F.count(F.lit(1)).alias("_n"),
    )
    cond = F.col("_n") >= F.lit(min_docs)
    if min_mean is not None:
        cond = cond & (F.col("_mean") >= F.lit(min_mean))
    if max_mean is not None:
        cond = cond & (F.col("_mean") <= F.lit(max_mean))
    keep = verdicts.where(cond).select(F.col("_d").alias(domain_col))
    return df.join(keep, domain_col, "left_semi")
