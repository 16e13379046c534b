"""Text-analysis operators: token counting, fingerprinting, corpus stats,
dataset views -- the relational surface of the engine.

Maps the reference's reporting aggregations (SURVEY.md §2.6-2.8) onto
Catalyst: A1 size stats, A2 keep/drop counters, A3 classification cube,
A5 per-dataset totals, A6/O2 top-k, A7 success rate, U1 dataset views,
plus whitespace token counting and fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_count_col(text_col) -> F.Column:
    """Whitespace token count (JVM-side)."""
    return F.size(F.filter(F.split(F.trim(text_col), r"\s+"), lambda w: w != F.lit("")))


def fingerprint_col(text_col) -> F.Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (rolling-hash analog, JVM-side)."""
    return F.md5(F.lower(F.regexp_replace(text_col, r"\s+", " ")))


def size_stats(df: DataFrame, size_col: str = "n_chars",
               exact_median: bool = True) -> DataFrame:
    """Corpus size stats incl. median (ref A1: step1_remove_short_files.py:117-144
    sorts sizes and reports min-10, median, mean).

    ``exact_median=True`` uses the exact interpolated percentile (matches
    DuckDB ``quantile_cont``); at 100 TB prefer ``exact_median=False`` --
    ``percentile_approx`` is a fixed-memory single-pass sketch, while the
    exact variant's per-partition state grows with distinct sizes.
    """
    median = (
        F.percentile(size_col, F.lit(0.5))
        if exact_median
        else F.percentile_approx(size_col, F.lit(0.5)).cast("double")
    )
    return df.agg(
        F.count("*").alias("n_docs"),
        F.min(size_col).alias("min_chars"),
        F.max(size_col).alias("max_chars"),
        F.round(median, 4).alias("median_chars"),
        F.round(F.avg(size_col), 4).alias("avg_chars"),
        F.sum(size_col).alias("total_chars"),
    )


def classification_cube(df: DataFrame, *cols: str) -> DataFrame:
    """Counts with all margins (ref A3: step2 histogram + per-period margins,
    step2_sort_by_period_genre.py:551-565) == CUBE."""
    return df.cube(*cols).agg(F.count("*").alias("n_docs"))


def top_k(df: DataFrame, order_col: str, k: int, id_col: str,
          descending: bool = True) -> DataFrame:
    """Deterministic top-k (ref A6/O2: orderBy + limit with id tie-break)."""
    order = [F.desc(order_col) if descending else F.asc(order_col), F.col(id_col)]
    return df.orderBy(*order).limit(k)


def dataset_views(df: DataFrame, filters: dict) -> DataFrame:
    """Overlapping dataset 'merges' as a single unioned, labeled frame
    (ref U1: step7 materialized 12-16 overlapping corpora as copies;
    idiomatic Spark = views/predicates over one table)."""
    parts = [
        df.where(cond).withColumn("dataset", F.lit(name)) for name, cond in filters.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dataset_totals(views: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-dataset doc count + byte totals (ref A5: step7 reports)."""
    return views.groupBy("dataset").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length(text_col)).alias("total_bytes"),
    )


def ccnet_ppx_buckets(
    df: DataFrame,
    ppx_col: str = "ppx",
    by: str = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    bucket_col: str = "ppx_bucket",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    rank every doc by LM perplexity within its language and cut into
    ``n_buckets`` equal tiles (head = lowest ppx / cleanest, ..., tail).
    Deterministic and exactly SQL-re-derivable: the rank orders by the
    6dp-ROUNDED perplexity with ``id_col`` as tiebreak, so fp summation
    noise between engines cannot flip tile boundaries.

    This is the exact form (one ntile window = one shuffle on ``by`` +
    per-group sort). CCNet itself assigns against head/tail CUTOFFS fitted
    on a sample so the assignment stays a stateless map at 10^12 docs; at
    that scale fit cutoffs on df.sample(...) with approx_percentile and
    assign with a when/otherwise chain -- same semantics minus exact tile
    equality, no global sort. The exact form is what the driver oracle
    checks; the per-lang sort is fine up to ~10^9 docs per language.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(by).orderBy(
        F.round(F.col(ppx_col), 6).asc(), F.col(id_col).asc()
    )
    return df.withColumn(bucket_col, F.ntile(n_buckets).over(w))


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    item_col,
    k: int = 256,
    prefilter_frac: float | None = None,
) -> DataFrame:
    """Cross-slice overlap audit via KMV (k-minimum-values) sketches
    (Beyer et al. 2007): for every pair of groups, estimate the Jaccard
    similarity of their distinct-item sets from the bottom-k md5 hashes,
    alongside the exact Jaccard for calibration. The estimator is
    |bottom-k(A ∪ B) ∩ A ∩ B| / min(k, |A ∪ B|) -- the standard KMV
    form, exact whenever the union is smaller than k.

    ``item_col`` is a Column of the items whose sets are compared (e.g.
    URLs, shingle keys, document fingerprints). Hashes are the first 15
    hex chars of md5 (60 uniform bits), so the sketch -- and therefore
    the estimate -- is deterministic and bit-identical across engines;
    the driver oracle re-derives it in SQL.

    Scale shape: the only corpus-sized step is the per-(group, hash)
    distinct, a shuffle on uniform keys with map-side partial
    aggregation. ``prefilter_frac`` is the 10^12-item dial: keep only
    hashes below frac * 2^60 BEFORE the distinct (KMV threshold
    sampling), shrinking the shuffle to ~frac of the distinct items;
    choose frac so the expected survivors per group stay >> k and the
    bottom-k is provably unaffected (the k-th minimum of a group with n
    distinct items concentrates at k/n << frac). The exact-Jaccard
    column is computed from the same distinct frame and is the one piece
    that does NOT survive the prefilter -- at the extreme tier drop it
    and ship the estimate alone (that being the entire point of KMV).
    The pair/rank stages touch only n_groups^2 * k rows.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if prefilter_frac is not None and not 0.0 < prefilter_frac <= 1.0:
        raise ValueError(f"prefilter_frac must be in (0, 1], got {prefilter_frac}")
    from pyspark.sql.window import Window

    h = (
        F.conv(F.substring(F.md5(item_col.cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    hashes = df.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("g"), h.alias("h")
    )
    if prefilter_frac is not None:
        hashes = hashes.where(F.col("h") < int(prefilter_frac * (1 << 60)))
    distinct = hashes.distinct()
    groups = distinct.select(F.col("g").alias("ga")).distinct()
    pairs = groups.join(
        groups.select(F.col("ga").alias("gb")), F.col("ga") < F.col("gb")
    )
    tagged = distinct.join(
        F.broadcast(pairs),
        (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")),
    )
    per_hash = tagged.groupBy("ga", "gb", "h").agg(
        F.max((F.col("g") == F.col("ga")).cast("int")).alias("in_a"),
        F.max((F.col("g") == F.col("gb")).cast("int")).alias("in_b"),
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    ranked = per_hash.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("ga", "gb").agg(
        F.round(
            F.sum(F.when(F.col("rn") <= k, F.col("in_a") * F.col("in_b")).otherwise(0))
            / F.least(F.lit(k), F.count("*")),
            6,
        ).alias("j_est"),
        F.round(F.sum(F.col("in_a") * F.col("in_b")) / F.count("*"), 6).alias("j_exact"),
        F.count("*").alias("n_union"),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` tf-idf terms per group: the standard corpus-profiling /
    domain-signature table (which terms characterize each language,
    domain, or crawl snapshot). tf = term occurrences within the group;
    idf = ln(#groups / #groups containing the term), so a term present in
    every group scores exactly 0 and the winners are the discriminative
    ones. Rows with a NULL group are excluded. Returns (group, term,
    term_freq, group_freq, score, rank) with rank 1..k per group.

    Determinism surface: score is rounded to 6dp BEFORE ranking and ties
    break on term ascending, so the selected set is reproducible across
    engines and partitionings (ln is IEEE-exact per input but the 1-ulp
    product noise must not reorder the boundary).

    Scale shape: the token explode feeds a partial-aggregatable
    (group, term) count -- the shuffle carries one row per distinct
    (group, term) per map task, not one per token; group_freq is a second
    partial agg over that (already-distinct) frame keyed by term; the
    join back to tf is on the term key where the build side is unique per
    key (<= #groups rows per term), so no skew; the final per-group
    row_number window map-side prunes to k per task (Spark 4
    WindowGroupLimit, same shape as domain_cap).
    """
    n_groups = (
        df.where(F.col(group_col).isNotNull())
        .select(group_col).distinct().count()
    )
    toks = (
        df.where(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("term"),
        )
    )
    tf = toks.groupBy("group", "term").agg(F.count(F.lit(1)).alias("term_freq"))
    gf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("group_freq"))
    scored = tf.join(gf, "term").withColumn(
        "score",
        F.round(
            F.col("term_freq")
            * F.log(F.lit(float(n_groups)) / F.col("group_freq")),
            6,
        ),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("group").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("group", "term", "term_freq", "group_freq", "score", "rank")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-over-crawl change report: one row per url with status
    ``added`` (url new this snapshot), ``vanished`` (gone), ``changed``
    (content hash moved), or ``unchanged``. The standard QA table run
    between consecutive snapshots -- a sudden spike in ``vanished`` or
    ``changed`` is how crawl regressions and site-wide template changes
    are caught before they poison training mixes. Inputs must be one row
    per url (run ``dedup.latest_capture`` first on raw captures).

    Scale shape: both sides project to (url, 16-byte md5) before the
    full-outer join -- text never shuffles -- and the join key is the url
    (effectively unique, skew-free). Output is corpus-sized; aggregate by
    status downstream (partial-aggregatable count) for the report.
    """
    # NULL text hashes as empty text: a url captured with no payload must
    # compare as present (else its NULL md5 reads as added/vanished)
    o = old.select(
        F.col(url_col).alias("url"),
        F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
         .alias("_h_old"),
    )
    n = new.select(
        F.col(url_col).alias("url"),
        F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
         .alias("_h_new"),
    )
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("vanished"))
        .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "url", "full_outer").select("url", status.alias("status"))


def gopher_ablation(
    df: DataFrame, text_col: str = "text", **gopher_kwargs
) -> DataFrame:
    """Rule-ablation report for the Gopher quality ladder: per rule, how
    many documents fail it at all (``n_failing``) and for how many it is
    the SOLE failing rule (``n_sole_failure`` -- the marginal cost of the
    rule: exactly the documents a threshold change would win back). This
    is the table a pipeline owner reads before retuning thresholds; the
    first-fail ladder alone can't provide it because a doc failing rules
    3 and 7 is only attributed to rule 3 there.

    Scale shape: ONE corpus pass -- all rule flags come from one pandas
    UDF over the ladder (``quality.gopher_flags_udf``), the counts
    partial-aggregate to a single row, and the 8-rule unpivot is a
    constant-size stack on the driver-bound row. One (tiny) shuffle.
    """
    from ..functions import quality, rules

    names = list(rules.GOPHER_RULES)
    flagged = df.select(
        quality.gopher_flags_udf(**gopher_kwargs)(F.col(text_col)).alias("_f")
    ).select(*[F.col("_f")[n].cast("int").alias(f"_f_{i}")
               for i, n in enumerate(names)])
    nf = sum(F.col(f"_f_{i}") for i in range(len(names)))
    flagged = flagged.withColumn("_nf", nf)
    aggs = []
    for i in range(len(names)):
        aggs.append(F.sum(F.col(f"_f_{i}")).alias(f"fail_{i}"))
        aggs.append(
            F.sum(((F.col(f"_f_{i}") == 1) & (F.col("_nf") == 1)).cast("int"))
            .alias(f"sole_{i}")
        )
    row = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', fail_{i}, sole_{i}" for i, n in enumerate(names)
    )
    return row.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) "
            "as (rule, n_failing, n_sole_failure)"
        )
    )
