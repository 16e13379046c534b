"""The quality-filter pipeline: pages -> (pages_clean columns, metrics).

One declarative DataFrame chain (SURVEY.md §3.4): scan -> [salt] -> one
fused Arrow UDF (the byte-identical step3..6 composition, rule gates,
classify / langid / perplexity / PII) -> Catalyst URL and Gopher gates ->
keep/drop decision. There is NO shuffle in the transform itself --
Catalyst plans scan -> ArrowEvalPython -> project/filter per partition;
only the metrics aggregation (tiny) and an optional skew-defusing
repartition shuffle anything.

Quarantine semantics (ref: Text Cleaner/step1_remove_short_files.py:215-231
backs removed files up rather than losing them): dropped rows are never
deleted, they carry keep=false + drop_reasons, and sinks partition by
`keep` so consumers prune quarantined rows at scan time.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import local_frame
from ..functions import rules, scrub, udfs
from .skew import salted_repartition

#: drop reasons the post-UDF gates append
URL_BLOCKLIST_REASON = "url_blocklist"
GOPHER_PREFIX = "gopher:"
GOPHER_REPETITION_REASON = GOPHER_PREFIX + "repetition"
#: metrics-table rule-name prefix of the per-orthography-rule hit rows
VARIANT_PREFIX = "variant:"


@dataclass
class PipelineConfig:
    min_size_bytes: int = rules.MIN_SIZE_BYTES
    #: None -> reference-fidelity mode; ExtensionConfig -> web mode
    extensions: rules.ExtensionConfig | None = None
    classify: bool = True
    langid: bool = True
    allowed_langs: tuple = ("la",)
    #: None disables the perplexity gate
    perplexity_threshold: float | None = None
    pii_scrub: bool = False
    #: 0 disables the salted repartition (use when input partitioning is fine)
    salt_partitions: int = 0
    #: derive text from the html binary column when text is null (CC rows
    #: often carry only the raw capture); the html column stays pruned from
    #: the scan when this is off
    html_fallback: bool = False
    #: which extractor the html fallback uses: "simple" (every block kept,
    #: functions/html.py:html_to_text) or "main_content" (jusText-style
    #: boilerplate block filter, extract_main_content). Same Arrow batch
    #: shape either way; only consulted when html_fallback is on.
    html_extractor: str = "simple"
    #: surface per-orthography-rule substitution counts (ref A4 per-pattern
    #: stats, step5_standardize_orthography.py:302-338) as a rule_hits map
    #: column, aggregated into the metrics table. Counting rides the subn
    #: calls the scrub already makes -- no extra text scans.
    rule_metrics: bool = False
    #: opt-in URL-level gate (RefinedWeb sec 3.1): a tuple/list of blocked
    #: registrable domains (literal isin) or a DataFrame with a ``domain``
    #: column (broadcast join, the UT1-sized path). None (default) keeps
    #: the gate off so existing keep/drop decisions stay byte-stable.
    url_blocklist: object | None = None
    #: when set to (m_bits, k) and url_blocklist is a DataFrame, gate via
    #: a Bloom filter of the blocklist domains instead of the broadcast
    #: join -- the path for blocklists too large to broadcast exactly
    #: (10^9 domains -> a fixed m_bits/8-byte closure instead of a
    #: multi-GB hash relation). Bloom semantics: every listed domain is
    #: still blocked (no false negatives); a deterministic false-positive
    #: fraction of clean domains is over-blocked -- size m_bits for the
    #: tolerated rate. None (default) keeps the exact join.
    url_blocklist_bloom: tuple | None = None
    #: drop when more than this many functions.urls.BLOCK_KEYWORDS occur as
    #: substrings of the URL; None (default) = gate off.
    max_url_kw_hits: int | None = None
    #: opt-in Gopher document-quality ladder (Rae et al. 2021 sec. A1.1)
    #: over the CLEANED text: keep=true rows failing a rule flip to
    #: keep=false with drop reason 'gopher:<rule>'. Pure Catalyst, rides
    #: the same projection as the other gates -- no extra Python stage.
    gopher_gate: bool = False
    #: kwargs for quality.gopher_first_fail (threshold tuning per corpus)
    gopher_opts: dict | None = None
    #: opt-in Gopher repetition battery (nine top/dup n-gram thresholds)
    #: over the cleaned text; failing rows get 'gopher:repetition'. Kept
    #: separate from gopher_gate because it is the one gate whose cost is
    #: superlinear in doc length (O(L log L) per n) -- enable deliberately.
    gopher_repetition_gate: bool = False


def _flip(df: DataFrame, fails, reason) -> DataFrame:
    """The discipline every post-UDF gate shares: keep=true rows where
    ``fails`` holds flip to keep=false with the ``reason`` column appended
    to drop_reasons; already-dropped rows keep their reasons untouched."""
    gate_fail = F.col("keep") & fails
    return df.withColumn(
        "drop_reasons",
        F.when(gate_fail, F.array_union("drop_reasons", F.array(reason)))
        .otherwise(F.col("drop_reasons")),
    ).withColumn("keep", F.col("keep") & ~gate_fail)


class QualityFilterPipeline:
    """Composable per-document filter/scrub over a `pages`-shaped DataFrame."""

    def __init__(self, config: PipelineConfig | None = None):
        self.config = config or PipelineConfig()

    def transform(self, pages: DataFrame) -> DataFrame:
        """Annotate pages with verdict/classification/language columns.

        Output columns: url, warc_ts, lang, keep, drop_reasons, clean_text
        [, period, genre, confidence][, lang_pred, lang_margin][, ppx]
        [, pii_spans]. Column pruning: only url/warc_ts/text/lang are read.
        """
        cfg = self.config
        if cfg.html_fallback:
            from ..functions.html import html_to_text_udf, main_content_udf

            # the UDF sees NULL payload for rows that already have text, so
            # they pay no extraction; rows with neither stay NULL (null_text
            # drop reason), not empty-string
            payload = F.when(F.col("text").isNull(), F.col("html"))
            if cfg.html_extractor == "main_content":
                extracted = main_content_udf()(payload).getField("text")
            elif cfg.html_extractor == "simple":
                extracted = html_to_text_udf(payload)
            else:
                raise ValueError(
                    f"html_extractor must be 'simple' or 'main_content', "
                    f"got {cfg.html_extractor!r}"
                )
            df = pages.select(
                "url", "warc_ts",
                F.coalesce(
                    "text", F.when(F.col("html").isNotNull(), extracted)
                ).alias("text"),
                "lang",
            )
        else:
            df = pages.select("url", "warc_ts", "text", "lang")
        if cfg.salt_partitions:
            df = salted_repartition(df, "url", cfg.salt_partitions)

        return self._apply_quality_gates(
            self._apply_url_gate(self._transform_fused(df))
        )

    def _apply_quality_gates(self, df: DataFrame) -> DataFrame:
        """Gopher quality/repetition gates over the CLEANED text (gate
        discipline of ``_flip``; dropped rows keep their clean_text for the
        quarantine sink). clean_text is NULL for already-dropped rows, so
        the ladder evaluates to NULL there and no reason is appended."""
        cfg = self.config
        if not cfg.gopher_gate and not cfg.gopher_repetition_gate:
            return df
        from ..functions import quality as _q

        if cfg.gopher_gate:
            ff = _q.gopher_first_fail(F.col("clean_text"), **(cfg.gopher_opts or {}))
            df = _flip(df, ff.isNotNull(), F.concat(F.lit(GOPHER_PREFIX), ff))
        if cfg.gopher_repetition_gate:
            # Arrow-fused battery (one UDF for all nine fractions); the
            # Catalyst fold twin is ~25x slower when all nine are needed
            rep = _q.repetition_flag_from_fracs(
                _q.repetition_fracs_udf()(F.col("clean_text"))
            )
            df = _flip(df, F.coalesce(rep, F.lit(False)),
                       F.lit(GOPHER_REPETITION_REASON))
        return df

    def _apply_url_gate(self, df: DataFrame) -> DataFrame:
        """RefinedWeb-style URL gate (domain blocklist + keyword score),
        applied after the fused UDF. Pure Catalyst over the url column: a
        literal isin for small inline lists, a broadcast join for
        table-sized blocklists; keyword scoring is a fixed sum of
        contains() probes. Docs failing the gate get drop reason
        'url_blocklist' (see ``_flip``)."""
        cfg = self.config
        if not self._url_gate_on():
            return df
        from ..functions import urls as _urls

        cols = df.columns
        blocked = F.lit(False)
        if cfg.url_blocklist is not None:
            if (cfg.url_blocklist_bloom is not None
                    and isinstance(cfg.url_blocklist, DataFrame)):
                from ..operators.decontaminate import (
                    bloom_member_col, build_bloom,
                )

                m_bits, n_hashes = cfg.url_blocklist_bloom
                bits = build_bloom(
                    cfg.url_blocklist.select(
                        F.lower(F.col("domain")).alias("domain")
                    ),
                    "domain", m_bits=m_bits, k=n_hashes,
                )
                blocked = blocked | bloom_member_col(
                    _urls.registrable_domain(F.col("url")),
                    bits, m_bits, n_hashes,
                )
            elif isinstance(cfg.url_blocklist, DataFrame):
                bl = (
                    cfg.url_blocklist
                    .select(F.lower(F.col("domain")).alias("_bl_dom"))
                    .distinct()
                    .withColumn("_bl", F.lit(True))
                )
                df = df.withColumn(
                    "_bl_dom", _urls.registrable_domain(F.col("url"))
                ).join(F.broadcast(bl), "_bl_dom", "left")
                blocked = blocked | F.coalesce(F.col("_bl"), F.lit(False))
            else:
                doms = sorted({d.lower() for d in cfg.url_blocklist})
                blocked = blocked | _urls.registrable_domain(
                    F.col("url")
                ).isin(doms)
        if cfg.max_url_kw_hits is not None:
            blocked = blocked | (
                _urls.url_keyword_hits(F.col("url")) > cfg.max_url_kw_hits
            )
        return _flip(df, blocked, F.lit(URL_BLOCKLIST_REASON)).select(*cols)

    def _url_gate_on(self) -> bool:
        return (self.config.url_blocklist is not None
                or self.config.max_url_kw_hits is not None)

    def _transform_fused(self, df: DataFrame) -> DataFrame:
        """One ArrowEvalPython stage for the whole per-document pipeline:
        the document text crosses the JVM<->Python boundary once."""
        cfg = self.config
        fused = udfs.make_fused_udf(
            min_size_bytes=cfg.min_size_bytes,
            extensions=cfg.extensions,
            classify_on=cfg.classify,
            langid_on=cfg.langid,
            allowed_langs=tuple(cfg.allowed_langs),
            ppx_threshold=cfg.perplexity_threshold,
            pii_on=cfg.pii_scrub,
            rule_metrics=cfg.rule_metrics,
        )
        df = df.withColumn("v", fused("text"))
        cols = [
            "url", "warc_ts", "lang",
            F.col("v.keep").alias("keep"),
            F.col("v.drop_reasons").alias("drop_reasons"),
            F.col("v.clean_text").alias("clean_text"),
        ]
        if cfg.classify:
            cols += [F.col("v.period").alias("period"),
                     F.col("v.genre").alias("genre"),
                     F.col("v.confidence").alias("confidence")]
        if cfg.langid:
            cols += [F.col("v.lang_pred").alias("lang_pred"),
                     F.col("v.lang_margin").alias("lang_margin")]
        if cfg.perplexity_threshold is not None:
            cols.append(F.col("v.ppx").alias("ppx"))
        if cfg.pii_scrub:
            cols.append(F.col("v.pii_spans").alias("pii_spans"))
        if cfg.rule_metrics:
            cols.append(F.col("v.rule_hits").alias("rule_hits"))
        # ref A4 counter, last column: chars removed vs the final
        # (post-PII) clean text (detailed_progress_logger.py:158-186 analog)
        cols.append(
            (F.coalesce(F.length("text"), F.lit(0))
             - F.coalesce(F.length("v.clean_text"), F.lit(0))).alias("chars_removed")
        )
        return df.select(*cols)

    def reason_vocabulary(self) -> tuple:
        """The closed set of drop reasons this config can emit, each name
        taken from the module that emits it."""
        cfg = self.config
        reasons = rules.EARLY_REASONS
        if cfg.extensions is not None:
            reasons += rules.EXTENSION_REASONS
        if cfg.langid:
            reasons += (udfs.LANGID_REASON,)
        if cfg.perplexity_threshold is not None:
            reasons += (udfs.PERPLEXITY_REASON,)
        if self._url_gate_on():
            reasons += (URL_BLOCKLIST_REASON,)
        if cfg.gopher_gate:
            from ..functions import quality as _q

            reasons += tuple(GOPHER_PREFIX + k for k in _q.gopher_rule_flags(
                F.col("clean_text"), **(cfg.gopher_opts or {})))
        if cfg.gopher_repetition_gate:
            reasons += (GOPHER_REPETITION_REASON,)
        return reasons

    def observed(self, transformed: DataFrame, name: str = "quality_filter"):
        """Attach driver-visible run counters to the frame (ref A4/S10: the
        running stats the reference's DetailedProgressLogger accumulated,
        Text Cleaner/detailed_progress_logger.py:33-47). ``df.observe``
        rides the action that writes the frame, so the counters cost no
        extra pass over the data.

        Counters: ``docs_in``, ``docs_kept``, ``chars_removed``,
        ``clean_chars``; one docs-dropped count per name in
        ``reason_vocabulary()``, keyed by the reason; ``_unlisted``, the
        docs carrying any reason outside that vocabulary (0 unless an
        emitter and the vocabulary disagree); and with ``rule_metrics``
        one ``variant:<rule>`` hit sum per orthography variant rule (NULL
        when the rule never fired). ``observed_metrics`` turns them into
        ``metrics()`` rows.

        Returns (df, observation); read ``observation.get`` only after an
        action ran on ``df``: it blocks until one does.
        """
        from pyspark.sql import Observation

        reasons = self.reason_vocabulary()
        counters = [
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.col("keep").cast("long")).alias("docs_kept"),
            F.sum("chars_removed").alias("chars_removed"),
            F.sum(F.length("clean_text")).alias("clean_chars"),
            F.count_if(
                F.exists("drop_reasons", lambda r: ~r.isin(*reasons))
            ).alias("_unlisted"),
        ]
        counters += [F.count_if(F.array_contains("drop_reasons", r)).alias(r)
                     for r in reasons]
        if self.config.rule_metrics:
            # rule_hits is keyed by each rule's first guard literal
            names = dict.fromkeys(g[0] for _, _, g in scrub.VARIANT_RULES)
            counters += [F.sum(F.col("rule_hits")[k]).alias(VARIANT_PREFIX + k)
                         for k in names]
        obs = Observation(name)
        return transformed.observe(obs, *counters), obs

    def observed_metrics(self, spark, counters: dict) -> DataFrame:
        """``metrics()`` rows for one observed run, built from its
        ``observed()`` counters without touching the data: the same columns
        and rule names, one set of rows per run with ``partition_id`` NULL.
        A run of zero docs yields no rows, as ``metrics()`` does."""
        if counters["_unlisted"]:
            import warnings

            warnings.warn(f"{counters['_unlisted']} docs carry drop reasons "
                          "outside reason_vocabulary(); their per-reason "
                          "metrics rows are missing")
        docs_in, kept = counters["docs_in"], counters["docs_kept"] or 0
        # (rule, docs_dropped, docs_in, docs_out, chars_removed, rule_hits)
        rows = [("_partition_total", docs_in - kept, docs_in, kept,
                 counters["chars_removed"], None)] if docs_in else []
        rows += [(r, counters[r], None, None, None, None)
                 for r in self.reason_vocabulary() if counters[r]]
        rows += [(k, None, None, None, None, v) for k, v in counters.items()
                 if k.startswith(VARIANT_PREFIX) and v is not None]
        names = ("rule", "docs_dropped", "docs_in", "docs_out",
                 "chars_removed", "rule_hits")
        cols = list(zip(*rows)) or [()] * len(names)
        return local_frame(spark, {
            "partition_id": pa.nulls(len(rows), pa.int32()),
            **{n: pa.array(c, pa.string() if n == "rule" else pa.int64())
               for n, c in zip(names, cols)},
        })

    def metrics(self, transformed: DataFrame) -> DataFrame:
        """Per-partition lineage counters (SURVEY.md §4.3-3): one row per
        (partition_id, rule) plus a `_partition_total` row per partition --
        the Spark re-expression of the reference's per-step report files
        (Text Cleaner/detailed_progress_logger.py:33-47). This is the
        library API and a separate aggregation over ``transformed``; the
        driver writes the same rules per run from ``observed()`` counters
        instead (``observed_metrics``), with no pass over its output."""
        base = transformed.withColumn("partition_id", F.spark_partition_id())
        per_rule = (
            base.select("partition_id", F.explode_outer("drop_reasons").alias("rule"))
            .where(F.col("rule").isNotNull())
            .groupBy("partition_id", "rule")
            .agg(F.count("*").alias("docs_dropped"))
            .withColumn("docs_in", F.lit(None).cast("long"))
            .withColumn("docs_out", F.lit(None).cast("long"))
            .withColumn("chars_removed", F.lit(None).cast("long"))
        )
        totals = base.groupBy("partition_id").agg(
            F.count("*").alias("docs_in"),
            F.sum(F.col("keep").cast("long")).alias("docs_out"),
            (F.count("*") - F.sum(F.col("keep").cast("long"))).alias("docs_dropped"),
            F.sum("chars_removed").alias("chars_removed"),
        ).withColumn("rule", F.lit("_partition_total"))
        out = per_rule.unionByName(
            totals.select("partition_id", "rule", "docs_dropped", "docs_in",
                          "docs_out", "chars_removed")
        ).withColumn("rule_hits", F.lit(None).cast("long"))
        if "rule_hits" in transformed.columns:
            # per-orthography-rule substitution totals (ref A4 per-pattern
            # stats): one row per (partition, variant:<rule>); the map
            # explode is partial-aggregated before the metrics shuffle
            variant_rows = (
                base.select("partition_id", F.explode_outer("rule_hits")
                            .alias("rule", "hits"))
                .where(F.col("rule").isNotNull())
                .groupBy("partition_id",
                         F.concat(F.lit(VARIANT_PREFIX), "rule").alias("rule"))
                .agg(F.sum("hits").cast("long").alias("rule_hits"))
                .withColumn("docs_dropped", F.lit(None).cast("long"))
                .withColumn("docs_in", F.lit(None).cast("long"))
                .withColumn("docs_out", F.lit(None).cast("long"))
                .withColumn("chars_removed", F.lit(None).cast("long"))
            )
            out = out.unionByName(variant_rows.select(*out.columns))
        return out

    def run(self, pages: DataFrame) -> tuple[DataFrame, DataFrame]:
        out = self.transform(pages)
        return out, self.metrics(out)


def drop_reason_histogram(transformed: DataFrame) -> DataFrame:
    """Corpus-level decision histogram (ref step1 keep/drop counters,
    Text Cleaner/step1_remove_short_files.py:233-258)."""
    return (
        transformed.select(
            F.when(F.col("keep"), F.lit("keep"))
            .otherwise(F.element_at("drop_reasons", 1))
            .alias("decision")
        )
        .groupBy("decision")
        .agg(F.count("*").alias("n_docs"))
    )
