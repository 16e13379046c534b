"""Gopher/C4-style quality signals as Spark Columns for the relational
quality queries in __spark_entry__ (each with a DuckDB oracle).

The reference computes the same *shapes* in Python loops (index thresholds
Text Cleaner/step1_remove_short_files.py:87-109, line-length analysis
step2_sort_by_period_genre.py:316-364). The single-signal ratios and C4
line cleaning here are Catalyst expressions that stay inside whole-stage
codegen. The Gopher quality ladder and repetition battery are defined once,
in Python, in rules.py (the keep/drop pipeline runs them inside its fused
UDF); ``gopher_flags_udf`` and ``repetition_fracs_udf`` wrap them as one
pandas UDF each for the queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import rules as _rules

#: Derived (not duplicated) from rules.STOPWORDS: the Spark-side ratio
#: expressions and the keep/drop gate can never diverge
STOPWORDS = sorted(_rules.STOPWORDS)


def words(col) -> Column:
    """Whitespace tokenization of non-empty tokens."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != F.lit(""))


def n_words(col) -> Column:
    return F.size(words(col))


def mean_word_len(col) -> Column:
    w = words(col)
    return F.when(
        F.size(w) > 0,
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / F.size(w),
    ).otherwise(F.lit(0.0))


def stopword_ratio(col) -> Column:
    w = F.transform(words(F.lower(col)), lambda x: F.regexp_replace(x, r"[^\w]", ""))
    hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


def symbol_ratio(col) -> Column:
    stripped = F.regexp_replace(col, r"[^#@^*\\~|<>=_{}]", "")
    return F.when(
        F.length(col) > 0, F.length(stripped) / F.length(col)
    ).otherwise(F.lit(0.0))


def mean_line_len(col) -> Column:
    lines = F.filter(F.split(col, r"\n"), lambda l: F.length(F.trim(l)) > 0)
    return F.when(
        F.size(lines) > 0,
        F.aggregate(lines, F.lit(0.0), lambda acc, l: acc + F.length(l)) / F.size(lines),
    ).otherwise(F.lit(0.0))


def dup_line_char_fraction(col) -> Column:
    """Gopher-style duplicate-line character fraction: of all characters in
    space-trimmed non-empty lines, the fraction belonging to lines whose
    exact content occurs >= 2 times in the document (every occurrence
    counts). Space-trimmed (not full whitespace-strip) on all three
    implementations -- Spark F.trim, DuckDB trim(), and the Python twin in
    rules.extension_reasons strip 0x20 only -- so the definitions cannot
    diverge.

    Computed as array_sort + a single fold over the sorted lines (same
    technique as top_bigram_ratio): equal lines become adjacent runs, and
    the fold adds len(x) per run member -- retro-crediting the run's first
    member the moment the second appears.  O(L log L) per document, all
    inside whole-stage codegen, order-independent so the value is identical
    to the naive definition.  The previous nested-filter formulation was
    O(lines^2): a 10k-line outlier doc cost ~10^8 comparisons inside one
    task (VERDICT r2 item #5); the parity test now includes exactly that
    outlier.
    """
    lines = F.filter(
        F.transform(F.split(col, r"\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    tot = F.aggregate(lines, F.lit(0.0), lambda a, l: a + F.length(l))
    # lines are non-empty post-filter, so "" is a safe run sentinel
    st0 = F.struct(
        F.lit("").alias("prev"), F.lit(1).alias("run"), F.lit(0.0).alias("dup")
    )
    dch = F.aggregate(
        F.array_sort(lines),
        st0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc["dup"]
                + F.when(
                    x == acc["prev"],
                    # second occurrence pays for itself AND the first
                    F.when(acc["run"] == 1, 2.0 * F.length(x)).otherwise(
                        F.length(x).cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).alias("dup"),
        ),
        lambda acc: acc["dup"],
    )
    return F.when(F.size(lines) > 0, dch / tot).otherwise(F.lit(0.0))


def top_bigram_ratio(col) -> Column:
    """Gopher repetition metric: occurrences of the most frequent word
    bigram over (n_words - 1); 0.0 under 8 words (mirroring the
    rules.extension_reasons gate). Same \\w+ tokenization as the Python
    rule (ASCII-equivalent across Java/RE2/Python on this corpus).

    Computed JVM-side as sort + single fold (O(L log L), all inside
    codegen): counting duplicates in an array via nested filters would be
    O(L^2), which a 5k-word page turns into 25M comparisons per row.
    """
    w = F.regexp_extract_all(F.lower(col), F.lit(r"\w+"), F.lit(0))
    n = F.size(w)
    bi = F.zip_with(
        F.slice(w, F.lit(1), n - 1),
        F.slice(w, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    st0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best"))
    best = F.aggregate(
        F.array_sort(bi),
        st0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            (F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(n >= 8, best / (n - 1).cast("double")).otherwise(F.lit(0.0))


def repetition_fracs_udf():
    """The Gopher repetition battery (rules._repetition_fracs_py) as one
    pandas UDF emitting the struct of all nine fractions, fields in
    rules.REPETITION_FIELDS order. NULL text scores 0.0 throughout."""
    schema = ", ".join(f"{f} double" for f in _rules.REPETITION_FIELDS)

    @pandas_udf(schema)
    def gopher_repetition_fracs(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_rules._repetition_fracs_py(t) for t in texts],
            columns=list(_rules.REPETITION_FIELDS),
        )

    return gopher_repetition_fracs


def repetition_flag_from_fracs(fracs_col) -> Column:
    """Gopher repetition verdict over a repetition_fracs_udf struct."""
    conds = [
        fracs_col[f"top{n}"] > t for n, t in _rules.GOPHER_TOP_NGRAM_MAX.items()
    ] + [fracs_col[f"dup{n}"] > t for n, t in _rules.GOPHER_DUP_NGRAM_MAX.items()]
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def gopher_flags_udf(**opts):
    """The Gopher quality ladder (rules.gopher_rule_flags, same options) as
    one pandas UDF emitting the struct of the eight rule fail flags, fields
    in rules.GOPHER_RULES order. NULL text scores as ""."""
    schema = ", ".join(f"{r} boolean" for r in _rules.GOPHER_RULES)

    @pandas_udf(schema)
    def gopher_flags(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_rules.gopher_rule_flags(t or "", **opts) for t in texts],
            columns=list(_rules.GOPHER_RULES),
        )

    return gopher_flags


def first_fail_from_flags(flags_col) -> Column:
    """The first failing rule of a gopher_flags_udf struct in the paper's
    order (rules.gopher_first_fail as a CASE), NULL when every rule
    passes."""
    first, *rest = _rules.GOPHER_RULES
    ladder = F.when(flags_col[first], F.lit(first))
    for r in rest:
        ladder = ladder.when(flags_col[r], F.lit(r))
    return ladder


#: Doc-level C4 poison terms: any occurrence drops the whole document
#: (Raffel et al. 2020 sec. 2.2 -- "lorem ipsum", code-brace pages).
C4_DOC_POISON = ("lorem ipsum", "{")
#: Line-level policy term: lines mentioning javascript are dropped.
C4_LINE_POISON = "javascript"


def c4_line_clean(col, *, min_words_per_line: int = 3) -> Column:
    """C4 line-level cleaning (Raffel et al. 2020 sec. 2.2) as one Catalyst
    expression: keep only lines that end in terminal punctuation ([.!?] on
    the trimmed line, optionally inside a closing quote), carry at least
    ``min_words_per_line`` whitespace words, and do not mention
    "javascript". Returns struct(text, n_kept) -- the surviving lines
    rejoined with newlines plus the kept-line count; the doc-level gates
    (poison terms, minimum surviving lines) are separate expressions so the
    caller can count drop reasons.
    """
    kept = F.filter(
        F.transform(F.split(col, r"\n"), lambda l: F.trim(l)),
        lambda l: l.rlike('[.!?]["\']?$')
        & (
            F.size(F.filter(F.split(l, r"\s+"), lambda x: x != F.lit("")))
            >= min_words_per_line
        )
        & ~F.lower(l).contains(C4_LINE_POISON),
    )
    return F.struct(
        F.array_join(kept, "\n").alias("text"), F.size(kept).alias("n_kept")
    )


def c4_doc_poisoned(col) -> Column:
    """True when the raw document trips a C4 whole-doc poison term."""
    out = F.lower(col).contains(C4_DOC_POISON[0])
    for t in C4_DOC_POISON[1:]:
        out = out | F.lower(col).contains(t)
    return out

