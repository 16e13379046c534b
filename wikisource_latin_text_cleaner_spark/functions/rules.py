"""Keep/drop rule core: per-document filter decisions + reasons.

Re-expresses the reference's document-level filtering:

  - ``min_size``       drop docs under 200 UTF-8 bytes
                       (ref: Text Cleaner/step1_remove_short_files.py:146,190-193)
  - ``index_toc``      multi-signal index/TOC detector
                       (ref: Text Cleaner/step1_remove_short_files.py:33-115)
  - ``pre_clean_len``  doc under 50 stripped chars entering final cleanup
                       (ref: Text Cleaner/step6_final_cleanup.py:245-251)
  - ``post_clean_len`` doc under 50 stripped chars after final cleanup
                       (ref: Text Cleaner/step6_final_cleanup.py:256-261)

plus engine-extension rules for the web-text generalization (Gopher/C4-style
heuristics, langid gate) that are OFF in reference-fidelity mode and ON in
web mode (see evaluate_document(extensions=...)), and the opt-in Gopher
quality ladder and repetition battery (gopher_first_fail,
repetition_fails) that the fused UDF runs on rows it still keeps.

Everything is pure Python so the same code is the test oracle and the body
of the Arrow-batched pandas UDFs in functions/udfs.py.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

from . import scrub

_I = re.IGNORECASE

#: Default minimum raw document size in UTF-8 bytes (ref step1:146)
MIN_SIZE_BYTES = 200

#: drop reasons of the reference gates, in evaluation order
EARLY_REASONS = ("null_text", "min_size", "index_toc", "pre_clean_len",
                 "post_clean_len")
NULL_TEXT, MIN_SIZE, INDEX_TOC, PRE_CLEAN_LEN, POST_CLEAN_LEN = EARLY_REASONS

# -- index/TOC detector patterns (ref: optimized_regex_patterns.py:39-54) --
_CHAPTER_REF = re.compile(
    r"(liber|book|chapter|capitulum|epistul|carmen|versus|sectio|pars)\s+[ivxlcdm0-9]+",
    _I,
)
#: _CHAPTER_REF's lowercase pattern, case-sensitive, for scrub.fold(line)
_CHAPTER_REF_FOLDED = re.compile(_CHAPTER_REF.pattern)
_NUMBERED_TOC = re.compile(r"^[ivxlcdm0-9]+[\.\s\-]", _I)
_PAGE_NUMBER = re.compile(r"^\s*\d+\s*$|^\s*p\.\s*\d+", _I)
_FUNCTION_WORDS = re.compile(r"\b(et|in|de|ad|cum|ex|pro|per|ab)\b", _I)
_REAL_WORD = re.compile(r"[a-zA-Z]{4,}")


def looks_like_index(text: str) -> bool:
    """Multi-signal index/TOC detection on raw document text.

    Faithful to ref step1_remove_short_files.detect_index_content, including
    its header skip, its elif chain, and its threshold arithmetic.
    """
    lines = text.split("\n")
    start = 0
    for i, line in enumerate(lines):
        if "----" in line or line.strip().startswith("--"):
            start = i + 1
            break
    body = "\n".join(lines[start:]).strip()
    content = [ln.strip() for ln in body.split("\n") if ln.strip()]
    if not content:
        return False

    chapterish = 0
    bullets = 0
    for line in content[:50]:
        # a case-insensitive match is a folded case-sensitive one
        if (_CHAPTER_REF_FOLDED.search(scrub.fold(line))
                and _CHAPTER_REF.search(line)):
            chapterish += 1
        elif _NUMBERED_TOC.match(line) and len(line) < 80:
            chapterish += 1
        elif line.startswith("*") and len(line) < 100:
            bullets += 1

    total = len(content)
    if chapterish > 5 and chapterish > total * 0.3:
        return True
    if bullets > 10 and total < 100:
        return True
    if total < 30 and (chapterish + bullets) > total * 0.5:
        return True

    non_prose = 0
    for line in content[:30]:
        if (
            len(line) < 20
            and not _REAL_WORD.search(line)
            and not line.endswith(".")
            and not _FUNCTION_WORDS.search(line)
        ):
            non_prose += 1
    return non_prose > total * 0.4 and total < 50


# --------------------------------------------------------------------------
# Engine-extension heuristics (Gopher/C4-shaped; NOT part of the reference)
# --------------------------------------------------------------------------

#: English+Latin stop words for the stop-word-ratio rule
STOPWORDS = frozenset(
    "the of and to in a is was for that et in de ad cum ex pro per ab non "
    "sed ut si quod qui quae der die und das le la les el los en".split()
)

_WORD = re.compile(r"\w+", re.UNICODE)
_SYMBOLS = re.compile(r"[#@^*\\~|<>=_{}]")


@dataclass(frozen=True)
class ExtensionConfig:
    """Thresholds for the web-text extension rules (Gopher/C4-shaped)."""

    min_words: int = 20
    max_words: int = 200_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.05
    min_stopword_ratio: float = 0.01
    max_top_bigram_ratio: float = 0.30
    #: Gopher duplicate-line character-fraction cap; None (default) keeps
    #: the rule off so existing keep/drop decisions stay byte-stable.
    #: Space-trim-only line normalization, matching
    #: quality.dup_line_char_fraction exactly.
    max_dup_line_frac: float | None = None
    #: C4-style toxicity gate: drop when the lexicon-word fraction
    #: (pii.toxicity_score, [a-z]+ whole-word matching against
    #: pii.TOXICITY_LEXICON) exceeds this.  0.0 reproduces C4's
    #: any-badword-drops-the-page rule; None (default) keeps the gate off
    #: so existing keep/drop decisions stay byte-stable.
    max_toxicity: float | None = None


#: every drop reason ``extension_reasons`` can emit
EXTENSION_REASONS = ("word_count", "mean_word_len", "symbol_ratio",
                     "stopword_ratio", "repetition", "dup_lines", "toxicity")
(WORD_COUNT, MEAN_WORD_LEN, SYMBOL_RATIO, STOPWORD_RATIO, REPETITION,
 DUP_LINES, TOXICITY) = EXTENSION_REASONS


def extension_reasons(clean_text: str, cfg: ExtensionConfig) -> list[str]:
    """Gopher/C4-style quality reasons evaluated on the scrubbed text."""
    reasons = []
    words = _WORD.findall(clean_text.lower())
    n = len(words)
    if n < cfg.min_words or n > cfg.max_words:
        reasons.append(WORD_COUNT)
        return reasons  # remaining ratios are meaningless on tiny docs
    mean_len = sum(len(w) for w in words) / n
    if not (cfg.min_mean_word_len <= mean_len <= cfg.max_mean_word_len):
        reasons.append(MEAN_WORD_LEN)
    if len(_SYMBOLS.findall(clean_text)) / max(1, len(clean_text)) > cfg.max_symbol_ratio:
        reasons.append(SYMBOL_RATIO)
    if sum(1 for w in words if w in STOPWORDS) / n < cfg.min_stopword_ratio:
        reasons.append(STOPWORD_RATIO)
    if n >= 8:
        bigrams: dict = {}
        for a, b in zip(words, words[1:]):
            key = (a, b)
            bigrams[key] = bigrams.get(key, 0) + 1
        top = max(bigrams.values())
        if top / (n - 1) > cfg.max_top_bigram_ratio:
            reasons.append(REPETITION)
    if cfg.max_dup_line_frac is not None:
        if dup_line_char_fraction(clean_text) > cfg.max_dup_line_frac:
            reasons.append(DUP_LINES)
    if cfg.max_toxicity is not None:
        from . import pii as _pii

        if _pii.toxicity_score(clean_text) > cfg.max_toxicity:
            reasons.append(TOXICITY)
    return reasons


def dup_line_char_fraction(text: str) -> float:
    """Python twin of quality.dup_line_char_fraction (space-trim only)."""
    lines = [l.strip(" ") for l in text.split("\n")]
    lines = [l for l in lines if l]
    if not lines:
        return 0.0
    counts: dict = {}
    for l in lines:
        counts[l] = counts.get(l, 0) + 1
    total = sum(len(l) for l in lines)
    dup = sum(len(l) for l in lines if counts[l] >= 2)
    return dup / total


# --------------------------------------------------------------------------
# Gopher quality ladder and repetition battery (Rae et al. 2021)
# --------------------------------------------------------------------------

#: Gopher quality rules (sec. A1.1) in the paper's order; the ladder
#: reports the first one that fails
GOPHER_RULES = ("too_few_words", "too_many_words", "word_length",
                "symbol_ratio", "bullet_lines", "ellipsis_lines",
                "alpha_words", "stopwords")
#: the fail name of the repetition battery
GOPHER_REPETITION = "repetition"

#: Java-regex ``\s`` (Spark's ``split(text, '\s+')``), narrower than
#: ``str.split()``, which also splits on unicode spaces and \x1c-\x1f
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")
_ALPHA = re.compile(r"[A-Za-z]")


def gopher_rule_flags(
    text: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_distinct_stopwords: int = 2,
    stopwords=None,
) -> dict:
    """Per-rule fail flags of the Gopher quality ladder, keyed by the names
    of ``GOPHER_RULES`` in that order.

    Words are the non-empty pieces between Java ``\\s`` runs; lines are the
    non-empty ``"\\n"`` pieces with ASCII spaces stripped (Spark's
    ``trim``). The stop-word rule defaults to the engine's ``STOPWORDS``
    rather than Gopher's 8 English function words, so the gate stays
    discriminative on non-English web text; pass
    ``stopwords=["the","be","to","of","and","that","have","with"]`` for the
    paper-exact variant.
    """
    stops = STOPWORDS if stopwords is None else frozenset(stopwords)
    words = [w for w in _JAVA_SPACE.split(text) if w]
    nw = len(words)
    lines = [ln for ln in (ln.strip(" ") for ln in text.split("\n")) if ln]
    nl = len(lines)
    mwl = sum(map(len, words)) / nw if nw else 0.0
    symbols = len(_SYMBOLS.findall(text)) / len(text) if text else 0.0
    bullets = sum(ln[0] in "•-*" for ln in lines) / nl if nl else 0.0
    ellipses = sum(ln.endswith(("...", "…")) for ln in lines) / nl if nl else 0.0
    alpha = sum(1 for w in words if _ALPHA.search(w)) / nw if nw else 0.0
    flags = (
        nw < min_words,
        nw > max_words,
        mwl < min_mean_word_len or mwl > max_mean_word_len,
        symbols > max_symbol_ratio,
        bullets > max_bullet_line_frac,
        ellipses > max_ellipsis_line_frac,
        alpha < min_alpha_word_frac,
        len({w.lower() for w in words} & stops) < min_distinct_stopwords,
    )
    return dict(zip(GOPHER_RULES, flags))


def gopher_first_fail(text: str, **opts) -> str | None:
    """The first failing rule of the Gopher ladder in the paper's order,
    None when the document passes every rule (same options as
    ``gopher_rule_flags``)."""
    for rule, fails in gopher_rule_flags(text, **opts).items():
        if fails:
            return rule
    return None


#: Gopher repetition thresholds (table A1): a doc is repetition-flagged
#: when any fraction exceeds its bound.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

#: Java-regex-\w tokenization (ASCII [A-Za-z0-9_]), the tokenization of the
#: DuckDB oracle's ``regexp_extract_all(lower(text), '\w+')`` on this
#: corpus (Python's re.\w is unicode-wide and would diverge on CJK text)
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")
_REP_NS_TOP = tuple(sorted(GOPHER_TOP_NGRAM_MAX))
_REP_NS_DUP = tuple(sorted(GOPHER_DUP_NGRAM_MAX))
REPETITION_FIELDS = tuple(
    [f"top{n}" for n in _REP_NS_TOP] + [f"dup{n}" for n in _REP_NS_DUP]
)
_REP_BOUNDS = tuple(GOPHER_TOP_NGRAM_MAX[n] for n in _REP_NS_TOP) + tuple(
    GOPHER_DUP_NGRAM_MAX[n] for n in _REP_NS_DUP
)


def _repetition_fracs_py(t: str | None) -> tuple:
    """All nine Gopher repetition fractions for one document, in
    ``REPETITION_FIELDS`` order, O(L) via hashed gram counts.

    ``top<n>``: occurrences * length of the most frequent word n-gram over
    the text length; count ties go to the lexicographically smallest gram.
    ``dup<n>``: characters inside word n-grams occurring >= 2 times (each
    overlapping occurrence counts) over the text length, summed in sorted-
    gram order (2*len on a gram's second occurrence, +len per later one)
    so the double sum is stable. Grams are space-joined ``_TOKEN_RE``
    tokens of the lowercased text; NULL, empty and shorter-than-n docs
    score 0.0."""
    if not t:
        return (0.0,) * len(REPETITION_FIELDS)
    length = len(t)
    ws = _TOKEN_RE.findall(t.lower())
    out = []
    for n in _REP_NS_TOP:
        m = len(ws) - n + 1
        if m < 1:
            out.append(0.0)
            continue
        c = Counter(" ".join(ws[i : i + n]) for i in range(m))
        best = max(c.values())
        bg = min(g for g, cc in c.items() if cc == best)
        out.append(best * len(bg) / length)
    for n in _REP_NS_DUP:
        m = len(ws) - n + 1
        if m < 1:
            out.append(0.0)
            continue
        c = Counter(" ".join(ws[i : i + n]) for i in range(m))
        acc = 0.0
        for g in sorted(g for g, cc in c.items() if cc >= 2):
            lg = float(len(g))
            acc += 2.0 * lg
            for _ in range(c[g] - 2):
                acc += lg
        out.append(acc / length)
    return tuple(out)


def repetition_fails(text: str | None) -> bool:
    """True when any Gopher repetition fraction exceeds its bound."""
    return any(f > b for f, b in zip(_repetition_fracs_py(text), _REP_BOUNDS))


# --------------------------------------------------------------------------
# Full document evaluation
# --------------------------------------------------------------------------

@dataclass
class Verdict:
    keep: bool
    drop_reasons: list[str] = field(default_factory=list)
    clean_text: str = ""
    #: per-orthography-rule substitution counts (ref A4 per-pattern stats);
    #: None unless collect_rule_hits was requested AND the doc reached the
    #: orthography stage
    rule_hits: dict | None = None


def evaluate_document(
    text: str,
    min_size_bytes: int = MIN_SIZE_BYTES,
    extensions: ExtensionConfig | None = None,
    collect_rule_hits: bool = False,
) -> Verdict:
    """Full per-document decision: reference gates + optional extensions.

    Reference-fidelity mode (extensions=None) reproduces exactly the
    reference pipeline's survivorship: a document survives iff it passes
    step1's size+index gates and step6's two 50-char gates; its clean_text
    is the byte-identical step3..6 composition output.
    """
    if text is None:
        return Verdict(False, [NULL_TEXT])
    if len(text.encode("utf-8")) < min_size_bytes:
        return Verdict(False, [MIN_SIZE])
    if looks_like_index(text):
        return Verdict(False, [INDEX_TOC])

    hits: dict | None = {} if collect_rule_hits else None
    staged = scrub.stage_orthography(
        scrub.stage_headings(scrub.stage_content(text)), variant_counts=hits
    )
    if len(staged.strip()) < scrub.MIN_CLEAN_CHARS:
        return Verdict(False, [PRE_CLEAN_LEN], rule_hits=hits)
    cleaned = scrub.stage_final(staged)
    if len(cleaned.strip()) < scrub.MIN_CLEAN_CHARS:
        return Verdict(False, [POST_CLEAN_LEN], rule_hits=hits)

    if extensions is not None:
        reasons = extension_reasons(cleaned, extensions)
        if reasons:
            return Verdict(False, reasons, cleaned, rule_hits=hits)
    return Verdict(True, [], cleaned, rule_hits=hits)
