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
web mode (see evaluate_document(extensions=...)).

Everything is pure Python so the same code is the test oracle and the body
of the Arrow-batched pandas UDFs in functions/udfs.py.
"""

from __future__ import annotations

import re
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
        if _CHAPTER_REF.search(line):
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
