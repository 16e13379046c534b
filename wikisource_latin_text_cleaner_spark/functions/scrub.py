"""Document scrub core: the per-document text transform chain.

This module re-expresses, from scratch, the cleaning semantics of the
reference pipeline (wground/Wikisource-Latin-Text-Cleaner) as four pure
``str -> str`` stage functions plus their composition:

    stage_content      -- content clean      (ref: Text Cleaner/step3_clean_content.py:467-492)
    stage_headings     -- heading strip      (ref: Text Cleaner/step4_remove_headings.py:173-181)
    stage_orthography  -- orthography norm   (ref: Text Cleaner/step5_standardize_orthography.py:302-338)
    stage_final        -- final cleanup      (ref: Text Cleaner/step6_final_cleanup.py:189-209)
    scrub_document     -- stage3 . stage4 . stage5 . stage6 composition
                          (ref order: Text Cleaner/clean_texts_v2.py pipeline)

The output of ``scrub_document`` must be byte-identical to the reference
composition per document (verified by tests/test_scrub_golden.py against
goldens produced by actually running the reference code). Several reference
behaviors are deliberate-looking bugs we reproduce faithfully (e.g. lines
starting with any of [ivxlcdm] whose remainder is <30 chars are dropped as
"Roman numeral headings", ref step4_remove_headings.py:18-52; praenomina
M./L./C. never expand because their bare letter is itself a Roman numeral,
ref step3_clean_content.py:348-366).

Everything here is pure Python + ``re`` on purpose: Java regex dialect
differences (word boundaries, DOTALL+MULTILINE interplay) make Catalyst's
``regexp_replace`` unsuitable for byte-fidelity, so these functions run
inside Arrow-batched pandas UDFs (see functions/udfs.py). All patterns are
compiled once per process at import time.

Most case-insensitive batteries never match a given document, and Python's
``re`` runs an ``IGNORECASE`` scan about 4x slower than a case-sensitive one.
So each hot case-insensitive scan is fronted by an exact necessary-condition
check over ``fold(text)``: a guard literal, or one case-sensitive alternation
of the lowered patterns. ``fold`` maps every code point that ``IGNORECASE``
equates with an ASCII letter to that letter, keeps every offset, and keeps
every character's ``\\w``/``\\s`` class (tests/test_property_scrub.py checks
this over all code points), so a pattern of ASCII letters, ``\\b``, ``\\s`` and
punctuation that matches ``text`` case-insensitively at some offset matches
``fold(text)`` case-sensitively, lowered, at the same offset.
"""

from __future__ import annotations

import re
import unicodedata

_I = re.IGNORECASE
_M = re.MULTILINE
_S = re.DOTALL

# --------------------------------------------------------------------------
# Shared primitives
# --------------------------------------------------------------------------

#: Strict Roman numeral (ref: step3_clean_content.py:109, optimized_regex_patterns.py:16-19)
ROMAN_NUMERAL = re.compile(
    r"\b(?=[MDCLXVI])M{0,4}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})\b"
)
ROMAN_NUMERAL_CI = re.compile(ROMAN_NUMERAL.pattern, _I)

#: Roman numeral anchored at line start with trailing separators
#: (ref: optimized_regex_patterns.py:21-24)
ROMAN_LINE_START = re.compile(
    r"^(?=[IVXLCDM])(?:M{0,4}(?:CM|CD|D?C{0,3})(?:XC|XL|L?X{0,3})(?:IX|IV|V?I{0,3}))"
    r"[.\s\-–—]*",
    _I,
)


def _is_roman(token: str) -> bool:
    return bool(ROMAN_NUMERAL_CI.fullmatch(token.upper()))


#: The only non-ASCII code points that ``re.IGNORECASE`` equates with an
#: ASCII letter and ``lower()`` does not map to it (K, U+212A, lowers to k).
_FOLD_TABLE = str.maketrans("İıſ", "iis")


def fold(text: str) -> str:
    """Lowercase view of ``text`` in which a character equals an ASCII
    letter iff ``re.IGNORECASE`` equates them, at the same offsets."""
    # on a str without these chars (always so for Latin-1 text) each test
    # is a kind check or one memchr; İ is the one code point whose lower()
    # is two characters, so translating it first keeps every offset
    if "İ" in text or "ı" in text or "ſ" in text:
        text = text.translate(_FOLD_TABLE)
    return text.lower()


def _sub_all(text: str, battery) -> str:
    """Apply an ordered battery of (compiled_pattern, replacement, guards).

    ``guards`` is a tuple of lowercase ASCII literals such that every
    possible match of the pattern must contain at least one of them; when
    none occurs in ``fold(text)`` the pattern provably cannot match (a
    case-insensitive match of a literal is that literal in the folded view)
    and the regex scan is skipped. An empty tuple means "always run". The
    folded view is invalidated whenever a substitution fires, so a literal
    introduced by an earlier replacement is still seen -- guard skipping is
    therefore byte-exact vs running every pattern unconditionally. A plain
    ``lower()`` view would not be: it misses ``ſ``, ``ı`` and ``İ``, which
    ``IGNORECASE`` matches as s, i and i. This is the same
    cheap-check-first idea the reference applies at document level
    (Text Cleaner/step1_remove_short_files.py:190-209), pushed down to the
    per-pattern level: most documents contain none of the rare artifacts, so
    most of the ~150 battery patterns never scan them.
    """
    low = None
    for pat, repl, guards in battery:
        if guards:
            if low is None:
                low = fold(text)
            if len(guards) == 1:  # fast path: most rules have one guard
                if guards[0] not in low:
                    continue
            elif not any(g in low for g in guards):
                continue
        text, n = pat.subn(repl, text)
        if n:
            low = None
    return text


def _abbrev_guard(p: str) -> tuple:
    """Derive a guard literal for a ``\\bfoo\\.``-style pattern: the longest
    literal fragment between whitespace escapes, with ``\\.`` unescaped."""
    body = p.replace(r"\b", "").replace(r"\.", "\0")
    parts = re.split(r"\\s[*+]", body)
    best = max(parts, key=len)
    if not re.fullmatch(r"[A-Za-z\0']+", best):
        return ()
    return (best.replace("\0", ".").lower(),)


# --------------------------------------------------------------------------
# Stage: content clean (ref step3)
# --------------------------------------------------------------------------

#: Ordered (pattern, expansion) pairs; order and case-insensitivity are
#: semantic -- e.g. the generic 'q.' rule fires before praenomina handling,
#: so 'Q. Fabius' becomes 'que Fabius'. (ref: step3_clean_content.py:64-106)
ABBREVIATION_RULES = tuple(
    (re.compile(p, _I), r, _abbrev_guard(p))
    for p, r in (
        (r"\bq\.", "que"),
        (r"\bc\.", "cum"),
        (r"\bet\s+c\.", "et cetera"),
        (r"\bi\.\s*e\.", "id est"),
        (r"\be\.\s*g\.", "exempli gratia"),
        (r"\bviz\.", "videlicet"),
        (r"\bscil\.", "scilicet"),
        (r"\bv\.", "vide"),
        (r"\bcf\.", "confer"),
        (r"\bib\.", "ibidem"),
        (r"\bid\.", "idem"),
        (r"\bloc\.\s*cit\.", "loco citato"),
        (r"\bop\.\s*cit\.", "opere citato"),
        (r"\bD\.\s*N\.", "Dominus Noster"),
        (r"\bI\.\s*H\.\s*S\.", "Iesus Hominum Salvator"),
        (r"\bX\.\s*P\.\s*S\.", "Christus"),
        (r"\bD\.\s*M\.", "Dis Manibus"),
        (r"\bR\.\s*I\.\s*P\.", "Requiescat In Pace"),
        (r"\bA\.\s*D\.", "Anno Domini"),
        (r"\bA\.\s*M\.", "Ave Maria"),
        (r"\bxpts", "Christus"),
        (r"\bihs", "Iesus"),
        (r"\bdns", "dominus"),
        (r"\bsps", "spiritus"),
        (r"\bscs", "sanctus"),
        (r"\bepa", "episcopa"),
        (r"\beps", "episcopus"),
        (r"\bImp\.", "Imperator"),
        (r"\bCaes\.", "Caesar"),
        (r"\bAug\.", "Augustus"),
        (r"\bCos\.", "Consul"),
        (r"\bTrib\.", "Tribunus"),
        (r"\bPont\.", "Pontifex"),
        (r"\bMax\.", "Maximus"),
    )
)


def _first_letter_alternation(bodies) -> str:
    """``(?:a(?:…)|c(?:…)|…)`` over regex bodies that each start with a
    literal letter: one branch per first letter, so ``re`` rejects a scan
    position after one character comparison per distinct letter."""
    groups: dict = {}
    for b in bodies:
        groups.setdefault(b[0], []).append(b[1:])
    return "(?:" + "|".join(
        k + "(?:" + "|".join(rest) + ")" for k, rest in groups.items()
    ) + ")"


# every rule is \b + letters, \. and \s* / \s+, so lowering its letters
# is the whole change that a case-sensitive scan over fold(text) needs
assert all(re.fullmatch(r"\\b(?:[A-Za-z]|\\\.|\\s[*+])+", p.pattern)
           for p, _r, _g in ABBREVIATION_RULES)
#: any rule match in ``text`` is a match of this in ``fold(text)`` at the
#: same offset, so no match here means the whole battery is a no-op
_ABBREVIATION_PRESCAN = re.compile(r"\b" + _first_letter_alternation(
    p.pattern[2:].lower() for p, _r, _g in ABBREVIATION_RULES))

#: Praenomen regex fragment -> full name, in evaluation order.
#: (ref: step3_clean_content.py:22-47)
PRAENOMINA = (
    ("M\\.", "Marcus"),
    ("L\\.", "Lucius"),
    ("C\\.", "Gaius"),
    ("P\\.", "Publius"),
    ("Q\\.", "Quintus"),
    ("A\\.", "Aulus"),
    ("Ap\\.", "Appius"),
    ("Cn\\.", "Gnaeus"),
    ("D\\.", "Decimus"),
    ("K\\.", "Kaeso"),
    ("M'\\.", "Manius"),
    ("N\\.", "Numerius"),
    ("S\\.", "Spurius"),
    ("Ser\\.", "Servius"),
    ("Sex\\.", "Sextus"),
    ("Sp\\.", "Spurius"),
    ("T\\.", "Titus"),
    ("Ti\\.", "Tiberius"),
    ("Tib\\.", "Tiberius"),
    ("V\\.", "Vibius"),
    ("Vol\\.", "Volesus"),
)

#: Only these fragments are eligible for contextual expansion
#: (ref: step3_clean_content.py:361-362)
_COMMON_PRAENOMINA = frozenset(("M\\.", "L\\.", "C\\.", "P\\.", "Q\\."))

_PRAENOMEN_PATTERNS = tuple(
    # 4th element: the literal any match must contain (patterns are
    # case-sensitive), so unaffected documents skip all 21 finditer scans
    (frag, full, re.compile(r"\b" + frag + r"(?=\s[A-Z])"), frag.replace("\\", ""))
    for frag, full in PRAENOMINA
)

#: Gender-context word lists (ref: step3_clean_content.py:112-120)
MASCULINE_WORDS = (
    "filius", "pater", "vir", "maritus", "rex", "dux", "comes", "miles",
    "consul", "imperator", "caesar", "augustus", "pontifex", "tribunus",
)
FEMININE_WORDS = (
    "filia", "mater", "uxor", "regina", "domina", "matrona", "virgo",
    "sponsa", "vidua", "imperatrix", "augusta",
)

#: Substrings that mark a line as a digital/metadata artifact
#: (ref: step3_clean_content.py:204-209)
ARTIFACT_SUBSTRINGS = (
    "exported by", "generated by", "digitized by", "scanned by",
    "copyright", "©", "all rights reserved", "permission",
    "this text was", "this edition", "digital edition",
    "ocr", "optical character", "text recognition",
)

#: Substrings that mark a line as modern-language/non-Latin
#: (ref: step3_clean_content.py:260-264)
MODERN_SUBSTRINGS = (
    "english", "deutsch", "français", "español", "italiano",
    "translation", "note:", "see also", "external link",
    "bibliography", "reference", "isbn", "doi:",
)

#: Line prefixes treated as markup/metadata (ref: step3_clean_content.py:248-256)
MARKUP_PREFIXES = (
    "Title:", "Source:", "Category:", "Text Type:", "#", "{{", "}}", "[[", "]]",
)

_ATTRIBUTION_BATTERY = tuple(
    (re.compile(p, f), r, g)
    for p, f, r, g in (
        (r".*Exported from Wikisource.*\n?", _I, "", ("exported from wikisource",)),
        (r"About this digital edition.*$", _M | _S, "", ("about this digital edition",)),
        # category sections (ref step3:139-153)
        (r"==\s*Commentarium\s*==.*$", _M | _S, "", ("commentarium",)),
        (r"^Categoria?:\s*.*$", _M | _I, "", ("categori",)),
        (r"(^Categoria?:\s*.*\n?){2,}", _M | _I, "", ("categori",)),
        (r"\n+(?:Categoria?:\s*.*\n?)+$", _I, "", ("categori",)),
        # source URLs (ref step3:184-186)
        (r"Source:\s*https?://.*\n?", _I, "", ("source:",)),
        (r"https?://[^\s]+", 0, "", ("http",)),
        # bracketed editorial notes (ref step3:188-190)
        (r"\[.*?(?:ed\.|edit\.|source|wiki).*?\]", _I, "", ("ed.", "edit.", "source", "wiki")),
        (r"\(.*?(?:ed\.|edit\.|source|wiki).*?\)", _I, "", ("ed.", "edit.", "source", "wiki")),
        # publisher attribution (ref step3:193)
        (r".*(?:von Bunge|Napiersky).*possint.*", _I, "", ("possint",)),
    )
)

_TOC_BATTERY = tuple(
    (re.compile(p), r, g)
    for p, r, g in (
        (r"__TOC__", "", ("__toc__",)),
        (r"==+.*?==+", "", ("==",)),
        (r"===+.*?===+", "", ("===",)),
    )
)

#: Characters kept verbatim by the punctuation whitelist (ref step3:283)
_ALLOWED_PUNCT = frozenset(".,:;!?'\"-()[]")

_PUNCT_COLLAPSE = tuple(
    (re.compile(p), r, g)
    for p, r, g in (
        (r"\.{2,}", ".", ("..",)), (r",{2,}", ",", (",,",)),
        (r";{2,}", ";", (";;",)), (r":{2,}", ":", ("::",)),
    )
)

_FINAL_WS = (
    (re.compile(r"\n{3,}"), "\n\n", ("\n\n\n",)),
    # a lone space is already " ": rewrite only runs and lone tabs
    (re.compile(r"[ \t]{2,}|\t"), " ", ()),
)


def _drop_metadata_header(text: str) -> str:
    # ref: step3_clean_content.py:122-137
    lines = text.split("\n")
    start = 0
    for i, line in enumerate(lines):
        s = line.strip()
        if s.startswith("--") and len(s) > 10:
            start = i + 1
            break
        if i > 20:
            start = 0
            break
    return "\n".join(lines[start:])


def _drop_attributions(text: str) -> str:
    # ref: step3_clean_content.py:155-221 (line pass, then regex battery,
    # then artifact-line pass)
    lines = [ln for ln in text.split("\n") if "Exported from Wikisource" not in ln]
    kept = []
    for ln in lines:
        if ln.strip().startswith("About this digital edition"):
            break
        kept.append(ln)
    text = _sub_all("\n".join(kept), _ATTRIBUTION_BATTERY)
    # whole-document pre-check: the per-line scan only runs when some
    # artifact substring occurs at all (same skip-if-absent reasoning as
    # the _sub_all guards; .strip() cannot create a substring match that
    # the unstripped lowered document lacks)
    low_all = text.lower()
    if not any(s in low_all for s in ARTIFACT_SUBSTRINGS):
        return text
    return "\n".join(
        ln for ln in text.split("\n")
        if not any(s in ln.lower().strip() for s in ARTIFACT_SUBSTRINGS)
    )


def _drop_non_latin_lines(text: str) -> str:
    # ref: step3_clean_content.py:234-278; note output lines are stripped
    # (same whole-document pre-check reasoning as _drop_attributions)
    check_modern = any(ind in text.lower() for ind in MODERN_SUBSTRINGS)
    out = []
    for ln in text.split("\n"):
        s = ln.strip()
        if not s:
            out.append("")
            continue
        if s.startswith(MARKUP_PREFIXES):
            continue
        if check_modern and any(ind in s.lower() for ind in MODERN_SUBSTRINGS):
            continue
        out.append(s)
    return "\n".join(out)


class _WhitelistTable(dict):
    """Memoizing ``str.translate`` table for the step-3 char whitelist:
    keep alpha/space/digit/_ALLOWED_PUNCT (identity entry), fold en/em dash
    to '-', drop everything else (None). Decisions are computed once per
    distinct codepoint, so the per-document cost is one C-level translate
    pass instead of a Python char loop."""

    def __missing__(self, cp: int):
        ch = chr(cp)
        if ch.isalpha() or ch.isspace() or ch in _ALLOWED_PUNCT or ch.isdigit():
            r = ch
        elif ch in "–—":
            r = "-"
        else:
            r = None
        self[cp] = r
        return r


_WHITELIST_TABLE = _WhitelistTable()


def _whitelist_punctuation(text: str) -> str:
    # ref: step3_clean_content.py:280-310. Character whitelist; en/em dash
    # fold to '-'; everything else (incl. curly quotes) is dropped -- the
    # reference's curly-quote branch is dead code due to source encoding.
    return _sub_all(text.translate(_WHITELIST_TABLE), _PUNCT_COLLAPSE)


def _gender_context(text: str, pos: int) -> str:
    # ref: step3_clean_content.py:316-334
    window = text[max(0, pos - 100): pos + 100].lower()
    m = sum(1 for w in MASCULINE_WORDS if w in window)
    f = sum(1 for w in FEMININE_WORDS if w in window)
    if m > f:
        return "masculine"
    if f > m:
        return "feminine"
    return "unknown"


def _expand_abbreviations(text: str) -> str:
    # standard rules first (ref step3:370-382), then contextual praenomina
    # (ref step3:336-368)
    if _ABBREVIATION_PRESCAN.search(fold(text)):
        text = _sub_all(text, ABBREVIATION_RULES)
    for frag, full, pat, lit in _PRAENOMEN_PATTERNS:
        if lit not in text:
            continue
        for m in reversed(list(pat.finditer(text))):
            if _is_roman(m.group(0).replace(".", "")):
                continue
            if frag in _COMMON_PRAENOMINA and _gender_context(text, m.start()) in (
                "masculine",
                "unknown",
            ):
                text = text[: m.start()] + full + text[m.end():]
    return text


def stage_content(text: str) -> str:
    """Content clean: header, attributions, TOC, non-Latin lines,
    punctuation whitelist, abbreviation expansion, whitespace finale.

    Byte-compatible with ref step3_clean_content.clean_text_content.
    """
    text = _drop_metadata_header(text)
    text = _drop_attributions(text)
    text = _sub_all(text, _TOC_BATTERY)
    text = _drop_non_latin_lines(text)
    text = _whitelist_punctuation(text)
    text = _expand_abbreviations(text)
    return _sub_all(text, _FINAL_WS).strip()


# --------------------------------------------------------------------------
# Stage: heading strip (ref step4)
# --------------------------------------------------------------------------

#: Chapter-heading line patterns (ref: optimized_regex_patterns.py:27-36);
#: matched against the stripped, lowercased line.
_CHAPTER_LINE = tuple(
    re.compile(p, _I)
    for p in (
        r"^\s*cap\s*\.?\s*[ivxlcdm\d]*\s*[.\-–—]?\s*$",
        r"^\s*caput\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*capitulum\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*liber\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*pars\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*sectio\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*book\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
        r"^\s*chapter\s+[ivxlcdm\d]+\s*[.\-–—]?\s*$",
    )
)

#: Title/author line patterns (ref: step4_remove_headings.py:64-75)
_TITLE_AUTHOR_LINE = tuple(
    re.compile(p)
    for p in (
        r"^\s*[A-Z\s]+$",
        r"^\s*AUCTORE?\s+",
        r"^\s*[Aa]uctore?\s+",
        r"^\s*[Ss]cripsi?t\s+",
        r"^\s*[Cc]omposi?t\s+",
        r"^\s*[Aa]d\s+[A-Z]",
        r"^\s*FINIS\s*$",
        r"^\s*EXPLICIT",
        r"^\s*INCIPIT",
    )
)

_HEADING_INDICATORS = (
    "liber", "book", "cap", "caput", "capitulum", "chapter",
    "pars", "part", "sectio", "section", "titulus", "title",
)

_ROMAN_FIRST = frozenset("ivxlcdmIVXLCDMİı")
#: lowered first chars that IGNORECASE equates with a _CHAPTER_LINE keyword's
#: (cap/caput/capitulum/chapter, liber, pars, sectio, book)
_CHAPTER_FIRST = frozenset("clpsbſ")
_DIGIT = re.compile(r"\d")
_SEPARATOR_LINE = re.compile(r"^[\s\-–—\.=\*#]+$")
_ROMAN_STRIP = re.compile(r"[.\s\-–—]")
_LOWER_WORD = re.compile(r"^[a-z]+$")
_BARE_NUMBER_LINE = re.compile(r"^\s*\d+\s*\.?\s*$")
_LEADING_NUMBER = re.compile(r"^\s*\d+\.\s*")
_TRAILING_NUMBER = re.compile(r"\s+\d+\s*$")

_INLINE_MARKUP = tuple(
    (re.compile(p), r, g)
    for p, r, g in (
        (r"'''([^']+)'''", r"\1", ("'''",)),
        (r"''([^']+)''", r"\1", ("''",)),
        (r"\[\[([^\]]+)\]\]", r"\1", ("[[",)),
        (r"\{\{[^\}]+\}\}", "", ("{{",)),
    )
)


def _is_roman_heading(line: str) -> bool:
    # ref: step4_remove_headings.py:18-52. NOTE faithful reproduction of the
    # reference's over-eager behavior: any line whose first char is in
    # [ivxlcdm] (case-insensitive) and whose post-prefix remainder is shorter
    # than 30 chars is treated as a heading and dropped.
    line = line.strip()
    if not line:
        return False
    if len(line) < 20 and _is_roman(_ROMAN_STRIP.sub("", line)):
        return True
    # ROMAN_LINE_START's lookahead needs a first char that IGNORECASE
    # equates with one of IVXLCDM: exactly these 16 (see fold)
    if line[0] in _ROMAN_FIRST and ROMAN_LINE_START.match(line):
        rest = ROMAN_LINE_START.sub("", line).strip()
        if not rest or len(rest) < 30:
            return True
        low = rest.lower()
        if any(ind in low for ind in _HEADING_INDICATORS):
            return True
    return False


def _is_title_author(line: str) -> bool:
    # ref: step4_remove_headings.py:58-84
    line = line.strip()
    if not line:
        return False
    return any(p.match(line) for p in _TITLE_AUTHOR_LINE)


def stage_headings(text: str) -> str:
    """Structural heading / page-number / inline-markup removal.

    Byte-compatible with ref step4_remove_headings.process_file_headings.
    """
    kept = []
    for raw in text.split("\n"):
        s = raw.strip()
        if not s:
            kept.append("")
            continue
        low = s.lower()
        if (
            _is_roman_heading(s)
            # s is stripped (str.strip and \s agree), so ^\s* is empty
            or (low[0] in _CHAPTER_FIRST
                and any(p.match(low) for p in _CHAPTER_LINE))
            or _is_title_author(s)
            or _SEPARATOR_LINE.match(s)
            or (len(s) < 3 and not _LOWER_WORD.match(low))
        ):
            continue
        kept.append(raw)

    # page-number scrub; note every surviving line comes out stripped
    # (ref step4:86-107). Each of the three patterns needs a \d, so a
    # document without one only strips its lines.
    if not _DIGIT.search(text):
        return _sub_all("\n".join(s.strip() for s in kept), _INLINE_MARKUP)
    out = []
    for raw in kept:
        s = raw.strip()
        if _BARE_NUMBER_LINE.match(s):
            continue
        s = _LEADING_NUMBER.sub("", s)
        s = _TRAILING_NUMBER.sub("", s)
        out.append(s)

    return _sub_all("\n".join(out), _INLINE_MARKUP)


# --------------------------------------------------------------------------
# Stage: orthography normalization (ref step5)
# --------------------------------------------------------------------------

#: Medieval spelling variants, applied case-insensitively in order
#: (ref: step5_standardize_orthography.py:19-137; three groups flattened)
VARIANT_RULES = tuple(
    # every pattern is \bword\b (one with a redundant (?!\w)); the word
    # itself is the guard literal, so unaffected documents skip all ~67 scans
    (re.compile(p, _I), r, (re.sub(r"\\b|\(\?\!\\w\)", "", p).lower(),))
    for p, r in (
        # h/ch variants
        (r"\bmichi\b", "mihi"),
        (r"\btichi\b", "tibi"),
        (r"\bsichi\b", "sibi"),
        (r"\bnichil\b", "nihil"),
        (r"\bnichilo\b", "nihilo"),
        (r"\bnichilum\b", "nihilum"),
        (r"\bmichil\b", "mihil"),
        (r"\bmacina\b", "machina"),
        (r"\bpulcer\b", "pulcher"),
        (r"\bsepulcrum\b", "sepulchrum"),
        (r"\bnichi\b", "nihil"),
        (r"\bmici\b", "mihi"),
        (r"\barcivum\b", "archivum"),
        (r"\babere\b", "habere"),
        (r"\bomines\b", "homines"),
        (r"\bonor\b", "honor"),
        (r"\bora\b(?!\w)", "hora"),
        (r"\bumanus\b", "humanus"),
        (r"\bchorona\b", "corona"),
        (r"\brhethor\b", "rhetor"),
        # ti/ci, mpn, doubled consonants, ae/oe, b/v
        (r"\bdiviciae\b", "divitiae"),
        (r"\bdivicie\b", "divitiae"),
        (r"\btercius\b", "tertius"),
        (r"\bvicium\b", "vitium"),
        (r"\bnegocium\b", "negotium"),
        (r"\bprecium\b", "pretium"),
        (r"\bspacium\b", "spatium"),
        (r"\bpaciens\b", "patiens"),
        (r"\bgracie\b", "gratiae"),
        (r"\bjusticia\b", "justitia"),
        (r"\bdampnum\b", "damnum"),
        (r"\balumpnus\b", "alumnus"),
        (r"\bsompnus\b", "somnus"),
        (r"\bhiempns\b", "hiems"),
        (r"\bcolumpna\b", "columna"),
        (r"\bsolempnis\b", "sollemnis"),
        (r"\btranquilitas\b", "tranquillitas"),
        (r"\bAffrica\b", "Africa"),
        (r"\boccasio\b", "occasio"),
        (r"\bopprobrium\b", "oprobrium"),
        (r"\bassidere\b", "assidere"),
        (r"\bcese\b", "caese"),
        (r"\bquedam\b", "quaedam"),
        (r"\bpretor\b", "praetor"),
        (r"\bequs\b", "aequus"),
        (r"\bequalitas\b", "aequalitas"),
        (r"\bpena\b", "poena"),
        (r"\bfenum\b", "foenum"),
        (r"\bfedus\b", "foedus"),
        (r"\babsoluo\b", "absolvo"),
        (r"\buiuo\b", "vivo"),
        (r"\bbibo\b", "vivo"),
        (r"\bquoniam\b", "quoniam"),
        (r"\bquamuis\b", "quamvis"),
        (r"\bquamcumque\b", "quamcumque"),
        (r"\bquemadmodum\b", "quemadmodum"),
        # ordinals
        (r"\bprimus\b", "primus"),
        (r"\bsecundus\b", "secundus"),
        (r"\btercius\b", "tertius"),
        (r"\bquartus\b", "quartus"),
        (r"\bquintus\b", "quintus"),
        (r"\bsextus\b", "sextus"),
        (r"\bseptimus\b", "septimus"),
        (r"\boctauus\b", "octavus"),
        (r"\bnonus\b", "nonus"),
        (r"\bdecimus\b", "decimus"),
    )
)

# every rule is \bword\b and every replacement one literal word, so a rule
# that fires turns each whole-word occurrence of its word into its
# replacement and leaves every other word of the text as it was
assert all(
    re.fullmatch(r"\\b[A-Za-z]+\\b(?:\(\?!\\w\))?", p.pattern)
    and re.fullmatch(r"[A-Za-z]+", r)
    for p, r, _g in VARIANT_RULES
)
_VARIANT_WORDS = tuple(dict.fromkeys(g[0] for _p, _r, g in VARIANT_RULES))
#: finds every whole-word occurrence of a rule word in ``fold(text)``: the
#: words whose rules can match ``text``
_VARIANT_PRESCAN = re.compile(
    r"\b" + _first_letter_alternation(_VARIANT_WORDS) + r"\b")


def _apply_variants(text: str, counts: dict | None = None) -> str:
    """Apply VARIANT_RULES in order, running only the rules whose word is
    in the text and tracking that set across substitutions.

    ``counts`` (optional dict) accumulates substitutions per rule, keyed by
    the rule's word (its canonical name; the ref's analog is the per-pattern
    stats standardize_orthography returns,
    Text Cleaner/step5_standardize_orthography.py:302-338). Counting rides
    the subn call the rule already makes -- zero extra scans.
    """
    present = set(_VARIANT_PRESCAN.findall(fold(text)))
    if not present:
        return text
    for pat, repl, (word,) in VARIANT_RULES:
        if word not in present:
            continue
        text, n = pat.subn(repl, text)
        if n:
            # all of word became repl; no other word changed
            present.discard(word)
            present.add(repl.lower())
            if counts is not None:
                counts[word] = counts.get(word, 0) + n
    return text


#: Explicit diacritic fold table (ref: step5:142-187). Note targets are
#: lowercase even for uppercase sources -- faithful to the reference.
DIACRITIC_MAP = str.maketrans({
    "ā": "a", "ē": "e", "ī": "i", "ō": "o", "ū": "u", "ȳ": "y",
    "Ā": "a", "Ē": "e", "Ī": "i", "Ō": "o", "Ū": "u", "Ȳ": "y",
    "ă": "a", "ĕ": "e", "ĭ": "i", "ŏ": "o", "ŭ": "u",
    "Ă": "a", "Ĕ": "e", "Ĭ": "i", "Ŏ": "o", "Ŭ": "u",
    "á": "a", "é": "e", "í": "i", "ó": "o", "ú": "u", "ý": "y",
    "Á": "a", "É": "e", "Í": "i", "Ó": "o", "Ú": "u", "Ý": "y",
    "à": "a", "è": "e", "ì": "i", "ò": "o", "ù": "u",
    "À": "a", "È": "e", "Ì": "i", "Ò": "o", "Ù": "u",
    "â": "a", "ê": "e", "î": "i", "ô": "o", "û": "u", "ŷ": "y",
    "Â": "a", "Ê": "e", "Î": "i", "Ô": "o", "Û": "u", "Ŷ": "y",
    "ä": "a", "ë": "e", "ï": "i", "ö": "o", "ü": "u", "ÿ": "y",
    "Ä": "a", "Ë": "e", "Ï": "i", "Ö": "o", "Ü": "u", "Ÿ": "y",
    "ã": "a", "ñ": "n", "õ": "o", "ç": "c",
    "Ã": "a", "Ñ": "n", "Õ": "o", "Ç": "c",
    "å": "a", "ů": "u", "Å": "a", "Ů": "u",
    "ş": "s", "ţ": "t", "Ş": "s", "Ţ": "t",
    "č": "c", "ď": "d", "ě": "e", "ň": "n", "ř": "r",
    "š": "s", "ť": "t", "ž": "z",
    "Č": "c", "Ď": "d", "Ě": "e", "Ň": "n", "Ř": "r",
    "Š": "s", "Ť": "t", "Ž": "z",
    "ő": "o", "ű": "u", "Ő": "o", "Ű": "u",
    "ą": "a", "ę": "e", "į": "i", "ų": "u",
    "Ą": "a", "Ę": "e", "Į": "i", "Ų": "u",
})

class _NFDStripTable(dict):
    """Memoizing translate table for NFD-decompose + drop-Mn: each codepoint
    maps to its decomposition minus combining marks, computed once. Per-char
    memoization is exact for this use because every Mn char is DELETED --
    canonical reordering (which only permutes adjacent combining marks)
    cannot change the result."""

    def __missing__(self, cp: int) -> str:
        r = "".join(
            c for c in unicodedata.normalize("NFD", chr(cp))
            if unicodedata.category(c) != "Mn"
        )
        self[cp] = r
        return r


_NFD_STRIP_TABLE = _NFDStripTable()

#: Ligature folds (ref: step5:203-224); '&' -> 'et' is part of this table.
LIGATURE_PAIRS = (
    ("æ", "ae"), ("Æ", "ae"), ("œ", "oe"), ("Œ", "oe"),
    ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"), ("ﬃ", "ffi"),
    ("ﬄ", "ffl"), ("ﬅ", "st"), ("ﬆ", "st"),
    ("ĳ", "ij"), ("Ĳ", "ij"), ("&", "et"),
)

#: Medieval char folds, applied before lowercasing (ref: step5:226-261)
MEDIEVAL_PAIRS = (
    ("v", "u"), ("V", "u"), ("j", "i"), ("J", "i"),
    ("ſ", "s"), ("ʃ", "s"), ("ß", "ss"),
    ("¶", ""), ("§", ""), ("†", ""), ("‡", ""),
    ("℥", ""), ("℞", ""), ("℟", ""),
    ("⁊", "et"), ("℈", ""),
)

#: standardize_punctuation_final replace sequence (ref: step5:282-300). The
#: second pair reproduces a reference source-level artifact: the literal
#: string ': "\'", ' maps to a single apostrophe.
_FINAL_QUOTE_PAIRS = (
    ('"', '"'),
    (': "\'", ', "'"),
    ("«", '"'), ("»", '"'),
    ("‚", "'"), ("„", '"'),
    ("‹", "'"), ("›", "'"), ("‛", "'"),
)

_SPACING_BATTERY = tuple(
    (re.compile(p), r, g)
    for p, r, g in (
        (r"\s+([,.;:!?])", r"\1", ()),
        (r"([,.;:!?])\s+", r"\1 ", ()),
        (r"\s*([\"'])\s*", r" \1", ('"', "'")),
        (r"\s*\(\s*", r" (", ("(",)),
        (r"\s*\)\s*", r") ", (")",)),
    )
)

_DASH_FOLD = re.compile(r"[–—]")


def stage_orthography(text: str, variant_counts: dict | None = None) -> str:
    """Medieval-variant, diacritic, ligature, v/j normalization + lowercase.

    Byte-compatible with ref step5_standardize_orthography.standardize_orthography.
    ``variant_counts`` optionally accumulates per-rule M11 hit counts (the
    ref's per-pattern stats, step5:302-338 / detailed_progress_logger.py:119-156).
    """
    text = _apply_variants(text, variant_counts)
    text = text.translate(DIACRITIC_MAP)
    text = text.translate(_NFD_STRIP_TABLE)
    for a, b in LIGATURE_PAIRS:
        text = text.replace(a, b)
    for a, b in MEDIEVAL_PAIRS:
        text = text.replace(a, b)
    text = text.lower()
    text = _sub_all(text, _SPACING_BATTERY)
    for a, b in _FINAL_QUOTE_PAIRS:
        text = text.replace(a, b)
    text = _DASH_FOLD.sub("-", text)
    return text.replace("…", "...")


# --------------------------------------------------------------------------
# Stage: final cleanup (ref step6)
# --------------------------------------------------------------------------

_AUTHOR_LINE = tuple(
    re.compile(p, _I)
    for p in (
        r"^(auctore?|auctor|author|scripsit|composit|composuit)[\s:]",
        r"^(marcus|gaius|lucius|quintus|publius|titus|caius)\s+[a-z]+$",
        r"^[a-z]+\s+(cicero|ovidius|virgilius|horatius|caesar|livius|tacitus|seneca)",
        r"^(m\.|c\.|l\.|q\.|p\.|t\.)\s*[a-z]+",
        r"^\w+\s+\w+us$",
    )
)

_TITLE_LINE = tuple(
    re.compile(p, _I)
    for p in (
        r"^(de|ad|in|pro|contra)\s+[a-z\s]+$",
        r"^(liber|epistola|oratio|carmen|historia)",
        r"^(commentari[iu]s|commentaria)",
        r"^[ivxlc]+\.\s*[a-z\s]+$",
    )
)

#: Exotic space codepoints folded to ' ' (ref: step6:77-98)
_EXOTIC_SPACES = (
    "\u00A0", "\u2000", "\u2001", "\u2002", "\u2003", "\u2004", "\u2005",
    "\u2006", "\u2007", "\u2008", "\u2009", "\u200A", "\u202F", "\u205F",
    "\u3000",
)

_CRLF = re.compile(r"\r\n?")
_MULTI_SPACE = re.compile(r" {2,}")
_MULTI_NL = re.compile(r"\n{3,}")

#: Editorial/footnote battery (ref: optimized_regex_patterns.py:81-98)
_EDITORIAL_BATTERY = tuple(
    (re.compile(p, f), "", g)
    for p, f, g in (
        (r"\[.*?ed\..*?\]", _I, ("ed.",)),
        (r"\[.*?edit.*?\]", _I, ("edit",)),
        (r"\<.*?ed\..*?\>", _I, ("ed.",)),
        (r"\{.*?ed\..*?\}", _I, ("ed.",)),
        (r"\[sic\]", _I, ("[sic]",)),
        (r"\[.*?\?\]", 0, ("[",)),
        (r"\[\.{3,}\]", 0, ("[...",)),
        (r"\[lacuna\]", _I, ("[lacuna]",)),
        (r"\[gap\]", _I, ("[gap]",)),
        (r"\[missing\]", _I, ("[missing]",)),
        (r"\[corrupt\]", _I, ("[corrupt]",)),
        (r"\[illegible\]", _I, ("[illegible]",)),
        (r"\[\d+\]", 0, ("[",)),
        (r"\(\d+\)", 0, ("(",)),
    )
)

_PUNCT_RUNS = tuple(
    (re.compile(p), r, g)
    for p, r, g in (
        (r"\.{2,}", ".", ("..",)), (r",{2,}", ",", (",,",)),
        (r";{2,}", ";", (";;",)), (r":{2,}", ":", ("::",)),
        (r"!{2,}", "!", ("!!",)), (r"\?{2,}", "?", ("??",)),
        (r"\s+([,.;:!?])", r"\1", ()),
        (r"([,.;:!?])(?=[a-zA-Z])", r"\1 ", ()),
    )
)

_EMPTY_DQUOTES = re.compile(r'"\s*"')
_EMPTY_SQUOTES = re.compile(r"'\s*'")
_STANDALONE_PUNCT = re.compile(r"^[.,:;!?\-–—\"'()\[\]{}]+$")

#: Two-char Latin words exempt from short-line removal (ref: step6:171-178)
SHORT_LATIN_WHITELIST = frozenset((
    "a", "ab", "ad", "am", "an", "at", "ex", "in", "is", "it",
    "me", "ne", "ni", "no", "ob", "of", "os", "re", "se", "si",
    "te", "tu", "ut", "et", "ac", "aut", "cum", "dum", "ego",
    "hic", "qui", "quo", "res", "rex", "sum", "ius", "lex",
    "nec", "non", "per", "pro", "sub", "sua", "tam", "tum",
    "ubi", "uel", "uis", "uos",
))


def _drop_title_author_residue(text: str) -> str:
    # ref: step6_final_cleanup.py:19-73
    out = []
    for raw in text.split("\n"):
        s = raw.strip()
        if not s:
            out.append("")
            continue
        if any(p.match(s) for p in _AUTHOR_LINE):
            continue
        if len(s) < 50 and any(p.match(s) for p in _TITLE_LINE):
            continue
        if len(s) <= 2 and s.isalpha():
            continue
        out.append(raw)
    return "\n".join(out)


def _normalize_whitespace(text: str) -> str:
    # ref: step6_final_cleanup.py:75-126
    for sp in _EXOTIC_SPACES:
        text = text.replace(sp, " ")
    text = _CRLF.sub("\n", text).replace("\t", " ")
    text = _MULTI_SPACE.sub(" ", text)
    text = _MULTI_NL.sub("\n\n", text)

    lines = [ln.strip() for ln in text.split("\n")]
    out = []
    blanks = 0
    for ln in lines:
        if not ln:
            blanks += 1
            if blanks <= 1:
                out.append("")
        else:
            blanks = 0
            out.append(ln)
    while out and not out[0]:
        out.pop(0)
    while out and not out[-1]:
        out.pop()
    return "\n".join(out)


def _scrub_punctuation_residue(text: str) -> str:
    # ref: step6_final_cleanup.py:132-153
    text = _sub_all(text, _PUNCT_RUNS)
    text = text.replace("…", "...")
    text = _EMPTY_DQUOTES.sub("", text)
    text = _EMPTY_SQUOTES.sub("", text)
    out = []
    for raw in text.split("\n"):
        s = raw.strip()
        if s and not _STANDALONE_PUNCT.match(s):
            out.append(raw)
        elif not s:
            out.append("")
    return "\n".join(out)


def _drop_short_lines(text: str) -> str:
    # ref: step6_final_cleanup.py:155-187
    out = []
    for raw in text.split("\n"):
        s = raw.strip()
        if not s:
            out.append("")
        elif len(s) <= 2:
            if s.lower() in SHORT_LATIN_WHITELIST:
                out.append(raw)
        else:
            out.append(raw)
    return "\n".join(out)


def stage_final(text: str) -> str:
    """Final cleanup: title/author residue, whitespace, editorial marks,
    punctuation residue, short lines, second whitespace pass.

    Byte-compatible with ref step6_final_cleanup.final_cleanup_optimized.
    """
    text = _drop_title_author_residue(text)
    text = _normalize_whitespace(text)
    text = _sub_all(text, _EDITORIAL_BATTERY)
    text = _scrub_punctuation_residue(text)
    text = _drop_short_lines(text)
    return _normalize_whitespace(text)


# --------------------------------------------------------------------------
# Composition
# --------------------------------------------------------------------------

#: Post-cleanup minimum document length, chars of stripped text
#: (ref: step6_final_cleanup.py:248,258)
MIN_CLEAN_CHARS = 50


def scrub_document(text: str) -> str:
    """Full scrub composition (content -> headings -> orthography -> final).

    Byte-identical per document to running reference steps 3..6 in order.
    Length gating (MIN_CLEAN_CHARS) is the caller's concern -- see
    functions/rules.py.
    """
    return stage_final(stage_orthography(stage_headings(stage_content(text))))
