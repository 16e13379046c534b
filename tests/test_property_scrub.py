"""Property-based guarantees for the scrub fast paths.

The guard-literal, prescan and memoized-translate optimizations claim EXACT
behavioral equality with the naive implementations; hypothesis hunts for
counterexamples across adversarial unicode/whitespace/trigger-literal mixes.
The prescans' oracles are the plain implementations they front, kept here
verbatim.
"""

import re
import sys
import unicodedata

from hypothesis import example, given, settings, strategies as st

from wikisource_latin_text_cleaner_spark.functions import pii, rules, scrub

#: alphabet biased toward guard literals and rule triggers; "ſcil.",
#: "nichıl" and "MİCHI" match their rules only through IGNORECASE's
#: non-ASCII case partners of s and i ("K" is the Kelvin sign, a k)
_TRIGGERS = (
    "michi", "Categoria:", "http://x", "[sic]", "[12]", "==", "__TOC__",
    "M. Marcus", "q.", "A.D.", "æ", "ﬁ", "&", "á", "ora", "ün", "á",
    "Exported from Wikisource", "About this digital edition", "..", ",,",
    "\n\n\n", "\t", "''it''", "{{t}}", "[[l]]", "ed.", "(3)", "…", "–",
    "ſcil.", "nichıl", "MİCHI", "Kaes.", "Tercius", "PRIMUS", "bibo",
    "i. e.", "et  c.", "Imp.", "  ", " \t ",
)
_text = st.lists(
    st.one_of(
        st.sampled_from(_TRIGGERS),
        st.text(max_size=12),
        st.sampled_from([" ", "\n", ". ", "word ", "et in de "]),
    ),
    max_size=30,
).map("".join)


def _sub_all_unguarded(text, battery):
    for pat, repl, _guards in battery:
        text = pat.sub(repl, text)
    return text


_ALL_BATTERIES = (
    scrub.ABBREVIATION_RULES,
    scrub.VARIANT_RULES,
    scrub._ATTRIBUTION_BATTERY,
    scrub._TOC_BATTERY,
    scrub._PUNCT_COLLAPSE,
    scrub._FINAL_WS,
    scrub._SPACING_BATTERY,
    scrub._INLINE_MARKUP,
    scrub._EDITORIAL_BATTERY,
    scrub._PUNCT_RUNS,
)


@settings(max_examples=300, deadline=None)
@given(_text)
@example("ſcil. nichıl MİCHI Kaes.")
def test_guarded_sub_all_equals_unguarded(text):
    for battery in _ALL_BATTERIES:
        assert scrub._sub_all(text, battery) == _sub_all_unguarded(text, battery)


def test_fold_premise_over_every_code_point():
    """fold keeps every offset and every \\w / \\s class, and a character
    folds to an ASCII letter iff re.IGNORECASE equates it with that letter;
    str.strip and \\s agree on what whitespace is."""
    every = "".join(map(chr, range(sys.maxunicode + 1)))
    folded = scrub.fold(every)
    assert len(folded) == len(every)

    def offsets(pattern, text, flags=0):
        return [m.start() for m in re.finditer(pattern, text, flags)]

    for letter in "abcdefghijklmnopqrstuvwxyz":
        assert offsets(letter, every, re.IGNORECASE) == offsets(letter, folded)
    for cls in (r"\w", r"\s"):
        assert offsets(cls, every) == offsets(cls, folded)
    assert offsets(r"\s", every) == [i for i, c in enumerate(every) if c.isspace()]


@settings(max_examples=300, deadline=None)
@given(_text)
@example("a\tb  c \t d e")
def test_final_ws_rewrites_like_every_run(text):
    assert (_sub_all_unguarded(text, scrub._FINAL_WS)
            == re.sub(r"[ \t]+", " ", re.sub(r"\n{3,}", "\n\n", text)))


def _expand_abbreviations_oracle(text):
    text = _sub_all_unguarded(text, scrub.ABBREVIATION_RULES)
    for frag, full, pat, lit in scrub._PRAENOMEN_PATTERNS:
        if lit not in text:
            continue
        for m in reversed(list(pat.finditer(text))):
            if scrub._is_roman(m.group(0).replace(".", "")):
                continue
            if frag in scrub._COMMON_PRAENOMINA and scrub._gender_context(
                    text, m.start()) in ("masculine", "unknown"):
                text = text[: m.start()] + full + text[m.end():]
    return text


def _variants_oracle(text):
    counts = {}
    for pat, repl, guards in scrub.VARIANT_RULES:
        text, n = pat.subn(repl, text)
        if n:
            counts[guards[0]] = counts.get(guards[0], 0) + n
    return text, counts


@settings(max_examples=300, deadline=None)
@given(_text)
@example("Tercius tercius PRIMUS nichıl MİCHI michi bibo ſcil. i. e.")
def test_prescanned_batteries_equal_sequential_subn(text):
    assert scrub._expand_abbreviations(text) == _expand_abbreviations_oracle(text)
    counts = {}
    got = scrub._apply_variants(text, counts)
    assert (got, counts) == _variants_oracle(text)


# -- verbatim oracles of the heading strip and index gate without prescans --

def _is_roman_heading_oracle(line):
    line = line.strip()
    if not line:
        return False
    if scrub._is_roman(scrub._ROMAN_STRIP.sub("", line)) and len(line) < 20:
        return True
    if scrub.ROMAN_LINE_START.match(line):
        rest = scrub.ROMAN_LINE_START.sub("", line).strip()
        if not rest or len(rest) < 30:
            return True
        low = rest.lower()
        if any(ind in low for ind in scrub._HEADING_INDICATORS):
            return True
    return False


def _stage_headings_oracle(text):
    kept = []
    for raw in text.split("\n"):
        s = raw.strip()
        if not s:
            kept.append("")
            continue
        low = s.lower()
        if (
            _is_roman_heading_oracle(s)
            or any(p.match(low) for p in scrub._CHAPTER_LINE)
            or scrub._is_title_author(s)
            or scrub._SEPARATOR_LINE.match(s)
            or (len(s) < 3 and not scrub._LOWER_WORD.match(low))
        ):
            continue
        kept.append(raw)
    out = []
    for raw in "\n".join(kept).split("\n"):
        s = raw.strip()
        if scrub._BARE_NUMBER_LINE.match(s):
            continue
        s = scrub._LEADING_NUMBER.sub("", s)
        s = scrub._TRAILING_NUMBER.sub("", s)
        out.append(s)
    return scrub._sub_all("\n".join(out), scrub._INLINE_MARKUP)


def _looks_like_index_oracle(text):
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
        if rules._CHAPTER_REF.search(line):
            chapterish += 1
        elif rules._NUMBERED_TOC.match(line) and len(line) < 80:
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
            and not rules._REAL_WORD.search(line)
            and not line.endswith(".")
            and not rules._FUNCTION_WORDS.search(line)
        ):
            non_prose += 1
    return non_prose > total * 0.4 and total < 50


#: whole lines biased toward heading, page-number and chapter-reference shapes
_LINE_TRIGGERS = (
    "CAPUT IV", "caput ii.", "Cap. 3", "ſectio ii", "Liber 3", "LIBER\tX",
    "pars i", "Book v", "Chapter 12", "ıv. de bello", "İİ", "xiv", "XLII —",
    "Iliad opens here and keeps going for a while", "12", " 7 ", "3. Gallia",
    "Gallia est omnis 14", "p. 3", "* item", "----", "--- header", "FINIS",
    "Auctore Livio", "versus 4", "epistul ix", "carmen ſ", "booK 1",
    "٣ abc", "m", "et", "Cicero ad Atticum", "",
)
_lines = st.lists(
    st.one_of(st.sampled_from(_LINE_TRIGGERS), st.text(max_size=20)),
    max_size=40,
).map("\n".join)


@settings(max_examples=300, deadline=None)
@given(_lines)
@example("ſectio ii\nİİ\nıv. a\nLIBER X\nplain prose line, long enough 3")
def test_prescanned_headings_equal_unprescanned(text):
    assert scrub.stage_headings(text) == _stage_headings_oracle(text)


@settings(max_examples=300, deadline=None)
@given(_lines)
@example("\n".join(["ſectio ii", "liber İİ", "Pars ıv", "booK 7"] * 3))
def test_prescanned_index_gate_equals_unprescanned(text):
    assert rules.looks_like_index(text) == _looks_like_index_oracle(text)


def _scrub_pii_oracle(text):
    counts = {}
    for name, pat, repl in pii.BATTERY:
        text, n = pat.subn(repl, text)
        if n:
            counts[name] = n
    return text, counts


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(
    st.sampled_from(("٣٤٥٦٧٨٩٠١٢", "WWW.x.org", "HTTPS://x", "a@b.co",
                     "192.168.0.1", "+1 555 123 4567", " ", "\n", "et ")),
    st.text(max_size=12),
), max_size=20).map("".join))
@example("٣٤٥٦٧٨٩٠١٢")
@example("WWW.x.org")
@example("HTTPS://x")
@example("a@b.co")
@example("plain words only")
def test_scrub_pii_early_exit_equals_battery(text):
    assert pii.scrub_pii(text) == _scrub_pii_oracle(text)


@settings(max_examples=300, deadline=None)
@given(_text)
def test_whitelist_table_equals_char_loop(text):
    buf = []
    for ch in text:
        if ch.isalpha() or ch.isspace() or ch in scrub._ALLOWED_PUNCT or ch.isdigit():
            buf.append(ch)
        elif ch in "–—":
            buf.append("-")
    assert text.translate(scrub._WHITELIST_TABLE) == "".join(buf)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_nfd_table_equals_full_normalize(text):
    naive = "".join(
        ch for ch in unicodedata.normalize("NFD", text)
        if unicodedata.category(ch) != "Mn"
    )
    assert text.translate(scrub._NFD_STRIP_TABLE) == naive


@settings(max_examples=150, deadline=None)
@given(_text)
def test_scrub_output_invariants(text):
    out = scrub.scrub_document(text)
    # no URLs survive
    assert not re.search(r"https?://", out)
    # whitespace normalized: no tabs, no triple newlines, no double spaces
    assert "\t" not in out and "\n\n\n" not in out and "  " not in out
    # uppercase is gone (step5 lowercases)
    assert out == out.lower()
    # scrub is deterministic
    assert scrub.scrub_document(text) == out
