"""PII / toxicity regex scrub battery (engine extension).

Reference precedents: URL stripping and bracketed-attribution removal
(Text Cleaner/step3_clean_content.py:174-195), the v1 numeric scrub
(Text Cleaner/The SAD Folder/clean_texts.py:22), and the compiled-battery
pattern (Text Cleaner/optimized_regex_patterns.py:11-128). Generalized here
to the web-text stack: emails, URLs, IPv4, long digit runs (card/ssn/phone
shaped), and a small toxicity lexicon gate.

All patterns compile once per process; `scrub_pii` is pure and runs inside
the Arrow-batched scrub UDF. Counters per category feed the metrics table.
"""

from __future__ import annotations

import re

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
URL = re.compile(r"(?:https?://|www\.)[^\s<>\"']+", re.IGNORECASE)
IPV4 = re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b")
CARDISH = re.compile(r"\b(?:\d[ -]?){13,19}\b")
PHONEISH = re.compile(r"\+?\d{1,3}[ -.]?\(?\d{2,4}\)?[ -.]?\d{3,4}[ -.]?\d{3,4}\b")
LONG_DIGITS = re.compile(r"\b\d{9,}\b")
_DIGIT = re.compile(r"\d")

#: (name, pattern, replacement) in application order; URL before the digit
#: rules so numeric path segments don't half-match.
BATTERY = (
    ("email", EMAIL, "<EMAIL>"),
    ("url", URL, "<URL>"),
    ("ipv4", IPV4, "<IP>"),
    ("card", CARDISH, "<NUMBER>"),
    ("phone", PHONEISH, "<NUMBER>"),
    ("digits", LONG_DIGITS, "<NUMBER>"),
)

#: English profanity/slur/sexual-content word list in the style of the
#: public "bad words" lists the C4 pipeline filters with (single-token
#: [a-z]+ entries only, so the ASCII word class below matches them whole-
#: word -- "class" never trips "ass").  Plus the handful of Latin terms the
#: synthetic corpus plants, so the operator's oracle exercises nonzero
#: hits.  Swap or extend per deployment: the scorer reads this set from
#: its closure (the broadcast analog), so a caller-supplied lexicon needs
#: no code change beyond rebuilding the UDF.
TOXICITY_LEXICON = frozenset((
    # -- Latin planted terms (synthetic-corpus coverage) --
    "stultissimus", "execrabilis", "obscenus", "damnatus", "maledictus",
    # -- English profanity & vulgarity --
    "arse", "arsehole", "ass", "asses", "asshole", "assholes", "bastard",
    "bastards", "bitch", "bitches", "bollocks", "bullshit", "cock",
    "cocks", "crap", "cunt", "cunts", "damn", "dick", "dicks", "dickhead",
    "douche", "douchebag", "dumbass", "fuck", "fucked", "fucker",
    "fuckers", "fucking", "fucks", "goddamn", "jackass", "motherfucker",
    "motherfuckers", "motherfucking", "piss", "pissed", "prick", "pricks",
    "pussies", "pussy", "shit", "shits", "shitty", "slut", "sluts",
    "twat", "twats", "wanker", "wankers", "whore", "whores",
    # -- sexual / adult-content --
    "anal", "blowjob", "blowjobs", "boobs", "clit", "clitoris", "cum",
    "cumshot", "deepthroat", "dildo", "dildos", "ejaculate", "ejaculation",
    "erotic", "fellatio", "gangbang", "handjob", "hentai", "horny",
    "jerkoff", "masturbate", "masturbation", "milf", "nipples", "orgasm",
    "orgasms", "orgy", "penis", "porn", "porno", "pornography", "rimjob",
    "semen", "sex", "sexy", "smut", "strapon", "threesome", "tits",
    "titties", "vagina", "viagra", "vibrator", "xxx",
    # -- slurs & hateful terms --
    "chink", "chinks", "coon", "coons", "dyke", "dykes", "fag", "faggot",
    "faggots", "fags", "gook", "gooks", "kike", "kikes", "nigga",
    "niggas", "nigger", "niggers", "raghead", "retard", "retarded",
    "retards", "spic", "spics", "tranny", "trannies", "wetback",
    "wetbacks",
))
#: ASCII-alpha word class (not \\w): the lexicon itself is ASCII, so the
#: word universe only needs ASCII runs -- and [a-z]+ means Python re and
#: RE2-dialect engines (Spark, DuckDB) tokenize identically, keeping the
#: operator oracle-checkable cross-engine.
_TOX_WORD = re.compile(r"[a-z]+")


def scrub_pii(text: str) -> tuple[str, dict]:
    """Replace PII spans with typed placeholders; return (text, counts)."""
    # EMAIL needs "@", URL "://" or a case-insensitive "www." (w has no
    # non-ASCII case partner), and the other four a \d
    if ("@" not in text and "://" not in text and not _DIGIT.search(text)
            and "www." not in text.lower()):
        return text, {}
    counts: dict = {}
    for name, pat, repl in BATTERY:
        text, n = pat.subn(repl, text)
        if n:
            counts[name] = n
    return text, counts


def toxicity_score(text: str) -> float:
    """Fraction of words in the toxicity lexicon (0..1)."""
    words = _TOX_WORD.findall(text.lower())
    if not words:
        return 0.0
    return sum(1 for w in words if w in TOXICITY_LEXICON) / len(words)


def spark_pattern(pat: re.Pattern) -> str:
    """BATTERY pattern as a Spark/RE2-dialect string: the only Python flag
    the battery uses is IGNORECASE, expressed inline as (?i) which Java
    regex, RE2 (DuckDB), and Python all honor identically."""
    p = pat.pattern
    if pat.flags & re.IGNORECASE:
        p = "(?i)" + p
    return p


def redact_columns(col):
    """Catalyst twin of scrub_pii: returns (redacted_text, n_hits) Columns.

    Chained regexp_replace in BATTERY order over the progressively redacted
    text -- byte-identical to the Python subn loop because each pattern is
    counted on, then applied to, the output of the previous stage (URL
    before the digit rules, exactly as scrub_pii). All JVM-side; the Python
    function stays the UDF-path twin and the parity test pins them
    together.
    """
    from pyspark.sql import functions as F

    text = col
    hits = F.lit(0)
    for _name, pat, repl in BATTERY:
        p = spark_pattern(pat)
        hits = hits + F.regexp_count(text, F.lit(p))
        text = F.regexp_replace(text, p, repl)
    return text, hits
