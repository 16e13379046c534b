"""HTML -> text extraction for the ``html: binary`` pages column.

The reference's only markup->text precedent is the wiki inline-formatting
strip (Text Cleaner/step4_remove_headings.py:161-171); real Common-Crawl
rows carry raw HTML, so the web generalization needs a full (if simple)
extractor. Deterministic pure Python + stdlib ``html.unescape`` -- no
parsing libraries -- run as an Arrow pandas UDF.

Extraction policy (deliberately simple and exactly specified, so tests and
the DuckDB oracle can replicate it):

  1. decode UTF-8 (errors="replace");
  2. drop <script>/<style> elements and <!-- comments --> wholesale;
  3. block-level closers/openers (p, div, h1-6, li, tr, br, table, section,
     article) become a newline; every other tag becomes the empty string;
  4. unescape HTML entities;
  5. per line: collapse runs of ASCII horizontal whitespace ([ \\t\\r\\f\\v])
     to one space, strip leading/trailing spaces; drop now-empty lines;
     join with a single newline.

The step-5 character class is deliberately ASCII-only (no unicode-aware
``str.strip()``): the policy must be replicable exactly in ANSI SQL for the
oracle harness, and ``&nbsp;``-style unescaped spacing is real content.
"""

from __future__ import annotations

import html as _htmlmod
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCRIPT_STYLE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_BLOCK_TAG = re.compile(
    r"</?(?:p|div|h[1-6]|li|ul|ol|tr|table|thead|tbody|section|article|"
    r"header|footer|blockquote)\b[^>]*>|<br\s*/?>",
    re.IGNORECASE,
)
_ANY_TAG = re.compile(r"<[^>]+>")
_SPACE_RUN = re.compile(r"[ \t\r\f\v]+")


def html_to_text(payload: bytes | None) -> str:
    if not payload:
        return ""
    raw = payload.decode("utf-8", errors="replace")
    raw = _SCRIPT_STYLE.sub("", raw)
    raw = _COMMENT.sub("", raw)
    raw = _BLOCK_TAG.sub("\n", raw)
    raw = _ANY_TAG.sub("", raw)
    raw = _htmlmod.unescape(raw)
    lines = [_SPACE_RUN.sub(" ", ln).strip(" ") for ln in raw.split("\n")]
    return "\n".join(ln for ln in lines if ln)


@pandas_udf(StringType())
def html_to_text_udf(payloads: pd.Series) -> pd.Series:
    return payloads.map(html_to_text)


#: inline anchor contents (group 1). No backreference, non-greedy + (?s):
#: the pattern must stay RE2-compatible so the DuckDB oracle can reuse it.
_A_TAG = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
#: explicit ASCII class (NOT \s: Python's \s is unicode-aware, RE2's is
#: ASCII -- the policy must collapse the same characters in both engines)
_WS_RUN = re.compile(r"[ \t\n\r\f\v]+")


def _norm_inline(fragment: str) -> str:
    """Strip remaining inline tags, unescape entities, collapse ASCII
    whitespace runs to one space, strip edge spaces."""
    s = _ANY_TAG.sub("", fragment)
    s = _htmlmod.unescape(s)
    return _WS_RUN.sub(" ", s).strip(" ")


def main_content_blocks(
    payload: bytes | None,
) -> list[tuple[str, int, float]]:
    """jusText/trafilatura-style block segmentation: split the page on
    block-level tags and score each block for the boilerplate filter.

    Returns ``[(text, n_words, link_density)]`` per non-empty block, in
    document order, where ``link_density`` is normalized-anchor-text chars
    over normalized-block-text chars. Same exactly-specified policy rules
    as :func:`html_to_text` (ASCII whitespace class, stdlib unescape) so
    the DuckDB oracle harness can replicate it. No reference precedent
    (the reference ingests pre-extracted wiki text); task-brief extension
    for raw Common-Crawl pages.
    """
    if not payload:
        return []
    raw = payload.decode("utf-8", errors="replace")
    raw = _SCRIPT_STYLE.sub("", raw)
    raw = _COMMENT.sub("", raw)
    blocks: list[tuple[str, int, float]] = []
    for frag in _BLOCK_TAG.split(raw):
        text = _norm_inline(frag)
        if not text:
            continue
        link_chars = sum(len(_norm_inline(m)) for m in _A_TAG.findall(frag))
        blocks.append((text, len(text.split(" ")), link_chars / len(text)))
    return blocks


def extract_main_content(
    payload: bytes | None,
    min_words: int = 5,
    max_link_density: float = 0.5,
) -> tuple[str, int, int]:
    """Main-content extraction: keep blocks with >= ``min_words`` words AND
    link density <= ``max_link_density`` (nav bars, footers, 'see also'
    link farms fail one or both); join survivors with newlines.

    Returns ``(main_text, n_blocks_kept, n_blocks_total)`` so callers can
    derive a per-page boilerplate fraction.
    """
    blocks = main_content_blocks(payload)
    kept = [
        t
        for t, w, ld in blocks
        if w >= min_words and ld <= max_link_density
    ]
    return "\n".join(kept), len(kept), len(blocks)


def main_content_udf():
    """Deferred factory: a struct-typed pandas UDF parses its DDL schema
    when it is built, which needs an active session."""

    @pandas_udf("text string, n_kept long, n_total long")
    def extract_main(payloads: pd.Series) -> pd.DataFrame:
        rows = [extract_main_content(p) for p in payloads]
        return pd.DataFrame(rows, columns=["text", "n_kept", "n_total"])

    return extract_main


def escape_text_as_html(text: str) -> str:
    """Inverse test helper: minimal escaping whose round trip through
    html_to_text recovers the whitespace-normalized original."""
    return (
        "<html><body><p>"
        + text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        + "</p></body></html>"
    )


# -- robots meta directives (publisher opt-out) -------------------------------

#: RE2-compatible (no lookaround, works verbatim in Java regex and DuckDB):
#: the whole first <meta ... name=robots ...> tag, any attribute order.
ROBOTS_META_RE = r"""(?i)<meta\b[^>]*\bname\s*=\s*['"]?robots['"]?[^>]*>"""


def meta_robots_flags(html_col):
    """(noindex, nofollow) flags from the first ``<meta name=robots>`` tag
    of the raw capture (binary column). Pure Catalyst -- decode +
    regexp_extract + contains, zero Python, zero shuffle; the projection
    prunes the scan to the html column. Attribute order does not matter
    because the whole tag is captured and then scanned for the directives;
    a 'noindex' appearing in body text never matches (it is not inside a
    robots meta tag). Pages without the tag, or with NULL html, get
    (false, false). Directives are matched literally ('none' is not
    expanded); malformed non-UTF-8 captures decode with replacement chars,
    which cannot fabricate an ASCII meta tag.

    No reference precedent (the reference corpus is not crawled); a
    Common-Crawl-style pipeline honors noindex as a publisher opt-out
    BEFORE any content processing.
    """
    from pyspark.sql import functions as F

    tag = F.lower(
        F.regexp_extract(F.decode(html_col, "UTF-8"), ROBOTS_META_RE, 0)
    )
    return F.struct(
        F.coalesce(tag.contains("noindex"), F.lit(False)).alias("noindex"),
        F.coalesce(tag.contains("nofollow"), F.lit(False)).alias("nofollow"),
    )


def drop_meta_noindex(pages, html_col: str = "html"):
    """Opt-out pre-gate: remove pages whose robots meta declares noindex.
    Apply BEFORE the quality pipeline -- a publisher opt-out is not a
    quality verdict (it must not appear in drop_reasons statistics), and
    dropping early keeps the html column out of every later stage's scan.
    """
    from pyspark.sql import functions as F

    return pages.where(~meta_robots_flags(F.col(html_col))["noindex"])
