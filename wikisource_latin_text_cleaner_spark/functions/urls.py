"""URL canonicalization as pure Catalyst expressions -- the standard
pre-dedup normalization for Common-Crawl-style page tables (no reference
precedent; task-brief scope: url is the table's primary key, and exact-dedup
by URL is only sound after canonicalization).

Every rule is a regex Spark's Java engine and DuckDB's RE2 evaluate
identically (anchored captures, no lookaround -- RE2 has none), so the
driver oracle re-derives the whole transform in SQL.

Canonical form:
  - fragment dropped
  - scheme and host lowercased (path/query case preserved)
  - default ports stripped (http:80, https:443)
  - tracking params removed (utm_*, fbclid, gclid), '?'/'&' reflowed
  - trailing slashes collapsed off a non-root path
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tracking-parameter pattern: one key=value unit, bounded by [^&]* so a
#: global replace eats each param independently
_TRACK = r"(utm_[^&=]*=[^&]*|fbclid=[^&]*|gclid=[^&]*)"


def canonicalize_url(col) -> Column:
    u = F.regexp_replace(col, r"#.*$", "")                       # fragment
    head = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", 1))
    tail = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"&" + _TRACK, "")                   # mid/cleanup
    u = F.regexp_replace(u, r"\?" + _TRACK + r"&", "?")          # first-of-many
    u = F.regexp_replace(u, r"\?" + _TRACK + r"$", "")           # only param
    u = F.regexp_replace(u, r"([^/])/+$", r"$1")                 # trailing /
    return u


def canonicalize_url_sql(col_sql: str) -> str:
    """The identical transform as a DuckDB SQL expression string (regexes
    shared with the Catalyst version above; '\\0'-style backrefs differ:
    DuckDB uses \\1, Spark uses $1)."""
    u = f"regexp_replace({col_sql}, '#.*$', '')"
    head = (
        f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)', 1))"
    )
    tail = f"regexp_replace({u}, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*', '')"
    u = f"({head} || {tail})"
    u = f"regexp_replace({u}, '^(http://[^/:?#]+):80([/?].*)?$', '\\1\\2')"
    u = f"regexp_replace({u}, '^(https://[^/:?#]+):443([/?].*)?$', '\\1\\2')"
    u = f"regexp_replace({u}, '&{_TRACK}', '', 'g')"
    u = f"regexp_replace({u}, '\\?{_TRACK}&', '?', 'g')"
    u = f"regexp_replace({u}, '\\?{_TRACK}$', '')"
    u = f"regexp_replace({u}, '([^/])/+$', '\\1')"
    return u


# -- URL-level filtering (RefinedWeb-style blocklist + keyword scoring) ------
#
# No reference precedent; task-brief web-mode scope. RefinedWeb (Penedo et
# al. 2023, sec 3.1) filters pages by (a) a curated domain blocklist and
# (b) soft keyword scoring of the URL itself. Both are pure Catalyst here:
# the blocklist is a broadcast join on the registrable domain (UT1-sized
# lists -- a few million rows -- still broadcast comfortably; the
# F.broadcast hint is forced, so a larger list does not fall back to a
# shuffled join -- see SCALE.md) and keyword scoring is a fixed sum of
# contains() probes.

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)"

#: soft-block keywords probed as substrings of the lowercased URL
BLOCK_KEYWORDS = ("casino", "porn", "xxx", "viagra", "escort", "gambling")


def url_host(col) -> Column:
    """Lowercased host[:port] of a URL ('' when there is no authority)."""
    return F.lower(F.regexp_extract(col, _HOST_RE, 1))


def registrable_domain(col) -> Column:
    """Last two dot-labels of the host, port stripped -- a deliberate
    public-suffix-list approximation (the real PSL is a broadcast table a
    deployment can swap in; the join shape is identical)."""
    host = F.regexp_replace(url_host(col), r":\d+$", "")
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def url_keyword_hits(col, keywords=BLOCK_KEYWORDS) -> Column:
    """Number of BLOCK_KEYWORDS occurring as substrings of the URL."""
    low = F.lower(col)
    out = F.lit(0)
    for kw in keywords:
        out = out + F.when(low.contains(kw), 1).otherwise(0)
    return out


def flag_blocked_urls(
    df,
    blocklist,
    url_col: str = "url",
    keywords=BLOCK_KEYWORDS,
    max_keyword_hits: int = 0,
):
    """Add ``url_domain``, ``url_kw_hits`` and ``url_blocked`` columns:
    blocked iff the registrable domain appears in ``blocklist`` (a
    DataFrame with a ``domain`` column, lowercase) or more than
    ``max_keyword_hits`` keywords hit. Rows are flagged, never dropped --
    the pipeline's quarantine discipline (drop_reasons) applies downstream.
    """
    bl = (
        blocklist.select(F.lower(F.col("domain")).alias("url_domain"))
        .distinct()
        .withColumn("_bl", F.lit(True))
    )
    out = (
        df.withColumn("url_domain", registrable_domain(F.col(url_col)))
        .withColumn("url_kw_hits", url_keyword_hits(F.col(url_col), keywords))
        .join(F.broadcast(bl), "url_domain", "left")
    )
    return (
        out.withColumn(
            "url_blocked",
            F.coalesce(F.col("_bl"), F.lit(False))
            | (F.col("url_kw_hits") > max_keyword_hits),
        )
        .drop("_bl")
        .select(*df.columns, "url_domain", "url_kw_hits", "url_blocked")
    )


#: anchor hrefs in all three HTML quoting forms (group 1 = the value
#: INCLUDING its surrounding quotes when present; strip_href_quotes
#: removes them). RE2-compatible by construction (no lookaround, no
#: backreference) so the identical pattern runs in Catalyst (Java regex)
#: and the DuckDB oracle; both engines use leftmost-first alternation,
#: so a quoted value always binds its quoted branch. The attribute name
#: must be preceded by whitespace (either directly after `<a` or after
#: other attributes): a bare `[^>]*href=` would also match suffixes of
#: other attributes, e.g. data-href="x". Unquoted values terminate at
#: whitespace/`>` and may not contain quotes (HTML5 unquoted-value
#: grammar); `\s*=\s*` tolerates whitespace around the equals sign.
OUTLINK_RE = r"""(?i)<a\s(?:[^>]*\s)?href\s*=\s*("[^"]*"|'[^']*'|[^'"\s>]+)"""

#: SQL CASE that strips the surrounding quotes off one OUTLINK_RE group-1
#: match -- shared verbatim by the Spark transform below and the DuckDB
#: oracle so both engines apply one definition of "the href value".
STRIP_HREF_QUOTES_SQL = (
    "CASE WHEN substr({v}, 1, 1) IN ('\"', '''') "
    "THEN substr({v}, 2, length({v}) - 2) ELSE {v} END"
)


def strip_href_quotes(col) -> Column:
    """Remove the surrounding quote pair from an OUTLINK_RE group-1 match
    (no-op for unquoted values, which the pattern guarantees are
    quote-free)."""
    return F.when(
        F.substring(col, 1, 1).isin('"', "'"),
        col.substr(F.lit(2), F.length(col) - 2),
    ).otherwise(col)


def extract_outlinks(col) -> Column:
    """All anchor hrefs of an HTML string -- double-quoted, single-quoted,
    and unquoted forms -- in document order, as array<string>. Pure
    Catalyst (regexp_extract_all + transform), no Python. The link-graph
    consumer joins this against canonicalize_url + registrable_domain."""
    raw = F.regexp_extract_all(col, F.lit(OUTLINK_RE), F.lit(1))
    return F.transform(raw, strip_href_quotes)
