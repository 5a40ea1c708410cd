"""Web-link resolution and header/robots extraction (survey F9/F10).

Reference parity:
* F9 — relative-link resolution: `wat_extract_links.py:215-217` calls
  stdlib ``urljoin(base_url, link)`` per link and SKIPS links that raise
  ``ValueError``.
* F10 — byte-regex extraction over HTTP headers / robots.txt:
  `wat_extract_links.py:36-41` (redirect status line ``30[12378]``,
  ``Location:`` header, ``Sitemap:`` lines), consumed by
  `wat_extract_links.py:139-167` (redirects) and ``:616-640``
  (robots.txt sitemaps).

Spark-first shape: the regex family (F10) is pure ``regexp_extract`` /
``regexp_extract_all`` — whole-stage codegen, zero Python. URL joining
(F9) is a DataFrame-level SPLIT (``resolve_links``): rows whose link the
JVM can resolve exactly (the bulk of a web corpus — absolute links and
protocol-relative ``//host/...``) are filtered into a pure-codegen
branch, and ONLY the remaining rows (relative paths needing RFC 3986
merge + dot-segment removal, plus rare tricky inputs) flow through an
Arrow-batched pandas UDF around stdlib ``urljoin``; the two branches are
unioned back. A ``when(cond, jvm).otherwise(udf)`` column CANNOT do this
— Spark extracts the Python UDF into an unconditional ArrowEvalPython
node that evaluates for every row — so the split must happen at the
DataFrame level (see PLANS.md "url_join split"). ValueError inputs →
NULL (the reference drops the link; returning NULL and letting the
caller filter composes better than swallowing rows).

The JVM fast paths reproduce stdlib ``urljoin`` bit-for-bit on their
accepted inputs (tests/test_url_functions.py parity battery):
* link has a scheme ≠ base scheme (case-insensitive): returned VERBATIM
  (CPython: ``if scheme != bscheme or scheme not in uses_relative:
  return url``) — covers https-vs-http, mailto:, javascript:, data:.
* link is ``scheme://netloc...`` with the SAME scheme as the base and a
  common hierarchical scheme: scheme lowercased, rest verbatim (CPython
  rebuilds via urlunparse, which only normalizes the scheme case).
* link is ``//netloc...`` and the base scheme is common-hierarchical:
  ``bscheme + ':' + link``.
Anything else — same-scheme relative refs like ``http:g`` (which
urljoin RESOLVES: ``urljoin('http://a/b','http:g') == 'http://a/g'``),
empty-netloc ``http://``, odd base schemes (mailto base + ``//host``
returns the link unchanged), links with brackets (urlsplit may raise
ValueError) or control chars / spaces (urlsplit strips ``\\t\\r\\n`` and
C0 controls) — goes to the UDF, which IS stdlib urljoin.
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

# mirror of wat_extract_links.py:36-41 (as str regexes; payload is text here)
HTTP_REDIRECT_PATTERN = r"^HTTP\s*/\s*1\.[01]\s*30[12378]\b"
LOCATION_PATTERN = r"(?mi)^Location:\s*(\S+)"
SITEMAP_PATTERN = r"(?mi)^Sitemap:\s*(\S+)"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*):"

# schemes in BOTH urllib.parse.uses_relative and uses_netloc whose
# protocol-relative / same-scheme-absolute handling the JVM paths assume.
_HIERARCHICAL = ("http", "https", "ftp", "ws", "wss", "file")


@F.pandas_udf(StringType())
def _urljoin_udf(base: pd.Series, link: pd.Series) -> pd.Series:
    def _join(b, l):
        if b is None or l is None:
            return None
        try:
            return urljoin(b, l)
        except ValueError:  # reference skips these links (wat_extract_links.py:218)
            return None

    return pd.Series([_join(b, l) for b, l in zip(base, link)])


def _fast_path(b: Column, l: Column) -> tuple[Column, Column]:
    """(eligibility condition, JVM result) for links resolvable without
    Python. The condition is null-safe-false; the result expression is
    only meaningful where the condition holds."""
    bscheme = F.lower(F.regexp_extract(b, _SCHEME_RE, 1))
    lscheme = F.lower(F.regexp_extract(l, _SCHEME_RE, 1))
    # brackets can make urlsplit raise; control chars / spaces get
    # stripped by urlsplit — both diverge from any verbatim fast path.
    clean = ~l.rlike(r"[\x00-\x20\x7f\[\]]") & b.isNotNull() & l.isNotNull()
    diff_scheme = clean & (lscheme != "") & (lscheme != bscheme)
    # CPython rebuilds netloc-bearing links via urlunparse, which DROPS
    # empty trailing '?' / '#' / ';' parts — links ending in an empty
    # query/fragment/params take the UDF (rare; over-matching inside a
    # query string only costs the fast path, never correctness).
    tidy = ~l.rlike(r"[;?]([?#]|$)|#$")
    same_abs = (
        clean
        & tidy
        & (lscheme != "")
        & (lscheme == bscheme)
        & lscheme.isin(*_HIERARCHICAL)
        & l.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]")
    )
    proto_rel = clean & tidy & l.rlike(r"^//[^/?#]") & bscheme.isin(*_HIERARCHICAL)
    cond = F.coalesce(diff_scheme | same_abs | proto_rel, F.lit(False))
    result = (
        F.when(diff_scheme, l)
        # lowercase the scheme, keep everything after the ':' verbatim
        .when(same_abs, F.concat(lscheme, F.substr(l, F.length(lscheme) + F.lit(1))))
        .otherwise(F.concat(bscheme, F.lit(":"), l))
    )
    return cond, result


def resolve_link_branches(
    df: DataFrame, base_col: str, link_col: str, out_col: str = "resolved"
) -> tuple[DataFrame, DataFrame]:
    """The two physical branches of ``resolve_links`` — exposed so tests
    and plan captures can assert the fast branch contains no
    ArrowEvalPython node."""
    b, l = F.col(base_col), F.col(link_col)
    cond, res = _fast_path(b, l)
    fast = df.where(cond).withColumn(out_col, res)
    slow = df.where(~cond).withColumn(out_col, _urljoin_udf(b, l))
    return fast, slow


def resolve_links(
    df: DataFrame, base_col: str, link_col: str, out_col: str = "resolved"
) -> DataFrame:
    """RFC 3986 resolution of ``link_col`` against ``base_col`` as a new
    column, with stdlib-urljoin semantics (NULL where urljoin raises or an
    input is NULL). JVM-resolvable rows never touch Python; the source is
    scanned once per branch with the branch predicate pushed down."""
    fast, slow = resolve_link_branches(df, base_col, link_col, out_col)
    return fast.unionByName(slow)


def url_join(base: Column | str, link: Column | str) -> Column:
    """Column-level urljoin. Correct for ALL inputs, but as a single
    Column expression the UDF branch is physically evaluated for every
    row (Spark hoists Python UDFs out of ``when``); the fast-path inputs
    are masked to NULL so the per-row Python work is trivial, yet the
    Arrow transfer still covers every row — prefer ``resolve_links`` in
    hot paths."""
    b = F.col(base) if isinstance(base, str) else base
    l = F.col(link) if isinstance(link, str) else link
    cond, res = _fast_path(b, l)
    masked = F.when(~cond, b), F.when(~cond, l)
    return F.when(cond, res).otherwise(_urljoin_udf(*masked))


def is_redirect(headers: Column | str) -> Column:
    h = F.col(headers) if isinstance(headers, str) else headers
    return h.rlike(HTTP_REDIRECT_PATTERN)


def extract_redirects(df: DataFrame, url_col: str = "url",
                      headers_col: str = "headers") -> DataFrame:
    """(src, dst) redirect edges: rows whose header block is an HTTP
    30[12378] response, dst = resolved Location target. Mirrors
    `wat_extract_links.py:139-167` (process_redirect + yield_redirect's
    src != target filter). Pure codegen except the relative-Location
    minority (resolve_links split)."""
    pairs = df.where(is_redirect(headers_col)).select(
        F.col(url_col).alias("src"),
        F.regexp_extract(F.col(headers_col), LOCATION_PATTERN, 1).alias("_loc"),
    )
    return (
        resolve_links(pairs, "src", "_loc", "dst")
        .select("src", "dst")
        .where(F.col("dst").isNotNull() & (F.col("dst") != "")
               & (F.col("src") != F.col("dst")))
    )


def extract_sitemaps(df: DataFrame, url_col: str = "url",
                     robots_col: str = "content") -> DataFrame:
    """(src, sitemap) pairs from robots.txt bodies: every ``Sitemap:``
    line, resolved absolute. Mirrors `wat_extract_links.py:616-640`.
    ``regexp_extract_all`` + explode — one pass, no Python for absolute
    sitemap URLs (the norm)."""
    links = F.regexp_extract_all(F.col(robots_col), F.lit(SITEMAP_PATTERN), 1)
    pairs = df.select(F.col(url_col).alias("src"), F.explode(links).alias("_raw"))
    return (
        resolve_links(pairs, "src", "_raw", "sitemap")
        .select("src", "sitemap")
        .where(F.col("sitemap").isNotNull() & (F.col("sitemap") != ""))
    )


SPAM_TLDS = ("tk", "top", "xyz", "zip", "click", "gq", "ml", "cf")


def url_spam_screen(df: DataFrame, host_col: str = "host",
                    spam_tlds: tuple[str, ...] = SPAM_TLDS) -> DataFrame:
    """Host-shape spam/DGA screen (X246): the URL-level curation gate a
    crawl frontier runs BEFORE fetching — flags hosts whose SHAPE is
    spammy regardless of content: digit-heavy labels (DGA/auto-
    generated), keyword-stuffed hyphen chains, deep subdomain nesting,
    disposable TLDs, and very long hosts. Each signal is a point
    (spam TLD counts double); ``flagged`` at score >= 2, so no single
    benign trait (one hyphen, one digit) trips it. The score, not
    just the flag, is emitted — downstream crawl-budget policies
    (X213) can spend on the score curve instead of a hard cut.

    Returns (.., host, n_digits, n_hyphens, depth, host_len, bad_tld,
    spam_score, flagged) with the input's id columns preserved.

    Scale shape: pure per-row length/regexp/array expressions — zero
    shuffle, zero Python, whole-stage codegen over the frontier scan.
    """
    h = F.lower(F.col(host_col))
    n_digits = (F.length(h)
                - F.length(F.regexp_replace(h, r"[0-9]", ""))
                ).cast("long")
    n_hyphens = (F.length(h)
                 - F.length(F.regexp_replace(h, r"-", ""))
                 ).cast("long")
    depth = (F.length(h)
             - F.length(F.regexp_replace(h, r"\.", ""))).cast("long")
    tld = F.element_at(F.split(h, r"\."), -1)
    bad_tld = tld.isin(*spam_tlds)
    host_len = F.length(h).cast("long")
    score = ((10 * n_digits > 3 * host_len).cast("int")
             + (n_hyphens >= 2).cast("int")
             + (depth >= 4).cast("int")
             + (host_len >= 30).cast("int")
             + bad_tld.cast("int") * 2).cast("long")
    return df.select("*",
                     n_digits.alias("n_digits"),
                     n_hyphens.alias("n_hyphens"),
                     depth.alias("depth"),
                     host_len.alias("host_len"),
                     bad_tld.alias("bad_tld"),
                     score.alias("spam_score"),
                     (score >= 2).alias("flagged"))
