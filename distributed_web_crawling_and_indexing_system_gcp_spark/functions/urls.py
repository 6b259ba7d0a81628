"""URL column functions.

Semantics are pinned to the reference crawler
(/root/reference/src/crawler/crawler_node.py):

- ``clean``         — strip + drop ``\\r``/``\\n``            (crawler_node.py:100-101)
- ``canonicalize``  — ``scheme://netloc+path[?query]``, fragment and
  ;params dropped, whole string lowercased, ``rstrip('/')``
  (crawler_node.py:98-107, ``normalize_url``)
- ``resolve_links`` — ``urljoin(final_url, href)``           (crawler_node.py:354)
- host/scheme extraction via ``urlparse``                    (crawler_node.py:113-114,355-357)

Corner-case parity with CPython's ``urllib.parse`` matters more than raw
speed here, so canonicalization/join run *inside* Arrow-batched pandas
UDFs wrapping ``urllib`` itself (vectorized over the batch; no per-row
Python rows cross the JVM boundary).  A pure-column fast path
(:func:`canonicalize_col`) exists for URLs known to be urlparse-simple
(no userinfo, no ;params) — it compiles to built-in Catalyst expressions
and is used in the SQL-oracle-checked queries.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType


def _clean_one(u: str) -> str:
    return u.strip().replace("\r", "").replace("\n", "")


def _canonicalize_one(u: str) -> str:
    u = _clean_one(u)
    p = urlparse(u)
    normalized = f"{p.scheme}://{p.netloc}{p.path}"
    if p.query:
        normalized += f"?{p.query}"
    return normalized.lower().rstrip("/")


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Vectorized ``normalize_url`` (crawler_node.py:98-107)."""
    return urls.map(lambda u: _canonicalize_one(u) if u is not None else None)


@pandas_udf(StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    """``urlparse(url).netloc`` preserving case (crawler_node.py:355-357)."""
    return urls.map(lambda u: urlparse(_clean_one(u)).netloc if u is not None else None)


@pandas_udf(StringType())
def scheme_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlparse(_clean_one(u)).scheme if u is not None else None)


@pandas_udf(StringType())
def resolve_link_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """``urljoin(final_url, cleaned_href)`` (crawler_node.py:352-354)."""
    out = []
    for b, h in zip(base, href):
        if b is None or h is None:
            out.append(None)
        else:
            out.append(urljoin(b, _clean_one(h)))
    return pd.Series(out, dtype="object")


RESOLVE_PARSE_SCHEMA = StructType(
    [
        StructField("new_url", StringType()),
        StructField("scheme", StringType()),
        StructField("netloc", StringType()),
        StructField("canonical", StringType()),
    ]
)


def resolve_one(base: str, href: str) -> tuple[str, str, str, str]:
    """One link, resolved as the crawler resolves it (crawler_node.py:
    349-366): ``(new_url, scheme, netloc, canonical)`` — ``urljoin`` of
    the cleaned href, ``urlparse`` of the result, ``normalize_url`` of it.
    The one implementation of link resolution: ``resolve_and_parse_udf``
    and the crawl's page pass (functions/html.py) both call it."""
    nu = urljoin(base, _clean_one(href))
    p = urlparse(nu)
    return nu, p.scheme, p.netloc, _canonicalize_one(nu)


@pandas_udf(RESOLVE_PARSE_SCHEMA)
def resolve_and_parse_udf(base: pd.Series, href: pd.Series) -> pd.DataFrame:
    """Fused link resolution: urljoin + urlparse + canonicalize in ONE
    Arrow round trip per (base, href) row.  Semantics identical to
    resolve_link_udf + scheme_udf/host_udf + canonicalize_udf."""
    rows = [
        (None, None, None, None) if b is None or h is None else resolve_one(b, h)
        for b, h in zip(base, href)
    ]
    return pd.DataFrame(rows, columns=list(RESOLVE_PARSE_SCHEMA.names))


@pandas_udf(StringType())
def robots_url_udf(urls: pd.Series) -> pd.Series:
    """``f"{scheme}://{netloc}/robots.txt"`` (crawler_node.py:114)."""

    def one(u):
        if u is None:
            return None
        p = urlparse(_clean_one(u))
        return f"{p.scheme}://{p.netloc}/robots.txt"

    return urls.map(one)


# ---------------------------------------------------------------------------
# Pure-column (Catalyst/WSCG) fast paths — used when URLs are known simple.
# ---------------------------------------------------------------------------

def clean_col(url: Column) -> Column:
    """strip + remove CR/LF as built-in expressions (crawler_node.py:100-101)."""
    return F.regexp_replace(F.trim(url), "[\\r\\n]", "")


def canonicalize_col(url: Column) -> Column:
    """Catalyst-only canonicalization for urlparse-simple URLs.

    Valid when the URL has no userinfo and no ``;params`` segment (our
    frontier always re-canonicalizes UDF-side before hashing, so this fast
    path is used only in SQL-oracle-checked queries and scan-side
    prefilters where its preconditions hold).
    """
    c = clean_col(url)
    no_frag = F.substring_index(c, "#", 1)
    lowered = F.lower(no_frag)
    # rstrip('/') — urls here have single trailing slash at most, but use
    # a regexp to match str.rstrip semantics (all trailing slashes).
    return F.regexp_replace(lowered, "/+$", "")


def host_col(url: Column) -> Column:
    """netloc for scheme://host[:port]/... URLs, case preserved."""
    c = clean_col(url)
    after_scheme = F.substring_index(F.substring_index(c, "://", -1), "#", 1)
    return F.substring_index(F.substring_index(after_scheme, "/", 1), "?", 1)


def is_valid_http(url: Column) -> Column:
    """Task-validity filter: ``url.startswith('http')`` (crawler_node.py:248)."""
    return url.isNotNull() & url.startswith("http")


def is_schemed_http(scheme: Column, host: Column) -> Column:
    """Out-link validity: scheme in {http,https} and netloc nonempty
    (crawler_node.py:355-357)."""
    return scheme.isin("http", "https") & (host != F.lit(""))


__all__ = [
    "canonicalize_udf",
    "host_udf",
    "scheme_udf",
    "resolve_link_udf",
    "resolve_and_parse_udf",
    "resolve_one",
    "robots_url_udf",
    "clean_col",
    "canonicalize_col",
    "host_col",
    "is_valid_http",
    "is_schemed_http",
    "_canonicalize_one",
    "_clean_one",
]
