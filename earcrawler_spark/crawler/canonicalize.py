"""URL canonicalization + hashing — vectorized pandas UDFs.

Reference keys its HTTP cache by sha256(url ‖ sorted-params ‖ vary-headers)
(earCrawler/utils/http_cache.py:65-84) but never canonicalizes URLs (its
frontier is API-constructed). At web scale canonicalization IS the seen-set
key, so it is first-class here:

- scheme + host lowercased; default ports stripped
- fragment dropped
- query parameters sorted by (key, value); empty query dropped
- path percent-normalized ('' → '/'); duplicate slashes collapsed
- tracking params (utm_*) removed

All batch work happens in pandas inside an Arrow-transferred UDF — no
per-row Python at the Spark boundary (north-rule requirement).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def canonicalize_one(url: str) -> str:
    """Canonical form of one URL (pure; shared with the sequential
    reference model in tests)."""
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = (parts.scheme or "http").lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    if port and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        host = f"{host}:{port}"
    path = parts.path or "/"
    while "//" in path:
        path = path.replace("//", "/")
    q = [
        (k, v)
        for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if not k.lower().startswith("utm_")
    ]
    query = urlencode(sorted(q)) if q else ""
    return urlunsplit((scheme, host, path, query, ""))


# Fast-path shape: scheme://host/path[?query][#frag] with a plain
# non-empty host ([A-Za-z0-9.-]+ — no port, userinfo or IPv6 bracket)
# and printable-ASCII text.  For these rows every canonicalize_one step
# is expressible as a vectorized pandas op (plus a per-row query sort on
# only the rows that HAVE a query); everything else — empty host (whose
# urlunsplit round-trip drops a slash), ports, control characters that
# urlsplit strips, non-ASCII — falls back to canonicalize_one.
# Equality with canonicalize_one on every fast-path row is fuzz-tested
# (tests/test_canonicalize_fuzz.py::test_batch_equals_reference).
_FAST_PARTS = (
    r"\A([A-Za-z][A-Za-z0-9+.\-]*)://([A-Za-z0-9.\-]+)"
    r"(/[^?#]*)?(?:\?([^#]*))?(?:#.*)?\Z"
)


def _canon_query(qs) -> str:
    if not isinstance(qs, str) or qs == "":
        return ""
    q = [
        (k, v)
        for k, v in parse_qsl(qs, keep_blank_values=True)
        if not k.lower().startswith("utm_")
    ]
    return urlencode(sorted(q)) if q else ""


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization of a string Series; row-for-row equal
    to ``urls.map(canonicalize_one)`` (per-row Python only for the slow
    tail and the per-UNIQUE-query-string parameter sort). Any index,
    duplicate labels included, is preserved."""
    index = urls.index
    urls = urls.reset_index(drop=True)  # the tiers below align by label
    s = urls.str.strip()
    ascii_ok = ~s.str.contains(r"[^\x20-\x7e]", regex=True, na=True)
    out = pd.Series(index=urls.index, dtype=object)
    # Identity tier: already-canonical shape (lowercase scheme+host,
    # plain host, non-empty path, no query/fragment, and exactly the
    # scheme's '//' so no duplicate path slashes) — steady-state crawls
    # re-canonicalize their own output constantly, so this is the hot
    # tier; every canonicalize_one step is a no-op on it.
    ident = (
        ascii_ok
        & s.str.match(r"https?://[a-z0-9.\-]+/[^?#]*\Z", na=False)
        & (s.str.count("//") == 1)
    )
    out[ident] = s[ident]
    rest = ~ident
    if rest.any():
        r = s[rest]
        ex = r.str.extract(_FAST_PARTS)
        fast = ascii_ok[rest] & ex[0].notna()
        if fast.any():
            scheme = ex.loc[fast, 0].str.lower()
            host = ex.loc[fast, 1].str.lower()
            path = ex.loc[fast, 2].fillna("/").str.replace(
                r"/{2,}", "/", regex=True
            )
            qs = ex.loc[fast, 3]
            qmap = {u: _canon_query(u) for u in qs.dropna().unique()}
            query = qs.map(qmap).fillna("")
            res = scheme + "://" + host + path
            res = res.where(query == "", res + "?" + query)
            out.loc[res.index] = res
        slow_idx = fast.index[~fast.to_numpy()]
        if len(slow_idx):
            out.loc[slow_idx] = urls.loc[slow_idx].map(canonicalize_one)
    return out.set_axis(index)


@F.pandas_udf(StringType())
def canonical_url(urls: pd.Series) -> pd.Series:
    return canonicalize_batch(urls)


@F.pandas_udf(StringType())
def url_host(urls: pd.Series) -> pd.Series:
    def _host(u: str) -> str:
        try:
            return (urlsplit(u).hostname or "").lower()
        except ValueError:
            return ""

    return urls.map(_host)


def url_hash_col(col):
    """sha256 of the canonical URL — the universal seen-set key.

    Native sha2 so hashing stays JVM-side; only canonicalization itself
    crosses the Arrow boundary.
    """
    return F.sha2(col, 256)
