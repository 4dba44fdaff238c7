"""Property-based fuzz for the URL canonicalizer (crawler/canonicalize.py)
— the seen-set key function the whole frontier dedup rests on.

Properties:
- idempotence: canonicalize(canonicalize(u)) == canonicalize(u)
- variant collapse: any two messy variants of the same logical URL
  (scheme/host case, default port, utm params, param order, fragment)
  share one canonical form — i.e. one seen-set key
- host separation: different hosts never collapse
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from earcrawler_spark.crawler.canonicalize import canonicalize_one

_HOST = st.from_regex(r"[a-z][a-z0-9]{0,8}(\.[a-z]{2,6}){1,2}", fullmatch=True)
_SEG = st.from_regex(r"[A-Za-z0-9_-]{1,8}", fullmatch=True)
_KEY = st.from_regex(r"[a-z][a-z0-9]{0,5}", fullmatch=True)
_VAL = st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)


@st.composite
def _logical_url(draw):
    scheme = draw(st.sampled_from(["http", "https"]))
    host = draw(_HOST)
    segs = draw(st.lists(_SEG, min_size=0, max_size=3))
    params = draw(
        st.lists(st.tuples(_KEY, _VAL), min_size=0, max_size=3, unique_by=lambda kv: kv[0])
    )
    return scheme, host, segs, params


def _messy_variant(scheme, host, segs, params, rng: random.Random) -> str:
    s = scheme.upper() if rng.random() < 0.5 else scheme
    h = host.upper() if rng.random() < 0.5 else host
    port = ""
    if rng.random() < 0.5:
        port = ":80" if scheme == "http" else ":443"
    path = ""
    for seg in segs:
        path += "/" * rng.randint(1, 3) + seg
    if not path and rng.random() < 0.5:
        path = "/"
    q = list(params)
    if rng.random() < 0.5:
        q.append(("utm_source", "fuzz"))
    if rng.random() < 0.5:
        q.append(("utm_campaign", ""))
    rng.shuffle(q)
    query = "&".join(f"{k}={v}" for k, v in q)
    frag = "#frag" if rng.random() < 0.5 else ""
    return f"{s}://{h}{port}{path}" + (f"?{query}" if query else "") + frag


@settings(max_examples=200, deadline=None)
@given(_logical_url(), st.integers(0, 2**31))
def test_canonicalize_idempotent_and_variant_stable(logical, seed):
    scheme, host, segs, params = logical
    rng = random.Random(seed)
    variants = [
        _messy_variant(scheme, host, segs, params, rng) for _ in range(4)
    ]
    canons = {canonicalize_one(v) for v in variants}
    assert len(canons) == 1, (variants, canons)
    c = canons.pop()
    # idempotent: the canonical form is a fixed point
    assert canonicalize_one(c) == c
    # canonical invariants
    assert c.startswith(f"{scheme}://{host}")
    assert "#" not in c and "utm_" not in c and "//" not in c.split("://", 1)[1]


# Hand-picked adversarial rows for the vectorized batch path: every
# boundary between the fast tier and the canonicalize_one fallback.
_BATCH_EDGE_CASES = [
    "https://bis.doc.gov/page/1",
    "HTTPS://BIS.DOC.GOV/page/1",
    "https://bis.doc.gov/page/1?utm_source=x&b=2&a=1",
    "https://bis.doc.gov/page/1?utm_source=x&b=2&a=1#frag",
    "https://host",                      # no path -> '/'
    "https://host?a=1",                  # query, no path
    "https://host#f",                    # fragment, no path
    "https://host/p?",                   # empty query dropped
    "https://host/a//b////c/",           # slash collapse
    "http://host:80/x",                  # default port -> slow path
    "https://host:8443/x",               # explicit port -> slow path
    "http://user@host/x",                # userinfo -> slow path
    "https:///path",                     # empty host (urlunsplit quirk)
    "https://host/a b/c",                # space in path
    "https://host/a%2Fb",                # percent-escape passthrough
    "https://host/p?a=%20&a=+",          # quote_plus round-trip
    "https://host/p?a",                  # blank value kept
    "https://host/p?=v&a=1",             # blank key
    "https://host/p?b=2;a=1",            # ';' is not a separator (3.10+)
    "  https://host/x  ",                # strip
    "https://host/\tx",                  # control char -> slow path
    "https://host/é",               # non-ASCII -> slow path
    "ftp://host/x",                      # non-http scheme
    "weird_scheme://host/x",             # invalid scheme char -> slow
    "example.com/x",                     # no scheme
    "",
    "http://[::1]/x",                    # IPv6 -> slow path
    "https://host/p?A=1&a=0",            # key case matters in sort
    "https://host/p?Utm_Source=x&a=1",   # utm_ filter is case-insensitive
]


def test_batch_equals_reference_edge_cases():
    import pandas as pd

    from earcrawler_spark.crawler.canonicalize import canonicalize_batch

    want = [canonicalize_one(u) for u in _BATCH_EDGE_CASES]
    n = len(_BATCH_EDGE_CASES)
    # default RangeIndex, then the same rows under duplicate labels
    # (neighbouring rows share a label across fast/slow tier boundaries)
    for index in (pd.RangeIndex(n), pd.Index([i // 2 for i in range(n)])):
        res = canonicalize_batch(pd.Series(_BATCH_EDGE_CASES, index=index))
        assert res.index.equals(index)
        got = res.tolist()
        assert got == want, [
            (u, g, w) for u, g, w in zip(_BATCH_EDGE_CASES, got, want) if g != w
        ]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_logical_url(), st.integers(0, 2**31)), min_size=1, max_size=8))
def test_batch_equals_reference_fuzz(batch):
    """The vectorized Series path is row-for-row identical to the scalar
    reference on random messy variants (mixed fast/slow rows per batch)."""
    import pandas as pd

    from earcrawler_spark.crawler.canonicalize import canonicalize_batch

    urls = []
    for (scheme, host, segs, params), seed in batch:
        rng = random.Random(seed)
        urls.append(_messy_variant(scheme, host, segs, params, rng))
    got = canonicalize_batch(pd.Series(urls)).tolist()
    want = [canonicalize_one(u) for u in urls]
    assert got == want, list(zip(urls, got, want))


@settings(max_examples=100, deadline=None)
@given(_logical_url(), _HOST, st.integers(0, 2**31))
def test_canonicalize_separates_hosts(logical, other_host, seed):
    scheme, host, segs, params = logical
    if other_host == host:
        return
    rng = random.Random(seed)
    a = canonicalize_one(_messy_variant(scheme, host, segs, params, rng))
    b = canonicalize_one(_messy_variant(scheme, other_host, segs, params, rng))
    assert a != b
