"""Round-2 crawler hardening: ETag conditional revalidation, staged
expire_seen commit safety, robots User-agent grouping, filter-config
resume validation."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.fetch import (
    retrying,
    synthetic_etag,
    synthetic_fetch_one,
)
from earcrawler_spark.crawler.robots import parse_robots_txt
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig


def test_conditional_transport_304_vs_changed():
    url = synth.seed_list()[0][0]
    status, html = synthetic_fetch_one(url)
    assert status == 200 and html
    tag = synthetic_etag(html)
    # matching validator -> 304 with no body
    assert synthetic_fetch_one(url, tag) == (304, "")
    # stale validator (content changed) -> full 200
    status2, html2 = synthetic_fetch_one(url, "not-the-current-etag")
    assert status2 == 200 and html2 == html
    # retrying wrapper threads the validator through
    fetch = retrying(synthetic_fetch_one)
    assert fetch(url, tag)[0] == 304
    assert fetch(url, None)[0] == 200


def test_stale_entries_revalidate_and_slide(spark, tmp_path):
    # ttl=0: every cached entry is stale next wave -> conditional fetch.
    # Unchanged synthetic pages answer 304; merge_cache must refresh
    # fetched_iter (sliding revalidation) and the visit log records 304s.
    cfg = CrawlConfig(max_iters=3, n_partitions=4, cache_ttl_iters=0)
    c = Crawler(spark, str(tmp_path / "s"), cfg)
    c.init_seeds(synth.seed_list())
    c.run()
    m = c.state.manifest()
    upto = m["completed_iter"]
    assert upto >= 2
    # some pages revisited? seen-set prevents URL revisits; bootstrap a
    # second run against the same cache to force revisits of the seeds
    cache = c.state.read_latest("fetch_cache", upto)
    assert "spans" in cache.columns and "links" in cache.columns
    b = Crawler(spark, str(tmp_path / "s2"), cfg, cache_bootstrap=cache)
    b.init_seeds(synth.seed_list())
    b.run(max_iters=1)
    visits = b.state.read_all("visits", 1)
    n304 = visits.filter(F.col("status") == 304).count()
    assert n304 > 0, "stale seeds should revalidate via etag -> 304"
    # revalidated entries slide: fetched_iter refreshed to wave 1
    cache_b = b.state.read_latest("fetch_cache", 1)
    revalidated = cache_b.join(
        visits.filter(F.col("status") == 304).select("url_hash"), "url_hash"
    )
    assert revalidated.filter(F.col("fetched_iter") == 1).count() == revalidated.count()
    # replayed parses keep contributing link expansion: wave 1 discovered
    # new urls even though all fetches were 304s
    totals = b.state.manifest()["totals"]
    assert totals["revalidated"] == n304
    assert totals["new_urls"] > 0


def test_host_fallback_rewrites_to_www_once():
    from earcrawler_spark.crawler.fetch import host_fallback, www_alternate

    assert www_alternate("https://api.fr.gov/v1/x?p=1") == "https://www.api.fr.gov/v1/x?p=1"
    assert www_alternate("https://www.fr.gov/x") == "https://www.fr.gov/x"

    calls = []

    def transport(url, etag=None):
        calls.append(url)
        if url.startswith("https://www."):
            return 200, "<p>real content</p>", 1
        return 200, "ANTIBOT WALL", 1

    is_invalid = lambda status, html: "ANTIBOT" in html
    fetch = host_fallback(transport, is_invalid)
    status, html, attempts = fetch("https://api.fr.gov/v1/docs")
    assert (status, html) == (200, "<p>real content</p>")
    assert attempts == 2
    assert calls == ["https://api.fr.gov/v1/docs", "https://www.api.fr.gov/v1/docs"]
    # already-www invalid page: no second attempt (alt == url)
    calls.clear()

    def always_bad(url, etag=None):
        calls.append(url)
        return 200, "ANTIBOT WALL", 1

    status, html, _ = host_fallback(always_bad, is_invalid)("https://www.x.org/a")
    assert html == "ANTIBOT WALL" and len(calls) == 1


def test_expire_seen_staged_commit_leaves_no_window(spark, tmp_path):
    cfg = CrawlConfig(max_iters=2, n_partitions=4)
    c = Crawler(spark, str(tmp_path / "e"), cfg)
    c.init_seeds(synth.seed_list())
    c.run()
    m0 = c.state.manifest()
    upto = m0["completed_iter"]
    seen_before = {r["url_hash"] for r in c.seen_set().collect()}
    stats = c.expire_seen(older_than_iter=1)
    m1 = c.state.manifest()
    # staged dirs are fresh generations recorded in the manifest
    gens = m1.get("gens", {})
    assert f"seen:base:{upto}" in gens and f"bloom:iter:{upto}" in gens
    base = c.state._base_dir("seen", upto, gens[f"seen:base:{upto}"])
    bloom = c.state._iter_dir("bloom", upto, gens[f"bloom:iter:{upto}"])
    assert os.path.exists(os.path.join(base, "_SUCCESS"))
    assert os.path.exists(os.path.join(bloom, "_SUCCESS"))
    # survivors = rows first seen at iter >= 1
    kept = {r["url_hash"] for r in c.seen_set().collect()}
    assert len(kept) == stats["kept"] and kept <= seen_before
    # a second expiry bumps generations again without touching the
    # committed snapshot until its own manifest flip
    c.expire_seen(older_than_iter=2)
    gens2 = c.state.manifest()["gens"]
    assert gens2[f"seen:base:{upto}"] > gens[f"seen:base:{upto}"]
    # filter still loads (no lost snapshot) and matches the seen table
    blooms = c._load_bloom(c.state.read_latest("bloom", upto))
    assert blooms, "filter snapshot must survive staged rewrites"


def test_expire_seen_crash_before_manifest_is_invisible(spark, tmp_path):
    cfg = CrawlConfig(max_iters=2, n_partitions=4)
    c = Crawler(spark, str(tmp_path / "crash"), cfg)
    c.init_seeds(synth.seed_list())
    c.run()
    upto = c.state.manifest()["completed_iter"]
    seen_before = sorted(r["url_hash"] for r in c.seen_set().collect())
    manifest_before = c.state.manifest()
    # simulate the crash: stage the new snapshots (gen dirs) but never
    # write the manifest — exactly what a kill between stage 1 and 2 does
    keep = c.seen_set().filter(F.col("iter") >= 1)
    keep.write.mode("overwrite").parquet(
        c.state._base_dir("seen", upto, c.state.fresh_gen("seen", "base", upto))
    )
    # state must be unchanged: reads resolve via the committed manifest
    assert c.state.manifest() == manifest_before
    assert sorted(r["url_hash"] for r in c.seen_set().collect()) == seen_before
    assert c._load_bloom(c.state.read_latest("bloom", upto)), \
        "committed filter snapshot untouched"


ROBOTS_GROUPED = """
User-agent: BadBot
Disallow: /
Crawl-delay: 30

User-agent: *
Disallow: /private
Crawl-delay: 2
"""

ROBOTS_SPECIFIC = """
User-agent: *
Disallow: /everything

User-agent: earcrawler
Disallow: /only-this
Crawl-delay: 0.5
"""

ROBOTS_STACKED = """
User-agent: a
User-agent: *
Disallow: /shared
"""


def test_robots_user_agent_grouping():
    dis, delay = parse_robots_txt(ROBOTS_GROUPED, default_delay=1.0)
    assert dis == ["/private"], "BadBot's Disallow:/ must not apply to us"
    assert delay == 2.0, "BadBot's crawl-delay must not win"
    dis, delay = parse_robots_txt(ROBOTS_SPECIFIC, user_agent="earcrawler")
    assert dis == ["/only-this"] and delay == 0.5
    dis, delay = parse_robots_txt(ROBOTS_SPECIFIC)  # default agent '*'
    assert dis == ["/everything"]
    dis, _ = parse_robots_txt(ROBOTS_STACKED)
    assert dis == ["/shared"], "stacked User-agent lines share one group"
    dis, delay = parse_robots_txt("", default_delay=1.5)
    assert dis == [] and delay == 1.5


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_probe_mode_join_matches_broadcast(spark, tmp_path, broadcast_threshold, kind):
    """The shard-local cogroup probe must be output-identical to the
    whole-filter broadcast probe: same chain hash, same seen set, same
    filter bytes (both paths extend the filter with the same rows)."""
    runs = {}
    for path, threshold in (("broadcast", "64MB"), ("join", "-1")):
        broadcast_threshold(threshold)
        c = Crawler(
            spark, str(tmp_path / path),
            CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
        )
        assert c.probe_path() == path
        c.init_seeds(synth.seed_list())
        c.run()
        m = c.state.manifest()
        runs[path] = (
            m["chain_hash"],
            sorted(r["url_hash"] for r in c.seen_set().collect()),
            {r["shard"]: bytes(r["bits"])
             for r in c.state.read_latest("bloom", m["completed_iter"]).collect()},
        )
    assert runs["join"][0] == runs["broadcast"][0], "chain hash diverged"
    assert runs["join"][1] == runs["broadcast"][1]
    assert runs["join"][2] == runs["broadcast"][2]


def test_filter_config_persisted_and_validated(spark, tmp_path):
    state = str(tmp_path / "fc")
    c = Crawler(spark, state, CrawlConfig(max_iters=1, n_partitions=4, n_shards=16))
    c.init_seeds(synth.seed_list())
    assert c.state.manifest()["filter_config"]["n_shards"] == 16
    # same config re-attaches fine
    Crawler(spark, state, CrawlConfig(max_iters=1, n_partitions=4, n_shards=16))
    # different shard count / filter family refuses to attach
    with pytest.raises(ValueError, match="filter parameters"):
        Crawler(spark, state, CrawlConfig(max_iters=1, n_partitions=4, n_shards=8))
    with pytest.raises(ValueError, match="filter parameters"):
        Crawler(
            spark, state,
            CrawlConfig(max_iters=1, n_partitions=4, n_shards=16, seen_filter="cuckoo"),
        )


def test_cache_lru_eviction_unit(spark):
    from earcrawler_spark.crawler.cache import CACHE_SCHEMA, evict_cache

    rows = [
        (f"h{i:02d}", f"e{i}", f"c{i}", it, None, None)
        for i, it in enumerate([0, 1, 1, 2, 3, 3, 5])
    ]
    cache = spark.createDataFrame(rows, CACHE_SCHEMA)
    # size cap: newest 3 by fetched_iter, same-iter ties -> url_hash desc
    kept = {r["url_hash"] for r in evict_cache(cache, it=5, max_entries=3).collect()}
    assert kept == {"h06", "h05", "h04"}
    # cap larger than table keeps everything
    assert evict_cache(cache, it=5, max_entries=100).count() == 7
    # TTL eviction drops entries older than it - ttl even under the cap
    kept2 = {
        r["url_hash"]
        for r in evict_cache(cache, it=5, max_entries=100, evict_ttl_iters=2).collect()
    }
    assert kept2 == {"h06", "h04", "h05"}  # fetched_iter >= 3
    # a 304 touch (refreshed fetched_iter) keeps an entry alive in LRU
    touched = cache.withColumn(
        "fetched_iter",
        F.when(F.col("url_hash") == "h00", F.lit(5)).otherwise(F.col("fetched_iter")),
    )
    kept3 = {r["url_hash"] for r in evict_cache(touched, it=5, max_entries=3).collect()}
    assert "h00" in kept3


def test_cache_cap_respected_in_crawl(spark, tmp_path):
    cfg = CrawlConfig(
        max_iters=3, n_partitions=4, cache_ttl_iters=0, cache_max_entries=5
    )
    c = Crawler(spark, str(tmp_path / "s"), cfg)
    c.init_seeds(synth.seed_list())
    c.run()
    upto = c.state.manifest()["completed_iter"]
    for it in range(upto + 1):
        cache = c.state.read_latest("fetch_cache", it)
        if cache is not None:
            assert cache.count() <= 5
    # the survivors are the newest entries
    final = c.state.read_latest("fetch_cache", upto)
    assert final.agg(F.min("fetched_iter")).collect()[0][0] >= upto - 1


def test_fuzz_robots_grouping(spark):
    """300 random robots.txt files (stacked UA lines, comments, rules
    before any group, bogus crawl-delays, other bots' groups) vs an
    independent model of RFC 9309 group selection."""
    import random

    def model(txt, ua="*", default_delay=1.0):
        groups = {}
        cur, body = [], False
        for raw in (txt or "").splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            k, _, v = line.partition(":")
            k, v = k.strip().lower(), v.strip()
            if k == "user-agent":
                if body:
                    cur, body = [], False
                cur.append(v.lower())
                groups.setdefault(v.lower(), ([], [None]))
                continue
            if not cur:
                continue
            body = True
            if k == "disallow" and v:
                for a in cur:
                    groups[a][0].append(v)
            elif k == "crawl-delay":
                try:
                    d = float(v)
                except ValueError:
                    continue
                for a in cur:
                    groups[a][1][0] = d
        g = groups.get(ua.lower(), groups.get("*"))
        if g is None:
            return [], default_delay
        return list(g[0]), default_delay if g[1][0] is None else g[1][0]

    rng = random.Random(31337)
    agents = ["*", "earcrawler", "otherbot", "GoogleBot"]
    lines_pool = [
        "User-agent: {a}", "user-agent:{a}", "Disallow: /private",
        "Disallow: /tmp/{n}", "Disallow:", "disallow: /x",
        "Crawl-delay: {d}", "crawl-delay: fast", "Allow: /ok",
        "# comment", "", "garbage line without colon", "Sitemap: /map.xml",
    ]
    for trial in range(300):
        n_lines = rng.randint(0, 14)
        txt = "\n".join(
            rng.choice(lines_pool).format(
                a=rng.choice(agents), n=rng.randint(0, 9),
                d=rng.choice(["0.5", "2", "1e-1", "oops"]),
            )
            for _ in range(n_lines)
        )
        for ua in ("*", "earcrawler", "unknownbot"):
            got = parse_robots_txt(txt, default_delay=1.0, user_agent=ua)
            want = model(txt, ua=ua, default_delay=1.0)
            assert got == (want[0], want[1]), (trial, ua, txt, got, want)


def test_probe_mode_auto_resolution_and_no_driver_collect(
    spark, tmp_path, monkeypatch, broadcast_threshold
):
    """The probe path is one comparison — estimated filter bytes vs the
    session's spark.sql.autoBroadcastJoinThreshold — and the join path
    never collects filter bytes to the driver (_load_bloom unused)."""
    small = Crawler(spark, str(tmp_path / "small"), CrawlConfig())  # 16 x 1 Mib bloom = 2 MiB
    big = Crawler(spark, str(tmp_path / "big"), CrawlConfig(n_shards=4096))  # 512 MiB
    # get_spark pins the threshold to 64 MiB
    assert small.probe_path() == "broadcast"
    assert big.probe_path() == "join"
    broadcast_threshold("1GB")  # size strings resolve through SQLConf
    assert big.probe_path() == "broadcast"
    broadcast_threshold("-1")  # never broadcast
    assert small.probe_path() == "join"
    broadcast_threshold("1KB")

    c = Crawler(spark, str(tmp_path / "auto-join"), CrawlConfig(max_iters=2, n_partitions=4))
    assert c.probe_path() == "join"

    def _boom(bloom_df):
        raise AssertionError("_load_bloom collected filter bytes to the driver")

    monkeypatch.setattr(c, "_load_bloom", _boom)
    c.init_seeds(synth.seed_list())
    c.run()
    assert c.state.manifest()["completed_iter"] >= 1
