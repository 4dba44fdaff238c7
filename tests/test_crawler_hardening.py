"""Crawler hardening: retry/backoff, wave budgets, fetch cache (304
recrawl semantics), retention GC."""

from __future__ import annotations

from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.fetch import retrying
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig


def test_retrying_transport():
    calls = {}

    def flaky(url):
        calls[url] = calls.get(url, 0) + 1
        if calls[url] < 3 and url.endswith("/flaky"):
            return 503, ""
        return 200, "<p>ok</p>"

    fetch = retrying(flaky, max_attempts=3, backoff_base=0.0)
    assert fetch("https://x.org/good") == (200, "<p>ok</p>", 1)
    assert fetch("https://x.org/flaky") == (200, "<p>ok</p>", 3)

    def always_down(url):
        return 503, ""

    status, _, attempts = retrying(always_down, max_attempts=3)("https://x.org/down")
    assert status == 503 and attempts == 3


def test_wave_budget_caps_and_stays_deterministic(spark, tmp_path):
    cap = 7
    c = Crawler(
        spark, str(tmp_path / "b"),
        CrawlConfig(max_iters=2, n_partitions=4, max_urls_per_wave=cap),
    )
    c.init_seeds(synth.seed_list())
    c.run()
    visits = c.visits_ordered().collect()
    per_iter = {}
    for v in visits:
        per_iter[v["iter"]] = per_iter.get(v["iter"], 0) + 1
    assert all(n <= cap for n in per_iter.values())
    # capped prefix must equal the uncapped run's visit-order prefix per wave
    c2 = Crawler(spark, str(tmp_path / "nb"), CrawlConfig(max_iters=1, n_partitions=4))
    c2.init_seeds(synth.seed_list())
    c2.run(max_iters=1)
    full_w1 = [v["url"] for v in c2.visits_ordered().collect() if v["iter"] == 1]
    capped_w1 = [v["url"] for v in visits if v["iter"] == 1]
    assert capped_w1 == full_w1[:cap]


def test_fetch_cache_recrawl_304(spark, tmp_path):
    # run A builds the cache; run B (fresh seen-set, bootstrapped cache)
    # revisits the same seeds and serves them as 304 cache hits
    cfg = CrawlConfig(max_iters=1, n_partitions=4, cache_ttl_iters=5)
    a = Crawler(spark, str(tmp_path / "a"), cfg)
    a.init_seeds(synth.seed_list())
    a.run(max_iters=1)
    cache = a.state.read_latest("fetch_cache", 1)
    assert cache.count() > 0

    b = Crawler(spark, str(tmp_path / "b"), cfg, cache_bootstrap=cache)
    b.init_seeds(synth.seed_list())
    b.run(max_iters=1)
    visits_b = b.visits_ordered().collect()
    statuses = {v["status"] for v in visits_b}
    assert 304 in statuses
    n_304 = sum(1 for v in visits_b if v["status"] == 304)
    assert b.state.manifest()["totals"]["cache_hits"] == n_304
    # cache hits carry the same content hash the fetch produced in run A
    a_hashes = {v["url_hash"]: v["content_hash"]
                for v in a.visits_ordered().collect() if v["status"] == 200}
    for v in visits_b:
        if v["status"] == 304:
            assert a_hashes[v["url_hash"]] == v["content_hash"]


def test_retention_gc(spark, tmp_path):
    import os

    c = Crawler(spark, str(tmp_path / "gc"), CrawlConfig(max_iters=3, n_partitions=4))
    c.init_seeds(synth.seed_list())
    c.run()
    deleted = c.state.expire(upto_iter=3, keep_full_last=1)
    assert deleted
    # latest full snapshots survive; engine still reads state + resumes
    assert c.state.read_latest("frontier", 3) is not None
    assert c.state.read_latest("bloom", 3) is not None
    assert c.visits_ordered().count() > 0
    for p in deleted:
        assert not os.path.exists(p)


def test_attempts_metric_recorded(spark, tmp_path):
    c = Crawler(spark, str(tmp_path / "m"), CrawlConfig(max_iters=1, n_partitions=4))
    c.init_seeds(synth.seed_list())
    c.run(max_iters=1)
    m = c.state.read_all("metrics", 1)
    row = m.agg(F.sum("n_attempts").alias("a"), F.sum("n_fetched").alias("f")).collect()[0]
    assert row["a"] == row["f"]  # synthetic transport never 5xxes


def test_cuckoo_filter_semantics():
    import hashlib

    from earcrawler_spark.crawler.cuckoo import CuckooShard

    keys = [hashlib.sha256(f"u{i}".encode()).hexdigest() for i in range(5000)]
    c = CuckooShard.sized_for(6000)
    c.add_many(keys)
    assert c.contains_many(keys).all()  # no false negatives
    other = [hashlib.sha256(f"o{i}".encode()).hexdigest() for i in range(5000)]
    assert c.contains_many(other).mean() < 0.02  # 16-bit fp rate
    # deletion — the capability blooms lack (seen-set retention)
    assert c.delete_many(keys[:100]) == 100
    assert not c.contains_many(keys[:100]).any() or c.contains_many(keys[:100]).mean() < 0.05
    assert c.contains_many(keys[100:]).all()
    # serialization round-trip
    back = CuckooShard.from_bytes(c.to_bytes())
    assert back.contains_many(keys[100:]).all()
    # determinism: same insertion sequence -> same bytes
    c2 = CuckooShard.sized_for(6000)
    c2.add_many(keys)
    c3 = CuckooShard.sized_for(6000)
    c3.add_many(keys)
    assert c2.to_bytes() == c3.to_bytes()


def test_crawl_with_cuckoo_filter_matches_bloom(spark, tmp_path):
    runs = {}
    for kind in ("bloom", "cuckoo"):
        c = Crawler(
            spark, str(tmp_path / kind),
            CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
        )
        c.init_seeds(synth.seed_list())
        c.run()
        runs[kind] = (
            [(v["iter"], v["url"]) for v in c.visits_ordered().collect()],
            {r["url_hash"] for r in c.seen_set().collect()},
        )
    assert runs["bloom"] == runs["cuckoo"]  # filter family is invisible to results


def _probe(c, hashes):
    from earcrawler_spark.crawler.bloom import probe_hashes

    blooms = c._load_bloom(c.state.read_latest("bloom", c.state.manifest()["completed_iter"]))
    return probe_hashes(hashes, blooms, c.cfg.n_shards, c.cfg.seen_filter)


def test_expire_seen_sliding_window(spark, tmp_path):
    """URLs first seen before the retention horizon become re-crawlable:
    gone from the exact seen table AND (for cuckoo) deleted from the
    approximate filter without a rebuild."""
    for kind in ("cuckoo", "bloom"):
        c = Crawler(
            spark, str(tmp_path / f"exp_{kind}"),
            CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
        )
        c.init_seeds(synth.seed_list())
        c.run()
        seen = c.seen_set().collect()
        old = [r["url_hash"] for r in seen if r["iter"] < 2]
        recent = [r["url_hash"] for r in seen if r["iter"] >= 2]
        assert old and recent

        stats = c.expire_seen(older_than_iter=2)
        assert stats == {"kept": len(recent), "expired": len(old)}

        left = {r["url_hash"] for r in c.seen_set().collect()}
        assert left == set(recent)
        # approximate filter: recent still (maybe-)seen; expired mostly gone
        assert _probe(c, recent).all()
        assert _probe(c, old).mean() < 0.1
