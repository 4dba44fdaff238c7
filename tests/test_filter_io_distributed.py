"""The seen-filter lifecycle (build, extend, cuckoo deletion, bloom
retention rebuild) is shard-local on every crawl: shard bytes stay
executor-side end to end, whichever probe path the session's broadcast
threshold selects.

Covers: (a) retention expiry for both filter families, with the
shard-local probe agreeing afterwards, (b) a behaviour guard that
expire_seen never collects filter bytes to the driver on either probe
path, and that a join-path crawl never does either, (c) the size
estimate that picks the probe path against the committed shard bytes,
and (d) the one per-shard kernel (extend / delete / probe views) on a
hand-built shard table.  Broadcast-vs-join output equality is
test_crawler_round2.test_probe_mode_join_matches_broadcast."""

from __future__ import annotations

import hashlib

import pytest

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.bloom import (
    delete_filter_join,
    extend_filter_join,
    probe_maybe_seen_join,
    shard_family,
    shard_of,
)
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig


def _crawl(spark, path, kind):
    c = Crawler(
        spark, str(path),
        CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
    )
    c.init_seeds(synth.seed_list())
    c.run()
    return c


def _probe_distributed(spark, c, hashes):
    """Probe via the shard-local join path (no driver map)."""
    upto = c.state.manifest()["completed_iter"]
    bloom_df = c.state.read_latest("bloom", upto)
    cand = spark.createDataFrame([(h,) for h in hashes], "url_hash string")
    rows = probe_maybe_seen_join(
        cand, bloom_df, c.cfg.n_shards, c.cfg.seen_filter
    ).collect()
    return {r["url_hash"]: r["_maybe"] for r in rows}


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_expire_seen_distributed(spark, tmp_path, broadcast_threshold, kind):
    """Sliding-window expiry after a join-path crawl: same kept/expired
    accounting, recent hashes still maybe-seen, expired mostly gone."""
    broadcast_threshold("-1")
    c = _crawl(spark, tmp_path / f"exp_{kind}", kind)
    seen = c.seen_set().collect()
    old = [r["url_hash"] for r in seen if r["iter"] < 2]
    recent = [r["url_hash"] for r in seen if r["iter"] >= 2]
    assert old and recent

    stats = c.expire_seen(older_than_iter=2)
    assert stats == {"kept": len(recent), "expired": len(old)}
    left = {r["url_hash"] for r in c.seen_set().collect()}
    assert left == set(recent)

    probed = _probe_distributed(spark, c, recent + old)
    assert all(probed[h] for h in recent)
    n_ghost = sum(1 for h in old if probed[h])
    assert n_ghost / len(old) < 0.1


def _forbid_filter_collect(mp, c):
    """Fail on any driver collect of a (shard, bits) filter table."""

    def _boom(bloom_df):
        raise AssertionError("_load_bloom collected filter bytes to the driver")

    mp.setattr(c, "_load_bloom", _boom)
    frame_cls = type(c.spark.range(1))
    for name in ("collect", "toPandas", "toLocalIterator"):
        real = getattr(frame_cls, name)

        def guarded(self, *a, _real=real, _name=name, **k):
            if "bits" in self.columns:
                raise AssertionError(f"filter bytes reached the driver via {_name}")
            return _real(self, *a, **k)

        mp.setattr(frame_cls, name, guarded)


def test_distributed_mode_never_roundtrips_the_driver(
    spark, tmp_path, monkeypatch, broadcast_threshold
):
    """Behaviour guard: on both probe paths and for both filter families,
    expire_seen never collects filter bytes to the driver; a join-path
    crawl never does either."""
    for path, threshold in (("broadcast", "64MB"), ("join", "-1")):
        broadcast_threshold(threshold)
        for kind in ("cuckoo", "bloom"):
            c = Crawler(
                spark, str(tmp_path / f"{path}_{kind}"),
                CrawlConfig(max_iters=2, n_partitions=4, seen_filter=kind),
            )
            assert c.probe_path() == path
            with monkeypatch.context() as mp:
                if path == "join":
                    _forbid_filter_collect(mp, c)
                c.init_seeds(synth.seed_list())
                c.run()
            with monkeypatch.context() as mp:
                _forbid_filter_collect(mp, c)
                stats = c.expire_seen(older_than_iter=2)
            assert stats["kept"] > 0 and stats["expired"] > 0


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_estimated_filter_bytes_is_committed_size(spark, tmp_path, kind):
    """probe_path compares this estimate with the broadcast threshold, so
    it must be the size init_seeds actually commits."""
    c = Crawler(spark, str(tmp_path / kind), CrawlConfig(n_partitions=4, seen_filter=kind))
    c.init_seeds(synth.seed_list())
    rows = c.state.read_latest("bloom", 0).collect()
    assert rows
    for r in rows:
        assert c.cfg.n_shards * len(r["bits"]) == c.cfg.estimated_filter_bytes()


def _sha(prefix: str, n: int) -> list[str]:
    return [hashlib.sha256(f"{prefix}-{i}".encode()).hexdigest() for i in range(n)]


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_per_shard_kernel_on_hand_built_table(spark, kind):
    n_shards, n_bits, capacity = 4, 1 << 12, 256
    cls, empty = shard_family(kind, n_bits, capacity)
    keys = _sha("old", 200)
    table = {}
    for s in range(n_shards):
        f = empty()
        f.add_many([h for h in keys if shard_of(h, n_shards) == s])
        table[s] = f.to_bytes()
    bloom_df = spark.createDataFrame(sorted(table.items()), "shard int, bits binary")

    def frame(hashes):
        return spark.createDataFrame([(h,) for h in hashes], "url_hash string")

    def as_map(df):
        return {r["shard"]: bytes(r["bits"]) for r in df.collect()}

    # extend with keys of shard 2 only: every other shard is byte-identical
    new = [h for h in _sha("new", 200) if shard_of(h, n_shards) == 2]
    ext = as_map(extend_filter_join(frame(new), bloom_df, n_shards, kind, n_bits, capacity))
    assert set(ext) == set(table)
    assert all(ext[s] == table[s] for s in table if s != 2)
    assert ext[2] != table[2] and cls.from_bytes(ext[2]).contains_many(new).all()

    # delete with nothing expired returns the input table byte-for-byte
    assert as_map(delete_filter_join(frame([]), bloom_df, n_shards)) == table

    # a probe's zero-copy view can never write into broadcast bytes
    view = cls.from_bytes(table[0], copy=False)
    assert view.contains_many(keys).sum() > 0
    with pytest.raises(ValueError):
        view.add_many(new)
    cls.from_bytes(table[0]).add_many(new)  # the default copy stays writable
