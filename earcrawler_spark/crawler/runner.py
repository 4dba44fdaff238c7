"""The crawl loop — batch-iterative, checkpointed, deterministic.

Each wave:

  1. robots refresh for newly-seen hosts (broadcast dim; robots.py)
  2. politeness dequeue — per-host budget = wave_seconds / crawl_delay,
     rank by (priority DESC, seq ASC) inside each host (the reference's
     per-document politeness loop, ear_crawler.py:133-135,194-195,
     re-expressed as a relational budget so it is deterministic)
  3. skew salting — hosts whose dequeue exceeds ``skew_threshold`` get
     their rows spread over ceil(n/threshold) salted sub-keys before the
     ``repartition(part_key)`` that feeds the fetch stage (north rule:
     bis.doc.gov / federalregister.gov dominate by design)
  4. fetch + parse (mapInPandas; fetch.py) → interleaved text/media spans
  5. content dedup — wave-internal argmin + anti-join vs content_seen
     (reference D1, ear_crawler.py:176-177)
  6. link expansion — canonicalize (pandas UDF), wave-internal argmin per
     url_hash, bloom pre-filter, exact anti-join vs seen, deterministic
     seq assignment
  7. append deltas + per-partition lineage metrics with a chained audit
     hash (reference audit/ledger.py:41-68), commit manifest

Determinism contract: visit order — sorted by (iteration, -priority,
host, seq) — and the seen set are invariant to partition count; proven
vs the sequential model in tests and at local[2] vs local[8].

Scale notes (10^10 URLs):
- frontier/seen are hash-bucketed by url_hash shard → the anti-join is
  a co-partitioned join, no wide shuffle;
- the bloom pre-filter keeps the anti-join's probe side to the (tiny)
  maybe-seen fraction, so each wave shuffles new-candidate keys only;
- the per-wave global seq window runs over new URLs only (bounded by
  wave fan-out, not corpus size); at extreme fan-out swap it for
  per-partition ranks + partition-offset addition (zipWithIndex trick)
  — same total order, no single-partition window.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.bloom import (
    delete_filter_join,
    extend_filter_join,
    probe_hashes,
    probe_maybe_seen_join,
    shard_family,
)
from earcrawler_spark.crawler.cache import evict_cache, merge_cache, split_by_cache
from earcrawler_spark.crawler.canonicalize import (
    canonical_url,
    canonicalize_one,
    url_hash_col,
    url_host,
)
from earcrawler_spark.crawler.fetch import fetch_and_parse, synthetic_fetch_one
from earcrawler_spark.crawler.robots import allowed_filter, fetch_robots
from earcrawler_spark.crawler.state import CrawlState

FILTER_SCHEMA = "shard int, bits binary"


def visit_order_cols():
    return [F.col("iter"), F.col("priority").desc(), F.col("host"), F.col("seq")]


@dataclass
class CrawlConfig:
    wave_seconds: float = 20.0
    n_shards: int = 16
    bloom_bits_per_shard: int = 1 << 20
    skew_threshold: int = 8
    n_partitions: int | None = None
    max_iters: int = 5
    politeness_sleep: bool = False
    default_crawl_delay: float = 1.0
    # S8 request budget: global deterministic cap on URLs fetched per wave
    # (rank over (priority DESC, host, seq); overflow stays in the frontier)
    max_urls_per_wave: int | None = None
    # S7/D8 fetch cache: entries younger than this many iterations bypass
    # the fetch stage (visit recorded with status 304). None = disabled.
    cache_ttl_iters: int | None = None
    # size-capped LRU eviction after each merge (reference
    # http_cache.py:165-197, max_entries=4096). None = unbounded.
    cache_max_entries: int | None = 4096
    # optional hard TTL eviction (drops the validator too); distinct
    # from cache_ttl_iters, which only gates the fresh-hit fast path.
    cache_evict_ttl_iters: int | None = None
    # S9 retry policy inside the fetch UDF
    max_attempts: int = 3
    backoff_base: float = 0.0
    # approximate seen-set filter family (north rule: bloom/cuckoo).
    # 'cuckoo' supports deletion (seen-set retention / sliding windows).
    seen_filter: str = "bloom"
    cuckoo_capacity_per_shard: int = 1 << 17
    # checkpoint writes are coalesced to this many files per table per
    # iteration: at sandbox scale 96-way writes mean ~300 tiny-file commit
    # renames per wave, which dominates wall time. On a cluster with a real
    # object store you'd raise this to the write parallelism you want.
    write_partitions: int = 8

    # The seen filter has one lifecycle: build, extend and (cuckoo)
    # delete all run shard-locally in bloom.py's one per-shard cogroup
    # kernel, so filter bytes never round-trip the driver, and
    # bloom.shard_family is the one switch from seen_filter to a shard
    # class. Only the probe has two paths (Crawler.probe_path): while
    # this size fits under the session's spark.sql.autoBroadcastJoinThreshold
    # every executor gets the whole filter by broadcast (fastest at MBs);
    # past it, candidates cogroup with their own shard — the 10^10-URL
    # path. Both give identical outputs (chain-hash-asserted).
    def estimated_filter_bytes(self) -> int:
        """Committed filter size: n_shards x one empty shard's bytes
        (shards are fixed-size, so this is exact)."""
        _, empty = shard_family(
            self.seen_filter, self.bloom_bits_per_shard, self.cuckoo_capacity_per_shard
        )
        return self.n_shards * len(empty().to_bytes())


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: CrawlConfig | None = None,
        transport=synthetic_fetch_one,
        robots_fetcher=synth.robots_txt,
        cache_bootstrap=None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.state = CrawlState(spark, state_dir)
        self.transport = transport
        self.robots_fetcher = robots_fetcher
        self.cache_bootstrap = cache_bootstrap
        if self.cfg.n_partitions is None:
            self.cfg.n_partitions = spark.sparkContext.defaultParallelism
        # Filter-critical parameters are persisted in the manifest at
        # init_seeds; attaching to an existing state dir with different
        # values would silently remap shard ids / change the filter family
        # and produce false-negative probes that bypass the exact anti-join.
        persisted = self.state.manifest().get("filter_config")
        if persisted is not None and persisted != self._filter_config():
            raise ValueError(
                "CrawlConfig filter parameters do not match the state dir's "
                f"persisted values: persisted={persisted} "
                f"configured={self._filter_config()}. Use the persisted "
                "values (or a fresh state dir) to resume."
            )

    def _filter_config(self) -> dict:
        return {
            "n_shards": self.cfg.n_shards,
            "seen_filter": self.cfg.seen_filter,
            "bloom_bits_per_shard": self.cfg.bloom_bits_per_shard,
            "cuckoo_capacity_per_shard": self.cfg.cuckoo_capacity_per_shard,
        }

    def probe_path(self) -> str:
        """'broadcast' while the estimated filter fits under the session's
        broadcast-join threshold (bytes as SQLConf resolves it; -1 means
        never broadcast), else 'join'."""
        limit = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        return "broadcast" if self.cfg.estimated_filter_bytes() <= limit else "join"

    def _empty_filter(self) -> DataFrame:
        return self.spark.createDataFrame([], FILTER_SCHEMA)

    def _filter_snapshot(self, upto_iter: int) -> DataFrame:
        """Latest committed (shard, bits) table; empty if none exists."""
        df = self.state.read_latest("bloom", upto_iter)
        return df if df is not None else self._empty_filter()

    def _extend_filter(self, hashes_df: DataFrame, bloom_df: DataFrame) -> DataFrame:
        cfg = self.cfg
        return extend_filter_join(
            hashes_df, bloom_df, cfg.n_shards, cfg.seen_filter,
            cfg.bloom_bits_per_shard, cfg.cuckoo_capacity_per_shard,
        )

    # ------------------------------------------------------------------
    def init_seeds(self, seeds: list[tuple[str, int, int]]) -> None:
        """Iteration 0: canonicalized, deduped seed frontier + seen/bloom."""
        best: dict[str, tuple] = {}
        for url, priority, seq in seeds:
            cu = canonicalize_one(url)
            h = hashlib.sha256(cu.encode()).hexdigest()
            host = cu.split("/")[2].split(":")[0]
            if h not in best or seq < best[h][4]:
                best[h] = (cu, h, host, priority, seq)
        rows = sorted(best.values(), key=lambda r: r[4])
        frontier = self.spark.createDataFrame(
            rows, "url string, url_hash string, host string, priority int, seq bigint"
        )
        self.state.write("frontier", 0, frontier)
        self.state.write(
            "seen", 0, frontier.select("url_hash", "url", F.lit(0).alias("iter"))
        )
        self.state.write(
            "bloom", 0,
            self._extend_filter(frontier.select("url_hash"), self._empty_filter()),
        )
        robots = fetch_robots(
            self.spark, [r[2] for r in rows], self.robots_fetcher
        )
        self.state.write("robots", 0, robots)
        if self.cache_bootstrap is not None:
            # recrawl mode: seed the fetch cache from a previous run's
            # cache table (ages reset so TTL counts from this run's start)
            self.state.write(
                "fetch_cache", 0,
                self.cache_bootstrap.withColumn("fetched_iter", F.lit(0)),
            )
        max_seq = max(r[4] for r in rows) if rows else -1
        self.state.commit(0, chain_hash=self._chain("", {"iter": 0, "seeds": len(rows)}),
                          extra={"max_seq": max_seq,
                                 "filter_config": self._filter_config()})

    # ------------------------------------------------------------------
    def _chain(self, prev: str, payload: dict) -> str:
        return hashlib.sha256(
            (prev + json.dumps(payload, sort_keys=True, separators=(",", ":"))).encode()
        ).hexdigest()

    def _load_bloom(self, bloom_df: DataFrame) -> dict[int, bytes]:
        """Collect a (shard, bits) table to the driver — the broadcast
        probe's input, and the only place filter bytes leave executors."""
        return {r["shard"]: bytes(r["bits"]) for r in bloom_df.collect()}

    # ------------------------------------------------------------------
    def run(self, max_iters: int | None = None) -> dict:
        """Run waves until the frontier drains or max_iters; resumable —
        picks up from the last committed manifest."""
        max_iters = self.cfg.max_iters if max_iters is None else max_iters
        m = self.state.manifest()
        assert m["completed_iter"] >= 0, "call init_seeds() first"
        it = m["completed_iter"]
        while it < max_iters:
            it += 1
            m = self.state.manifest()
            frontier = self.state.read_latest("frontier", it - 1)
            if frontier is None or frontier.rdd.isEmpty():
                break
            self._wave(it, frontier, m)
        return self.state.manifest()

    # ------------------------------------------------------------------
    def _wave(self, it: int, frontier: DataFrame, manifest: dict) -> None:
        cfg, spark = self.cfg, self.spark
        _t0 = time.perf_counter()
        _stage_secs: dict[str, float] = {}

        def _mark(phase: str) -> None:
            nonlocal _t0
            now = time.perf_counter()
            _stage_secs[phase] = round(now - _t0, 3)
            _t0 = now
        prev_chain = manifest["chain_hash"]
        max_seq = manifest["max_seq"]

        # 1. robots refresh for new hosts. One driver action collecting
        # ONLY the new hosts (an anti-join, usually empty/tiny) — not the
        # full host dimension; at 10^6 hosts the old two-full-set collect
        # shipped the entire dim to the driver every wave.
        robots = self.state.read_latest("robots", it - 1)
        new_hosts = sorted(
            r["host"]
            for r in frontier.select("host")
            .distinct()
            .join(robots.select("host").distinct(), "host", "left_anti")
            .collect()
        )
        if new_hosts:
            # the robots table only changes when a new host appears —
            # skip the full-table rewrite (a per-wave fixed cost) on
            # no-op waves; read_latest falls back to the last write.
            robots = robots.unionByName(
                fetch_robots(spark, new_hosts, self.robots_fetcher)
            )
            self.state.write("robots", it, robots)
            robots = self.state.read_latest("robots", it)

        _mark("robots")
        # 2. politeness dequeue (budget = wave_seconds / crawl_delay)
        allowed, denied = allowed_filter(frontier, robots)
        n_denied = denied.count()
        budget = F.greatest(
            F.lit(1),
            F.floor(F.lit(cfg.wave_seconds) / F.coalesce("crawl_delay", F.lit(cfg.default_crawl_delay))),
        ).cast("int")
        w_host = W.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq"))
        ranked = allowed.withColumn("_rk", F.row_number().over(w_host)).withColumn(
            "_budget", budget
        ).cache()  # selected/remainder/frontier_next all reuse this
        selected = ranked.filter(F.col("_rk") <= F.col("_budget")).drop("_rk", "_budget")
        remainder = (
            ranked.filter(F.col("_rk") > F.col("_budget"))
            .drop("_rk", "_budget", "crawl_delay")
        )

        # S8 global wave budget: deterministic cap in visit order; overflow
        # returns to the frontier (budget.py:38-50 semantics, relationally)
        if cfg.max_urls_per_wave is not None:
            w_global = W.orderBy(F.col("priority").desc(), F.col("host"), F.col("seq"))
            capped = selected.withColumn("_grk", F.row_number().over(w_global))
            overflow = (
                capped.filter(F.col("_grk") > cfg.max_urls_per_wave)
                .drop("_grk", "crawl_delay")
            )
            selected = capped.filter(F.col("_grk") <= cfg.max_urls_per_wave).drop("_grk")
            remainder = remainder.unionByName(overflow)

        # S7/D8 fetch cache: fresh entries bypass the network and replay
        # the cached parse; stale entries carry their stored etag into the
        # fetch stage (If-None-Match) and may come back 304.
        cache = None
        cache_hits = None
        if cfg.cache_ttl_iters is not None:
            cache = self.state.read_latest("fetch_cache", it - 1)
            selected, cache_hits = split_by_cache(selected, cache, it, cfg.cache_ttl_iters)
            if cache_hits is not None:
                cache_hits = cache_hits.cache()

        _mark("dequeue")
        # 3. partitioning for the fetch stage
        if cfg.politeness_sleep:
            # wall-clock politeness requires per-host serialization: a host
            # must live in exactly one partition (salting would let salted
            # sub-queues of one host sleep in parallel). Range partitioning
            # on host spreads hosts evenly BY COUNT (hash partitioning is
            # binomial — its max-loaded partition becomes the wave
            # straggler); equal keys never straddle a range boundary.
            # Per-host work is ≈wave_seconds of sleep by construction
            # (budget = wave_seconds / crawl_delay), so even host counts
            # mean even partitions.
            selected = selected.repartitionByRange(cfg.n_partitions, "host")
        else:
            # deterministic (budget-based) politeness: salt hot hosts so the
            # dequeue skew (bis.doc.gov / federalregister.gov) spreads over
            # ceil(n/threshold) sub-keys. Counts stay distributed — the
            # per-host salt table broadcasts without a driver collect.
            salt_df = (
                selected.groupBy("host")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .select(
                    "host",
                    F.greatest(
                        F.lit(1),
                        F.ceil(F.col("cnt") / cfg.skew_threshold),
                    ).cast("int").alias("salt"),
                )
            )
            selected = (
                selected.join(F.broadcast(salt_df), "host", "left")
                .withColumn("part_key", F.concat_ws("#", "host", F.pmod("seq", F.coalesce("salt", F.lit(1)))))
                .repartition(cfg.n_partitions, "part_key")
            )

        _mark("partitioning")
        # 4. fetch + parse
        fetched = fetch_and_parse(
            selected, politeness_sleep=cfg.politeness_sleep, transport=self.transport,
            max_attempts=cfg.max_attempts, backoff_base=cfg.backoff_base,
        ).withColumn("part_id", F.spark_partition_id()).cache()
        n_fetched = fetched.count()

        _mark("fetch+parse")
        # 304s from conditional revalidation replay the cached parse and
        # slide their TTL window (merge_cache refreshes fetched_iter)
        revalidated = None
        n_revalidated = 0
        if cache is not None:
            revalidated = (
                fetched.filter(F.col("status") == 304)
                .drop("content_hash", "spans", "links")
                .join(
                    cache.select("url_hash", "content_hash", "spans", "links"),
                    "url_hash",
                )
                .cache()
            )
            n_revalidated = revalidated.count()

        visits = fetched.filter(F.col("status") != 304).select(
            F.lit(it).alias("iter"), "url", "url_hash", "host",
            "priority", "seq", "status", "content_hash",
        )
        if revalidated is not None:
            visits = visits.unionByName(
                revalidated.select(
                    F.lit(it).alias("iter"), "url", "url_hash", "host",
                    "priority", "seq", F.lit(304).alias("status"), "content_hash",
                )
            )
        n_cache_hits = 0
        if cache_hits is not None:
            n_cache_hits = cache_hits.count()
            visits = visits.unionByName(
                cache_hits.select(
                    F.lit(it).alias("iter"), "url", "url_hash", "host",
                    "priority", "seq", F.lit(304).alias("status"),
                    F.col("cached_content_hash").alias("content_hash"),
                )
            )
        if cfg.cache_ttl_iters is not None:
            merged_cache = merge_cache(
                cache,
                fetched.select("url_hash", "content_hash", "status", "spans", "links"),
                it,
            )
            if cfg.cache_max_entries is not None or cfg.cache_evict_ttl_iters is not None:
                merged_cache = evict_cache(
                    merged_cache,
                    it,
                    max_entries=cfg.cache_max_entries or 0,
                    evict_ttl_iters=cfg.cache_evict_ttl_iters,
                )
            self.state.write(
                "fetch_cache", it, merged_cache, n_files=cfg.write_partitions,
            )
        self.state.write("visits", it, visits, n_files=cfg.write_partitions)

        _mark("visits_write")
        # 5. content dedup (wave-internal argmin by seq, then anti-join).
        # Fresh hits and revalidated 304s REPLAY their cached parse here
        # and in link expansion, so cached pages keep contributing
        # documents (deduped by content_seen) and outlinks.
        parse_cols = ["url", "url_hash", "host", "priority", "seq",
                      "content_hash", "spans", "links"]
        ok = fetched.filter(F.col("status") == 200).select(*parse_cols)
        if revalidated is not None:
            ok = ok.unionByName(revalidated.select(*parse_cols))
        if cache_hits is not None:
            ok = ok.unionByName(
                cache_hits.select(
                    "url", "url_hash", "host", "priority", "seq",
                    F.col("cached_content_hash").alias("content_hash"),
                    F.col("cached_spans").alias("spans"),
                    F.col("cached_links").alias("links"),
                )
            )
        w_content = W.partitionBy("content_hash").orderBy("seq")
        wave_docs = ok.withColumn("_rn", F.row_number().over(w_content)).filter(
            F.col("_rn") == 1
        ).drop("_rn")
        content_seen = self.state.read_all("content_seen", it - 1)
        if content_seen is not None:
            new_docs = wave_docs.join(content_seen, "content_hash", "left_anti")
        else:
            new_docs = wave_docs
        documents = new_docs.select(
            F.col("url").alias("doc_id"), "url_hash", "content_hash", "spans",
            F.lit(it).alias("iter"),
        ).cache()  # consumed 3x: documents write, content_seen write, totals
        self.state.write("documents", it, documents, n_files=cfg.write_partitions)
        self.state.write(
            "content_seen", it,
            documents.select("content_hash").distinct(),
            n_files=cfg.write_partitions,
        )

        _mark("content_dedup")
        # 6. link expansion (ok includes replayed cache hits / 304s)
        links = (
            ok.select(
                F.col("priority").alias("parent_priority"),
                F.col("seq").alias("parent_seq"),
                F.posexplode("links").alias("link_idx", "raw_url"),
            )
            .withColumn("url", canonical_url("raw_url"))
            .withColumn("host", url_host("url"))
            .withColumn("url_hash", url_hash_col(F.col("url")))
        )
        w_link = W.partitionBy("url_hash").orderBy("parent_seq", "link_idx")
        candidates = (
            links.withColumn("_rn", F.row_number().over(w_link))
            .filter(F.col("_rn") == 1)
            .select(
                "url", "url_hash", "host",
                F.greatest(F.col("parent_priority") - 1, F.lit(1)).alias("priority"),
                "parent_seq", "link_idx",
            )
        )

        _mark("link_expand_plan")
        # bloom pre-filter: only maybe-seen rows pay the anti-join. The
        # previous snapshot is read once: the broadcast probe collects it,
        # and filter_write extends it shard-locally on either path.
        bloom_df = self._filter_snapshot(it - 1)
        if self.probe_path() == "join":
            candidates = probe_maybe_seen_join(
                candidates, bloom_df, cfg.n_shards, cfg.seen_filter
            ).cache()
        else:
            bloom_bc = spark.sparkContext.broadcast(self._load_bloom(bloom_df))
            n_shards = cfg.n_shards
            filter_kind = cfg.seen_filter

            @F.pandas_udf("boolean")
            def maybe_seen(hashes: pd.Series) -> pd.Series:
                res = probe_hashes(hashes.tolist(), bloom_bc.value, n_shards, filter_kind)
                return pd.Series(res, index=hashes.index)

            candidates = candidates.withColumn("_maybe", maybe_seen("url_hash")).cache()
        # materialize the cached probe frame once for its two consumers
        candidates.count()
        _mark("probe_cache")
        definitely_new = candidates.filter(~F.col("_maybe")).drop("_maybe")
        seen = self.state.read_all("seen", it - 1)
        checked_new = (
            candidates.filter(F.col("_maybe"))
            .drop("_maybe")
            .join(seen, "url_hash", "left_anti")
        )
        new_urls = definitely_new.unionByName(checked_new)

        # deterministic seq assignment (global order over this wave's news)
        # deliberate single-partition window over the wave's NEW urls only
        # (bounded by wave fan-out); the non-foldable constant key makes
        # that explicit instead of tripping the empty-partition-spec warn
        w_seq = W.partitionBy(F.crc32(F.col("url_hash")) * F.lit(0)).orderBy(
            "parent_seq", "link_idx", "url_hash"
        )
        new_urls = new_urls.withColumn(
            "seq", (F.lit(max_seq) + F.row_number().over(w_seq)).cast("long")
        ).select("url", "url_hash", "host", "priority", "seq").cache()
        _mark("new_urls_plan")
        n_new = new_urls.count()

        _mark("dedup_new_urls")
        # 7. persist deltas + next frontier + lineage
        self.state.write(
            "seen", it,
            new_urls.select("url_hash", "url", F.lit(it).alias("iter")),
            n_files=cfg.write_partitions,
        )
        _mark("seen_write")
        self.state.write(
            "bloom", it, self._extend_filter(new_urls.select("url_hash"), bloom_df)
        )
        _mark("filter_write")
        frontier_next = remainder.select(
            "url", "url_hash", "host", "priority", "seq"
        ).unionByName(new_urls)
        self.state.write("frontier", it, frontier_next, n_files=cfg.write_partitions)
        _mark("frontier_write")

        part_metrics = (
            fetched.groupBy("part_id")
            .agg(
                F.count(F.lit(1)).alias("n_fetched"),
                F.sum((F.col("status") == 200).cast("int")).alias("n_ok"),
                F.sum("attempts").alias("n_attempts"),
                F.sum(F.size("links")).alias("n_links"),
            )
            .withColumn("iter", F.lit(it))
        )
        self.state.write("metrics", it, part_metrics, n_files=1)

        _mark("persist")
        totals = {
            "iter": it,
            "fetched": n_fetched,
            "denied": n_denied,
            "new_urls": n_new,
            "new_docs": documents.count(),
        }
        if cfg.cache_ttl_iters is not None:
            totals["cache_hits"] = n_cache_hits
            totals["revalidated"] = n_revalidated
        chain = self._chain(prev_chain, totals)
        new_max_seq = max_seq + n_new
        documents.unpersist()
        fetched.unpersist()
        candidates.unpersist()
        new_urls.unpersist()
        ranked.unpersist()
        if cache_hits is not None:
            cache_hits.unpersist()
        if revalidated is not None:
            revalidated.unpersist()
        # stage timings ride the manifest OUTSIDE the chained totals —
        # wall-clock is host-dependent and must not perturb the
        # deterministic lineage chain hash.
        self.state.commit(
            it, chain,
            extra={"max_seq": new_max_seq, "totals": totals,
                   "stage_secs": _stage_secs},
        )
        _mark("metrics+commit")

    # ------------------------------------------------------------------
    def visits_ordered(self, upto_iter: int | None = None) -> DataFrame:
        """The crawl-order log, in the deterministic total order."""
        upto = upto_iter if upto_iter is not None else self.state.manifest()["completed_iter"]
        v = self.state.read_all("visits", upto)
        return v.orderBy(*visit_order_cols()) if v is not None else None

    def seen_set(self, upto_iter: int | None = None) -> DataFrame:
        upto = upto_iter if upto_iter is not None else self.state.manifest()["completed_iter"]
        return self.state.read_all("seen", upto)

    # ------------------------------------------------------------------
    def expire_seen(self, older_than_iter: int) -> dict:
        """Sliding-window seen-set retention: forget URLs first seen before
        ``older_than_iter`` so they become re-crawlable (the reference's
        retention GC, utils/retention.py:77-130, applied to the seen set
        — and the reason the cuckoo filter family exists here: deletion).

        The exact seen table is compacted to the surviving rows; the
        approximate filters are rebuilt from them (bloom) or keep their
        bytes minus the expired fingerprints (cuckoo delete_many — no full
        rebuild, executor-side per shard). Commit point is the manifest
        update, same recipe as compaction."""
        m = self.state.manifest()
        upto = m["completed_iter"]
        seen = self.state.read_all("seen", upto)
        keep = seen.filter(F.col("iter") >= older_than_iter).cache()
        expired = seen.filter(F.col("iter") < older_than_iter)
        n_keep, n_expired = keep.count(), expired.count()

        # Stage 1 — write the rebuilt filter and the compacted seen base to
        # FRESH generation directories. Nothing committed yet touches the
        # snapshots read_all / read_latest are sourcing, so a crash anywhere
        # in this stage leaves the previous state fully valid (the old
        # in-place overwrite could delete the only filter snapshot and the
        # very base dir `keep` was being read from).
        bloom_gen = self.state.fresh_gen("bloom", "iter", upto)
        if self.cfg.seen_filter == "cuckoo":
            # shard-local deletion: expired hashes cogroup with their own
            # shard row; shards with nothing expired pass through as-is
            new_filter = delete_filter_join(
                expired.select("url_hash"), self._filter_snapshot(upto),
                self.cfg.n_shards,
            )
        else:
            # blooms can't delete: rebuild from the surviving rows over
            # empty shards
            new_filter = self._extend_filter(keep.select("url_hash"), self._empty_filter())
        new_filter.write.mode("overwrite").parquet(
            self.state._iter_dir("bloom", upto, bloom_gen)
        )
        seen_gen = self.state.fresh_gen("seen", "base", upto)
        keep.coalesce(self.cfg.write_partitions).write.mode("overwrite").parquet(
            self.state._base_dir("seen", upto, seen_gen)
        )

        # Stage 2 — the manifest rename is the single visibility switch.
        m.setdefault("compacted", {})["seen"] = upto
        gens = m.setdefault("gens", {})
        gens[f"bloom:iter:{upto}"] = bloom_gen
        gens[f"seen:base:{upto}"] = seen_gen
        self.state._write_manifest(m)

        # Stage 3 — only now delete superseded directories.
        for i in range(upto + 1):
            shutil.rmtree(self.state._iter_dir("seen", i), ignore_errors=True)
        for g in range(bloom_gen):
            shutil.rmtree(self.state._iter_dir("bloom", upto, g), ignore_errors=True)
        for g in range(seen_gen):
            shutil.rmtree(self.state._base_dir("seen", upto, g), ignore_errors=True)
        keep.unpersist()
        return {"kept": n_keep, "expired": n_expired}


def main() -> None:
    """CLI: run a fixture-backed synthetic crawl.

    python -m earcrawler_spark.crawler.runner --state-dir /tmp/crawl \
        --max-iters 3 [--wave-seconds 20] [--partitions 8] [--resume]
    """
    import argparse

    from earcrawler_spark.session import get_spark

    ap = argparse.ArgumentParser(description="PySpark URL-frontier crawler (synthetic web)")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--max-iters", type=int, default=3)
    ap.add_argument("--wave-seconds", type=float, default=20.0)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true",
                    help="continue from the state dir's manifest instead of seeding")
    args = ap.parse_args()

    spark = get_spark("crawler")
    c = Crawler(
        spark, args.state_dir,
        CrawlConfig(wave_seconds=args.wave_seconds, max_iters=args.max_iters,
                    n_partitions=args.partitions),
    )
    if not args.resume:
        c.init_seeds(synth.seed_list())
    m = c.run(max_iters=args.max_iters)
    visits = c.visits_ordered()
    print(json.dumps({
        "completed_iter": m["completed_iter"],
        "chain_hash": m["chain_hash"],
        "totals": m.get("totals"),
        "visits": visits.count() if visits is not None else 0,
        "seen": c.seen_set().count(),
    }))


if __name__ == "__main__":
    main()
