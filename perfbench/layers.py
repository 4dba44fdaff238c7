"""Per-layer tracing for ``--trace 1`` runs, recorded from outside the
engine.

Around each timed ``Crawler.run`` call the tracer records a span and reads
that wave's exact Spark job, stage and task counts back through the
status tracker (every wave runs in its own job group). After the wave it
replays the wave's actual inputs, read back from the state directory,
through each layer's public functions and times those calls:

  robots     allowed_filter over the wave's input frontier
  fetch      fetch_and_parse over the wave's visited URLs (forced by count)
  transport  the synthetic transport itself, called once per URL
  spans      parse_html over every fetched page
  canonical  canonicalize_batch over the wave's raw outgoing links
  bloom      BloomShard.contains_many / add_many against the previous
             wave's filter, and the shard-local probe_maybe_seen_join
  state      CrawlState.write of each table the wave wrote, commit, and
             read_all of the seen set
  cache      merge_cache + evict_cache + split_by_cache as if the wave's
             pages were crawled again, and their 304 revalidation

Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from earcrawler_spark.crawler.bloom import BloomShard, probe_maybe_seen_join, shard_of
from earcrawler_spark.crawler.cache import evict_cache, merge_cache, split_by_cache
from earcrawler_spark.crawler.canonicalize import canonicalize_batch
from earcrawler_spark.crawler.fetch import fetch_and_parse
from earcrawler_spark.crawler.robots import allowed_filter
from earcrawler_spark.crawler.spans import parse_html
from earcrawler_spark.crawler.state import CrawlState

STAGES = ("robots", "dequeue", "partitioning", "fetch+parse", "visits_write",
          "content_dedup", "link_expand_plan", "probe_cache", "new_urls_plan",
          "dedup_new_urls", "seen_write", "filter_write", "frontier_write",
          "persist")
TABLES = ("frontier", "seen", "content_seen", "documents", "visits", "metrics",
          "bloom", "robots")


def _dir_stats(path: str) -> tuple[int, int]:
    """→ (bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Tracer:
    def __init__(self, crawler, workload, replay_dir: str):
        self.crawler = crawler
        self.spark = crawler.spark
        self.web = workload.web
        self.cfg = crawler.cfg
        self.replay_dir = replay_dir
        self.spans: list[dict] = []
        self.per_wave: dict[str, list[float]] = defaultdict(list)
        self.sums: dict[str, float] = defaultdict(float)

    # -- spans ------------------------------------------------------------
    def _span(self, name: str, trace: str, parent: str | None, fn):
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        self.spans.append({"name": name, "trace": trace, "parent": parent,
                           "start": t0, "end": t1})
        return out, t1 - t0

    # -- per wave ---------------------------------------------------------
    def on_wave(self, wave: dict) -> None:
        it, group = wave["iter"], wave["group"]
        self.spans.append({"name": "Crawler.run", "trace": group, "parent": None,
                           "start": wave["start"], "end": wave["end"]})
        self._session_counts(group)
        for stage in STAGES:
            key = "runner.stage_s." + stage.replace("+", "_")
            self.per_wave[key].append(wave["stage_secs"].get(stage, 0.0))
        sc = self.spark.sparkContext
        sc.setJobGroup(f"replay-{it}", "layer replay")
        try:
            self._replay(it, group, wave)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _session_counts(self, group: str) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        self.per_wave["session.jobs_per_wave"].append(len(jobs))
        self.per_wave["session.stages_per_wave"].append(stages)
        self.per_wave["session.tasks_per_wave"].append(tasks)

    def _replay(self, it: int, trace: str, wave: dict) -> None:
        spark, state, web = self.spark, self.crawler.state, self.web
        parent = "Crawler.run"

        def span(name, fn):
            return self._span(name, trace, parent, fn)

        # robots: the wave's allowed/denied split of its input frontier
        frontier = state.read_latest("frontier", it - 1)
        robots = state.read_latest("robots", it)
        allowed, denied = allowed_filter(frontier, robots)
        (n_allowed, n_denied), dt = span(
            "robots.allowed_filter", lambda: (allowed.count(), denied.count()))
        self.per_wave["robots.allowed_filter_s"].append(dt)
        self.sums["robots.denied"] += n_denied
        self.sums["robots.checked"] += n_allowed + n_denied

        # fetch: the wave's visited URLs through fetch_and_parse
        visits = spark.read.parquet(state._iter_dir("visits", it))
        selected = visits.select("url", "url_hash", "host", "priority", "seq")
        fetched = fetch_and_parse(
            selected, transport=web, max_attempts=self.cfg.max_attempts,
        ).cache()
        _, dt = span("fetch.fetch_and_parse", fetched.count)
        self.per_wave["fetch.fetch_parse_s"].append(dt)
        m = spark.read.parquet(state._iter_dir("metrics", it)).agg(
            F.sum("n_fetched"), F.sum("n_ok"), F.sum("n_attempts")).first()
        self.sums["fetch.pages"] += m[0]
        self.sums["fetch.ok"] += m[1]
        self.sums["fetch.attempts"] += m[2]

        # transport, parse and canonicalize in this process, per page / link
        urls = [r["url"] for r in selected.collect()]
        pages, dt = span("transport", lambda: [web(u) for u in urls])
        self.sums["transport.s"] += dt
        html = [h for status, h in pages if status == 200]
        parsed, dt = span("spans.parse_html", lambda: [parse_html(h) for h in html])
        self.sums["spans.s"] += dt
        self.sums["spans.pages"] += len(html)
        links = pd.Series([link for _, ls in parsed for link in ls], dtype=object)
        canon, dt = span("canonicalize.canonicalize_batch",
                         lambda: canonicalize_batch(links))
        self.sums["canonicalize.s"] += dt
        self.sums["canonicalize.links"] += len(links)

        self._replay_bloom(it, span, sorted({
            hashlib.sha256(u.encode()).hexdigest() for u in canon}))
        self._replay_state(it, span, wave)
        self._replay_cache(it, span, selected, fetched)
        fetched.unpersist()

    def _replay_bloom(self, it: int, span, hashes: list[str]) -> None:
        spark, state, cfg = self.spark, self.crawler.state, self.cfg
        bloom_df = state.read_latest("bloom", it - 1)
        shards = {r["shard"]: bytes(r["bits"]) for r in bloom_df.collect()}
        seen = {r["url_hash"] for r in
                state.read_all("seen", it - 1).select("url_hash").collect()}
        by_shard: dict[int, list[str]] = defaultdict(list)
        for h in hashes:
            by_shard[shard_of(h, cfg.n_shards)].append(h)
        probe_s = add_s = 0.0
        n_maybe = n_true = n_new = 0
        for s, hs in by_shard.items():
            raw = shards.get(s)  # a shard no URL has hashed to yet is absent
            f = BloomShard(cfg.bloom_bits_per_shard, 7) if raw is None else BloomShard.from_bytes(raw)
            t0 = time.perf_counter()
            maybe = f.contains_many(hs)
            probe_s += time.perf_counter() - t0
            n_maybe += int(maybe.sum())
            n_true += sum(1 for h, mb in zip(hs, maybe) if mb and h in seen)
            new = [h for h in hs if h not in seen]
            t0 = time.perf_counter()
            f.add_many(new)
            add_s += time.perf_counter() - t0
            n_new += len(new)
        self.sums["bloom.probe_s"] += probe_s
        self.sums["bloom.add_s"] += add_s
        self.sums["bloom.probed"] += len(hashes)
        self.sums["bloom.added"] += n_new
        self.sums["bloom.maybe"] += n_maybe
        self.sums["bloom.true"] += n_true
        cand = spark.createDataFrame([(h,) for h in hashes], "url_hash string")
        _, dt = span("bloom.probe_maybe_seen_join", lambda: probe_maybe_seen_join(
            cand, bloom_df, cfg.n_shards, cfg.seen_filter).count())
        self.per_wave["bloom.join_probe_s"].append(dt)

    def _replay_state(self, it: int, span, wave: dict) -> None:
        spark, state = self.spark, self.crawler.state
        replay = CrawlState(spark, os.path.join(self.replay_dir, f"wave{it}"))
        n_files = 0
        for table in TABLES:
            src = state._iter_dir(table, it)
            size, files = _dir_stats(src)
            self.per_wave[f"state.bytes.{table}"].append(size)
            n_files += files
            dt = 0.0
            if files:
                df = spark.read.parquet(src)
                parts = 1 if table == "metrics" else self.cfg.write_partitions
                _, dt = span(f"state.write.{table}",
                             lambda: replay.write(table, it, df, n_files=parts))
            self.per_wave[f"state.write_s.{table}"].append(dt)
        self.per_wave["state.files_per_wave"].append(n_files)
        _, dt = span("state.commit", lambda: replay.commit(
            it, wave["chain_hash"], extra={"totals": wave["totals"]}))
        self.per_wave["state.commit_s"].append(dt)
        _, dt = span("state.read_all", lambda: state.read_all("seen", it).agg(
            F.sum(F.length("url_hash"))).collect())
        self.per_wave["state.read_all_s"].append(dt)

    def _replay_cache(self, it: int, span, selected, fetched) -> None:
        """The wave's pages as the fetch cache would hold them after the
        wave, probed by a recrawl of the same URLs one iteration later
        (fresh hits) and two iterations later (stale: If-None-Match)."""
        cfg, web = self.cfg, self.web

        def split_merge():
            cache = evict_cache(
                merge_cache(None, fetched.select(
                    "url_hash", "content_hash", "status", "spans", "links"), it),
                it, max_entries=cfg.cache_max_entries or 0,
            ).cache()
            to_fetch, hits = split_by_cache(selected, cache, it + 1, 1)
            return cache, hits.count(), to_fetch.count()

        (cache, n_hit, n_miss), dt = span("cache.split_merge", split_merge)
        self.per_wave["cache.split_merge_s"].append(dt)
        self.sums["cache.hits"] += n_hit
        self.sums["cache.lookups"] += n_hit + n_miss
        stale, _ = split_by_cache(selected, cache, it + 2, 1)
        with_etag = stale.filter(F.col("etag").isNotNull())
        self.sums["cache.validated"] += with_etag.count()
        self.sums["cache.304"] += fetch_and_parse(with_etag, transport=web).filter(
            F.col("status") == 304).count()
        cache.unpersist()

    # -- report -----------------------------------------------------------
    def finish(self, spans_path: str) -> dict[str, tuple[float, str]]:
        with open(spans_path, "w") as f:
            json.dump(self.spans, f)
        s = self.sums

        def ratio(a: str, b: str) -> float:
            return s[a] / s[b] if s[b] else 0.0

        def per(a: str, b: str, scale: float = 1.0) -> float:
            return scale * s[a] / s[b] if s[b] else 0.0

        out: dict[str, tuple[float, str]] = {}
        for name, values in self.per_wave.items():
            if name.startswith("session."):
                unit = "count"
            elif name.startswith("state.bytes."):
                unit = "B"
            elif name == "state.files_per_wave":
                unit = "count"
            else:
                unit = "s"
            out[name] = (statistics.median(values), unit)
        out.update({
            "robots.denied_ratio": (ratio("robots.denied", "robots.checked"), "ratio"),
            "fetch.attempts_per_page": (ratio("fetch.attempts", "fetch.pages"), "ratio"),
            "fetch.ok_ratio": (ratio("fetch.ok", "fetch.pages"), "ratio"),
            "transport.self_s": (s["transport.s"] / max(len(self.per_wave["fetch.fetch_parse_s"]), 1), "s"),
            "spans.parse_us_per_page": (per("spans.s", "spans.pages", 1e6), "us"),
            "canonicalize.us_per_link": (per("canonicalize.s", "canonicalize.links", 1e6), "us"),
            "bloom.probe_us_per_hash": (per("bloom.probe_s", "bloom.probed", 1e6), "us"),
            "bloom.add_us_per_hash": (per("bloom.add_s", "bloom.added", 1e6), "us"),
            "bloom.maybe_seen_ratio": (ratio("bloom.maybe", "bloom.probed"), "ratio"),
            "bloom.true_seen_ratio": (ratio("bloom.true", "bloom.maybe"), "ratio"),
            "cache.hit_ratio": (ratio("cache.hits", "cache.lookups"), "ratio"),
            "cache.revalidated_ratio": (ratio("cache.304", "cache.validated"), "ratio"),
        })
        return out
