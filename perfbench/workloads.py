"""Benchmark workloads: a seeded web plus the crawl configuration.

See README.md for why each workload was chosen and which layers it is
meant to stress.
"""

from __future__ import annotations

from dataclasses import dataclass

import web as web_mod


@dataclass(frozen=True)
class Workload:
    name: str
    web: web_mod.Web
    wave_seconds: float

    def config(self):
        from earcrawler_spark.crawler.runner import CrawlConfig

        return CrawlConfig(wave_seconds=self.wave_seconds)


def get(name: str, seed: int) -> Workload:
    if name == "ear_fixture":
        return Workload(name, web_mod.ear_fixture(seed), 200.0)
    if name == "wide_crawl":
        return Workload(name, web_mod.wide_crawl(seed), 20.0)
    raise SystemExit(f"unknown workload {name!r}; choose ear_fixture or wide_crawl")
