"""The benchmark's own synthetic web: transport, robots fetcher and seeds.

Every page, link and robots.txt is a pure function of (URL, workload
seed), written with the same page/link/robots grammar as the engine's
``earcrawler_spark.crawler.synth`` but kept here, so an edit to that
module (the test-suite load generator) cannot move the benchmark's
numbers. The seed salts every hash: it changes which pages exist, their
text and where their links point, never the web's shape (host count,
host sizes, crawl delays, link fan-out distribution).

``Web`` instances are plain picklable objects; the engine ships the
transport (``web(url, etag)``) into its fetch UDF and calls the robots
fetcher (``web.robots_txt(host)``) in the calling process.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import cached_property

WORDS = (
    "export administration regulation entity license control commerce "
    "bureau federal register notice rule amendment security review "
    "technology transfer restriction compliance enforcement penalty "
    "the a of to in and for with under"
).split()


@dataclass(frozen=True)
class Web:
    seed: int
    hot_hosts: tuple[tuple[str, int], ...]
    cold_hosts: tuple[tuple[str, int], ...]
    seeds_per_hot: int
    seeds_per_cold: int
    hot_delay: float = 2.0
    cold_delay: float = 1.0

    def _h(self, s: str) -> int:
        return int(hashlib.sha256(f"{self.seed}#{s}".encode()).hexdigest()[:16], 16)

    @cached_property
    def sizes(self) -> dict[str, int]:
        return dict(self.hot_hosts + self.cold_hosts)

    @cached_property
    def hot(self) -> frozenset[str]:
        return frozenset(h for h, _ in self.hot_hosts)

    @cached_property
    def hosts_sorted(self) -> list[str]:
        return sorted(self.sizes)

    # -- pages ---------------------------------------------------------
    def page_exists(self, url: str) -> bool:
        return self._h("exists|" + url) % 29 != 0

    def _body_seed(self, host: str, idx: int) -> str:
        if self._h(f"dup|{host}|{idx}") % 9 == 0 and idx >= 7:
            return f"{host}|{idx % 7}"
        return f"{host}|{idx}"

    def _paragraph(self, seed: str, j: int) -> str:
        h = self._h(f"{seed}|para|{j}")
        toks = [WORDS[(h + i * 7) % len(WORDS)] for i in range(8 + h % 12)]
        if h % 5 == 0:
            toks.append(f"{1 + h % 99} FR {1000 + h % 90000}")
        if h % 11 == 0:
            toks.append("contact compliance@example.com or 202-555-1212")
        return " ".join(toks)

    def page_html(self, url: str) -> str:
        parts = url.split("/")
        host, idx = parts[2], int(parts[-1])
        sizes = self.sizes
        seed = self._body_seed(host, idx)
        chunks = [f"<html><head><title>{host} page {idx}</title></head><body>"]
        for j in range(2 + self._h(seed) % 5):
            chunks.append(f"<p>{self._paragraph(seed, j)}</p>")
            if self._h(f"{seed}|media|{j}") % 3 == 0:
                mid = self._h(f"{seed}|mediaid|{j}") % 10_000
                kind = "img" if mid % 2 == 0 else "video"
                chunks.append(f'<{kind} src="https://{host}/media/{mid}.bin">')
        hlink = self._h(f"link|{host}|{idx}")
        for k in range(2 + hlink % 6):
            lh = self._h(f"link|{host}|{idx}|{k}")
            tgt_host = self.hosts_sorted[lh % len(sizes)] if lh % 4 == 0 else host
            raw = f"https://{tgt_host}/page/{lh % sizes[tgt_host]}"
            if lh % 5 == 0:
                raw = raw.replace(tgt_host, tgt_host.upper())
            if lh % 7 == 0:
                raw += "?utm_source=feed&utm_campaign=x"
            if lh % 6 == 0:
                raw += "#section-2"
            chunks.append(f'<a href="{raw}">link {k}</a>')
        if hlink % 13 == 0:
            chunks.append(f'<a href="https://{host}/private/{idx}">private</a>')
        chunks.append("<p></p><p>   </p></body></html>")
        return "".join(chunks)

    # -- transport + robots ----------------------------------------------
    def __call__(self, url: str, etag: str | None = None) -> tuple[int, str]:
        """Conditional GET: 404 for missing pages, 304 when ``etag``
        (If-None-Match) equals the page's content fingerprint, else 200."""
        if not self.page_exists(url):
            return 404, ""
        html = self.page_html(url)
        if etag is not None and etag == self.etag(html):
            return 304, ""
        return 200, html

    @staticmethod
    def etag(html: str) -> str:
        """The validator is the engine's content hash of the parsed page,
        which is what its fetch cache stores as the etag."""
        from earcrawler_spark.crawler.fetch import content_hash_of
        from earcrawler_spark.crawler.spans import parse_html

        return content_hash_of(parse_html(html)[0])

    def robots_txt(self, host: str) -> str:
        delay = self.hot_delay if host in self.hot else self.cold_delay
        return f"User-agent: *\nDisallow: /private\nCrawl-delay: {delay}"

    def seed_list(self) -> list[tuple[str, int, int]]:
        """(url, priority, seq): hot hosts get priority 10, cold ones 5."""
        hot = self.hot
        seeds: list[tuple[str, int, int]] = []
        for host in self.hosts_sorted:
            n = self.seeds_per_hot if host in hot else self.seeds_per_cold
            for i in range(min(n, self.sizes[host])):
                seeds.append((f"https://{host}/page/{i}", 10 if host in hot else 5, len(seeds)))
        return seeds


def ear_fixture(seed: int) -> Web:
    """The reference crawler's domain: two hot hosts and six cold ones,
    sized and delayed like the engine's default synthetic universe. The
    seeds fill a 200 s politeness budget (100 pages per hot host) from the
    first wave on, so wave sizes barely depend on the seed."""
    return Web(
        seed=seed,
        hot_hosts=(("bis.doc.gov", 2000), ("federalregister.gov", 1500)),
        cold_hosts=(
            ("ori.hhs.gov", 60), ("trade.gov", 50), ("example-univ.edu", 40),
            ("research-lab.org", 40), ("nsf.gov", 30), ("grants.gov", 30),
        ),
        seeds_per_hot=100,
        seeds_per_cold=20,
    )


def wide_crawl(seed: int) -> Web:
    """100 equally polite hosts of 400 pages, each seeded with its full
    per-wave budget (20 pages at a 20 s budget), so every wave dequeues
    exactly 2000 pages."""
    tlds = ("com", "org", "net", "gov", "edu")
    return Web(
        seed=seed,
        hot_hosts=(),
        cold_hosts=tuple(
            (f"site{i:03d}.example.{tlds[i % len(tlds)]}", 400) for i in range(100)
        ),
        seeds_per_hot=0,
        seeds_per_cold=20,
    )
