"""End-to-end crawl engine tests: the Spark crawler must reproduce the
sequential reference model's visit order, URL-seen set, and documents
(span-sequence equality) — and must do so at different partition counts
and across kill/resume."""

from __future__ import annotations

import pytest

from earcrawler_spark.crawler import synth
from earcrawler_spark.crawler.runner import Crawler, CrawlConfig
from tests.reference_model import crawl_sequential

MAX_ITERS = 3
WAVE_SECONDS = 20.0


def _visit_key(v):
    return (v["iter"], -v["priority"], v["host"], v["seq"])


def _spark_visits(crawler):
    return [r.asDict() for r in crawler.visits_ordered().collect()]


@pytest.fixture(scope="module")
def reference_run():
    return crawl_sequential(synth.seed_list(), MAX_ITERS, WAVE_SECONDS)


@pytest.fixture(scope="module")
def spark_run(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("crawl_state"))
    c = Crawler(
        spark, d,
        CrawlConfig(wave_seconds=WAVE_SECONDS, max_iters=MAX_ITERS, n_partitions=8),
    )
    c.init_seeds(synth.seed_list())
    c.run()
    return c


def test_visit_order_matches_reference(spark_run, reference_run):
    ref_visits, _, _ = reference_run
    got = _spark_visits(spark_run)
    assert sorted(ref_visits, key=_visit_key) == ref_visits  # model emits ordered
    assert [(v["iter"], v["url"], v["status"]) for v in got] == [
        (v["iter"], v["url"], v["status"]) for v in ref_visits
    ]
    # full row equality incl. content hashes
    keys = ("iter", "url", "url_hash", "host", "priority", "seq", "status", "content_hash")
    assert [{k: v[k] for k in keys} for v in got] == ref_visits


def test_seen_set_matches_reference(spark_run, reference_run):
    _, ref_seen, _ = reference_run
    got = {r["url_hash"] for r in spark_run.seen_set().collect()}
    assert got == ref_seen


def test_documents_span_sequence_equality(spark_run, reference_run):
    _, _, ref_docs = reference_run
    got = {
        r["content_hash"]: (r["doc_id"], [tuple(s) for s in r["spans"]])
        for r in spark_run.state.read_all(
            "documents", spark_run.state.manifest()["completed_iter"]
        ).collect()
    }
    assert set(got) == set(ref_docs)
    for ch, (url, spans) in ref_docs.items():
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        assert got[ch] == (url, want), f"span mismatch for {url}"


def test_partition_count_invariance(spark, tmp_path, reference_run):
    """Same crawl at 2 partitions — ordering + seen set must be identical
    (north rule: determinism under parallelism)."""
    c = Crawler(
        spark, str(tmp_path / "p2"),
        CrawlConfig(wave_seconds=WAVE_SECONDS, max_iters=MAX_ITERS, n_partitions=2),
    )
    c.init_seeds(synth.seed_list())
    c.run()
    ref_visits, ref_seen, _ = reference_run
    got = _spark_visits(c)
    assert [(v["iter"], v["url"]) for v in got] == [
        (v["iter"], v["url"]) for v in ref_visits
    ]
    assert {r["url_hash"] for r in c.seen_set().collect()} == ref_seen


def test_resume_reconverges(spark, tmp_path, spark_run):
    """Kill after wave 2, resume with a fresh Crawler → identical chain
    hash, visit log and seen set as the uninterrupted run."""
    d = str(tmp_path / "resume")
    c1 = Crawler(spark, d, CrawlConfig(wave_seconds=WAVE_SECONDS, max_iters=MAX_ITERS, n_partitions=8))
    c1.init_seeds(synth.seed_list())
    c1.run(max_iters=2)  # "killed" after wave 2 (manifest committed)
    assert c1.state.manifest()["completed_iter"] == 2

    c2 = Crawler(spark, d, CrawlConfig(wave_seconds=WAVE_SECONDS, max_iters=MAX_ITERS, n_partitions=8))
    m = c2.run(max_iters=MAX_ITERS)  # resume picks up from manifest
    assert m["completed_iter"] == MAX_ITERS

    full = spark_run.state.manifest()
    assert m["chain_hash"] == full["chain_hash"]
    assert m["totals"] == full["totals"]
    assert _spark_visits(c2) == _spark_visits(spark_run)


def test_run_zero_iters_runs_no_wave(spark, tmp_path):
    """max_iters=0 is a cap of zero, not "use the configured default"."""
    c = Crawler(spark, str(tmp_path / "zero"), CrawlConfig(max_iters=MAX_ITERS, n_partitions=8))
    c.init_seeds(synth.seed_list())
    assert c.run(max_iters=0)["completed_iter"] == 0


def test_robots_denied_never_visited(spark_run):
    visits = _spark_visits(spark_run)
    assert all("/private" not in v["url"] for v in visits)
    assert spark_run.state.manifest()["totals"]["denied"] >= 0


def test_skew_salting_applied(spark_run):
    """Hot hosts must have been selected above the salting threshold —
    i.e. the wave actually exercised the salted repartition path."""
    visits = _spark_visits(spark_run)
    last = max(v["iter"] for v in visits)
    per_host = {}
    for v in visits:
        if v["iter"] == last:
            per_host[v["host"]] = per_host.get(v["host"], 0) + 1
    assert max(per_host.values()) > 8  # > skew_threshold default
