"""Correctness gate: the Spark crawl must equal the sequential reference
model (``tests/reference_model.crawl_sequential``) driven with the same
seeds, transport, robots fetcher and politeness budget — visit order
``(iter, -priority, host, seq)`` row for row, the URL-seen set, and every
document's span sequence ``(kind, text, media_ref, order)``."""

from __future__ import annotations

VISIT_KEYS = ("iter", "url", "url_hash", "host", "priority", "seq", "status",
              "content_hash")


def check(crawler, workload, upto_iter: int) -> list[str]:
    """→ human-readable mismatches (empty when the crawl is correct)."""
    from tests.reference_model import crawl_sequential

    web = workload.web
    ref_visits, ref_seen, ref_docs = crawl_sequential(
        web.seed_list(), upto_iter, workload.wave_seconds,
        transport=web, robots_fetcher=web.robots_txt,
    )
    problems = []
    got = [{k: r[k] for k in VISIT_KEYS}
           for r in crawler.visits_ordered(upto_iter).collect()]
    if got != ref_visits:
        first = next((i for i, (a, b) in enumerate(zip(got, ref_visits)) if a != b),
                     min(len(got), len(ref_visits)))
        problems.append(f"visit log differs from the reference at row {first} "
                        f"({len(got)} vs {len(ref_visits)} visits)")
    seen = {r["url_hash"] for r in crawler.seen_set(upto_iter).select("url_hash").collect()}
    if seen != ref_seen:
        problems.append(f"seen set differs: {len(seen - ref_seen)} extra, "
                        f"{len(ref_seen - seen)} missing")
    docs = {
        r["content_hash"]: (r["doc_id"], [tuple(s) for s in r["spans"]])
        for r in crawler.state.read_all("documents", upto_iter).collect()
    }
    want = {
        ch: (url, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for ch, (url, spans) in ref_docs.items()
    }
    if docs != want:
        bad = sum(1 for ch in set(docs) | set(want) if docs.get(ch) != want.get(ch))
        problems.append(f"{bad} documents differ in url or span sequence")
    return problems
