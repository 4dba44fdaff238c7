"""PySpark-native URL-frontier + fetch scheduler (the north-star engine).

Replaces the reference's sequential requests loop
(earCrawler/core/ear_crawler.py:133-201) with a batch-iterative,
checkpointed, data-parallel crawl:

frontier ──politeness dequeue──▶ fetch (mapInPandas) ──▶ span extraction
   ▲                                                          │
   │        new-link canonicalization + bloom/anti-join dedup │
   └──────────────────────────────────────────────────────────┘

Determinism contract: the visit order and the URL-seen set are pure
functions of (seed list, politeness budget, link graph) — invariant to
partition count and executor parallelism. Verified against a sequential
reference model (tests/reference_model.py) in tests/test_crawler_engine.py.
"""
