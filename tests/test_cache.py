"""J9 LRU get-or-fetch: OrderedDict semantics mirroring the reference's
vector store (capacity bound, recency update on hit, evict-oldest), plus
the try-cache-then-point-lookup wiring in plans/search.correlations."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcript_cdc.operators.cache import LruCache


def test_lru_get_or_fetch_counts_and_hits():
    c = LruCache(maxsize=10)
    calls = []
    v1 = c.get_or_fetch("a", lambda: calls.append(1) or "va")
    v2 = c.get_or_fetch("a", lambda: calls.append(1) or "NEVER")
    assert v1 == v2 == "va"
    assert len(calls) == 1
    assert (c.hits, c.misses) == (1, 1)


def test_lru_caches_none_results():
    c = LruCache(maxsize=4)
    calls = []
    assert c.get_or_fetch("missing", lambda: calls.append(1)) is None
    assert c.get_or_fetch("missing", lambda: calls.append(1)) is None
    assert len(calls) == 1  # a cached miss is still an answer


def test_lru_evicts_oldest_and_recency_updates():
    c = LruCache(maxsize=3)
    for k in ("a", "b", "c"):
        c.get_or_fetch(k, lambda k=k: k.upper())
    c.get_or_fetch("a", lambda: "NEVER")  # refresh a → b is now oldest
    c.get_or_fetch("d", lambda: "D")      # evicts b
    assert "b" not in c and "a" in c and "c" in c and "d" in c
    assert len(c) == 3


def test_cache_hit_launches_no_spark_job(spark):
    """The J9 get-or-fetch on query embeddings, measured in Spark jobs:
    embedding_score embeds the query with the driver-side twin
    (py_hash_embed), so neither a miss nor a hit launches a Spark job, for
    either hash; the cache still counts one miss, then hits (the
    reference's vector store serves hits without touching OpenSearch,
    vector_store.py:33-63)."""
    from transcript_cdc.plans.search import embedding_score

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = LruCache()
    sc.setJobGroup("j9-probe", "cache job-count probe")
    try:
        for hash_fn in ("xx64", "md5"):
            embedding_score("text", "the probe query", dim=8, hash_fn=hash_fn, cache=cache)
            embedding_score("text", "the probe query", dim=8, hash_fn=hash_fn, cache=cache)
            embedding_score("text", "the probe query", dim=8, hash_fn=hash_fn)  # no cache
        assert len(tracker.getJobIdsForGroup("j9-probe")) == 0
        # one miss then one hit per hash (the key includes hash_fn)
        assert (cache.hits, cache.misses) == (2, 2)
        spark.range(1).collect()  # the probe does see a job in the group
        assert len(tracker.getJobIdsForGroup("j9-probe")) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_correlations_cache_skips_point_lookup(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from transcript_cdc.plans.search import correlations

    docs = spark.createDataFrame(
        [(i, f"words about topic {i} and shared terms") for i in range(30)],
        "doc_id long, text string",
    )
    cache = LruCache()
    a = correlations(
        docs, {"doc_id": 7}, ["doc_id"], k=5, hash_fn="md5",
        cache=cache, cache_key="epoch-0",
    ).collect()
    assert cache.misses >= 1
    misses_after_first = cache.misses
    b = correlations(
        docs, {"doc_id": 7}, ["doc_id"], k=5, hash_fn="md5",
        cache=cache, cache_key="epoch-0",
    ).collect()
    # second call: source text AND query embedding both served from cache
    assert cache.misses == misses_after_first
    assert cache.hits >= 2
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # a different snapshot identity must NOT reuse the cached source row
    correlations(
        docs, {"doc_id": 7}, ["doc_id"], k=5, hash_fn="md5",
        cache=cache, cache_key="epoch-1",
    ).collect()
    assert cache.misses > misses_after_first
