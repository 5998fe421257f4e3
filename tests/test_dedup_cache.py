"""Long-session cache hygiene: the pair functions persist their shingle
table for the duration of one computation, and the cache entry must be
RELEASED when the returned DataFrame goes out of scope (weakref finalizer in
functions/dedup._unpersist_with) — a driver loop calling jaccard_pairs /
minhash_lsh_pairs per input slice must not accumulate cached tables."""

from __future__ import annotations

import gc
import sys
import threading
from types import SimpleNamespace

from py4j.protocol import Py4JError

from html_parser_spark.functions import dedup as DD


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _corpus(spark):
    rows = [(i, f"alpha beta gamma delta epsilon w{i} zeta eta", "s") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_jaccard_cache_released_on_gc(spark):
    spark.catalog.clearCache()
    corpus = _corpus(spark)
    pairs = DD.jaccard_pairs(corpus, threshold_permille=500)
    pairs.count()
    assert not _cache_empty(spark), "shingle table should be cached during use"
    del pairs
    gc.collect()
    assert _cache_empty(spark), "cache entry must be dropped when result is GC'd"


def test_shared_plan_cache_refcounted(spark):
    """Spark's CacheManager keys entries by ANALYZED PLAN: two pipelines
    over the same input persist ONE shared entry (the second .persist() is
    a no-op). GC of the first result must NOT uncache the still-live
    second — the _CACHE_REFS refcount releases only with the last owner
    (the bug showed as extract_links re-running its parse kernel 3x after
    a sibling query's result died)."""
    spark.catalog.clearCache()
    corpus = _corpus(spark)
    a = DD.jaccard_pairs(corpus, threshold_permille=500)
    b = DD.jaccard_pairs(corpus, threshold_permille=500)  # same plan
    b.count()
    del a
    gc.collect()
    assert not _cache_empty(spark), "sibling GC must not uncache the live twin"
    del b
    gc.collect()
    assert _cache_empty(spark), "last owner's GC must release the entry"


def test_minhash_lsh_cache_released_in_loop(spark):
    spark.catalog.clearCache()
    corpus = _corpus(spark)
    for _ in range(3):  # driver-loop shape: each iteration drops the previous
        pairs = DD.minhash_lsh_pairs(corpus, threshold_permille=500)
        pairs.count()
        del pairs
    gc.collect()
    assert _cache_empty(spark), "repeated calls must not accumulate cached tables"


class _HashlessJdf:
    """A cached plan handle whose semanticHash lookup fails over py4j."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise Py4JError("semanticHash unavailable")

    def unpersist(self, blocking):
        return self._jdf.unpersist(blocking)


def test_hash_failure_never_uncaches_live_sibling(spark, monkeypatch):
    """Without a semantic-hash key the refcount cannot tell a sibling that
    shares the cached plan apart, so registration must leak the entry rather
    than unpersist it when the unkeyed result dies."""
    spark.catalog.clearCache()
    corpus = _corpus(spark)
    live = DD.jaccard_pairs(corpus, threshold_permille=500)
    real = DD._unpersist_with
    monkeypatch.setattr(
        DD,
        "_unpersist_with",
        lambda result, cached: real(
            result,
            SimpleNamespace(_jdf=_HashlessJdf(cached._jdf), sparkSession=cached.sparkSession),
        ),
    )
    unkeyed = DD.jaccard_pairs(corpus, threshold_permille=500)  # same plan
    unkeyed.count()
    del unkeyed
    gc.collect()
    assert not _cache_empty(spark), "an unkeyed result's GC must not uncache the entry"
    live.count()
    del live
    gc.collect()
    assert _cache_empty(spark), "the keyed owner still releases the shared entry"


class _CountingJdf:
    """A cached plan handle with a fixed semantic hash that records unpersists."""

    def __init__(self):
        self.unpersists = []

    def queryExecution(self):
        return self

    def analyzed(self):
        return self

    def semanticHash(self):
        return 7

    def unpersist(self, blocking):
        self.unpersists.append(blocking)


class _Result:
    """Stands in for a returned DataFrame (only needs to be weak-referenceable)."""


def test_refcount_survives_concurrent_owners():
    """Finalizers run on whichever thread drops the last reference: many
    threads registering and releasing owners of one cached plan must neither
    lose a count (the entry is released early or never) nor release twice."""
    jdf = _CountingJdf()
    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="refcount-stress"))
    cached = SimpleNamespace(_jdf=jdf, sparkSession=app)
    key = ("refcount-stress", 7)
    n_threads, per_thread = 16, 200
    registered = threading.Barrier(n_threads + 1, timeout=60)
    counted = threading.Barrier(n_threads + 1, timeout=60)

    def owner():
        held = [DD._unpersist_with(_Result(), cached) for _ in range(per_thread)]
        registered.wait()
        counted.wait()
        held.clear()  # each finalizer runs here, on this thread

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=owner) for _ in range(n_threads)]
        for t in threads:
            t.start()
        registered.wait()
        live = DD._CACHE_REFS.get(key)
        counted.wait()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert live == n_threads * per_thread
    assert key not in DD._CACHE_REFS
    assert jdf.unpersists == [False], "the last owner releases the entry exactly once"
