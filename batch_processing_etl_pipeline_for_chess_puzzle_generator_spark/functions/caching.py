"""Bounded, thread-safe memo caches for persisted / localCheckpoint'd
frames.

Several operator families memoize an expensive intermediate per
(session, dataset) — MinHash signatures and scored pairs, CC labels,
synthesized media tables. Every such cache goes through
:func:`cache_get_or_put`. Each persisted frame pins executor block
storage, so its insert, :func:`bounded_cache_put`, is FIFO-bounded:
past ``cap`` entries the oldest frame is evicted before the new one is
remembered. One implementation means an eviction-semantics fix lands
everywhere at once.

Release semantics: ``unpersist()`` frees frames cached via
``persist()`` immediately (CacheManager-registered plans). For
localCheckpoint'd frames it is a no-op at the block level — their
storage is RDD-level and invisible to the CacheManager — so eviction's
job there is dropping the LAST reference: Spark's ContextCleaner
reclaims a checkpoint's blocks once the RDD is garbage-collected.
Caches holding frames that must free promptly should therefore store
``persist()`` frames, not checkpoints (the dedup pair cache does).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

DEFAULT_CACHE_CAP = 8

# One process-wide lock serializes every memo-cache's check-then-put:
# concurrent registry runs (the --streams throughput bench, notebook
# threads) would otherwise both miss, both persist(), and the second
# put would unpersist the first thread's frame mid-collection. Cache
# hits stay lock-cheap (dict read under a briefly-held lock); the
# factory runs OUTSIDE the lock on a miss — two racers may build
# twice, and the loser's frame is released. Cap eviction can still
# unpersist a frame another thread fetched earlier and is actively
# collecting — Spark just recomputes, so that is a perf cliff on an
# over-subscribed cache, not a correctness hazard (true pinning would
# need per-entry refcounts; not worth it at cap=8).
_CACHE_LOCK = threading.Lock()


def cache_get_or_put(cache: dict, key, factory,
                     cap: int = DEFAULT_CACHE_CAP) -> DataFrame:
    """Thread-safe memoized build: return ``cache[key]`` if present,
    else build via ``factory()`` (outside the lock) and insert through
    :func:`bounded_cache_put`. If another thread won the race while
    the factory ran, the freshly built frame is released and the
    winner's is returned."""
    with _CACHE_LOCK:
        if key in cache:
            return cache[key]
    df = factory()
    with _CACHE_LOCK:
        if key in cache:  # lost the race: keep the winner's frame
            df.unpersist()
            return cache[key]
        return bounded_cache_put(cache, key, df, cap=cap)


def bounded_cache_put(cache: dict, key, df: DataFrame,
                      cap: int = DEFAULT_CACHE_CAP) -> DataFrame:
    if cap < 1:
        raise ValueError("cap must be >= 1")
    # Re-putting an existing key releases the frame it replaces —
    # otherwise the old persisted blocks leak unreachable — and must
    # not evict an unrelated entry (the dict doesn't grow).
    old = cache.pop(key, None)
    if old is not None:
        old.unpersist()
    while len(cache) >= cap:
        cache.pop(next(iter(cache))).unpersist()
    cache[key] = df
    return df
