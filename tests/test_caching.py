"""Unit tests for the shared bounded persist-cache helper (stub
frames — no Spark needed, so the eviction logic is testable exactly)."""

from __future__ import annotations

import threading

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.caching import (
    bounded_cache_put,
    cache_get_or_put,
)


class _Frame:
    def __init__(self):
        self.released = False

    def unpersist(self):
        self.released = True
        return self


def test_fifo_eviction_releases_oldest():
    cache = {}
    frames = [_Frame() for _ in range(4)]
    for i, f in enumerate(frames[:3]):
        bounded_cache_put(cache, i, f, cap=3)
    assert not any(f.released for f in frames[:3])
    bounded_cache_put(cache, 3, frames[3], cap=3)
    assert frames[0].released and not frames[1].released
    assert list(cache) == [1, 2, 3]


def test_reput_releases_replaced_frame_not_neighbors():
    cache = {}
    a, b, a2 = _Frame(), _Frame(), _Frame()
    bounded_cache_put(cache, "a", a, cap=2)
    bounded_cache_put(cache, "b", b, cap=2)
    bounded_cache_put(cache, "a", a2, cap=2)
    assert a.released, "replaced frame must be released"
    assert not b.released, "unrelated entry must survive a re-put"
    assert cache["a"] is a2 and len(cache) == 2


def test_cap_must_be_positive():
    with pytest.raises(ValueError):
        bounded_cache_put({}, "k", _Frame(), cap=0)


def test_single_slot_cache_cycles():
    cache = {}
    f1, f2 = _Frame(), _Frame()
    bounded_cache_put(cache, 1, f1, cap=1)
    bounded_cache_put(cache, 2, f2, cap=1)
    assert f1.released and not f2.released
    assert list(cache) == [2]


def test_get_or_put_race_keeps_one_frame_and_releases_the_loser():
    """Two threads that both miss build two frames; the cache keeps the
    first one put, both callers get it, and the other is released."""
    cache = {}
    built = []
    both_missed = threading.Barrier(2, timeout=10)

    def factory():
        f = _Frame()
        built.append(f)
        both_missed.wait()  # neither may put before both have missed
        return f

    got = []
    threads = [
        threading.Thread(
            target=lambda: got.append(cache_get_or_put(cache, "k", factory)))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 2 and len(got) == 2
    assert got[0] is got[1] is cache["k"]
    winner, = (f for f in built if f is cache["k"])
    loser, = (f for f in built if f is not cache["k"])
    assert loser.released and not winner.released
