"""Session fixtures: built once per (session, sf_dir), cost attributed.

Several registry entries (snapshot_*, doc_incr_*, emb_*) read
session-cached fixtures — versioned tables with DML histories, trained
indexes, moment tables — that are built ONCE per
``(applicationId, sf_dir)``, inside whichever query reaches them first.
Every such builder is declared with ``@cached("<fixture>")``, the one
place that owns the build-once contract: the per-builder cache, the
double-checked build under :data:`BUILD_LOCK`, the timing and the
:data:`BUILDERS` registry. Builders that write tables put them in
:func:`tempdir` directories.

Without attribution, BENCH per-query numbers mix the one-time build
cost into operator cost (snapshot_dv_read reads as ~8 s when the
operator itself is ~0.3 s). Only cache misses are timed, so the
accumulated seconds are exactly the build cost; ``bench.py`` snapshots
:func:`total` around each timed query to attribute per-entry
``fixture_s`` and emits the per-fixture breakdown in the BENCH JSON.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
import threading
import time
from collections.abc import Callable

_LOCK = threading.Lock()

#: held by :func:`cached` around every fixture BUILD, so concurrent
#: query streams (bench.py --streams N) that miss the same fixture build
#: it once: the others wait, then read the cached result. Without it,
#: builders that commit versioned tables race DML against shared state.
#: Reentrant, so a builder may call another cached builder on its own
#: thread; a thread a builder starts must not, or the build deadlocks.
BUILD_LOCK = threading.RLock()

#: accumulated build seconds per fixture name (cache misses only)
SECONDS: dict[str, float] = {}

#: every :func:`cached` builder by fixture name, in import order
BUILDERS: dict[str, Callable] = {}


def cached(name: str):
    """Declare a session-fixture builder ``build(spark, sf_dir)``: its
    result is computed once per ``(applicationId, sf_dir)``, its build
    time is booked under ``name`` and it is registered in
    :data:`BUILDERS`."""

    def decorate(build: Callable) -> Callable:
        cache: dict[tuple[str, str], object] = {}

        @functools.wraps(build)
        def get(spark, sf_dir: str):
            key = (spark.sparkContext.applicationId, sf_dir)
            if key in cache:  # entries are never removed: no lock needed
                return cache[key]
            with BUILD_LOCK:
                if key not in cache:
                    t0 = time.perf_counter()
                    cache[key] = build(spark, sf_dir)
                    _record(name, time.perf_counter() - t0)
                return cache[key]

        BUILDERS[name] = get
        return get

    return decorate


def tempdir(prefix: str) -> str:
    """A new directory for a fixture's tables, removed at interpreter
    exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _record(name: str, seconds: float) -> None:
    with _LOCK:
        SECONDS[name] = SECONDS.get(name, 0.0) + seconds


def total() -> float:
    with _LOCK:
        return sum(SECONDS.values())


def snapshot() -> dict[str, float]:
    with _LOCK:
        return dict(SECONDS)


def reset() -> None:
    with _LOCK:
        SECONDS.clear()
