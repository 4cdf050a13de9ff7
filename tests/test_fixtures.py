"""Session fixtures under concurrent query streams: every registered
builder builds once per (session, sf_dir), however many threads miss
its cache at the same time."""

from __future__ import annotations

import collections
import os
import threading

from tests.conftest import SF_SMALL

FIXTURE_NAMES = {
    "versioned_orders", "cow_orders", "hidden_events", "dv_orders",
    "partitioned_orders", "generated_orders", "replace_where_orders",
    "defaults_orders", "dedup_index", "ivf_index", "pca_moments",
}
N_THREADS = 4


def test_every_fixture_builds_once_under_concurrent_callers(
        spark, tmp_path, monkeypatch):
    import __spark_entry__ as entrymod

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

    entrymod.queries()  # imports every operator module
    assert set(fixtures.BUILDERS) == FIXTURE_NAMES

    # a path no other test has used: every fixture is cold for this key
    sf_dir = str(tmp_path / "sf")
    os.symlink(SF_SMALL, sf_dir)

    builds = collections.Counter()
    record = fixtures._record

    def counting_record(name, seconds):
        builds[name] += 1
        record(name, seconds)

    monkeypatch.setattr(fixtures, "_record", counting_record)
    fixtures.reset()

    for name, build in fixtures.BUILDERS.items():
        start = threading.Barrier(N_THREADS, timeout=60)
        results, errors = [], []

        def call():
            start.wait()
            try:
                results.append(build(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — asserted below
                errors.append(exc)

        threads = [threading.Thread(target=call) for _ in range(N_THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads), name
        assert errors == [], (name, errors)
        assert len(results) == N_THREADS, name
        assert all(r is results[0] for r in results), name
        assert builds[name] == 1, (name, builds[name])

    assert set(fixtures.snapshot()) == FIXTURE_NAMES
