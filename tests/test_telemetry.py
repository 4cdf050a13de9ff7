"""Observable-metric telemetry: counts ride the existing action
(no second scan, unlike the reference's log-then-count pattern)."""

from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.telemetry import observed


def test_observed_metrics_ride_the_action(spark):
    base = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
    # DISTINCT aggregates are disallowed in observed metrics (they'd
    # need their own shuffle); approx_count_distinct is the observable
    # — and scale-correct — alternative.
    df, obs = observed(
        base, "probe",
        rows=F.count(F.lit(1)),
        distinct_k=F.approx_count_distinct("k"),
        max_id=F.max("id"),
    )
    out = df.groupBy("k").count().collect()
    assert len(out) == 7
    assert obs.get == {"rows": 1000, "distinct_k": 7, "max_id": 999}


def test_observed_default_rowcount(spark):
    df, obs = observed(spark.range(0, 42), "rows_only")
    df.agg(F.sum("id")).collect()
    assert obs.get == {"rows": 42}


def test_fixture_attribution_accumulates(monkeypatch):
    """bench.py's fixture-cost attribution: cache-miss builds recorded
    per fixture, totals snapshot/reset (r10 verdict: BENCH per-query
    numbers must separate one-time fixture cost from operator cost)."""
    from types import SimpleNamespace

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

    monkeypatch.setattr(fixtures, "BUILDERS", {})
    calls = []

    @fixtures.cached("demo")
    def demo(spark, sf_dir):
        calls.append(sf_dir)
        return sf_dir.upper()

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    fixtures.reset()
    assert fixtures.BUILDERS == {"demo": demo}
    assert demo(spark, "a") == "A" and demo(spark, "a") == "A"
    assert calls == ["a"], "a cache hit must not rebuild or re-time"
    once = fixtures.snapshot()["demo"]
    demo(spark, "b")  # a second key is a second build, accumulated
    snap = fixtures.snapshot()
    assert set(snap) == {"demo"} and snap["demo"] >= once >= 0
    assert calls == ["a", "b"]
    assert fixtures.total() == sum(snap.values())
    fixtures.reset()
    assert fixtures.total() == 0.0 and fixtures.snapshot() == {}
