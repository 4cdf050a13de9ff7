"""Isolated per-query measurement + plan capture.

Usage:
  python tools/measure.py <query> [query ...] [--sf DIR] [--plans ROUND/TAG]
                          [--reps N] [--noop]

For each named registry query: build the DataFrame, time the action
(collect() — the bench methodology — or the noop sink with --noop per
guide §1.4), and optionally write the ``explain("formatted")`` output to
``plans/<ROUND>/<query>_<TAG>.txt`` (``--plans r15/before`` writes
``plans/r15/<query>_before.txt``). Prints one JSON line per query.

Fixture costs are attributed exactly like bench.py (fixtures.total()
snapshots), so a 5 s entry that spends 4.5 s building a session fixture
is reported as 0.5 s of operator time + 4.5 s fixture.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    tag = None
    reps = 1
    use_noop = False
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--plans":
            tag = args[i + 1]; i += 2
        elif a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--noop":
            use_noop = True; i += 1
        else:
            names.append(a); i += 1

    import __spark_entry__ as entrymod
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import (
        fixtures, get_spark,
    )

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    n_cores = spark.sparkContext.defaultParallelism

    def _noop(batches):
        import pandas  # noqa: F401 — python-worker pool warmup
        yield from batches

    (spark.range(n_cores * 4, numPartitions=n_cores)
     .mapInPandas(_noop, schema="id long").count())

    qs = entrymod.queries()
    if names == ["ALL"]:
        names = list(qs)
    if tag:
        round_dir, tag = os.path.split(tag)
        plans_dir = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "plans", round_dir)
        os.makedirs(plans_dir, exist_ok=True)

    # warm pass at sf0.001 (same steady-state discipline as bench.py)
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            qs[n](spark, warm).collect()
        except Exception:
            pass

    for n in names:
        spark.sparkContext.setJobDescription(f"measure: {n}")
        walls = []
        fx_total = 0.0
        for r in range(reps):
            fx0 = fixtures.total()
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            walls.append(round(time.perf_counter() - t0, 3))
            fx_total += fixtures.total() - fx0
        if tag:
            df = qs[n](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{n}_{tag}.txt"), "w") as fh:
                fh.write(plan)
        print(json.dumps({
            "query": n, "walls": walls, "min": min(walls),
            "fixture_s": round(fx_total, 3), "sf_dir": sf_dir,
            "action": "noop" if use_noop else "collect",
        }), flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
