"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds every input from ``--seed``
inside a private work directory under the checkout (removed on exit),
runs one workload in a closed loop with one client on
``local[<cores>]``, checks every output outside the timed region and
prints one JSON result line last. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics and writes the
span list to ``.perfbench_spans/`` in the checkout. See
``perfbench/README.md`` for the workloads and metrics.
"""

import sys

sys.dont_write_bytecode = True

import time  # noqa: E402

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "2g"
WORKLOADS = {
    "chess_incremental": "wl_chess",
    "versioned_dml": "wl_dml",
}


def _configure(work: str) -> None:
    """Point every writer the engine has at the work directory and make
    the engine importable by Python workers, before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(cores),
        # A cap on the driver heap, not a size (no -Xms). Under the
        # engine's 8g default, heap growth put the peak RSS of one
        # workload anywhere from 2.7 to 5.0 GB between runs.
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp from the launcher or driver JVMs
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONF": ",".join([
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        ]),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        _configure(work)
        # Fail fast, before any input is generated, when the engine is
        # not importable (e.g. a directory holding only the benchmark).
        importlib.import_module(
            "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark")
        import harness

        run = harness.Run(args.workload, args.seed, args.seconds,
                          bool(args.trace), work, T_PROCESS)
        importlib.import_module(WORKLOADS[args.workload]).run(run)
        result = run.result()
        if args.trace:
            spans = os.path.join(ROOT, ".perfbench_spans")
            os.makedirs(spans, exist_ok=True)
            run.tracer.write(os.path.join(spans, f"{run.tracer.run_id}.json"))
    finally:
        if run is not None:
            run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for why in run.failures:
        print(f"FAILED {why}", file=sys.stderr)
    print(f"control_ms {harness.median(run.control):.3f} "
          f"steal_share {run.steal_share:.4f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
