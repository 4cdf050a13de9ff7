"""Shared run machinery: the Spark session, the closed timing loop,
tracing, memory sampling and the result line.

One ``Run`` object lives for one benchmark process. Workload modules
call ``start_spark`` once, run their untimed warm-up, then time
operations with ``op``; everything the run measures is kept on the
object and turned into the metrics dict by ``result``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; the maximum (percentile 100) when the
    run has fewer than eleven samples."""
    s = sorted(xs)
    if len(s) < 11:
        return (s[-1] if s else 0.0), 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def control_ms() -> float:
    """Wall of a fixed pure-Python loop on one core: a gauge of the
    machine's speed at the time, not of the engine."""
    t0 = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def _ui_time_ms(s: str) -> float:
    """Spark UI timestamps look like 2026-10-17T02:56:59.248GMT."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans around the benchmark's own calls into the engine's layers,
    kept in memory and written out when the run ends. Disabled, ``span``
    is a no-op, so traced and untraced runs make the same calls apart
    from the bookkeeping reported as ``trace.overhead_s``."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()   # each thread nests its own spans
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "run": self.run_id,
                   "parent": stack[-1] if stack else None,
                   "start": time.time(), **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Run:
    """State of one benchmark process (see module docstring)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.t_process = t_process
        self.gen_s = 0.0             # benchmark-side work, excluded from setup_s
        self.t_first_op = None
        self._gen_before_first = 0.0
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.cores = 0
        self.layer: dict[str, float] = {}    # per-layer metrics, traced run
        self.op_s: list[float] = []          # timed unit operations
        self.window_s = 0.0                  # wall of the main loop's operations
        self.pass_s: list[float] = []        # timed registry-entry passes
        self.entries: list[dict] = []        # per entry of those passes
        self.session: dict[str, list[float]] = {"new_context": [], "worker_prefork": []}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.exec: list[dict] = []
        self.plan: list[dict] = []
        self._hwm: dict[int, int] = {}
        self._jvm_pid = None
        self._n_group = 0
        with self.bench_work():
            self.control = [control_ms() for _ in range(5)]
        self._ticks0 = cpu_ticks()
        self.steal_share = 0.0

    # -- set-up ----------------------------------------------------------
    @contextmanager
    def bench_work(self):
        """Benchmark-side work (making inputs from the seed, computing
        oracle results); not part of setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - t0

    def start_spark(self):
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.cores = sc.defaultParallelism
        self._jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def new_session(self) -> float:
        """Stop the SparkContext and start a new one in the same JVM:
        a new ``applicationId``, so memo caches and session fixtures
        start empty, while JIT-compiled code stays. Returns the seconds
        ``get_spark`` took."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark

        self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}")
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session["new_context"].append(dt)
        return dt

    def prefork_workers(self) -> float:
        """Start the Python workers with one trivial Arrow job, one task
        per core. Returns its seconds."""
        t0 = time.perf_counter()
        with self.tracer.span("session.worker_prefork"):
            (self.spark.range(0, self.cores, 1, self.cores)
             .mapInArrow(lambda batches: batches, "id long").count())
        dt = time.perf_counter() - t0
        self.session["worker_prefork"].append(dt)
        return dt

    def warm_up(self, tasks) -> None:
        """Run untimed warm-up callables on one thread each. JIT and
        codegen caches are process-wide, so a parallel warm-up reaches the
        same compiled state in less wall time. Re-raises any failure."""
        with ThreadPoolExecutor(len(tasks)) as ex:
            for f in [ex.submit(t) for t in tasks]:
                f.result()

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # -- timed operations ------------------------------------------------
    def time_left(self) -> bool:
        """True while the timed operations so far add up to less than
        ``--seconds``; checks run between operations do not count."""
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()
            self._gen_before_first = self.gen_s
        return self.window_s < self.seconds

    @contextmanager
    def op(self, name: str, unit: bool = True, window: bool = True):
        """One closed-loop operation. Its wall time is recorded (into the
        end-to-end latency list when ``unit``, into the main loop's
        window when ``window``); in a traced run it gets
        its own Spark job group whose jobs and stages are read from the
        UI's REST API after it finishes, outside the measured time."""
        group = None
        if self.tracer.enabled:
            self._n_group += 1
            group = f"{self.tracer.run_id}-{self._n_group}"
            self.spark.sparkContext.setJobGroup(group, name)
        self.attempted += 1
        rec = {"name": name}
        t_wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield rec
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            rec["error"] = type(exc).__name__
        dt = time.perf_counter() - t0
        rec["wall_s"] = dt
        if window:
            self.window_s += dt
        if unit and "error" not in rec:
            self.op_s.append(dt)
        if group is not None:
            t_o = time.perf_counter()
            self.exec.append(self._exec_metrics(group, t_wall0 * 1000.0,
                                                (t_wall0 + dt) * 1000.0))
            self.spark.sparkContext.setJobGroup(f"{self.tracer.run_id}-idle", "idle")
            self.tracer.overhead_s += time.perf_counter() - t_o
        self.sample_rss()

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def check(self, ok: bool, why: str) -> bool:
        """An output check outside the timed region; a failure counts
        against the operation it checks (``attempted`` is not bumped)."""
        if not ok:
            self.fail(why)
        return ok

    def plan_phases(self, df) -> None:
        """Catalyst phase durations of a DataFrame that has run an action
        (QueryPlanningTracker); traced runs only."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        got = {}
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            got[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
        self.plan.append(got)
        self.tracer.overhead_s += time.perf_counter() - t0

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _exec_metrics(self, group: str, t0_ms: float, t1_ms: float) -> dict:
        want = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        jobs = []
        # The UI store is fed by the asynchronous listener bus: wait until
        # it has every job of the group in a final state.
        for _ in range(200):
            jobs = [j for j in self._rest("/jobs") if j["jobId"] in want]
            if len(jobs) == len(want) and all(
                    j["status"] != "RUNNING" and "completionTime" in j for j in jobs):
                break
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._rest("/stages")
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        wall_ms = t1_ms - t0_ms
        spans = [(max(t0_ms, _ui_time_ms(j["submissionTime"])),
                  min(t1_ms, _ui_time_ms(j["completionTime"])))
                 for j in jobs if "submissionTime" in j and "completionTime" in j]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "wall_s": wall_ms / 1000.0,
            "driver_gap_s": max(0.0, wall_ms - _covered_ms(spans)) / 1000.0,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        }

    # -- memory ----------------------------------------------------------
    def sample_rss(self) -> None:
        pids = [os.getpid()]
        if self._jvm_pid is not None:
            pids.append(self._jvm_pid)
            frontier = [self._jvm_pid]
            while frontier:
                kids = [c for p in frontier for c in _children(p)]
                pids += kids
                frontier = kids
        for p in pids:
            self._hwm[p] = max(self._hwm.get(p, 0), _vm_hwm_kb(p))

    # -- result ----------------------------------------------------------
    def result(self) -> dict:
        t_first = self.t_first_op if self.t_first_op is not None else time.perf_counter()
        setup_s = t_first - self.t_process - self._gen_before_first
        self.control += [control_ms() for _ in range(5)]
        steal, total = (b - a for a, b in zip(self._ticks0, cpu_ticks()))
        self.steal_share = steal / total if total else 0.0
        if self.tracer.enabled:
            kind, got = "per_layer", self._layer_metrics()
        else:
            kind, got = "end_to_end", {
                "setup_s": setup_s,
                "peak_rss_mb": sum(self._hwm.values()) / 1024.0,
                "op_s.p50": median(self.op_s),
                "ops_per_s": len(self.op_s) / self.window_s if self.window_s else 0.0,
                "pass_s": median(self.pass_s),
            }
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            # A per-layer metric of a layer the workload bypasses reads 0,
            # which is itself the check that the workload bypasses it.
            "metrics": {k: {"value": float(got.get(k, 0.0)), "unit": unit}
                        for k, unit in _units(kind).items()},
        }

    def _layer_metrics(self) -> dict:
        m = dict(self.layer)
        n_ops = max(1, len(self.exec))
        for k in ("jobs", "stages", "tasks", "run_s", "driver_gap_s",
                  "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            m[f"exec.{k}"] = sum(e[k] for e in self.exec) / n_ops
        wall = sum(e["wall_s"] for e in self.exec)
        if wall and self.cores:
            m["exec.busy_share"] = sum(e["run_s"] for e in self.exec) / (wall * self.cores)
        for k in ("analysis", "optimization", "planning"):
            m[f"plan.{k}_ms"] = median([p[k] for p in self.plan])
        value, pct = tail(self.op_s)
        m["op_s.tail"], m["op_s.tail_pct"], m["op.samples"] = value, pct, len(self.op_s)
        m["trace.op_s.p50"] = median(self.op_s)
        m["trace.pass_s"] = median(self.pass_s)
        m["trace.overhead_s"] = self.tracer.overhead_s
        timed = self.window_s + sum(self.pass_s)
        m["trace.overhead_share"] = self.tracer.overhead_s / timed if timed else 0.0
        m["vm.control_ms"] = median(self.control)
        m["vm.steal_share"] = self.steal_share
        # registry-entry passes: per pass, and per entry
        n_pass = max(1, len(self.pass_s))
        for k, v in self.session.items():
            if v:
                m[f"session.{k}_s"] = median(v)
        for e in self.entries:
            for k in ("build_s", "action_s"):
                m[f"op.{k}"] = m.get(f"op.{k}", 0.0) + e[k] / n_pass
            for k, v in e["fixtures"].items():
                m[f"fixtures.{k}_s"] = m.get(f"fixtures.{k}_s", 0.0) + v / n_pass
                m["fixtures.total_s"] = m.get("fixtures.total_s", 0.0) + v / n_pass
        for name in {e["name"] for e in self.entries}:
            m[f"entry.{name}_s"] = median([e["wall_s"] for e in self.entries
                                           if e["name"] == name])
        return m
