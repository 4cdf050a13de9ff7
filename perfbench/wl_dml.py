"""versioned_dml: writes beside reads on a versioned ``orders`` table.

The base commit is a seeded, synthetic sf0.1-sized ``orders`` table
(150k rows, ``gen_tables.py``) range-partitioned into ``BASE_FILES``
files. A cycle commits four changes and reads the table back after each
(``read_version`` plus a count and a decimal sum of ``o_totalprice``):

1. ``merge_version_cow`` of a seeded CDC batch (about 1% of the live
   keys: updates, deletes and new keys),
2. ``merge_version_mor`` of another such batch,
3. ``delete_where_mor`` of about 1% of the rows,
4. ``update_where`` of about 1% of the rows,

then runs ``optimize_version`` and ``vacuum``. The commits are the unit
operations; reads and maintenance are timed work too. A DuckDB replay of
the same changes checks every read, and time travel to version 0 is
checked against the base. Loads versioned (manifests, deletion vectors,
copy-on-write rewrites, compaction, retention) and Catalyst for the
reads.

After the cycles, one pass of registry entries (``entries.RELATIONAL``)
runs over seeded sf0.01 TPC-H tables: parquet scans through
``catalog.table`` and ``spread``, Catalyst, shuffles, joins and AQE,
and the ``versioned_orders`` session fixture. Neither part touches
JSON, the ledger, chess or Python workers.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import numpy as np

import gen_tables
from entries import RELATIONAL, RELATIONAL_TABLES, EntryPass

BENCH_SF = 0.1
WARM_SF = 0.001
RELATIONAL_SF = 0.01
BASE_FILES = 8
CHANGE_SHARE = 0.01
KEY = "o_orderkey"
AGG_SQL = ("count(*) AS n", "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s")


def _du(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Replay:
    """The table's expected contents, replayed in DuckDB."""

    def __init__(self, base):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("base", base)
        self.con.execute("CREATE TABLE t AS SELECT * FROM base")
        self.con.unregister("base")

    def state(self) -> tuple[int, object]:
        return self.con.execute(f"SELECT {', '.join(AGG_SQL)} FROM t").fetchone()

    def keys(self) -> np.ndarray:
        return self.con.execute(f"SELECT {KEY} FROM t ORDER BY {KEY}").fetchnumpy()[KEY]

    def merge(self, changes) -> int:
        """Apply a CDC batch; returns the user rows it changes."""
        c = self.con
        c.register("ch", changes)
        try:
            hit = c.execute(f"SELECT count(*) FROM t WHERE {KEY} IN (SELECT {KEY} FROM ch)").fetchone()[0]
            new = c.execute(f"SELECT count(*) FROM ch WHERE NOT is_delete AND "
                            f"{KEY} NOT IN (SELECT {KEY} FROM t)").fetchone()[0]
            c.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM ch)")
            cols = ", ".join(n for n in changes.column_names if n != "is_delete")
            c.execute(f"INSERT INTO t SELECT {cols} FROM ch WHERE NOT is_delete")
        finally:
            c.unregister("ch")
        return hit + new

    def delete(self, pred: str) -> int:
        n = self.con.execute(f"SELECT count(*) FROM t WHERE {pred}").fetchone()[0]
        self.con.execute(f"DELETE FROM t WHERE {pred}")
        return n

    def update(self, assignments: dict[str, str], pred: str) -> int:
        n = self.con.execute(f"SELECT count(*) FROM t WHERE {pred}").fetchone()[0]
        sets = ", ".join(f"{k} = {v}" for k, v in assignments.items())
        self.con.execute(f"UPDATE t SET {sets} WHERE {pred}")
        return n

    def close(self) -> None:
        self.con.close()


class Changes:
    """Seeded CDC batches and predicates over the live keys."""

    def __init__(self, seed: int, next_key: int):
        self.rng = np.random.default_rng([seed, 99])
        self.next_key = next_key
        self.residues = list(self.rng.permutation(100))

    def batch(self, live: np.ndarray):
        import pyarrow as pa

        r = self.rng
        n = max(3, int(len(live) * CHANGE_SHARE))
        n_upd, n_del = n * 6 // 10, n * 2 // 10
        n_new = n - n_upd - n_del
        old = r.choice(live, n_upd + n_del, replace=False)
        keys = np.concatenate([old, np.arange(self.next_key, self.next_key + n_new)])
        self.next_key += n_new
        date = np.datetime64("1995-01-01", "us") + r.integers(0, 2405, n) * np.timedelta64(1, "D")
        return pa.table({
            "o_orderkey": pa.array(keys.astype(np.int64)),
            "o_custkey": pa.array(r.integers(0, 15_000, n)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": pa.array(date),
            "o_orderpriority": pa.array(np.array(gen_tables.PRIORITIES)[r.integers(0, 5, n)]),
            "is_delete": pa.array((np.arange(n) >= n_upd) & (np.arange(n) < n_upd + n_del)),
        })

    def predicate(self) -> str:
        """About 1% of the rows, a different 1% each time."""
        if not self.residues:
            self.residues = list(self.rng.permutation(100))
        return f"{KEY} % 100 = {self.residues.pop()}"


class Table:
    """One versioned table. A ``checked`` table routes every call through
    the run's timed operations and checks every read against its DuckDB
    replay; an unchecked one (warm-up) just makes the calls."""

    def __init__(self, run, path: str, base_dir: str, seed: int, checked: bool):
        import pyarrow.parquet as pq

        self.run, self.path, self.base_dir, self.checked = run, path, base_dir, checked
        base = pq.read_table(os.path.join(base_dir, "orders.parquet"))
        self.replay = None
        if checked:
            with run.bench_work():
                self.replay = Replay(base)
                self.base_state = self.replay.state()
        self.changes = Changes(seed, int(base.num_rows))
        self.changed_rows = 0
        self.bytes_written = 0
        self.commits: list[dict] = []
        self.vacuum_freed: list[int] = []
        self.conflicts = 0

    def _call(self, name: str, unit: bool, fn):
        """The call's result, or None when it failed (counted by the run)."""
        if not self.checked:
            return fn()
        with self.run.op(name, unit) as rec:
            rec["out"] = fn()
        if rec.get("error") == "CommitConflict":
            self.conflicts += 1
        return rec.get("out")

    def write_base(self) -> None:
        from pyspark.sql import types as T

        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        spark = self.run.spark
        df = spark.read.parquet(os.path.join(self.base_dir, "orders.parquet"))
        with self.run.tracer.span("versioned.write"):
            versioned.write_version(df.repartitionByRange(BASE_FILES, KEY),
                                    self.path, stats_col=KEY)
        self._change_schema = T.StructType(
            df.schema.fields + [T.StructField("is_delete", T.BooleanType())])

    def _commit(self, name: str, fn, replay_fn) -> None:
        before = _du(self.path)
        out = self._call(name, True, fn)
        if out is not None and self.checked:
            with self.run.bench_work():
                changed = replay_fn()
            after = _du(self.path)
            written = sum(s for p, s in after.items() if p not in before)
            self.changed_rows += changed
            self.bytes_written += written
            self.commits.append({
                "name": name, "bytes": written,
                "added": out.get("files_total", 0) - out.get("files_shared", 0),
                "removed": out.get("files_rewritten", 0) + out.get("files_dropped", 0),
            })
        self.read()

    def _snapshot(self, version: int | None = None):
        from pyspark.sql import functions as F

        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        return versioned.read_version(self.run.spark, self.path, version=version).agg(
            *[F.expr(e) for e in AGG_SQL])

    def read(self) -> None:
        df = self._snapshot()
        got = self._call("versioned.read", False, lambda: tuple(df.collect()[0]))
        if got is None or not self.checked:
            return
        self.run.plan_phases(df)
        want = self.replay.state()
        self.run.check(got == want, f"read after commit {len(self.commits)}: "
                                    f"{got} != replay {want}")

    def merge(self, name: str) -> None:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        fn = {"versioned.merge_cow": versioned.merge_version_cow,
              "versioned.merge_mor": versioned.merge_version_mor}[name]
        spark = self.run.spark
        with self.run.bench_work() if self.checked else nullcontext():
            live = (self.replay.keys() if self.checked
                    else np.arange(self.changes.next_key, dtype=np.int64))
            ch = self.changes.batch(live)
            df = spark.createDataFrame(ch.to_pandas(), schema=self._change_schema)
        self._commit(name, lambda: fn(spark, self.path, df, KEY),
                     lambda: self.replay.merge(ch))

    def delete(self) -> None:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        pred = self.changes.predicate()
        self._commit("versioned.delete_mor",
                     lambda: versioned.delete_where_mor(self.run.spark, self.path, pred),
                     lambda: self.replay.delete(pred))

    def update(self) -> None:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        pred = self.changes.predicate()
        assign = {"o_totalprice": "o_totalprice + 1.25", "o_orderstatus": "'F'"}
        self._commit("versioned.update",
                     lambda: versioned.update_where(self.run.spark, self.path, assign, pred),
                     lambda: self.replay.update(assign, pred))

    def maintain(self) -> None:
        """OPTIMIZE, then VACUUM down to the last two versions."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        self._call("versioned.optimize", False, lambda: versioned.optimize_version(
            self.run.spark, self.path, target_files=BASE_FILES, sort_col=KEY,
            stats_col=KEY))
        if self.checked and not self.vacuum_freed:
            # Time travel, checked untimed while version 0 is retained.
            got = tuple(self._snapshot(version=0).collect()[0])
            self.run.check(got == self.base_state,
                           f"version 0 reads {got}, base was {self.base_state}")
        before = sum(_du(self.path).values())
        if self._call("versioned.vacuum", False,
                      lambda: versioned.vacuum(self.path, keep_last=2)) is not None:
            self.vacuum_freed.append(before - sum(_du(self.path).values()))

    def cycle(self):
        """The steps of one cycle, in order."""
        return [lambda: self.merge("versioned.merge_cow"),
                lambda: self.merge("versioned.merge_mor"),
                self.delete, self.update, self.maintain]

    def amplification(self) -> tuple[float, float]:
        """(write_amp, space_amp) against a compact copy of the live rows,
        after a final vacuum."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        versioned.vacuum(self.path, keep_last=2)
        compact = self.path + "_compact"
        versioned.read_version(self.run.spark, self.path).coalesce(1).write.parquet(compact)
        compact_bytes = sum(s for p, s in _du(compact).items() if p.endswith(".parquet"))
        rows = self.replay.state()[0]
        changed_bytes = self.changed_rows * compact_bytes / rows
        write_amp = self.bytes_written / changed_bytes if changed_bytes else 0.0
        space_amp = sum(_du(self.path).values()) / compact_bytes
        return write_amp, space_amp


def _warm(run, path: str, base_dir: str, steps) -> None:
    t = Table(run, path, base_dir, run.seed, checked=False)
    t.write_base()
    for step in steps:
        step(t)


def run(run) -> None:
    from harness import median

    data = os.path.join(run.work, "data")
    bench_dir, warm_dir = os.path.join(data, "bench"), os.path.join(data, "warm")
    rel_dir = os.path.join(data, "relational")
    with run.bench_work():
        gen_tables.generate(bench_dir, BENCH_SF, run.seed)
        gen_tables.generate(warm_dir, WARM_SF, run.seed + 1, RELATIONAL_TABLES)
        gen_tables.generate(rel_dir, RELATIONAL_SF, run.seed, RELATIONAL_TABLES)
    rel = EntryPass(run, RELATIONAL, rel_dir, RELATIONAL_TABLES)
    run.start_spark()

    # Untimed warm-up on small tables, all at once: two versioned tables
    # which between them make every call of a cycle, and each entry, so
    # the timed work does not pay JIT and codegen compilation.
    run.warm_up([
        *rel.warm_tasks(warm_dir),
        lambda: _warm(run, os.path.join(run.work, "warm_a"), warm_dir,
                      [lambda t: t.merge("versioned.merge_cow"), Table.update]),
        lambda: _warm(run, os.path.join(run.work, "warm_b"), warm_dir,
                      [lambda t: t.merge("versioned.merge_mor"), Table.delete,
                       Table.maintain]),
    ])

    t = Table(run, os.path.join(run.work, "orders"), bench_dir, run.seed, checked=True)
    t.write_base()
    # Whole cycles only: the four commit kinds differ in cost, so a median
    # over a partial cycle would jump between kinds from run to run.
    while run.time_left():
        for step in t.cycle():
            step()
    rel.run_pass(fresh=False)

    if run.tracer.enabled:
        # Per-layer only, so the untraced runs skip the compaction it needs.
        write_amp, space_amp = t.amplification()
        d = lambda name: median(run.tracer.durations(name))  # noqa: E731
        n = max(1, len(t.commits))
        run.layer.update({
            "versioned.write_s": run.tracer.durations("versioned.write")[-1],
            "versioned.merge_cow_s": d("versioned.merge_cow"),
            "versioned.merge_mor_s": d("versioned.merge_mor"),
            "versioned.delete_mor_s": d("versioned.delete_mor"),
            "versioned.update_s": d("versioned.update"),
            "versioned.optimize_s": d("versioned.optimize"),
            "versioned.vacuum_s": d("versioned.vacuum"),
            "versioned.read_s": d("versioned.read"),
            "versioned.bytes_written": t.bytes_written / n,
            "versioned.files_added": sum(c["added"] for c in t.commits) / n,
            "versioned.files_removed": sum(c["removed"] for c in t.commits) / n,
            "versioned.conflicts": t.conflicts,
            "versioned.vacuum_bytes_freed": median(t.vacuum_freed),
            "dml.write_amp": write_amp,
            "dml.space_amp": space_amp,
        })
    t.replay.close()
