"""Registry entries run as one timed pass beside a workload's main loop.

A pass runs a fixed list of ``__spark_entry__.queries()`` entries over
the benchmark's generated tables, one timed operation per entry:
building the DataFrame (``op.build``; several entry functions run eager
driver-side actions here) and collecting it (``op.action``). A pass in
a fresh SparkContext first starts the context and forks the Python
workers, which a batch user of those entries pays on every run, and
starts with empty memo caches and session fixtures, since both key on
the ``applicationId``. Every result is checked, outside the timed
region, against the entry's DuckDB ``oracle_sql()`` twin, normalized as
``tools/check_parity.py`` does.
"""

from __future__ import annotations

import os
import time

#: The registry entries run by versioned_dml: TPC-H queries of
#: operators.relational, one per plan shape (scan + aggregate, 6-way
#: join, outer join, IN, EXISTS / NOT EXISTS and scalar subqueries), and
#: a time-travel read of operators.etl whose versioned table is a
#: session fixture (``versioned_orders``). All 22 TPC-H queries take
#: 12-16 s per pass on the reference VM, which does not fit a run.
RELATIONAL = ["q1_pricing_summary", "q5_local_supplier_volume",
              "q13_customer_distribution", "q18_large_orders",
              "q21_late_last_suppliers", "q22_idle_customers",
              "snapshot_read_version"]
RELATIONAL_TABLES = ["region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"]

#: The data-prep entries run by chess_incremental, one per operator
#: module that runs Arrow Python workers or driver-side loops: text
#: (the curation pipeline), dedup (n-gram Jaccard over the postings
#: memo cache), similarity (semantic dedup) and multimodal (image
#: features over the media memo cache).
DATAPREP = ["doc_curation_pipeline", "doc_ngram_jaccard", "emb_semdedup",
            "mm_image_features"]
DATAPREP_TABLES = ["documents", "embeddings"]


class EntryPass:
    def __init__(self, run, names: list[str], data_dir: str, tables: list[str]):
        import duckdb

        import __spark_entry__ as entry
        from tools.check_parity import normalize

        self.run, self.names, self.data_dir = run, names, data_dir
        self.normalize = normalize
        self.fns = entry.queries()
        self.want = {}
        with run.bench_work():
            oracles = entry.oracle_sql()
            con = duckdb.connect()
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, t)}.parquet'")
            for name in names:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                self.want[name] = (sorted(cols), normalize(res.fetchall(), cols))
            con.close()

    def warm_tasks(self, data_dir: str) -> list:
        """Untimed warm-up, one callable per entry (run on a thread each):
        run the entry once over other tables of the same shape, so the
        timed pass does not pay JIT and codegen compilation of its plans.
        Caches and fixtures key on the data directory, so the timed pass
        still builds its own."""
        return [lambda fn=self.fns[name]: fn(self.run.spark, data_dir).collect()
                for name in self.names]

    def run_pass(self, fresh: bool) -> None:
        """One pass; its timed seconds go to ``run.pass_s``."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

        run, span = self.run, self.run.tracer.span
        timed = 0.0
        if fresh:
            timed += run.new_session()
            timed += run.prefork_workers()
        for name in self.names:
            fx0 = fixtures.snapshot()
            with run.op(f"entry.{name}", unit=False, window=False) as rec:
                t0 = time.perf_counter()
                with span("op.build"):
                    df = self.fns[name](run.spark, self.data_dir)
                t1 = time.perf_counter()
                with span("op.action"):
                    rows = df.collect()
                rec["build_s"], rec["action_s"] = t1 - t0, time.perf_counter() - t1
            timed += rec["wall_s"]
            if "error" in rec:
                continue
            fx1 = fixtures.snapshot()
            run.entries.append({"name": name, "build_s": rec["build_s"],
                                "action_s": rec["action_s"], "wall_s": rec["wall_s"],
                                "fixtures": {k: v - fx0.get(k, 0.0) for k, v in fx1.items()
                                             if v - fx0.get(k, 0.0) > 0}})
            run.plan_phases(df)
            cols, want = self.want[name]
            got = (sorted(df.columns), self.normalize([tuple(r) for r in rows], df.columns))
            run.check(got == (cols, want),
                      f"{name}: {len(rows)} rows differ from the DuckDB oracle's "
                      f"{len(want)}" if len(rows) != len(want) else
                      f"{name}: result differs from the DuckDB oracle")
        run.pass_s.append(timed)
