"""chess_incremental: the paper's pipeline as a sequence of incremental
batches.

Each timed operation is one batch: ``extract_batch`` writes the batch's
ND-JSON and advances the cursor, ``FileLedger.new_files`` lists the raw
directory, ``read_games`` + ``puzzle_pipeline`` plan the candidates,
``write_pgn`` renders and writes them, and ``FileLedger.mark`` records
the inputs. A second, small ND-JSON shard per batch carries the batch's
truncated lines (a cut bulk download) so the PERMISSIVE
``_corrupt_record`` path runs too. Loads sources.extract,
sources.incremental, sources.ndjson and operators.chess.

After the batches, one pass of the data-prep registry entries
(``entries.DATAPREP``) runs in a fresh SparkContext over seeded
documents and embeddings: the Arrow Python-worker and driver-loop
operators and the memo caches. Neither part touches versioned tables or
the TPC-H entries.
"""

from __future__ import annotations

import os
import re

import gen_tables
from entries import DATAPREP, DATAPREP_TABLES, EntryPass
from gen_games import GameGenerator

GAMES_PER_BATCH = 20_000
WARM_BATCHES = 2
_HEADER = re.compile(r'^\[Game (\d+)\]$|^\[Game ID "([^"]*)"\]$')


def _read_pgn(out_dir: str) -> tuple[list[int], list[str], int, int]:
    """[Game N] numbers and game ids in file order, part files, bytes."""
    nums, ids, files, nbytes = [], [], 0, 0
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("part-"):
            continue
        path = os.path.join(out_dir, name)
        files += 1
        nbytes += os.path.getsize(path)
        with open(path) as f:
            for line in f:
                m = _HEADER.match(line.rstrip("\n"))
                if m and m.group(1):
                    nums.append(int(m.group(1)))
                elif m:
                    ids.append(m.group(2))
    return nums, ids, files, nbytes


class _Pipeline:
    def __init__(self, run, root: str):
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.incremental import (
            Cursor,
            FileLedger,
        )

        self.run = run
        self.raw = os.path.join(root, "raw")
        self.out = os.path.join(root, "pgn")
        os.makedirs(self.raw)
        self.ledger = FileLedger(os.path.join(root, "state", "ledger.txt"))
        self.cursor = Cursor(os.path.join(root, "state", "cursor.txt"))
        self.gen = GameGenerator(run.seed)
        self.n = 0
        self.stats: list[dict] = []   # per checked batch, for the traced run

    def next_batch(self):
        with self.run.bench_work():
            batch = self.gen.batch(GAMES_PER_BATCH)
        self.n += 1
        # The cut lines land as their own shard, written before the batch
        # starts: they are input, not work the engine does.
        cut = os.path.join(self.raw, f"dump_{self.n:08d}.ndjson")
        with open(cut, "w") as f:
            f.write("\n".join(batch.truncated) + "\n")
        return batch

    def step(self, batch, rec: dict | None = None) -> dict:
        """One batch through the five steps; returns what it saw."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.chess import (
            puzzle_pipeline,
            write_pgn,
        )
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.extract import (
            extract_batch,
        )
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.ndjson import (
            read_games,
        )

        span = self.run.tracer.span
        rows = batch.rows
        until = f"{self.n:08d}"
        out = os.path.join(self.out, f"batch_{self.n:08d}")
        with span("extract.extract_batch"):
            path = extract_batch(lambda since, u: rows, self.cursor, self.raw,
                                 "games", until)
        with span("ledger.new_files"):
            new = self.ledger.new_files(self.raw)
        with span("chess.plan"):
            flat = puzzle_pipeline(read_games(self.run.spark, new))
        with span("chess.write_pgn"):
            write_pgn(flat, out)
        with span("ledger.mark"):
            self.ledger.mark(*new)
        seen = {"path": str(path), "new": new, "out": out,
                "listed": len(os.listdir(self.raw))}
        if rec is not None:
            rec.update(seen)
        return seen

    def check(self, batch, seen: dict) -> None:
        run = self.run
        nums, ids, files, nbytes = _read_pgn(seen["out"])
        kept_cut = set(ids) - batch.candidate_ids
        run.check(len(ids) == len(set(ids)) and batch.candidate_ids <= set(ids)
                  and kept_cut <= batch.cut_candidate_ids,
                  f"batch {self.n}: {len(ids)} PGN blocks for "
                  f"{len(batch.candidate_ids)} candidates, "
                  f"{len(kept_cut - batch.cut_candidate_ids)} unexpected ids")
        run.check(sorted(nums) == list(range(1, len(ids) + 1)),
                  f"batch {self.n}: [Game N] headers are not 1..{len(nums)}")
        run.check(len(seen["new"]) == 2 and seen["path"] in seen["new"],
                  f"batch {self.n}: ledger listed {seen['new']}")
        self.stats.append({"files_out": files, "bytes_out": nbytes,
                           "rows": len(batch.rows),
                           "bytes": os.path.getsize(seen["path"]),
                           "listed": seen["listed"],
                           "new_share": len(seen["new"]) / seen["listed"],
                           "cut_kept": len(kept_cut),
                           "kept": len(ids) / (len(batch.rows) + len(batch.truncated))})


def run(run) -> None:
    from harness import median

    prep_dir, warm_dir = os.path.join(run.work, "prep"), os.path.join(run.work, "prep_warm")
    with run.bench_work():
        gen_tables.generate(prep_dir, 0.01, run.seed, DATAPREP_TABLES)
        gen_tables.generate(warm_dir, 0.01, run.seed + 1, DATAPREP_TABLES)
    prep = EntryPass(run, DATAPREP, prep_dir, DATAPREP_TABLES)
    run.start_spark()
    p = _Pipeline(run, os.path.join(run.work, "chess"))

    def warm_chess():
        for _ in range(WARM_BATCHES):
            b = p.next_batch()
            p.check(b, p.step(b))

    # The first batches and the first entry runs pay JIT and whole-stage
    # codegen compilation.
    run.warm_up([warm_chess, *prep.warm_tasks(warm_dir)])
    p.stats.clear()

    while run.time_left():
        b = p.next_batch()
        with run.op("chess.batch") as rec:
            p.step(b, rec)
        if "path" in rec:
            p.check(b, rec)

    # Ledger invariants: every raw file recorded exactly once, and a
    # re-run of the finished batch finds nothing new.
    with open(p.ledger.path) as f:
        lines = f.read().splitlines()
    run.check(len(lines) == len(set(lines)) and set(lines) == set(os.listdir(p.raw)),
              "ledger does not list every raw file exactly once")
    run.check(p.ledger.new_files(p.raw) == [], "re-run found new files")

    prep.run_pass(fresh=True)

    if run.tracer.enabled:
        d = run.tracer.durations
        n_ops = max(1, len(p.stats))
        mean = lambda k: sum(s[k] for s in p.stats) / n_ops  # noqa: E731
        run.layer.update({
            "extract.batch_s": median(d("extract.extract_batch")[WARM_BATCHES:]),
            "extract.rows": mean("rows"),
            "extract.bytes": mean("bytes"),
            "ledger.new_files_s": median(d("ledger.new_files")[WARM_BATCHES:]),
            "ledger.files_listed": mean("listed"),
            "ledger.new_share": mean("new_share"),
            "ledger.mark_s": median(d("ledger.mark")[WARM_BATCHES:]),
            "chess.plan_s": median(d("chess.plan")[WARM_BATCHES:]),
            "chess.write_pgn_s": median(d("chess.write_pgn")[WARM_BATCHES:]),
            "chess.kept_share": mean("kept"),
            "chess.cut_rows_kept": mean("cut_kept"),
            "pgn.files_out": mean("files_out"),
            "pgn.bytes_out": mean("bytes_out"),
        })
