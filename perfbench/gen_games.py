"""Seeded Lichess-shaped game records for the chess ETL workload.

Each record carries the nested fields of a Lichess game export
(``players.*.user.name``, ``opening.eco``/``name``, ``status``,
``variant``, ``winner``, ``clock``). The status/variant mix and the
move-string lengths are assumptions, not taken from a real export. A
small share of each batch is additionally rendered as truncated ND-JSON
lines (a cut download), which the reader's PERMISSIVE mode must route
to ``_corrupt_record``. Every batch knows its exact puzzle candidates
(``status == 'mate'`` and ``variant == 'standard'``) by game id.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

# An assumed mix; no real export was sampled to set it. It fixes the
# puzzle-candidate share (about 11.7% of games).
STATUSES = ["resign", "mate", "outoftime", "draw", "stalemate", "aborted",
            "timeout", "noStart"]
STATUS_P = [0.56, 0.13, 0.22, 0.04, 0.01, 0.02, 0.01, 0.01]
VARIANTS = ["standard", "chess960", "crazyhouse", "antichess", "atomic",
            "kingOfTheHill", "threeCheck", "horde", "racingKings"]
VARIANT_P = [0.90, 0.03, 0.02, 0.01, 0.01, 0.01, 0.01, 0.005, 0.005]
SPEEDS = [("bullet", 60, 0), ("blitz", 180, 2), ("blitz", 300, 0),
          ("rapid", 600, 5), ("classical", 1800, 20)]
OPENINGS = [
    ("B20", "Sicilian Defense"), ("C50", "Italian Game"),
    ("C00", "French Defense"), ("B10", "Caro-Kann Defense"),
    ("D02", "Queen's Pawn Game: London System"), ("A40", "Englund Gambit"),
    ("C42", "Petrov's Defense"), ("D31", "Semi-Slav Defense: Marshall Gambit"),
    ("A00", "Van't Kruijs Opening"), ("E60", "King's Indian Defense"),
    ("C60", "Ruy Lopez"), ("B01", "Scandinavian Defense: Mieses-Kotroc Variation"),
]
FILES = "abcdefgh"
PIECES = ["", "", "", "N", "B", "R", "Q", "K"]
TRUNCATED_SHARE = 0.005


def _san_pool(rng, n: int) -> np.ndarray:
    """A pool of SAN-looking tokens (e4, Nxf3, Qh5+, O-O)."""
    piece = np.array(PIECES)[rng.integers(0, len(PIECES), n)]
    cap = np.where(rng.random(n) < 0.2, "x", "")
    sq = np.char.add(np.array(list(FILES))[rng.integers(0, 8, n)],
                     rng.integers(1, 9, n).astype(str))
    chk = np.where(rng.random(n) < 0.08, "+", "")
    tok = np.char.add(np.char.add(np.char.add(piece, cap), sq), chk)
    tok[rng.random(n) < 0.02] = "O-O"
    return tok


@dataclass
class Batch:
    """One extraction window.

    ``candidate_ids`` are the puzzle candidates among whole records.
    ``cut_candidate_ids`` are cut lines whose id, status and variant all
    survived the cut: Spark's PERMISSIVE reader may still return such a
    line as a partial row (``_corrupt_record`` set, later fields null),
    depending on where the cut fell and which columns the plan reads, so
    each may or may not reach the output."""
    rows: list[dict]
    truncated: list[str]
    candidate_ids: set[str]
    cut_candidate_ids: set[str]


class GameGenerator:
    """Deterministic stream of Lichess-shaped batches for one seed."""

    def __init__(self, seed: int, n_users: int = 5000):
        self.rng = np.random.default_rng(seed)
        self.users = [f"player{i:05d}" for i in range(n_users)]
        self.pool = _san_pool(self.rng, 50_000).tolist()
        self.next_id = 0
        self.clock_ms = 1_600_000_000_000

    def batch(self, n: int) -> Batch:
        r = self.rng
        status = np.array(STATUSES)[r.choice(len(STATUSES), n, p=STATUS_P)]
        variant = np.array(VARIANTS)[r.choice(len(VARIANTS), n, p=VARIANT_P)]
        # Ply counts: aborted/noStart games have almost none, the rest
        # get a roughly normal 30-120 ply body.
        plies = np.clip(r.normal(72, 25, n), 8, 220).astype(int)
        plies[np.isin(status, ["aborted", "noStart"])] = 1
        white, black = r.integers(0, len(self.users), (2, n))
        rating = r.integers(800, 2900, (2, n))
        speed = r.integers(0, len(SPEEDS), n)
        opening = r.integers(0, len(OPENINGS), n)
        winner = np.where(r.random(n) < 0.5, "white", "black")
        cut = (r.random(n) < TRUNCATED_SHARE).tolist()
        status, variant, plies = status.tolist(), variant.tolist(), plies.tolist()
        white, black, rating = white.tolist(), black.tolist(), rating.tolist()
        speed, opening, winner = speed.tolist(), opening.tolist(), winner.tolist()
        gaps = r.integers(1, 2000, n).tolist()
        starts = r.integers(0, len(self.pool) - 230, n).tolist()
        rows, truncated, ids, cut_ids = [], [], set(), set()
        for i in range(n):
            gid = f"g{self.next_id:011d}"
            self.next_id += 1
            self.clock_ms += gaps[i]
            sp, initial, inc = SPEEDS[speed[i]]
            eco, oname = OPENINGS[opening[i]]
            st = status[i]
            game = {
                "id": gid, "rated": bool(rating[0][i] % 3), "variant": variant[i],
                "speed": sp, "perf": sp, "createdAt": self.clock_ms,
                "lastMoveAt": self.clock_ms + plies[i] * 4000,
                "status": st,
                "players": {
                    "white": {"user": {"name": self.users[white[i]],
                                       "id": self.users[white[i]]},
                              "rating": rating[0][i]},
                    "black": {"user": {"name": self.users[black[i]],
                                       "id": self.users[black[i]]},
                              "rating": rating[1][i]},
                },
                "opening": {"eco": eco, "name": oname, "ply": int(opening[i] % 9) + 2},
                "moves": " ".join(self.pool[starts[i]:starts[i] + plies[i]]),
                "clock": {"initial": initial, "increment": inc,
                          "totalTime": initial + 40 * inc},
            }
            if st not in ("draw", "stalemate", "aborted", "noStart"):
                game["winner"] = winner[i]
            if cut[i]:
                line = json.dumps(game)
                line = line[: int(r.integers(10, len(line) - 2))]
                truncated.append(line)
                if (f'"id": "{gid}",' in line and '"status": "mate"' in line
                        and '"variant": "standard"' in line):
                    cut_ids.add(gid)
                continue
            rows.append(game)
            if st == "mate" and game["variant"] == "standard":
                ids.add(gid)
        return Batch(rows, truncated, ids, cut_ids)
