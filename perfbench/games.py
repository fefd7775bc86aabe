"""Seeded synthetic Lichess game exports for the ``chess_etl`` workload.

Writes ``n_batches`` ND-JSON files in the Lichess export shape that
``sources/ndjson.GAME_SCHEMA`` reads: mixed ``status`` and ``variant``
values, nested ``players`` and ``opening`` structs (the opening is
sometimes absent), and about 1% malformed lines that the reader routes
to ``_corrupt_record``. Beside the batches, in a separate directory, it
writes ``expected.json``: per batch file, the sorted ids of the games
that the puzzle filter (``status == "mate"``, ``variant == "standard"``)
must keep. The pipeline under test is given only the batch files.
"""

from __future__ import annotations

import json
import os

import numpy as np

_STATUS = ["mate", "resign", "outoftime", "draw", "stalemate", "timeout"]
_STATUS_P = [0.3, 0.35, 0.15, 0.1, 0.04, 0.06]
_VARIANT = ["standard", "chess960", "crazyhouse", "atomic"]
_VARIANT_P = [0.8, 0.1, 0.05, 0.05]
_SPEED = [("bullet", 60, 0), ("blitz", 180, 2), ("rapid", 600, 5),
          ("classical", 1800, 20)]
_OPENINGS = [("B01", "Scandinavian Defense"), ("C20", "King's Pawn Game"),
             ("C50", "Italian Game"), ("D02", "Queen's Pawn Game"),
             ("A00", "Van't Kruijs Opening"), ("B20", "Sicilian Defense"),
             ("C00", "French Defense"), ("E60", "King's Indian Defense")]
_SAN = ("e4 e5 d4 d5 Nf3 Nc6 Bc4 Bb5 c4 c5 Nc3 Nf6 O-O Qe2 Rd1 Bxf7+ "
        "exd5 Qxd5 h3 a6 g3 Bg7 Re1 Kh8 f4 Qh5# Rxe8#").split()
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))


def _game(rng, gid: str) -> tuple[dict, bool]:
    status = _STATUS[rng.choice(len(_STATUS), p=_STATUS_P)]
    variant = _VARIANT[rng.choice(len(_VARIANT), p=_VARIANT_P)]
    speed, initial, inc = _SPEED[int(rng.integers(0, len(_SPEED)))]
    created = 1_700_000_000_000 + int(rng.integers(0, 10**10))
    white, black = (f"player{int(x)}" for x in rng.integers(0, 5000, 2))
    g = {
        "id": gid, "rated": bool(rng.random() < 0.8), "variant": variant,
        "speed": speed, "perf": speed, "createdAt": created,
        "lastMoveAt": created + int(rng.integers(60_000, 3_600_000)),
        "status": status,
        "players": {
            "white": {"user": {"name": white, "id": white},
                      "rating": int(rng.integers(800, 2800))},
            "black": {"user": {"name": black, "id": black},
                      "rating": int(rng.integers(800, 2800))},
        },
        "moves": " ".join(rng.choice(_SAN, int(rng.integers(20, 90)))),
        "clock": {"initial": initial, "increment": inc,
                  "totalTime": initial + 40 * inc},
    }
    if status not in ("draw", "stalemate"):
        g["winner"] = "white" if rng.random() < 0.5 else "black"
    if rng.random() < 0.9:
        eco, name = _OPENINGS[int(rng.integers(0, len(_OPENINGS)))]
        g["opening"] = {"eco": eco, "name": name,
                        "ply": int(rng.integers(1, 20))}
    return g, status == "mate" and variant == "standard"


def write_batches(batch_dir: str, expected_dir: str, seed: int,
                  n_batches: int, games: int) -> dict:
    """Write the batch files and ``expected.json``; returns the expected
    record: ``{file name: {"ids": [...], "games": n, "bytes": b}}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(batch_dir, exist_ok=True)
    os.makedirs(expected_dir, exist_ok=True)
    expected = {}
    for b in range(n_batches):
        name = f"games_{b:03d}.ndjson"
        keep = []
        lines = []
        for i in range(games):
            gid = f"b{b:03d}" + "".join(rng.choice(_ALNUM, 5)) + f"{i:05d}"
            g, is_candidate = _game(rng, gid)
            line = json.dumps(g, separators=(",", ":"))
            if rng.random() < 0.01:
                # truncated before "variant": PERMISSIVE mode quarantines
                # it, and no partially parsed row can pass the filter
                line = line[: int(rng.integers(5, line.index('"variant"')))]
            elif is_candidate:
                keep.append(gid)
            lines.append(line)
        path = os.path.join(batch_dir, name)
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        expected[name] = {"ids": sorted(keep), "games": games,
                          "bytes": os.path.getsize(path)}
    with open(os.path.join(expected_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return expected

