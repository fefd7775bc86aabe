"""``spark.read.format("pgn")`` — a PGN file reader as a Spark 4
Python Data Source, closing the chess round-trip: the engine's
distributed PGN SINK (operators/chess.py::write_pgn, the reference's
output format — /root/reference/etl/transform.py:100-117 built these
blocks row-by-row on the driver) gains a structured READER, so PGN
archives are a first-class table source:

    spark.dataSource.register(PgnDataSource)
    games = spark.read.format("pgn").option("path", pgn_dir).load()

Partition planning is one InputPartition per ``part-*``/``*.pgn``
file (the files are independent — exactly how the sink sharded them),
so the parse runs distributed with no driver-side text handling. The
parser accepts the sink's tag layout ([Game N] header, quoted tag
pairs, blank line, one moves line) and is tolerant of missing tags
(PGN's '?' placeholder decodes back to NULL, making
write_pgn → read.format("pgn") lossless — asserted in
tests/test_chess.py).

A read makes three Python worker calls (create the source, plan the
partitions, read). Each used to pay ~0.1-0.17 s re-reading pyspark.zip's
directory in ``importlib.invalidate_caches()``; the zip-import gate in
``session.py`` (installed when a worker unpickles this class) removed
that, so a warm read of a 1-file output is ~0.12 s, not ~0.6 s."""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

PGN_SCHEMA = (
    "game_number INT, game_id STRING, white_name STRING, "
    "black_name STRING, opening_eco STRING, opening_name STRING, "
    "winner STRING, moves STRING"
)

_TAG_RE = re.compile(r'^\[(?P<key>[^"\]]+?)\s+"(?P<val>.*)"\]$')
_GAME_NO_RE = re.compile(r"^\[Game\s+(?P<n>\d+|\?)\]$")

_TAG_TO_COL = {
    "Game ID": "game_id",
    "White": "white_name",
    "Black": "black_name",
    "Opening Eco": "opening_eco",
    "Opening Name": "opening_name",
    "Game Winner": "winner",
}


def _decode(v: str | None):
    return None if v in (None, "?") else v


def parse_pgn_text(text: str):
    """Yield one dict per game block. A game starts at its ``[Game N]``
    header; tag lines fill the flat columns; the first non-tag,
    non-blank line after the tags is the moves line."""
    cur: dict | None = None
    for line in text.splitlines():
        line = line.rstrip("\r")
        m = _GAME_NO_RE.match(line)
        if m:
            if cur is not None:
                yield cur
            n = m.group("n")
            cur = {"game_number": None if n == "?" else int(n)}
            continue
        if cur is None or not line.strip():
            continue
        t = _TAG_RE.match(line)
        if t and t.group("key") in _TAG_TO_COL:
            cur[_TAG_TO_COL[t.group("key")]] = _decode(t.group("val"))
        elif not t:
            # moves line (append: multi-line movetext concatenates)
            prev = cur.get("moves")
            cur["moves"] = line if prev is None else f"{prev} {line}"
    if cur is not None:
        yield cur


class _PgnFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


_COLS = ("game_number", "game_id", "white_name", "black_name",
         "opening_eco", "opening_name", "winner", "moves")


class PgnReader(DataSourceReader):
    def __init__(self, files: list[str]):
        self.files = files

    def partitions(self):
        if not self.files:
            return [_PgnFile(None)]
        return [_PgnFile(f) for f in self.files]

    def read(self, partition: _PgnFile):
        if partition is None or partition.path is None:
            return
        with open(partition.path, encoding="utf-8") as fh:
            for game in parse_pgn_text(fh.read()):
                yield tuple(game.get(c) for c in _COLS)


class PgnDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pgn"

    def schema(self) -> str:
        return PGN_SCHEMA

    def reader(self, schema: StructType) -> PgnReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' is required")
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".pgn") or f.startswith("part-")
            ]
            files = [f for f in files if os.path.isfile(f)
                     and not f.endswith((".crc", "_SUCCESS"))]
        else:
            files = [path]
        return PgnReader(files)
