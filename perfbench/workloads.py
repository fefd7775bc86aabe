"""The benchmark's workloads: inputs, set-up, operations and checks.

A workload makes its inputs from the seed (``prepare``), readies a fresh
session (``setup``, repeated to time set-up), and lists the operations
of one pass (``ops``). Every operation's output is checked: registry
entries against their DuckDB ``oracle_sql()`` twin, fixture builds by
the tables they leave, chess batches by reading the PGN back.

``min_samples`` is the fewest untraced operation latencies a run
collects; ``warm_passes`` untimed passes run before them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import games
import tables

PKG = "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark"


@dataclass
class Op:
    name: str
    kind: str                       # "query" | "write" | "read"
    run: Callable                   # (ctx) -> result
    check: Callable                 # (result) -> bool
    before: Callable | None = None  # untimed preparation, (ctx) -> None


class Ctx:
    """What an operation sees: the session and the tracer (``None`` on
    untraced passes)."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = None

    def phase(self, kind: str):
        import contextlib

        return self.tracer.phase(kind) if self.tracer else contextlib.nullcontext()


def _collect(ctx: Ctx, build: Callable):
    """Build a DataFrame, plan it (traced only), collect it."""
    with ctx.phase("build"):
        df = build()
    if ctx.tracer:
        ctx.tracer.plan(df)
    with ctx.phase("action"):
        rows = df.collect()
    if ctx.tracer:
        ctx.tracer.finish_action(df, len(rows))
    return df.columns, rows


class Registry:
    """Registry entries over seeded tables, each checked against its
    DuckDB oracle (computed once per input)."""

    warm_passes = 1

    def __init__(self, entries: tuple[str, ...], sf: float, min_samples: int):
        self.entries = entries
        self.sf = sf
        self.min_samples = min_samples
        self.expected: dict[str, tuple] = {}

    def prepare(self, run_dir: str, seed: int) -> dict:
        import duckdb
        from tools.check_parity import normalize

        import __spark_entry__ as entry

        self.sf_dir = os.path.join(run_dir, "input")
        size = tables.write(self.sf_dir, seed, self.sf)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            for e in self.entries:
                res = con.execute(oracles[e])
                cols = [d[0] for d in res.description]
                self.expected[e] = (sorted(cols), normalize(res.fetchall(), cols))
        finally:
            con.close()
        return {"sf": self.sf, "input_bytes": size,
                "lineitem_rows": int(600_000 * self.sf)}

    def setup(self, spark) -> None:
        """Load the session's table memos."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import catalog

        for t in tables.TABLES:
            catalog.table(spark, self.sf_dir, t)

    def ops(self, ctx: Ctx) -> list[Op]:
        import __spark_entry__ as entry

        qs = entry.queries()
        return [self._op(e, qs[e]) for e in self.entries]

    def _op(self, name: str, fn) -> Op:
        from tools.check_parity import normalize

        cols, rows = self.expected[name]

        def run(ctx):
            return _collect(ctx, lambda: fn(ctx.spark, self.sf_dir))

        def check(result):
            scols, srows = result
            return sorted(scols) == cols and normalize(srows, scols) == rows

        return Op(name, "query", run, check)


#: ``operators/etl.py`` session-fixture builders timed as writes: a
#: plain versioned write, a copy-on-write MERGE and a replace-where, in
#: an order where none builds another's fixture inside its own call
ETL_FIXTURES = (
    ("versioned_orders", "_versioned_orders_path"),
    ("cow_orders", "_cow_orders_path"),
    ("replace_where_orders", "_replace_where_path"),
)


class Lakehouse(Registry):
    """Writes beside reads on the versioned layer: each pass builds
    ``ETL_FIXTURES`` as write operations, then runs the entries that read
    them. The fixture caches key on the input path, so each pass reads
    the input through a new alias of it and every fixture is built
    again."""

    def prepare(self, run_dir: str, seed: int) -> dict:
        size = super().prepare(run_dir, seed)
        self.input_dir = self.sf_dir
        self.passes = 0
        return size

    def ops(self, ctx: Ctx) -> list[Op]:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import etl

        def new_alias(ctx):
            self.sf_dir = f"{self.input_dir}.p{self.passes}"
            os.symlink(self.input_dir, self.sf_dir)
            self.passes += 1

        def build_op(fixture: str, builder: str) -> Op:
            fn = getattr(etl, builder)

            def run(ctx):
                with ctx.phase("build"):
                    out = fn(ctx.spark, self.sf_dir)
                return out if isinstance(out, tuple) else (out,)

            def check(paths):
                return os.path.isdir(paths[0]) and bool(os.listdir(paths[0]))

            return Op(f"build.{fixture}", "write", run, check,
                      before=new_alias if fixture == ETL_FIXTURES[0][0] else None)

        return [build_op(*f) for f in ETL_FIXTURES] + super().ops(ctx)


class ChessEtl:
    """The paper's pipeline on seeded Lichess ND-JSON: each pass lands
    one new batch file, runs one incremental batch
    (``FileLedger.new_files`` → ``read_games`` → ``puzzle_pipeline`` →
    numbered ``write_pgn`` → ``FileLedger.mark``) and reads PGN back
    through the ``pgn`` data source twice: this batch's output and the
    first pass's."""

    #: the JIT is still settling after one pass of these short operations
    warm_passes = 2

    def __init__(self, batches: int, games_per_batch: int, min_samples: int):
        self.batches = batches
        self.games_per_batch = games_per_batch
        self.min_samples = min_samples
        self.expected: dict = {}
        self.landed: list[str] = []

    def prepare(self, run_dir: str, seed: int) -> dict:
        self.run_dir = run_dir
        self.pool = os.path.join(run_dir, "pool")
        self.landing = os.path.join(run_dir, "landing")
        self.out = os.path.join(run_dir, "pgn")
        os.makedirs(self.landing)
        self.expected = games.write_batches(
            self.pool, os.path.join(run_dir, "expected"), seed,
            self.batches, self.games_per_batch)
        return {"batches": self.batches, "games_per_batch": self.games_per_batch,
                "batch_bytes": sum(v["bytes"] for v in self.expected.values())
                // self.batches}

    def setup(self, spark) -> None:
        """Register the ``pgn`` data source with the session."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.pgn_ds import (
            PgnDataSource,
        )

        spark.dataSource.register(PgnDataSource)

    def ops(self, ctx: Ctx) -> list[Op]:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import chess
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources import ndjson
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.incremental import (
            FileLedger,
        )

        ledger = FileLedger(os.path.join(self.run_dir, "ledger.txt"))
        pool = sorted(self.expected)

        def land(ctx):
            k = len(self.landed)
            src = pool[k % len(pool)]
            os.link(os.path.join(self.pool, src),
                    os.path.join(self.landing, f"p{k:05d}_{src}"))
            self.landed.append(src)

        def batch(ctx):
            with ctx.phase("build"):
                files = ledger.new_files(self.landing)
                flat = chess.puzzle_pipeline(ndjson.read_games(ctx.spark, files))
            out = os.path.join(self.out, f"p{len(self.landed) - 1:05d}")
            with ctx.phase("action"):
                chess.write_pgn(flat, out)
            with ctx.phase("build"):
                ledger.mark(*files)
            return files, out

        def batch_ok(result):
            files, out = result
            return (len(files) == 1
                    and os.path.exists(os.path.join(out, "_SUCCESS")))

        def read_back(k_of: Callable[[], int]):
            def run(ctx):
                k = k_of()
                path = os.path.join(self.out, f"p{k:05d}")
                _, rows = _collect(ctx, lambda: ctx.spark.read.format("pgn")
                                   .option("path", path).load()
                                   .select("game_number", "game_id"))
                return self.landed[k], rows
            return run

        def read_ok(result):
            src, rows = result
            ids = self.expected[src]["ids"]
            return sorted((r[0], r[1]) for r in rows) == list(
                zip(range(1, len(ids) + 1), ids))

        return [Op("batch", "write", batch, batch_ok, before=land),
                Op("read_back", "read", read_back(lambda: len(self.landed) - 1),
                   read_ok),
                Op("read_back_first", "read", read_back(lambda: 0), read_ok)]


WORKLOADS = {
    # Writes beside reads on the versioned layer: etl.py fixture builds
    # timed as writes, then etl entries that read them. abc_parts_revenue
    # (relational) rides along for the functions.caching frame cache and
    # agg_incremental_rollup for catalog.spread.
    "lakehouse": lambda: Lakehouse((
        "snapshot_read_version", "snapshot_diff_orders", "snapshot_merge_cow",
        "snapshot_replace_where", "agg_incremental_rollup", "cdc_merge_orders",
        "abc_parts_revenue",
    ), sf=0.01, min_samples=20),
    # The paper's own pipeline: nested-JSON parsing, range-partition
    # numbering with its persist, the text sink and the Python PGN reader.
    "chess_etl": lambda: ChessEtl(batches=4, games_per_batch=2000,
                                  min_samples=30),
}
