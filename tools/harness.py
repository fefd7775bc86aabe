"""The one registry run harness: how a ``queries()`` entry is warmed,
run, timed and checked against its DuckDB oracle.

``bench.py``, ``tools/check_parity.py``, ``tools/gen_plans.py`` and the
oracle tests all go through these helpers:

- :func:`session` builds the tuned session and warms the JVM, the
  parquet footer cache and the Python worker pool;
- :func:`warm_registry` compiles every entry's codegen once at sf0.001;
- :func:`run_entry` runs one entry: its seconds, its fixture-build
  seconds, the codegen classes it compiled, its rows or its error;
- :func:`oracle_db` opens DuckDB views over an sf-dir's tables;
- :func:`compare` is the oracle verdict: column set, row count and
  order-insensitive values (:func:`normalize`).
"""

from __future__ import annotations

import decimal
import math
import os
import time
from typing import Any, NamedTuple

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import (
    catalog,
    fixtures,
    get_spark,
)


def session(app: str, sf_dir: str):
    """``get_spark(app)`` at log level ERROR, warmed so the first timed
    entry does not pay session spin-up."""
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM/executors and the parquet footer cache.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # ... and the PYTHON worker pool: the first Arrow task on each of
    # the N cores forks a worker that imports pandas/pyarrow (~0.5 s
    # each, contending) — without this the first multimodal entry of a
    # timed pass pays ~3-4 s of simultaneous cold imports instead of
    # decode work (the sf0.001 warm pass does not warm them, since tiny
    # inputs skip the spread fan-out). ``_noop`` is pickled by value, so
    # it also imports the package: that installs session.py's zip-import
    # gate in each warmed worker before the first timed task.
    n_cores = spark.sparkContext.defaultParallelism

    def _noop(batches):
        # the imports ARE the warmup
        import pandas  # noqa: F401

        import batch_processing_etl_pipeline_for_chess_puzzle_generator_spark  # noqa: F401
        yield from batches

    (spark.range(n_cores * 4, numPartitions=n_cores)
     .mapInPandas(_noop, schema="id long").count())
    return spark


def warm_registry(spark, qs: dict) -> None:
    """Steady-state warm-up (the standard TPC-style warmup run): run the
    registry once at sf0.001 so whole-stage-codegen classes are compiled
    and JIT'd before a timed pass — also when the timed SF is sf0.001
    itself, so every SF measures the same steady state (a cold sf0.001
    pass is ~2× its warm wall, all of it one-time compilation).

    It warms only while the registry's generated classes all fit in
    Spark's codegen cache (``spark.sql.codegen.cache.maxEntries`` in
    ``session._DEFAULTS``). The cache is an LRU and the passes visit
    the classes in the same cycle, so with a working set larger than
    the cache every class is evicted before the timed pass reuses it.
    ``run_entry``'s ``compiles`` shows whether it did.

    Then reset the fixture-build record: the pass built the sf0.001
    copies of the session fixtures, and the timed pass must record
    exactly its own builds."""
    from __spark_entry__ import _SF0001

    if os.path.isdir(_SF0001):
        for fn in qs.values():
            try:
                fn(spark, _SF0001).collect()
            except Exception:  # noqa: BLE001 — warmup must never fail the bench
                pass
    fixtures.reset()


def compiled(spark) -> int:
    """Generated classes this JVM has compiled so far. A lookup that
    hits Spark's codegen cache compiles nothing, so the delta over a
    repeated workload counts its cache misses."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


class Run(NamedTuple):
    """One entry's run: ``seconds`` (None on error) covers building,
    planning, executing and collecting the DataFrame; ``fixture_s`` is
    the part of it spent inside session-fixture builds; ``compiles``
    counts the codegen classes compiled meanwhile."""

    seconds: float | None
    fixture_s: float
    compiles: int
    df: Any
    rows: list | None
    error: str | None

    @property
    def columns(self) -> list[str]:
        return self.df.columns


def run_entry(spark, sf_dir: str, fn) -> Run:
    """Run ``fn(spark, sf_dir)`` to a collected result. An exception is
    returned as ``"Type: message"`` so one bad entry cannot lose a
    whole registry record."""
    df = rows = error = seconds = None
    fx0, cc0 = fixtures.total(), compiled(spark)
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        rows = df.collect()
        seconds = round(time.perf_counter() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — recorded, not raised
        error = f"{type(exc).__name__}: {exc}"
    return Run(seconds, fixtures.total() - fx0, compiled(spark) - cc0,
               df, rows, error)


def oracle_db(sf_dir: str, tables=catalog.TABLES):
    """A DuckDB connection with one view per input table of ``sf_dir``;
    a Spark-written ``<t>.parquet/`` directory reads as its part files."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(con, name: str, sql: str, columns, rows) -> str | None:
    """None when ``columns``/``rows`` match the oracle ``sql`` run on
    ``con``; otherwise why not, starting with ``name``."""
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:  # noqa: BLE001 — reported as the verdict
        return f"{name}: oracle error {type(e).__name__}: {e}"
    if sorted(columns) != sorted(ocols):
        return f"{name}: columns spark={sorted(columns)} oracle={sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{name}: rowcount spark={len(rows)} oracle={len(orows)}"
    sn, on = normalize(rows, columns), normalize(orows, ocols)
    if sn == on:
        return None
    diff = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b][:3]
    return "\n".join([f"{name}: value mismatch at sorted rows {diff}",
                      *(f"   spark : {sn[i]}\n   oracle: {on[i]}"
                        for i in diff)])


def _canon_decimal(v: decimal.Decimal) -> str:
    """Canonical fixed-point form with trailing zeros stripped.

    Engines disagree on DECIMAL *rendering* even when the value is
    identical — an engine that hands back ``9561.950`` for a
    DECIMAL(13,3) must hash equal to one that hands back ``9561.95``
    (a hash over stringified raw values would read a scale difference
    alone as a mismatch). normalize() strips trailing zeros but renders 100 as 1E+2; the
    'f' format puts it back in fixed-point. -0 folds to 0.
    """
    if v == 0:
        v = decimal.Decimal(0)
    return format(v.normalize(), "f")


def normalize(rows, colnames) -> list[tuple]:
    """Rows as sorted tuples of strings, columns sorted by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, decimal.Decimal):
                vals.append(_canon_decimal(v))
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    # Full-precision repr: a hash over raw values sees
                    # any sub-1e-6 double drift, so it must fail here too
                    # (a %.6f normalize once let w_customer_value_bands
                    # pass locally and fail that hash). -0.0 folds to 0.0
                    # first.
                    vals.append(repr(v + 0.0 if v == 0 else v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out
