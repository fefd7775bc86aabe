"""The registry run harness (tools/harness.py) without a Spark session:
the oracle verdict against DuckDB alone, and the per-entry runner on
stand-in frames."""

from __future__ import annotations

import decimal
import time
from types import SimpleNamespace

import duckdb
import pytest

from tools import harness

D = decimal.Decimal


@pytest.fixture
def con():
    with duckdb.connect() as c:
        yield c


@pytest.mark.parametrize("sql, columns, rows", [
    # a DECIMAL(13,3) rendering vs the same value at scale 2
    ("SELECT 9561.950::DECIMAL(13,3) AS v", ["v"], [(D("9561.95"),)]),
    ("SELECT 0.0::DOUBLE AS v", ["v"], [(-0.0,)]),
    ("SELECT 1 AS a, 'x' AS b", ["b", "a"], [("x", 1)]),
])
def test_compare_accepts_equal_results(con, sql, columns, rows):
    assert harness.compare(con, "demo", sql, columns, rows) is None


@pytest.mark.parametrize("columns, rows, why", [
    (["v", "w"], [(0, 0), (1, 1), (2, 2)],
     "demo: columns spark=['v', 'w'] oracle=['v']"),
    (["v"], [(0,), (1,)], "demo: rowcount spark=2 oracle=3"),
    (["v"], [(0,), (1,), (5,)],
     "demo: value mismatch at sorted rows [2]\n"
     "   spark : ('5',)\n"
     "   oracle: ('2',)"),
])
def test_compare_names_the_entry_on_mismatch(con, columns, rows, why):
    sql = "SELECT range AS v FROM range(3)"
    assert harness.compare(con, "demo", sql, columns, rows) == why


def test_check_parity_reexports_normalize():
    from tools.check_parity import normalize

    assert normalize is harness.normalize


def test_run_entry_records_error_and_fixture_seconds(monkeypatch):
    """bench.py's per-entry record: a raising entry comes back as its
    error string, and a session-memo build inside an entry lands in
    that entry's fixture_s and its codegen compiles in its compiles (a
    memo hit adds nothing to either)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

    monkeypatch.setattr(fixtures, "MEMOS", {})
    fixtures.reset()
    jvm = SimpleNamespace(compiled=100)
    monkeypatch.setattr(harness, "compiled", lambda spark: jvm.compiled)

    @fixtures.session_memo("demo")
    def demo(spark, sf_dir):
        time.sleep(0.01)
        jvm.compiled += 3
        return sf_dir

    class Frame:
        columns = ["v"]

        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    def entry(spark, sf_dir):
        return Frame([(demo(spark, sf_dir),)])

    def broken(spark, sf_dir):
        raise ValueError("boom")

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    built = harness.run_entry(spark, "a", entry)
    assert built.error is None and built.rows == [("a",)]
    assert built.columns == ["v"]
    assert built.fixture_s == fixtures.snapshot()["demo"] >= 0.01
    assert built.seconds >= 0.01
    assert built.compiles == 3
    hit = harness.run_entry(spark, "a", entry)
    assert hit.fixture_s == 0.0 and hit.rows == [("a",)]
    assert hit.compiles == 0

    failed = harness.run_entry(spark, "a", broken)
    assert failed.error == "ValueError: boom"
    assert failed.seconds is None and failed.rows is None
    assert failed.compiles == 0

    # the warm pass swallows entry errors and resets the build record
    harness.warm_registry(spark, {"broken": broken, "entry": entry})
    assert fixtures.total() == 0.0
