"""Semantic checks for the warehouse-maintenance operators (etl.py).

The oracle harness (test_oracle.py) already hash-matches these against
DuckDB; here we assert the MERGE semantics directly — deletes gone,
updates repriced, untouched rows byte-identical — plus cube/profile
shape invariants.
"""

from __future__ import annotations

import concurrent.futures as cf
import os
import time

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import etl

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def merged(spark):
    return etl.cdc_merge_orders(spark, SF).cache()


def test_merge_drops_deletes(merged):
    assert merged.filter("o_orderkey % 10 = 0").count() == 0


def test_merge_reprices_updates(spark, merged):
    o = table(spark, SF, "orders")
    orig = {r.o_orderkey: r.o_totalprice
            for r in o.filter("o_orderkey % 2 = 0 AND o_orderkey % 10 != 0").collect()}
    got = {r.o_orderkey: r.o_totalprice
           for r in merged.filter("o_orderkey % 2 = 0").collect()}
    assert set(got) == set(orig)
    for k, v in got.items():
        assert v == pytest.approx(orig[k] * 1.1, abs=1e-9)


def test_merge_keeps_untouched_rows_identical(spark, merged):
    o = table(spark, SF, "orders")
    untouched = o.filter("o_orderkey % 3 != 0 AND o_orderkey % 2 != 0")
    assert merged.filter("o_orderkey % 2 != 0").exceptAll(untouched).count() == 0
    assert untouched.exceptAll(merged.filter("o_orderkey % 2 != 0")).count() == 0


def test_merge_key_is_unique(merged):
    assert merged.groupBy("o_orderkey").count().filter("count > 1").count() == 0


def test_cube_grand_total_matches_table(spark):
    cube = etl.cube_sales(spark, SF)
    grand = cube.filter("o_year IS NULL AND o_orderpriority IS NULL").collect()
    assert len(grand) == 1
    n = table(spark, SF, "orders").count()
    assert grand[0].n_orders == n


def test_profile_counts(spark):
    prof = {r.col_name: r for r in etl.profile_columns(spark, SF).collect()}
    li = table(spark, SF, "lineitem")
    n = li.count()
    assert set(prof) == set(etl._PROFILE_COLS)
    for c, row in prof.items():
        assert row.n_rows == n
        assert row.n_null == 0
        assert row.min_val <= row.max_val
    assert prof["l_discount"].n_distinct == li.select("l_discount").distinct().count()


def test_catalog_normalizes_events_ts_variants(spark, tmp_path):
    """The r2 TIMESTAMP_NTZ fix: whatever physical type events.ts
    arrives in (µs NTZ like the driver's parquet, or raw bigint nanos),
    catalog.table() must hand operators a plain TIMESTAMP that
    unix_micros() accepts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table

    base = dict(
        event_id=pa.array([1, 2], pa.int64()),
        user_id=pa.array([10, 11], pa.int64()),
        event_type=pa.array(["view", "click"]),
        value=pa.array([1.0, 2.0], pa.float64()),
        props=pa.array(['{"a":1}', "{}"]),
    )
    micros = [1704067200_000_000, 1704067260_000_000]

    for name, ts_arr in [
        ("ntz", pa.array(micros, pa.timestamp("us"))),          # TIMESTAMP_NTZ
        ("nanos", pa.array([m * 1000 for m in micros],
                           pa.timestamp("ns"))),                # nanosAsLong path
    ]:
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"event_id": base["event_id"], "ts": ts_arr,
                                 "user_id": base["user_id"],
                                 "event_type": base["event_type"],
                                 "value": base["value"], "props": base["props"]}),
                       str(d / "events.parquet"))
        nanos_as_long = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        df = table(spark, str(d), "events")
        if name == "ntz":  # only a NANOS footer may change the session conf
            assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == nanos_as_long
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = sorted(r[0] for r in df.select(F.expr("unix_micros(ts)")).collect())
        assert got == micros, name


def test_concurrent_fixture_callers_build_once(spark, tmp_path, monkeypatch):
    """Four threads asking for one cold fixture share one build and one
    path: the memo builds a missing key under that key's lock, so the
    recorded build seconds cannot exceed the wall."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures, versioned

    alias = str(tmp_path / "sf")
    os.symlink(SF, alias)  # a new input path: a cold fixture key
    merges = []
    merge = versioned.merge_version_cow
    monkeypatch.setattr(versioned, "merge_version_cow",
                        lambda *a, **kw: merges.append(1) or merge(*a, **kw))
    built0 = fixtures.snapshot().get("cow_orders", 0.0)
    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(4) as pool:
        paths = list(pool.map(
            lambda _: etl._cow_orders_path(spark, alias), range(4)))
    wall = time.perf_counter() - t0
    assert len(set(paths)) == 1, paths
    assert len(merges) == 1
    assert fixtures.snapshot()["cow_orders"] - built0 <= wall


def test_repeated_lakehouse_pass_compiles_nothing(spark, tmp_path):
    """A steady-state lakehouse pass (the three etl fixture builds on a
    new input alias, then the seven entries that read them) compiles no
    codegen class: Spark's codegen cache holds the pass's working set,
    and no step generates source that never repeats.

    The passes run without the codegen stage id in class names. That id
    follows the order in which AQE finishes query stages, which varies
    with timing, and a class that differs only in it compiles again once
    per order seen (``abc_parts_revenue`` under a loaded suite)."""
    import __spark_entry__ as entrymod

    from tools.harness import compiled

    qs = entrymod.queries()
    builds = ("_versioned_orders_path", "_cow_orders_path",
              "_replace_where_path")
    entries = ("snapshot_read_version", "snapshot_diff_orders",
               "snapshot_merge_cow", "snapshot_replace_where",
               "agg_incremental_rollup", "cdc_merge_orders",
               "abc_parts_revenue")

    def one_pass(i: int) -> dict[str, int]:
        alias = str(tmp_path / f"sf{i}")
        os.symlink(SF, alias)  # new input path: every fixture builds again
        steps = [(b, lambda b=b: getattr(etl, b)(spark, alias)) for b in builds]
        steps += [(e, lambda e=e: qs[e](spark, alias).collect())
                  for e in entries]
        compiles = {}
        for name, step in steps:
            c0 = compiled(spark)
            step()
            compiles[name] = compiled(spark) - c0
        return compiles

    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        one_pass(0)
        one_pass(1)
        third = one_pass(2)
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert {k: n for k, n in third.items() if n} == {}
