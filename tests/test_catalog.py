"""catalog.table loads: the footer schema equals Spark's inference, a
covered load runs no Spark job, and every other file falls back to
Spark's own inference with the same schema and rows."""

from __future__ import annotations

import glob
import os
import uuid
from decimal import Decimal

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import catalog
from tests.conftest import SF_SMALL


def test_footer_schema_is_inferred_schema_and_loads_run_no_job(spark, tmp_path):
    root = os.path.dirname(SF_SMALL)
    files = [f for sf in ("sf0.001", "sf0.01", "sf0.1")
             for f in sorted(glob.glob(f"{root}/{sf}/*.parquet"))]
    assert len(files) == 3 * len(catalog.TABLES)
    for f in files:
        assert catalog.footer_schema(spark, f) == spark.read.parquet(f).schema, f

    alias = str(tmp_path / "sf")
    os.symlink(SF_SMALL, alias)  # a new input path: no memoized loads
    sc = spark.sparkContext
    group = f"catalog-loads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog loads")
    try:
        for name in catalog.TABLES:
            catalog.table(spark, alias, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _fallback_columns():
    import pyarrow as pa

    return {
        "ts_utc": pa.array([1, None, 3], pa.timestamp("us", tz="UTC")),
        "ts_ns": pa.array([1000, None, 3000], pa.timestamp("ns")),
        "decimal": pa.array([Decimal("1.25"), None, Decimal("-3.10")],
                            pa.decimal128(12, 2)),
        "uint32": pa.array([1, None, 4_000_000_000], pa.uint32()),
        "int8": pa.array([1, None, -3], pa.int8()),
        "int16": pa.array([1, None, -3], pa.int16()),
        "struct": pa.array([{"a": 1, "b": "x"}, None, {"a": 3, "b": None}]),
        "dictionary": pa.array(["a", None, "a"]).dictionary_encode(),
        "large_string": pa.array(["a", None, "c"], pa.large_string()),
        "binary": pa.array([b"a", None, b"c"], pa.binary()),
    }


def _read(load):
    """Schema and rows of a load, or the error condition it raises."""
    from pyspark.errors import AnalysisException

    try:
        df = load()
        return df.schema, df.orderBy("id").collect()
    except AnalysisException as e:
        return e.getCondition()


@pytest.mark.parametrize("kind", [*_fallback_columns(), "spark_written"])
def test_uncovered_files_load_as_spark_infers(spark, tmp_path, kind):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders.parquet")
    if kind == "spark_written":
        out = str(tmp_path / "out")
        (spark.range(1, 4).selectExpr("id", "cast(id AS string) AS c")
         .coalesce(1).write.parquet(out))
        os.rename(glob.glob(f"{out}/*.parquet")[0], path)
    else:
        pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                                 "c": _fallback_columns()[kind]}), path)

    assert catalog.footer_schema(spark, path) is None
    assert (_read(lambda: catalog._load_table(spark, str(tmp_path), "orders"))
            == _read(lambda: spark.read.parquet(path)))
