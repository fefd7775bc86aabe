"""Observable-metric telemetry: counts ride the existing action
(no second scan, unlike the reference's log-then-count pattern)."""

from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.telemetry import observed


def test_observed_metrics_ride_the_action(spark):
    base = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
    # DISTINCT aggregates are disallowed in observed metrics (they'd
    # need their own shuffle); approx_count_distinct is the observable
    # — and scale-correct — alternative.
    df, obs = observed(
        base, "probe",
        rows=F.count(F.lit(1)),
        distinct_k=F.approx_count_distinct("k"),
        max_id=F.max("id"),
    )
    out = df.groupBy("k").count().collect()
    assert len(out) == 7
    assert obs.get == {"rows": 1000, "distinct_k": 7, "max_id": 999}


def test_observed_default_rowcount(spark):
    df, obs = observed(spark.range(0, 42), "rows_only")
    df.agg(F.sum("id")).collect()
    assert obs.get == {"rows": 42}


def test_fixture_attribution_accumulates(monkeypatch):
    """bench.py's fixture-cost attribution: memo builds recorded per
    name, hits add nothing, totals snapshot/reset (BENCH per-query
    numbers must separate one-time fixture cost from operator cost)."""
    from types import SimpleNamespace

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

    monkeypatch.setattr(fixtures, "MEMOS", {})
    fixtures.reset()

    @fixtures.session_memo("demo")
    def demo(spark, sf_dir):
        return sf_dir

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    for sf_dir in ("a", "a", "b"):
        demo(spark, sf_dir)
    snap = fixtures.snapshot()
    assert set(snap) == {"demo"} and snap["demo"] >= 0
    assert fixtures.total() == sum(snap.values())
    fixtures.reset()
    assert fixtures.total() == 0.0
