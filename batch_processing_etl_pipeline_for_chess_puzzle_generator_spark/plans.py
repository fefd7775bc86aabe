"""Plan inspection helpers: make physical-plan properties assertable.

The 100 TB design invariants (§6 of SURVEY.md) are properties of the
PHYSICAL plan, not the code — no cartesian products, no Python
evaluation in hot paths, the expected join strategy. These helpers
return the plan text tests assert on, for tests and for interactive
`.explain` review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed-plan string (AQE: initial plan until first execution)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain('formatted')` as a string (scan details incl.
    PushedFilters / ReadSchema)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def assert_no_cartesian(df: DataFrame, name: str = "") -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
