"""Stuffed-magnitude regressions for the r9 BIGINT-overflow class.

The r9 driver bench caught ``orders_gini_by_nation`` dying with
ARITHMETIC_OVERFLOW at sf0.1 (the ``numerator × 1e6`` ppm product hits
~2.1e19 > 2**63−1) while every sf0.001 gate stayed green — the data was
simply 100× too small to expose it. Two siblings
(``ev_type_diversity_daily``, ``ev_fano_factor``) carried the same
``1e6 × Σc²`` headroom class latently. These tests build SYNTHETIC
tables whose magnitudes force every one of those products past 2**63
(a 1e7-event stuffed day; a 2000-customer nation with ~2e13 total
cents) and assert the real operators — not extracted formulas — stay
oracle-exact against DuckDB on the same parquet. The pre-fix BIGINT
formulations deterministically throw on these fixtures; the
DECIMAL(38,0)/HUGEINT formulations must agree bit-for-bit.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.harness import compare, oracle_db

N_EVENTS = 10_000_000  # one stuffed day: sum(c^2)*1e6 ~ 9e19 > 2**63
N_CUST = 2_000         # linear revenue ramp: numerator*1e6 ~ 1.3e22


@pytest.fixture(scope="module")
def stuffed_dir(spark, tmp_path_factory):
    """A synthetic sf_dir whose magnitudes overflow the pre-fix math."""
    d = tmp_path_factory.mktemp("stuffed_sf")

    # events: one day, one dominant type (96%) + a tail type, plus a
    # small second day so fano sees n_days >= 2 per type.
    (
        spark.range(N_EVENTS)
        .selectExpr(
            "id AS event_id",
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
            " id % 86400) AS ts",
            "id % 1000 AS user_id",
            "CASE WHEN id % 25 = 0 THEN 'view' ELSE 'click' END"
            " AS event_type",
            "CAST(id % 100 AS DOUBLE) AS value",
            "'{}' AS props",
        )
        .union(
            spark.range(1_000).selectExpr(
                "id + 20000000 AS event_id",
                "timestamp'2026-01-02 12:00:00' AS ts",
                "id AS user_id",
                "IF(id % 2 = 0, 'click', 'view') AS event_type",
                "CAST(0 AS DOUBLE) AS value",
                "'{}' AS props",
            )
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(str(d / "events.parquet"))
    )

    # nation / customer / orders: one nation, 2000 customers, one order
    # each with totalprice = custkey * $100k — a linear ramp so the
    # Gini numerator 2Σi·x − (n+1)Σx is LARGE (≈1.3e16; ×1e6 ≈ 1.3e22,
    # ~1400× past 2**63) instead of ~0 as equal values would give.
    spark.createDataFrame(
        [(0, "STUFFLAND", 0)], "n_nationkey INT, n_name STRING, n_regionkey INT"
    ).write.mode("overwrite").parquet(str(d / "nation.parquet"))
    (
        spark.range(1, N_CUST + 1)
        .selectExpr(
            "id AS c_custkey",
            "concat('Customer#', id) AS c_name",
            "CAST(0 AS INT) AS c_nationkey",
            "CAST(0 AS DOUBLE) AS c_acctbal",
            "'BUILDING' AS c_mktsegment",
        )
        .write.mode("overwrite")
        .parquet(str(d / "customer.parquet"))
    )
    (
        spark.range(1, N_CUST + 1)
        .selectExpr(
            "id AS o_orderkey",
            "id AS o_custkey",
            "'O' AS o_orderstatus",
            "CAST(id * 100000.0 AS DOUBLE) AS o_totalprice",
            "timestamp'2026-01-01' AS o_orderdate",
            "'1-URGENT' AS o_orderpriority",
        )
        .write.mode("overwrite")
        .parquet(str(d / "orders.parquet"))
    )
    return str(d)


@pytest.fixture(scope="module")
def stuffed_duck(stuffed_dir):
    return oracle_db(stuffed_dir, ("nation", "customer", "orders", "events"))


@pytest.mark.parametrize(
    "name",
    ["orders_gini_by_nation", "ev_type_diversity_daily", "ev_fano_factor"],
)
def test_operator_survives_stuffed_magnitudes(
    spark, stuffed_dir, stuffed_duck, name
):
    sdf = entrymod.queries()[name](spark, stuffed_dir)
    rows = sdf.collect()  # pre-fix: throws here
    assert len(rows) > 0
    why = compare(stuffed_duck, name, entrymod.oracle_sql()[name],
                  sdf.columns, rows)
    assert why is None, why


def test_stuffed_fixture_actually_exceeds_bigint_headroom(stuffed_duck):
    """Guard the guard: if the fixture shrinks below the overflow
    threshold the regression silently stops testing anything."""
    (ss,) = stuffed_duck.execute(
        "SELECT SUM(CAST(c AS HUGEINT) * c) FROM ("
        "  SELECT COUNT(*) AS c FROM events"
        "  WHERE CAST(ts AS DATE) = DATE '2026-01-01'"
        "  GROUP BY event_type)"
    ).fetchone()
    assert int(ss) * 1_000_000 > 2**63 - 1

    (num,) = stuffed_duck.execute(
        "WITH rev AS (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS"
        " DECIMAL(18,2)) * 100) AS BIGINT) AS x FROM orders GROUP BY 1),"
        " ranked AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey)"
        " AS i FROM rev)"
        " SELECT 2 * SUM(CAST(i AS HUGEINT) * x)"
        "  - (CAST(COUNT(*) AS HUGEINT) + 1) * SUM(x) FROM ranked"
    ).fetchone()
    assert int(num) * 1_000_000 > 2**63 - 1
