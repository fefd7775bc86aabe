"""Oracle parity harness as a test: every queries() entry must match
its oracle_sql() twin on sf0.001 (row count + columns + sorted values).
This is a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.harness import compare, normalize, oracle_db

QUERY_NAMES = sorted(entrymod.queries())


@pytest.fixture(scope="module")
def duck():
    return oracle_db(SF_SMALL)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_SMALL)
    rows = sdf.collect()

    oracles = entrymod.oracle_sql()
    if name not in oracles:
        pytest.skip("rows-only query (no SQL oracle)")
    why = compare(duck, name, oracles[name], sdf.columns, rows)
    assert why is None, why


def test_normalize_canonicalizes_decimal_rendering():
    """r5 verdict #3: the driver hashes stringified raw values, so an
    engine that renders a DECIMAL as '9561.950' must hash equal to one
    that renders '9561.95' — normalize must strip trailing zeros (and
    fold -0) BEFORE stringification, or a pure scale difference ships
    as a locally-invisible hash mismatch."""
    import decimal

    D = decimal.Decimal
    a = normalize([(D("9561.950"),)], ["v"])
    b = normalize([(D("9561.95"),)], ["v"])
    assert a == b
    # integral values must not regress into scientific notation
    assert normalize([(D("100.00"),)], ["v"]) == normalize([(D("100"),)], ["v"])
    assert normalize([(D("100"),)], ["v"])[0][0] == "100"
    # negative zero folds to zero at any scale
    assert normalize([(D("-0.00"),)], ["v"]) == normalize([(D("0"),)], ["v"])
    # and distinct values stay distinct
    assert normalize([(D("1.10"),)], ["v"]) != normalize([(D("1.2"),)], ["v"])
