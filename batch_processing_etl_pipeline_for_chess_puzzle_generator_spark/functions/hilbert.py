"""Hilbert-curve clustering key — the locality-better alternative to
Z-order (functions/zorder.py).

Morton interleaving is cheap but takes long diagonal jumps every time
a high bit flips, so a 2-D box predicate can span many disjoint key
ranges. The Hilbert curve visits grid cells so that CONSECUTIVE keys
are always grid NEIGHBOURS (adjacency property, proven in
tests/test_zorder.py), which keeps a box's cells in fewer, longer key
runs — fewer files touched per range predicate after a sort-write.
Databricks moved Delta's default clustering from ZORDER to Hilbert
(liquid clustering) for exactly this reason; SCALING.md carries this
repo's measured file-span comparison.

Construction: the classic per-bit fold (quadrant index + rotate) is
UNROLLED into one SELECT per bit — plain CASE/integer arithmetic, no
lambdas and no UDF, so the SAME generated text runs whole-stage-
codegen'd in Spark and as the DuckDB oracle (only the integer-division
token differs, exactly like morton_sql). The fold is NOT expressed as
a higher-order-function reduce on purpose: DuckDB 1.0.0's
``list_reduce`` miscomputes row-dependent folds under vectorized
multi-row execution (reproduced: identical query right per-row, wrong
over a 16-row batch), and an unrolled chain is engine-proof by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def xy2d(n: int, x: int, y: int) -> int:
    """Python reference (tests + documentation): Hilbert index of grid
    cell (x, y) on the n×n grid, n a power of two. The classic
    iterative quadrant-fold: per bit, take the quadrant's rank along
    the curve, then reflect/transpose the coordinate frame so the next
    bit is read in the sub-square's own orientation."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def _step_exprs(s: int, n: int, div: str) -> tuple[str, str, str]:
    """(new_hx, new_hy, new_hd) expressions for one fold step over the
    running columns hx/hy/hd. ``(3*rx) XOR ry`` is emitted as its
    closed form ``3*rx + ry - 2*rx*ry`` (identical on {0,1}×{0,1}) —
    no XOR operator needed in either dialect."""
    rx = f"((hx {div} {s}) & 1)"
    ry = f"((hy {div} {s}) & 1)"
    new_x = (f"CASE WHEN {ry} = 1 THEN hx "
             f"WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END")
    new_y = (f"CASE WHEN {ry} = 1 THEN hy "
             f"WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END")
    new_d = f"hd + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
    return new_x, new_y, new_d


def with_hilbert_key(df: DataFrame, x: str, y: str, bits: int = 8,
                     key_col: str = "h_key") -> DataFrame:
    """Append the Hilbert index of (x, y) — both must already be
    non-negative ints below 2**bits (bucket them first, same contract
    as with_zorder_key). One narrow select per bit; every step is
    whole-stage-codegen'd integer arithmetic."""
    n = 1 << bits
    keep = df.columns
    out = df.selectExpr(
        *keep,
        f"CAST({x} AS BIGINT) AS hx",
        f"CAST({y} AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for i in range(bits - 1, -1, -1):
        nx, ny, nd = _step_exprs(1 << i, n, "div")
        out = out.selectExpr(*keep, f"{nx} AS hx", f"{ny} AS hy",
                             f"{nd} AS hd")
    return out.selectExpr(*keep, f"hd AS {key_col}")


def hilbert_oracle_sql(x: str, y: str, bits: int, source_sql: str,
                       key_col: str = "h_key") -> str:
    """The DuckDB twin: the same unrolled steps as nested subqueries
    (linear text growth — each step references the previous subquery's
    columns). ``source_sql`` is the innermost FROM body; the result
    exposes the source's columns plus ``key_col``."""
    n = 1 << bits
    inner = (f"SELECT *, CAST({x} AS BIGINT) AS hx, "
             f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
             f"FROM ({source_sql})")
    for i in range(bits - 1, -1, -1):
        nx, ny, nd = _step_exprs(1 << i, n, "//")
        inner = (f"SELECT * EXCLUDE (hx, hy, hd), {nx} AS hx, "
                 f"{ny} AS hy, {nd} AS hd FROM ({inner})")
    return (f"SELECT * EXCLUDE (hx, hy, hd), hd AS {key_col} "
            f"FROM ({inner})")
