"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin via
DuckDB at a given SF: row count, column-name set, and order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).
Run: python tools/check_parity.py [sf_dir] [key ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon_decimal(v: decimal.Decimal) -> str:
    """Canonical fixed-point form with trailing zeros stripped.

    Engines disagree on DECIMAL *rendering* even when the value is
    identical — an engine that hands back ``9561.950`` for a
    DECIMAL(13,3) must hash equal to one that hands back ``9561.95``
    (r5 verdict #3: the driver stringifies raw values, so a scale
    difference alone would read as a hash mismatch locally-undetected).
    normalize() strips trailing zeros but renders 100 as 1E+2; the
    'f' format puts it back in fixed-point. -0 folds to 0.
    """
    if v == 0:
        v = decimal.Decimal(0)
    return format(v.normalize(), "f")


def normalize(rows, colnames) -> list[tuple]:
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
                    # Full-precision repr: the driver hashes raw values,
                    # so any sub-1e-6 double drift must fail HERE too
                    # (a %.6f normalize let w_customer_value_bands ship
                    # red in r3). -0.0 folds to 0.0 first.
                    vals.append(repr(v + 0.0 if v == 0 else v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("parity-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error {type(e).__name__}: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        sn, on = normalize(srows, scols), normalize(orows, ocols)
        if sn != on:
            failures.append(name)
            diff = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {diff}")
            for i in diff:
                print(f"   spark : {sn[i]}")
                print(f"   oracle: {on[i]}")
        else:
            print(f"PASS {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
