"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` twin via
DuckDB at a given SF: row count, column-name set, and order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).
Run: python tools/check_parity.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# normalize is re-exported: the benchmark's workloads import it from here
from tools.harness import (  # noqa: E402
    compare,
    normalize,  # noqa: F401
    oracle_db,
    run_entry,
    session,
)


def main() -> int:
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = session("parity-check", sf_dir)
    oracles = entrymod.oracle_sql()
    con = oracle_db(sf_dir)

    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        run = run_entry(spark, sf_dir, fn)
        if run.error:
            failures.append(name)
            print(f"FAIL {name}: spark error {run.error}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(run.rows)} rows (no oracle)")
            continue
        why = compare(con, name, oracles[name], run.columns, run.rows)
        if why:
            failures.append(name)
            print(f"FAIL {why}")
        else:
            print(f"PASS {name}: {len(run.rows)} rows")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
