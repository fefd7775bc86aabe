"""Generate PLANS.md: a physical-plan audit of every registry query.

For each ``queries()`` entry, count the plan features that matter at
100 TB — shuffle exchanges, broadcast joins, sort-merge joins, parquet
pushdown, Python UDF presence — straight from the executed plan string.
Run: python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import __spark_entry__ as entrymod
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.plans import (
        physical_plan,
    )
    from tools.harness import session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = session("plan-audit", sf_dir)

    rows = []
    for name, fn in entrymod.queries().items():
        plan = physical_plan(fn(spark, sf_dir))
        rows.append((
            name,
            len(re.findall(r"Exchange hashpartitioning", plan)),
            len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
            len(re.findall(r"SortMergeJoin", plan)),
            len(re.findall(r"Scan parquet", plan)),
            "yes" if "PushedFilters: [" in plan and not re.search(
                r"PushedFilters: \[\]", plan) else "-",
            "YES" if re.search(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
                plan) else "-",
        ))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# Physical-plan audit (generated by tools/gen_plans.py)\n\n"
            f"Audited at `{sf_dir}` on the executed (AQE-final) plan of every\n"
            "registry query. `shuffles` counts hash-partition exchanges;\n"
            "`pushdown` marks non-empty parquet PushedFilters; a YES in\n"
            "`pyudf` flags Python in the plan — allowed ONLY for the mm_*\n"
            "multimodal queries, whose Arrow-batched mapInPandas decode\n"
            "kernels are the sanctioned Pandas-UDF use (binary codecs);\n"
            "every other QUERY plan stays JVM-only. (One fixture-side\n"
            "exception since r14: the pca moment pass runs a mapInArrow\n"
            "X'X inside the session-cached _pca_cov BUILD — it never\n"
            "appears in an audited query plan because the cov table is\n"
            "checkpoint-pinned; see OPTIMIZATION_r14.md.)\n\n"
            "| query | shuffles | bcast joins | smj | scans | pushdown | pyudf |\n"
            "| --- | --- | --- | --- | --- | --- | --- |\n"
        )
        for r in rows:
            f.write(f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | {r[5]} | {r[6]} |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
