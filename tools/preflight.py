"""Pre-commit gate: formulation lint + full-registry DuckDB parity.

One command that runs the defenses that caught (or would have
caught) every historical driver-red:

0. ``tools/dedup_registry.py --self-test`` — the near-twin gate: two
   entries whose oracle texts are bag-Jaccard-similar above threshold
   and not adjudicated fail the commit (the r11
   orders_benford/orders_mannwhitney duplicates' shape), after a
   seeded-twin self-test proves the detector still fires.
1. ``tools/lint_formulations.py`` — static rules A-D/B2/F + the
   stringification bans over every registry entry's exposed schema
   (rule F is the overflow-headroom gate: no BIGINT product chain may
   pass 2^63 at 100 TB magnitudes without an audited bound).
2. ``tools/check_parity.py`` at sf0.001 — the driver's own t2 gate
   (row count + column names + order-insensitive value hash vs the
   DuckDB oracle) over the full registry.
3. ``dv-state`` — the deletion-vector state-machine gate the r8
   data-loss bug proved the oracle fixtures structurally cannot
   cover (they never chain >=3 partial-touch MOR DMLs): the
   deterministic stale-sidecar regressions in test_file_drop_dml.py
   plus the MOR==COW hypothesis property at a FIXED seed that is
   verified to catch the r8 bug class (seed=7 fails on the pre-fix
   code in <7 min; both gates here run on every commit).
4. ``sf0.1-exec`` — EXECUTE the full registry at the driver's bench
   SF (sf0.1) via ``bench.py --check`` and fail on any per-query
   error. The r9 lesson: orders_gini_by_nation was lint-clean and
   parity-green at sf0.001 yet threw ARITHMETIC_OVERFLOW at sf0.1 —
   a crash the builder first learned about from the driver artifact.
   Scale-only failures must die here, not there. (Skippable with
   ``--quick`` when iterating on a formulation already covered by
   stages 1-3; the full gate runs before any commit.)
5. ``commit-protocol`` — the versioned layer's concurrency tests:
   racing commits that must rebase (disjoint DML, compaction under
   appends) or conflict loudly (overlapping DML, shape changes,
   clobbering writers), the manifest CAS itself, and the Spark-free
   rebase-predicate table, the CHECK-constraint tests (SQL ``INSERT
   INTO`` included), the Data Source's identity race, the streams
   resuming behind a vacuum, the Spark-job budget of each DML entry
   point, the change readers' deletion-vector and column-mapping
   reads, the width of inserts that touch no file, and the
   commit-protocol lint. Every commit shares one publish-or-rebase
   loop (``versioned._commit``) and one staged-write step
   (``versioned._stage``), every DML one of two engines
   (``versioned._predicate_cow`` / ``versioned._mor_dml``), and every
   change walk one helper (``versioned._iter_changes``), so these gate
   each change to them.

Run before committing any new or changed ``queries()`` formulation:

    python tools/preflight.py            # all stages
    python tools/preflight.py --quick    # skip the sf0.1 execution
    python tools/preflight.py /root/testdata/sf0.01   # heavier parity

Exits nonzero on the FIRST failing stage, so it can gate a commit
hook or CI step directly.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--quick"]
    quick = "--quick" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    stages = [
        ("registry-dedup", [sys.executable,
                            f"{REPO}/tools/dedup_registry.py",
                            "--self-test"]),
        ("lint", [sys.executable, f"{REPO}/tools/lint_formulations.py"]),
        ("parity", [sys.executable, f"{REPO}/tools/check_parity.py", sf_dir]),
        ("dv-state", [
            sys.executable, "-m", "pytest", "-q", "--hypothesis-seed=7",
            "tests/test_file_drop_dml.py", "-k",
            "stale_sidecar or carry_forward or merge_with_stale "
            "or second_delete",
            "tests/test_properties.py::test_mor_equals_cow_for_arbitrary_dml",
        ]),
    ]
    if not quick:
        stages.append(
            ("sf0.1-exec", [sys.executable, f"{REPO}/bench.py", "--check"]))
    stages.append(("commit-protocol", [
        sys.executable, "-m", "pytest", "-q",
        "tests/test_versioned.py", "tests/test_manifest_log.py",
        "tests/test_defaults.py::"
        "test_default_declared_after_plan_conflicts_loudly",
        "tests/test_generated.py::"
        "test_identity_ds_racing_appends_get_disjoint_blocks",
        "tests/test_merge_sql.py::"
        "test_insert_into_enforces_check_constraints",
        "tests/test_lint.py::"
        "test_versioned_commits_use_the_commit_protocol_helpers",
        "-k", "concurrent or conflict or racing or clobber or cas or rebase "
        "or constraint or behind_vacuum or job_budget or first_version "
        "or follows_column_mapping or keep_their_partitioning "
        "or commit_protocol",
    ]))
    for name, cmd in stages:
        if name == "sf0.1-exec":
            os.environ["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.1"
        t0 = time.perf_counter()
        print(f"== preflight: {name} ==", flush=True)
        rc = subprocess.call(cmd, cwd=REPO)
        dt = time.perf_counter() - t0
        if rc != 0:
            print(f"preflight FAILED at {name} ({dt:.1f}s) — fix before "
                  "committing", flush=True)
            return rc
        print(f"== {name} ok ({dt:.1f}s) ==", flush=True)
    print("preflight green", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
