"""Benchmark harness: runs the full query registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is planned + executed + collected (results are small by
construction — aggregates and top-ks), so the measured time covers the
full Catalyst plan, shuffles, and result materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # --streams N: TPC-H-style throughput test — N concurrent query
    # streams on ONE session, each running the full registry in a
    # stream-specific rotation, under FAIR scheduling so no stream
    # starves (the multi-tenant contention a shared cluster actually
    # sees; single-stream latency is the plain path below). Prints one
    # JSON line with per-stream walls and the aggregate queries/sec.
    if "--streams" in sys.argv:
        _run_streams(int(sys.argv[sys.argv.index("--streams") + 1]))
        return
    # --check: gate mode — run the full registry once and exit NONZERO
    # if any query errors. The r9 lesson: orders_gini_by_nation threw
    # ARITHMETIC_OVERFLOW at sf0.1, bench recorded it in the errors
    # dict, and nothing failed — the crash was first seen in the
    # driver's own artifact. preflight runs `bench.py --check` at
    # sf0.1 so a scale-only crash can never again ship silently.
    if "--check" in sys.argv:
        n_err = _run_one()
        if n_err:
            print(f"bench --check: {n_err} query error(s) — see the "
                  "errors dict above", file=sys.stderr)
        raise SystemExit(1 if n_err else 0)
    # --sweep: one JSON line per SF (scaling evidence); the driver's
    # plain `python bench.py` path is unchanged.
    if "--sweep" in sys.argv:
        base = os.path.dirname(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
        )
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            d = os.path.join(base, sf)
            if os.path.isdir(d):
                os.environ["SPARK_GRAFT_SF_DIR"] = d
                _run_one()
        return
    _run_one()


def _run_one() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures
    from tools import harness

    spark = harness.session("bench", sf_dir)
    qs = entrymod.queries()
    harness.warm_registry(spark, qs)
    # Fixture-cost attribution: session-cached fixture builds (the
    # snapshot_* versioned tables with DML histories) land inside
    # whichever entry runs first; per-entry fixture_s separates
    # one-time build cost from operator cost for round-over-round
    # comparisons.
    timings: dict[str, float] = {}
    fixture_s: dict[str, float] = {}
    compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for name, fn in qs.items():
        run = harness.run_entry(spark, sf_dir, fn)
        if run.error is None:
            timings[name] = run.seconds
        else:
            errors[name] = run.error[:200]
        if run.fixture_s >= 0.001:
            fixture_s[name] = round(run.fixture_s, 3)
        if run.compiles:
            compiles[name] = run.compiles
    total = round(time.perf_counter() - t_all, 3)

    out = {
        "metric": "full-registry wall clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # per-entry seconds spent INSIDE fixture builders (subtract
        # from queries[name] for the operator's own cost), plus the
        # per-fixture breakdown and session total
        "fixture_s": fixture_s,
        # per-entry codegen classes compiled in the timed pass: an
        # entry the warm pass fully warmed compiles none and is absent
        "compiles": compiles,
        "fixtures": {k: round(v, 3)
                     for k, v in fixtures.snapshot().items()},
        "fixture_total_s": round(fixtures.total(), 3),
    }
    if errors:
        out["errors"] = errors
    # Full per-query record: sidecar file + first stdout line (humans,
    # sweep tooling). The driver only keeps the last ~2000 stdout chars,
    # so a 175-entry dict as the final line parses as null.
    full = json.dumps(out)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_full.json"), "a") as fh:
            fh.write(full + "\n")
    except OSError:
        pass
    print(full)

    # FINAL stdout line: the same schema, with `queries` trimmed to the
    # slowest entries so the whole line fits the driver's 2000-char tail.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    compact = dict(out)
    compact["n_queries"] = len(timings)
    compact["n_errors"] = len(errors)
    compact.pop("errors", None)
    compact.pop("fixture_s", None)  # full record keeps the per-entry maps
    compact.pop("compiles", None)
    line = json.dumps(compact)
    for keep in range(len(slowest), -1, -5):
        compact["queries"] = dict(list(slowest.items())[:keep])
        line = json.dumps(compact)
        if len(line) <= 1800:
            break
    if len(line) > 1800:
        compact["queries"] = {}
        line = json.dumps(compact)
    print(line)
    return len(errors)


def _run_streams(n_streams: int) -> None:
    import concurrent.futures as cf

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from tools import harness

    # FAIR mode must be set before the context starts; without an
    # allocation file every job lands in one fair-shared default pool,
    # which is exactly the no-starvation behavior the test wants.
    # APPEND to any user-supplied extra conf — setdefault would
    # silently run FIFO (and report it as FAIR) whenever the user
    # already set the documented tuning knob.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    if "spark.scheduler.mode" not in extra:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            (extra + "," if extra else "") + "spark.scheduler.mode=FAIR"
        )
    spark = harness.session("bench-streams", sf_dir)

    # Fixture PREBUILD (r12 verdict item 3): under N streams a cold
    # session fixture builds inside whichever stream reaches it first
    # while the other N-1 wait on its build lock — measured as the 2.8×
    # (vs 3.2×) 4-stream scaling in r12. Building every session memo
    # declared ``prebuild=True`` serially BEFORE the clock starts lets
    # all streams run warm; the build wall is reported separately.
    # queries() imports every operator module, so the registry is full.
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

    qs = list(entrymod.queries().items())
    t_fix = time.perf_counter()
    for memo in fixtures.MEMOS.values():
        if memo.prebuild:
            memo(spark, sf_dir)
    prebuild_s = round(time.perf_counter() - t_fix, 3)

    def stream(i: int) -> tuple[float, dict[str, str]]:
        # per-stream rotation: stream i starts at query i·|Q|/N, so the
        # streams hit different plans at any instant (the TPC-H
        # throughput-test shuffle) while every stream still runs ALL
        # queries.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
                                            f"stream-{i}")
        # pin the JVM-thread-local active session for this stream
        # thread — Python-DS saves resolve through it (see
        # sources/versioned_ds.ensure_registered)
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
            ensure_registered,
        )
        ensure_registered(spark)
        order = qs[i * len(qs) // n_streams:] + qs[:i * len(qs) // n_streams]
        t0 = time.perf_counter()
        errs: dict[str, str] = {}
        for name, fn in order:
            run = harness.run_entry(spark, sf_dir, fn)
            if run.error is not None:
                errs[name] = run.error[:200]
        return round(time.perf_counter() - t0, 3), errs

    t_all = time.perf_counter()
    with cf.ThreadPoolExecutor(max_workers=n_streams) as pool:
        results = list(pool.map(stream, range(n_streams)))
    total = round(time.perf_counter() - t_all, 3)
    walls = [w for w, _ in results]
    n_errors = sum(len(e) for _, e in results)
    errors = {f"s{i}:{k}": v for i, (_, e) in enumerate(results)
              for k, v in e.items()}
    print(json.dumps({
        "metric": f"{n_streams}-stream throughput",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stream_walls": walls,
        "queries_per_sec": round(n_streams * len(qs) / total, 2),
        "n_queries_per_stream": len(qs),
        "fixture_prebuild_s": prebuild_s,
        "n_errors": n_errors,
        **({"errors": errors} if errors else {}),
    }))


if __name__ == "__main__":
    main()
