"""Benchmark for the engine: one named workload, inputs made from a seed.

    python3 perfbench/run.py --workload {lakehouse,chess_etl}
        --seed N --seconds S --trace {0,1}

Run it from the repository root. Workloads are closed loops with one
client: a pass runs the workload's operations one after another, and
passes repeat until ``--seconds`` have gone by and the workload's
``min_samples`` operation latencies are in. Every output is checked.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` its metrics are ``REPORTED``,
the end-to-end metrics that are never 0 and hold steady between runs;
the line before it is the run record (host, versions, seed, input size,
sample counts, per-phase seconds) with every end-to-end metric by name
and unit under ``end_to_end``. With ``--trace 1`` untraced and traced
passes alternate and the metrics are the per-layer ones (see
``tracer.py``), averaged per operation over the traced passes. Spans go
to ``.perfbench/traces/``.

Each run works in its own ``.perfbench/run-<pid>/`` (``TMPDIR``,
``SPARK_LOCAL_DIRS``, the Spark warehouse, the JVM's temp dir) and
deletes it on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import PKG, WORKLOADS, Ctx  # noqa: E402

#: set-ups per run, each on a freshly started session; the first also
#: launches the JVM. ``setup_s`` is their median.
SETUP_REPS = 3
#: Spark task slots (``local[CORES]``), fewer than the host's cores: the
#: host is shared, and with a slot per core every stage waited on
#: whichever core was slowest at the time; interleaved runs with 2 slots
#: spread a third to a half less than with 4 and were no slower
CORES = min(2, len(os.sched_getaffinity(0)))
#: the driver JVM's initial and maximum heap (the package's default
#: ``spark.driver.memory``, pinned here whatever the environment says)
INITIAL_HEAP, MAX_HEAP = "2g", "8g"
#: latencies that must lie beyond the percentile reported as ``op_tail_s``
TAIL_BEYOND = 10
#: end-to-end metrics in the last stdout line; the others are 0 on some
#: workload, or (``op_tail_s``) no further out than p50-p66 at these
#: sample counts, and are in the run record only
REPORTED = ("setup_s", "wall_s", "op_p50_s", "peak_rss_mb")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _configure(root: str, run_dir: str) -> str:
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "jtmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ",".join(filter(None, (
        extra,
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # a heap that starts large: left to grow from the JVM's default,
        # it settled at sizes that differed by 2x between runs, and slower
        # runs had the smaller heaps. Capping it at 2g as well made
        # peak_rss_mb spread 0.16 instead of 0.03 on chess_etl.
        f"spark.driver.memory={MAX_HEAP}",
        f"spark.driver.extraJavaOptions=-Xms{INITIAL_HEAP}"
        " -Djava.io.tmpdir=" + os.path.join(run_dir, "jtmp"),
        "spark.ui.enabled=false",
    )))
    import tempfile

    tempfile.tempdir = tmp
    return tmp


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _tail(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with ``TAIL_BEYOND`` of ``values``
    beyond it (or p1, when there are too few), and its value."""
    pct = max(1, 100 * (len(values) - TAIL_BEYOND) // len(values))
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Runner:
    def __init__(self, args, root: str, run_dir: str, tmp: str):
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.tmp = tmp
        self.wl = WORKLOADS[args.workload]()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def setup(self) -> list[float]:
        """Time each set-up: start a fresh session (a new SparkContext,
        so every session memo and fixture cache starts empty), warm the
        engine, and ready the workload's session state."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark

        totals = []
        self.session_starts, self.session_stops = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                t0 = time.perf_counter()
                self.spark.stop()
                self.session_stops.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.args.workload}")
            self.session_starts.append(time.perf_counter() - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1_000_000).selectExpr("sum(id)").collect()
            self.wl.setup(self.spark)
            totals.append(time.perf_counter() - t0)
        return totals

    def run_op(self, ctx: Ctx, op) -> float:
        if op.before:
            op.before(ctx)
        ok = False
        t0 = time.perf_counter()
        try:
            if ctx.tracer:
                with ctx.tracer.op(op.name):
                    res = op.run(ctx)
            else:
                res = op.run(ctx)
            dt = time.perf_counter() - t0
            ok = op.check(res)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(op.name)
            print(f"perfbench: operation {op.name} failed its check",
                  file=sys.stderr)
        return dt

    def timed_passes(self, ctx: Ctx, ops) -> list[tuple[bool, list]]:
        """Untimed and, when tracing, traced passes alternate until the
        run's seconds are up, the untraced passes hold ``min_samples``
        latencies and (traced) at least one traced pass ran."""
        passes: list[tuple[bool, list]] = []
        end = time.perf_counter() + self.args.seconds
        plain = traced_n = 0
        while (time.perf_counter() < end or plain < self.wl.min_samples
               or (self.args.trace and not traced_n)):
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            ctx.tracer = self.tracer if traced else None
            if self.tracer:
                self.tracer.active = traced
            passes.append((traced, [(op, self.run_op(ctx, op)) for op in ops]))
            if traced:
                traced_n += 1
            else:
                plain += len(ops)
        ctx.tracer = None
        if self.tracer:
            self.tracer.active = False
        return passes

    def run(self) -> tuple[dict, dict]:
        import pyarrow
        import pyspark

        t0 = time.perf_counter()
        sizes = self.wl.prepare(os.path.join(self.run_dir, "workload"),
                                self.args.seed)
        t1 = time.perf_counter()
        totals = self.setup()
        if self.args.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark, self.tmp)
        ctx = Ctx(self.spark)
        ops = self.wl.ops(ctx)
        self.kinds = {op.name: op.kind for op in ops}
        t2 = time.perf_counter()
        for _ in range(self.wl.warm_passes):  # compiles each plan, checked
            for op in ops:
                self.run_op(ctx, op)
        t3 = time.perf_counter()
        passes = self.timed_passes(ctx, ops)
        t4 = time.perf_counter()
        plain = [p for traced, p in passes if not traced]
        lat = [dt for p in plain for _, dt in p]
        walls = [sum(dt for _, dt in p) for p in plain]
        tail_pct, tail = _tail(lat)
        writes = [dt for p in plain for op, dt in p if op.kind == "write"]
        games = len(writes) * getattr(self.wl, "games_per_batch", 0)
        e2e = {
            "setup_s": (statistics.median(totals), "s"),
            "wall_s": (statistics.median(walls), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "write_s": (statistics.median(
                sum(dt for op, dt in p if op.kind == "write") for p in plain), "s"),
            "games_per_s": (games / sum(writes) if games else 0.0, "games/s"),
            "peak_rss_mb": (_vm_hwm_mb("self") + _vm_hwm_mb(self._jvm_pid()), "MB"),
            "fail_ratio": (self.failed / self.attempted, "ratio"),
        }
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "pyarrow": pyarrow.__version__, "input": sizes,
            "ops_per_pass": [op.name for op in ops],
            "op_median_s": {op.name: statistics.median(
                dt for p in plain for o, dt in p if o is op) for op in ops},
            "pass_walls_s": walls,
            "pass_latencies_s": [[dt for _, dt in p] for p in plain],
            "passes": len(plain), "samples": len(lat),
            "op_tail_percentile": tail_pct,
            "samples_beyond_tail": sum(v > tail for v in lat),
            "setup_reps_s": totals, "session_starts_s": self.session_starts,
            "session_stops_s": self.session_stops,
            "phase_s": {"prepare": t1 - t0, "setup": t2 - t1,
                        "warm": t3 - t2, "timed": t4 - t3},
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "failures": self.failures,
        }
        if self.args.trace:
            metrics = self.per_layer(passes, walls)
            self.tracer.write(os.path.join(
                self.root, ".perfbench", "traces",
                f"{self.args.workload}-seed{self.args.seed}.json"))
        else:
            metrics = {k: e2e[k] for k in REPORTED}
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return record, result

    def per_layer(self, passes, plain_walls) -> dict:
        from tracer import VERSIONED_WRITES
        from workloads import ETL_FIXTURES

        tr = self.tracer
        n = len(tr.ops)
        traced_walls = [sum(dt for _, dt in p) for traced, p in passes if traced]
        tot = {k: sum(r[k] for r in tr.ops) for k in tr.ops[0] if k != "name"}
        per_op = {k: v / n for k, v in tot.items()}
        attributed = sum(per_op[k] for k in
                         ("build_s", "fixture_s", "plan_s", "exec_s", "collect_s"))
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        reads = [r for r in tr.ops if self.kinds[r["name"]] == "read"]
        m = {
            "session.start_s": (statistics.median(self.session_starts), "s"),
            "session.cold_start_s": (self.session_starts[0], "s"),
            "catalog.table_loads": (tr.layer["catalog.table_loads"] / n, "count"),
            "catalog.spread_calls": (tr.layer["catalog.spread_calls"] / n, "count"),
            "catalog.spread_applied": (tr.layer["catalog.spread_applied"] / n, "count"),
            "operators.build_s": (per_op["build_s"], "s"),
            "operators.build_jobs": (per_op["build_jobs"], "count"),
            "spark.plan_s": (per_op["plan_s"], "s"),
            "spark.exec_s": (per_op["exec_s"], "s"),
            "spark.collect_s": (per_op["collect_s"], "s"),
            "spark.result_rows": (per_op["result_rows"], "count"),
            "spark.jobs": (per_op["jobs"], "count"),
            "spark.stages": (per_op["stages"], "count"),
            "spark.tasks": (per_op["tasks"], "count"),
            "spark.failed_tasks": (per_op["failed_tasks"], "count"),
            "spark.run_s": (per_op["run_s"], "s"),
            "spark.cpu_s": (per_op["cpu_s"], "s"),
            "spark.gc_s": (per_op["gc_s"], "s"),
            "spark.input_bytes": (per_op["input_bytes"], "B"),
            "spark.shuffle_read_bytes": (per_op["shuffle_read_bytes"], "B"),
            "spark.shuffle_write_bytes": (per_op["shuffle_write_bytes"], "B"),
            "spark.spill_bytes": (per_op["spill_bytes"], "B"),
            "spark.python_ops": (per_op["python_ops"], "count"),
            "spark.busy_ratio": (tot["run_s"] / (tot["wall_s"] * cores), "ratio"),
            "fixtures.op_build_s": (per_op["fixture_s"], "s"),
            "fixtures.builds": (sum(len(v) for v in tr.fixture_builds.values())
                                / len(traced_walls), "count"),
            "caching.puts": (tr.layer["caching.puts"] / n, "count"),
            "caching.evictions": (tr.layer["caching.evictions"] / n, "count"),
            "caching.pinned_bytes": (per_op["pinned_bytes"], "B"),
            "versioned.commits": (tr.layer["versioned.commits"] / n, "count"),
            "versioned.commit_calls": (tr.layer["versioned.commit_calls"] / n, "count"),
            "versioned.commit_s": (sum(tr.layer[f"versioned.commit_s.{w}"]
                                       for w in VERSIONED_WRITES) / n, "s"),
            "versioned.files_written": (tr.layer["versioned.files_written"] / n, "count"),
            "versioned.bytes_written": (tr.layer["versioned.bytes_written"] / n, "B"),
            "incremental.ledger_s": (tr.layer["incremental.ledger_s"] / n, "s"),
            "ndjson.input_bytes": (tr.layer["ndjson.input_bytes"] / n, "B"),
            "chess.write_pgn_s": (tr.layer["chess.write_pgn_s"] / n, "s"),
            "chess.output_bytes": (tr.layer["chess.output_bytes"] / n, "B"),
            "chess.output_files": (tr.layer["chess.output_files"] / n, "count"),
            "pgn_ds.read_s": (_mean(r["wall_s"] for r in reads), "s"),
            "pgn_ds.rows": (_mean(r["result_rows"] for r in reads), "count"),
            "trace.unattributed_s": (per_op["wall_s"] - attributed, "s"),
            "trace.overhead_s": (statistics.median(traced_walls)
                                 - statistics.median(plain_walls), "s"),
        }
        for name, _ in ETL_FIXTURES:
            b = tr.fixture_builds.get(name)
            m[f"fixtures.build_s.{name}"] = (statistics.median(b) if b else 0.0, "s")
        for name in ("write_version", "merge_version_cow", "replace_where"):
            m[f"versioned.commit_s.{name}"] = (
                tr.layer[f"versioned.commit_s.{name}"] / n, "s")
        return m

    def _jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    # fail fast, before any work, outside a checkout of the engine
    import importlib

    importlib.import_module(PKG)
    importlib.import_module("__spark_entry__")
    importlib.import_module("tools.check_parity")

    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    runner = None
    try:
        tmp = _configure(root, run_dir)
        runner = Runner(args, root, run_dir, tmp)
        record, result = runner.run()
    finally:
        if runner is not None:
            runner.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
