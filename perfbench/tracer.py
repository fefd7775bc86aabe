"""Per-layer collector for traced benchmark runs.

Everything here observes the program from outside: it wraps the public
functions of a few package modules (and every binding an operator made
with ``from ... import``), gives each phase of an operation its own
Spark job group, and reads stage metrics from the status store after
the phase ends. Nothing inside the package changes.

An operation is split into phases whose walls add up to the
operation's wall:

- ``build``: Python DataFrame construction, including Spark jobs it runs
  and session-fixture builds (reported apart from it);
- ``plan``: forcing ``queryExecution().executedPlan()`` before the action;
- ``action``: the terminal action, split into the wall covered by its
  Spark jobs (``spark.exec_s``) and the rest (``spark.collect_s``: result
  transfer to Python, or a sink's driver-side commit).

What the phases leave uncovered is ``trace.unattributed_s``.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import re
import sys
import threading
import time

PKG = "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark"

#: physical operators that hand rows to a Python worker
_PYTHON_OPS = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|"
    r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF|PythonScan)\b"
    r"|\] \(Python\)")  # a Python data source's BatchScan

#: versioned-table writers timed per operation type (outermost call only)
VERSIONED_WRITES = (
    "write_version", "merge_version_cow", "merge_version_mor", "delete_where",
    "delete_where_mor", "update_where", "update_where_mor", "replace_where",
    "copy_into", "optimize_version", "optimize_incremental", "vacuum",
    "restore_version", "clone_table", "set_column_default", "add_constraint",
)

#: keys of the per-operation record that are summed over operations
OP_KEYS = (
    "wall_s", "build_s", "fixture_s", "plan_s", "exec_s", "collect_s",
    "build_jobs", "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_ops", "result_rows", "pinned_bytes",
)


def _patch(module, attr, wrapper_factory):
    """Replace ``module.attr`` and every package-module binding of the
    same function object with ``wrapper_factory(original)``."""
    orig = getattr(module, attr)
    wrapped = wrapper_factory(orig)
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapped)
    setattr(module, attr, wrapped)


class Tracer:
    """Collects spans and counters for one benchmark run.

    ``active`` switches recording on and off between passes, so one run
    can time traced and untraced passes of the same operations; the
    wrappers stay installed and only count while it is on."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.active = False
        self.spans: list[dict] = []
        self.layer = collections.Counter()
        self.fixture_builds: dict[str, list[float]] = collections.defaultdict(list)
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._depth = threading.local()
        self._seen_files: dict[str, int] = {}
        self._group_seq = 0
        self._install()

    # -- wrappers around package functions ------------------------------

    def _timed(self, key: str, count_key: str | None = None,
               nest: str | None = None):
        """Wrapper factory adding call seconds to ``key``. Calls sharing
        a ``nest`` name record only the outermost one."""
        def factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not self.active:
                    return orig(*a, **kw)
                depth = getattr(self._depth, nest or key, 0)
                setattr(self._depth, nest or key, depth + 1)
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    setattr(self._depth, nest or key, depth)
                    if not (nest and depth):
                        dt = time.perf_counter() - t0
                        self.layer[key] += dt
                        if count_key:
                            self.layer[count_key] += 1
                        self._span(key, t0, dt)
            return wrapper
        return factory

    def _install(self) -> None:
        import importlib

        catalog = importlib.import_module(f"{PKG}.catalog")
        caching = importlib.import_module(f"{PKG}.functions.caching")
        versioned = importlib.import_module(f"{PKG}.versioned")
        incremental = importlib.import_module(f"{PKG}.sources.incremental")
        ndjson = importlib.import_module(f"{PKG}.sources.ndjson")
        chess = importlib.import_module(f"{PKG}.operators.chess")
        needs_spread = catalog.needs_spread

        _patch(catalog, "_load_table",
               self._timed("catalog.table_load_s", "catalog.table_loads"))

        def spread_factory(orig):
            @functools.wraps(orig)
            def spread(spark, sf_dir, name, *a, **kw):
                if self.active:
                    self.layer["catalog.spread_calls"] += 1
                    self.layer["catalog.spread_applied"] += bool(
                        needs_spread(spark, sf_dir, name))
                return orig(spark, sf_dir, name, *a, **kw)
            return spread
        _patch(catalog, "spread", spread_factory)

        def put_factory(orig):
            @functools.wraps(orig)
            def bounded_cache_put(cache, key, df, *a, **kw):
                if not self.active:
                    return orig(cache, key, df, *a, **kw)
                before, had = len(cache), key in cache
                try:
                    return orig(cache, key, df, *a, **kw)
                finally:
                    self.layer["caching.puts"] += 1
                    self.layer["caching.evictions"] += before + (not had) - len(cache)
            return bounded_cache_put
        _patch(caching, "bounded_cache_put", put_factory)

        for name in VERSIONED_WRITES:
            if hasattr(versioned, name):
                _patch(versioned, name, self._timed(
                    f"versioned.commit_s.{name}", "versioned.commit_calls",
                    nest="versioned"))
        for meth in ("new_files", "mark"):
            setattr(incremental.FileLedger, meth, self._timed(
                "incremental.ledger_s")(getattr(incremental.FileLedger, meth)))

        def read_games_factory(orig):
            @functools.wraps(orig)
            def read_games(spark, paths):
                if self.active:
                    for p in [paths] if isinstance(paths, str) else paths:
                        self.layer["ndjson.input_bytes"] += os.path.getsize(p)
                return orig(spark, paths)
            return read_games
        _patch(ndjson, "read_games", read_games_factory)
        timed_write = self._timed("chess.write_pgn_s")

        def write_pgn_factory(orig):
            inner = timed_write(orig)

            @functools.wraps(orig)
            def write_pgn(flat, output_path, *a, **kw):
                inner(flat, output_path, *a, **kw)
                if self.active:
                    for n in os.listdir(output_path):
                        if n.startswith("part-"):
                            self.layer["chess.output_files"] += 1
                            self.layer["chess.output_bytes"] += os.path.getsize(
                                os.path.join(output_path, n))
            return write_pgn
        _patch(chess, "write_pgn", write_pgn_factory)

    # -- spans ----------------------------------------------------------

    def _span(self, name: str, t0: float, dt: float, **extra) -> None:
        op = self._op["name"] if self._op else None
        self.spans.append({"name": name, "start": t0, "dur": dt,
                           "op": op, "op_seq": len(self.ops), **extra})

    # -- one operation ---------------------------------------------------

    @contextlib.contextmanager
    def op(self, name: str):
        """Wrap one measured operation; yields the per-op record."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures

        rec = dict.fromkeys(OP_KEYS, 0)
        rec["name"] = name
        self._op = rec
        self.scan_versioned(count=False)
        fx0 = fixtures.snapshot()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            for name, secs in fixtures.snapshot().items():
                built = secs - fx0.get(name, 0.0)
                if built > 0:
                    self.fixture_builds[name].append(built)
                    rec["fixture_s"] += built
            rec["build_s"] -= rec["fixture_s"]
            sc = self.spark.sparkContext
            rec["pinned_bytes"] = sum(
                i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
            self.scan_versioned(count=True)
            self._span("op", t0, rec["wall_s"])
            self.ops.append(rec)
            self._op = None

    @contextlib.contextmanager
    def phase(self, kind: str):
        """One phase (``build`` or ``action``) of the current operation,
        under its own job group."""
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        orphans = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = set(sc.statusTracker().getJobIdsForGroup(group))
            # jobs started on other threads (fixture builders commit on
            # worker threads) carry no group: take the ones new here
            jobs |= set(sc.statusTracker().getJobIdsForGroup(None)) - orphans
            self._account(kind, dt, sorted(jobs))
            self._span(kind, t0, dt, jobs=len(jobs))

    def plan(self, df) -> None:
        """Force physical planning ahead of the action and time it."""
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        dt = time.perf_counter() - t0
        self._op["plan_s"] += dt
        self._span("plan", t0, dt)

    def finish_action(self, df, rows: int) -> None:
        """Record what only the executed plan and the result show."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        self._op["python_ops"] += len(_PYTHON_OPS.findall(plan))
        self._op["result_rows"] += rows

    def _account(self, kind: str, wall: float, job_ids: list[int]) -> None:
        rec = self._op
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        spans = []
        for jid in job_ids:
            jd = store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
            for sid in sc.statusTracker().getJobInfo(jid).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["failed_tasks"] += st.numFailedTasks()
                rec["run_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["input_bytes"] += st.inputBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["jobs"] += len(job_ids)
        if kind == "build":
            rec["build_s"] += wall
            rec["build_jobs"] += len(job_ids)
            return
        covered = 0.0
        last = None
        for a, b in sorted(spans):  # union of job intervals, ms
            if last is None or a > last:
                covered += b - a
                last = b
            elif b > last:
                covered += b - last
                last = b
        exec_s = min(wall, covered / 1e3)
        rec["exec_s"] += exec_s
        rec["collect_s"] += wall - exec_s

    def scan_versioned(self, count: bool) -> None:
        """Count commits and data files of every versioned table under
        the run's temp directory, wherever the commit ran (a Python data
        source commits from a worker process). ``count=False`` only
        records what exists, so work between traced operations is not
        charged to the next one."""
        for root, dirs, _ in os.walk(self.tmp_dir):
            if "_manifest" not in dirs:
                continue
            for sub, _, names in os.walk(root):
                is_manifest = os.path.basename(sub) == "_manifest"
                for n in names:
                    p = os.path.join(sub, n)
                    if p in self._seen_files or n.startswith((".", "_")) or n.endswith(".crc"):
                        continue
                    try:
                        size = os.path.getsize(p)
                    except FileNotFoundError:
                        continue
                    self._seen_files[p] = size
                    if is_manifest:
                        if count and n.endswith(".json") and n[:-5].isdigit():
                            self.layer["versioned.commits"] += 1
                    elif count:
                        self.layer["versioned.files_written"] += 1
                        self.layer["versioned.bytes_written"] += size
            dirs.clear()

    def write(self, path: str) -> None:
        """Write the spans and per-operation records once, at exit."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"ops": self.ops, "spans": self.spans}, fh)
