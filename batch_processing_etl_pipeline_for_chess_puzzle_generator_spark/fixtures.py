"""Session memos: build a shared intermediate once per session and input.

Many registry entries start from the same expensive intermediate:
versioned tables with DML histories (snapshot_*), committed ANN and
dedup indexes (doc_incr_*, emb_incr_*), persisted frames such as
MinHash signatures or synthesized media. Each such builder is a
function of ``(spark, *args)`` decorated with :func:`session_memo`:

- The key is ``(applicationId, *args)``, the arguments normalized
  through the builder's signature so positional, keyword and default
  forms share one entry. The key is not weak on the session: a cached
  DataFrame holds its session strongly, so a weak key would never
  fire. ``cap`` is what bounds memory.
- A missing key is built under a lock of its own: concurrent callers
  of one key build once, callers of other keys are not blocked. A
  build that raises is not remembered; the next call builds again.
- Each build's own seconds (nested memo builds excluded) accumulate in
  :data:`SECONDS` under the memo's name. ``bench.py`` snapshots
  :func:`total` around each timed query to separate one-time build
  cost from operator cost.
- The value is stored through ``functions.caching.bounded_cache_put``:
  past ``cap`` entries the oldest frame is unpersisted, the oldest path
  value only forgotten (:func:`scratch_dir` removes it at exit).

:data:`MEMOS` registers every memo by name; ``bench.py --streams``
prebuilds the ones declared ``prebuild=True`` before its clock starts.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile
import threading
import time

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions import caching

_LOCK = threading.Lock()

#: accumulated build seconds per memo name (cache misses only)
SECONDS: dict[str, float] = {}

#: every session memo by name, in definition order
MEMOS: dict[str, object] = {}

# seconds spent in memo builds nested inside the current thread's build
_nested = threading.local()


def _timed_build(name: str, fn, *args, **kwargs):
    outer = getattr(_nested, "s", None)
    _nested.s = 0.0
    t0 = time.perf_counter()
    try:
        return fn(*args, **kwargs)
    finally:
        dt = time.perf_counter() - t0
        own = dt - _nested.s
        _nested.s = None if outer is None else outer + dt
        with _LOCK:
            SECONDS[name] = SECONDS.get(name, 0.0) + own


def session_memo(name: str, cap: int = caching.DEFAULT_CACHE_CAP,
                 prebuild: bool = False):
    """Memoize ``fn(spark, *args)`` per session and arguments (see the
    module docstring)."""
    def wrap(fn):
        sig = inspect.signature(fn)
        cache: dict = {}
        building: dict = {}  # key -> the lock its builders take
        guard = threading.Lock()

        @functools.wraps(fn)
        def memo(spark, *args, **kwargs):
            bound = sig.bind(spark, *args, **kwargs)
            bound.apply_defaults()
            key = (spark.sparkContext.applicationId,
                   *list(bound.arguments.values())[1:])
            with guard:
                if key in cache:
                    return cache[key]
                lock = building.setdefault(key, threading.Lock())
            with lock:
                with guard:
                    if key in cache:
                        return cache[key]
                value = _timed_build(name, fn, spark, *args, **kwargs)
                with guard:
                    building.pop(key, None)
                    return caching.bounded_cache_put(cache, key, value, cap=cap)

        memo.cache = cache
        memo.prebuild = prebuild
        MEMOS[name] = memo
        return memo
    return wrap


def scratch_dir(prefix: str) -> str:
    """A new temporary directory, removed when the process exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def total() -> float:
    with _LOCK:
        return sum(SECONDS.values())


def snapshot() -> dict[str, float]:
    with _LOCK:
        return dict(SECONDS)


def reset() -> None:
    with _LOCK:
        SECONDS.clear()
