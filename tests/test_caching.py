"""Unit tests for the bounded cache insert and the session memo built
on it (stub frames and sessions — no Spark needed, so eviction, keying
and locking are testable exactly)."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import fixtures
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.caching import (
    bounded_cache_put,
)


class _Frame:
    def __init__(self):
        self.released = False

    def unpersist(self):
        self.released = True
        return self


def test_fifo_eviction_releases_oldest():
    cache = {}
    frames = [_Frame() for _ in range(4)]
    for i, f in enumerate(frames[:3]):
        bounded_cache_put(cache, i, f, cap=3)
    assert not any(f.released for f in frames[:3])
    bounded_cache_put(cache, 3, frames[3], cap=3)
    assert frames[0].released and not frames[1].released
    assert list(cache) == [1, 2, 3]


def test_reput_releases_replaced_frame_not_neighbors():
    cache = {}
    a, b, a2 = _Frame(), _Frame(), _Frame()
    bounded_cache_put(cache, "a", a, cap=2)
    bounded_cache_put(cache, "b", b, cap=2)
    bounded_cache_put(cache, "a", a2, cap=2)
    assert a.released, "replaced frame must be released"
    assert not b.released, "unrelated entry must survive a re-put"
    assert cache["a"] is a2 and len(cache) == 2


def test_cap_must_be_positive():
    with pytest.raises(ValueError):
        bounded_cache_put({}, "k", _Frame(), cap=0)


def test_single_slot_cache_cycles():
    cache = {}
    f1, f2 = _Frame(), _Frame()
    bounded_cache_put(cache, 1, f1, cap=1)
    bounded_cache_put(cache, 2, f2, cap=1)
    assert f1.released and not f2.released
    assert list(cache) == [2]


def _session(app: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def memo_registry(monkeypatch):
    """Keep the stub memos and their seconds out of the real registry."""
    monkeypatch.setattr(fixtures, "MEMOS", {})
    monkeypatch.setattr(fixtures, "SECONDS", {})


def test_memo_hit_returns_same_object(memo_registry):
    builds = []

    @fixtures.session_memo("stub")
    def build(spark, sf_dir):
        builds.append(sf_dir)
        return _Frame()

    spark = _session()
    first = build(spark, "a")
    assert build(spark, "a") is first
    assert build(_session("app-2"), "a") is not first  # new session, new key
    assert builds == ["a", "a"]
    assert fixtures.MEMOS["stub"] is build and not build.prebuild


def test_memo_eviction_unpersists_frames_only(memo_registry):
    @fixtures.session_memo("frames", cap=2)
    def frame(spark, sf_dir):
        return _Frame()

    @fixtures.session_memo("paths", cap=1)
    def paths(spark, sf_dir):
        return (f"/tmp/{sf_dir}_a", f"/tmp/{sf_dir}_b")

    spark = _session()
    frames = [frame(spark, k) for k in "abc"]
    assert frames[0].released and not any(f.released for f in frames[1:])
    assert len(frame.cache) == 2
    # path values have no unpersist(): eviction only forgets them
    paths(spark, "a")
    assert paths(spark, "b") == ("/tmp/b_a", "/tmp/b_b")
    assert list(paths.cache) == [("app-1", "b")]


def test_memo_failed_build_is_not_cached(memo_registry):
    calls = []

    @fixtures.session_memo("flaky")
    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return _Frame()

    spark = _session()
    with pytest.raises(RuntimeError):
        flaky(spark, "a")
    assert flaky.cache == {}
    out = flaky(spark, "a")  # the key's lock was released: rebuilds
    assert flaky(spark, "a") is out and len(calls) == 2


def test_memo_key_normalizes_arguments(memo_registry):
    builds = []

    @fixtures.session_memo("norm")
    def sig(spark, sf_dir, n_hashes=16):
        builds.append((sf_dir, n_hashes))
        return _Frame()

    spark = _session()
    out = sig(spark, "a")
    assert sig(spark, "a", 16) is out
    assert sig(spark, "a", n_hashes=16) is out
    assert sig(spark, sf_dir="a", n_hashes=16) is out
    assert sig(spark, "a", n_hashes=64) is not out
    assert builds == [("a", 16), ("a", 64)]
    assert list(sig.cache) == [("app-1", "a", 16), ("app-1", "a", 64)]


def test_memo_concurrent_callers_build_once(memo_registry):
    builds = []
    started, release = threading.Event(), threading.Event()

    @fixtures.session_memo("slow")
    def slow(spark, sf_dir):
        builds.append(sf_dir)
        if sf_dir == "a":
            started.set()
            release.wait(10)
        return _Frame()

    spark = _session()
    out = []
    threads = [threading.Thread(target=lambda: out.append(slow(spark, "a")))
               for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        assert started.wait(10)
        # another key is not blocked by the build in flight
        t0 = time.perf_counter()
        slow(spark, "b")
        other_key_s = time.perf_counter() - t0
        release.set()
        for t in threads:
            t.join(10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert other_key_s < 5
    assert builds == ["a", "b"] and len(out) == 16
    assert all(o is out[0] for o in out)


def test_memo_seconds_exclude_nested_builds(memo_registry):
    @fixtures.session_memo("inner")
    def inner(spark, sf_dir):
        time.sleep(0.2)
        return sf_dir

    @fixtures.session_memo("outer")
    def outer(spark, sf_dir):
        return inner(spark, sf_dir)

    outer(_session(), "a")
    snap = fixtures.snapshot()
    assert snap["inner"] >= 0.2 > snap["outer"]
