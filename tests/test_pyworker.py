"""The zip-import invalidation gate installed by ``session.py``.

Every Python task Spark runs calls ``importlib.invalidate_caches()``;
on an eager ``zipimporter`` that re-read the directory of every zip
archive on ``sys.path`` (``pyspark.zip`` in the workers) per task. The
gate re-reads an archive only when it changed on disk."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import time
import zipfile
import zipimport

import pytest

# importing the package installs the gate in this interpreter
import batch_processing_etl_pipeline_for_chess_puzzle_generator_spark  # noqa: F401


def _write_zip(path, modules, age_s=0):
    """Write the archive; ``age_s`` > 0 back-dates its mtime, as for an
    installed archive (the gate re-reads one modified seconds ago)."""
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    if age_s:
        t = time.time_ns() - age_s * 1_000_000_000
        os.utime(path, ns=(t, t))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with modules ``zgate_a``/``zgate_c`` on ``sys.path``, with
    ``zgate_a`` imported through it."""
    zp = str(tmp_path / "gate.zip")
    _write_zip(zp, ["zgate_a", "zgate_c"], age_s=3600)
    monkeypatch.syspath_prepend(zp)
    yield zp, importlib.import_module("zgate_a")
    for name in ("zgate_a", "zgate_b", "zgate_c"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(zp, None)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    zp, mod = archive
    assert mod.__file__.startswith(zp)
    importlib.invalidate_caches()  # stamps every archive as read now
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


@pytest.mark.parametrize("how", ["in_place", "replaced"])
@pytest.mark.parametrize("age_s", [0, 60])
def test_rewritten_archive_is_reread(archive, tmp_path, how, age_s):
    zp, _ = archive
    importlib.invalidate_caches()
    if how == "in_place":
        _write_zip(zp, ["zgate_a", "zgate_b", "zgate_c"], age_s)
    else:
        tmp = str(tmp_path / "new.zip")
        _write_zip(tmp, ["zgate_a", "zgate_b", "zgate_c"], age_s)
        os.replace(tmp, zp)
    importlib.invalidate_caches()
    assert importlib.import_module("zgate_b").NAME == "zgate_b"


def test_same_size_rewrite_within_an_mtime_tick_is_reread(tmp_path,
                                                         monkeypatch):
    """A fresh archive rewritten in place to the same size and mtime
    (two writes inside one tick of the filesystem clock) has an
    unchanged stamp; its mtime is not settled, so it is re-read."""
    zp = str(tmp_path / "tick.zip")
    _write_zip(zp, ["zgate_d1"])
    tick = os.stat(zp).st_mtime_ns
    monkeypatch.syspath_prepend(zp)
    try:
        assert importlib.import_module("zgate_d1").NAME == "zgate_d1"
        importlib.invalidate_caches()
        _write_zip(zp, ["zgate_d2"])
        os.utime(zp, ns=(tick, tick))
        importlib.invalidate_caches()
        assert importlib.import_module("zgate_d2").NAME == "zgate_d2"
    finally:
        for name in ("zgate_d1", "zgate_d2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zp, None)


def test_deleted_archive_raises_nothing(archive):
    zp, _ = archive
    importlib.invalidate_caches()
    os.remove(zp)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zgate_c") is None


def test_concurrent_invalidation_sees_every_rewrite(archive, tmp_path):
    """Threads invalidating while the archive is replaced: once they
    are done, one more ``invalidate_caches()`` finds the last version.
    (Replaced, not rewritten in place: reading a half-written zip raises
    ``EOFError`` from ``zipimport`` itself.)"""
    import threading

    zp, _ = archive
    tmp = str(tmp_path / "next.zip")
    stop = threading.Event()
    errors = []

    def invalidate():
        try:
            while not stop.is_set():
                importlib.invalidate_caches()
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=invalidate) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for i in range(20):
            # settled and distinct mtimes, so stamps are trusted and
            # every rewrite changes the stamp
            _write_zip(tmp, ["zgate_a", "zgate_c", f"zgate_s{i}"], 3600 - i)
            os.replace(tmp, zp)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    importlib.invalidate_caches()
    assert importlib.import_module("zgate_s19").NAME == "zgate_s19"
    sys.modules.pop("zgate_s19", None)


def test_worker_tasks_do_not_reread_pyspark_zip(spark):
    """Inside a Python worker that imported the package, a task's
    ``invalidate_caches()`` reads no zip directory."""
    import pandas as pd

    def _count(batches):
        import importlib
        import sys
        import zipimport

        import batch_processing_etl_pipeline_for_chess_puzzle_generator_spark  # noqa: F401

        importlib.invalidate_caches()  # the first call after install stamps
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: (calls.append(p), read(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    rows = (spark.range(2, numPartitions=2)
            .mapInPandas(_count, schema="zips long, reads long").collect())
    if not any(r.zips for r in rows):
        pytest.skip("Python workers import nothing from a zip archive here")
    assert [r.reads for r in rows] == [0, 0]
