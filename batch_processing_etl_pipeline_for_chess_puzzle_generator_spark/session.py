"""Tuned SparkSession factory.

Replaces the reference's YAML-driven session builder
(reference: etl/transform.py:76-86) with a factory whose defaults are
chosen for large-cluster execution but degrade gracefully to local mode:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage.
- Arrow execution for any pandas interchange (multimodal decode path).
- Shuffle partitions default to cores in local mode; on a real cluster
  AQE coalesces from a deliberately-high initial number.

Importing this module also installs :func:`_gate_zip_invalidation` in
whatever interpreter imports it, Python workers included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: an archive modified less than this long ago is re-read on every
#: invalidation (coarser than any filesystem's mtime granularity)
_SETTLED_NS = 2_000_000_000


def _gate_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Every Python task Spark runs (UDF, ``mapInPandas``, each Python
    Data Source call) starts with ``importlib.invalidate_caches()``. On
    an interpreter whose ``zipimporter`` keeps a per-instance ``_files``
    table (CPython 3.11), that eagerly re-reads the directory of the
    archive behind every zip importer: ~16 importers over
    ``pyspark.zip`` plus py4j's, ~28k entries and ~0.1 s per task.

    The wrapper keeps each archive's ``(st_mtime_ns, st_size, st_ino)``
    as of its last re-read, if the mtime is settled. While that stamp
    is unchanged and ``zipimport._zip_directory_cache`` still holds the
    archive, it re-points the importer at the cached table; otherwise
    it re-reads as before. A rewritten, replaced or deleted archive is
    still re-read, and path finders other than zip importers are
    untouched. Idempotent; a no-op where invalidation is already lazy
    (CPython 3.12+)."""
    import threading
    import time
    import zipimport

    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if (getattr(reread, "_stamped", False)
            or "_files" not in cls.__init__.__code__.co_names):
        return
    stamps: dict[str, tuple[int, int, int]] = {}
    lock = threading.Lock()

    def invalidate_caches(self):
        with lock:
            try:
                st = os.stat(self.archive)
            except OSError:
                stamps.pop(self.archive, None)
                return reread(self)
            # stat before the read: a write racing the read leaves an
            # older stamp, so the next call reads again
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            cached = zipimport._zip_directory_cache.get(self.archive)
            if cached is not None and stamps.get(self.archive) == stamp:
                self._files = cached
                return None
            # trust only a stamp whose mtime is settled: a same-size
            # rewrite within the filesystem's mtime granularity would
            # leave a fresh file's stamp unchanged
            if time.time_ns() - st.st_mtime_ns > _SETTLED_NS:
                stamps[self.archive] = stamp
            else:
                stamps.pop(self.archive, None)
            return reread(self)

    invalidate_caches._stamped = True
    cls.invalidate_caches = invalidate_caches


_gate_zip_invalidation()

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    # The stderr progress bar redraws synchronously with stage
    # tracking: on a many-small-jobs workload (the 231-query registry
    # at sf0.001 ≈ thousands of tiny stages) it measured 129.8 s → 85.3
    # s of wall for the IDENTICAL plans. Pure cosmetics, 35% of wall —
    # off by default; the web UI stays on for debugging.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dims under this size broadcast automatically; explicit hints are
    # still used for clarity on known-small tables.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.filterPushdown": "true",
    # NOTE: spark.sql.python.filterPushdown.enabled stays OFF: the
    # python-DS scan plan is cached per relation and reused across
    # queries with DIFFERENT pushed-filter sets (reproduced in 4.1.2 —
    # after df.filter(p).count(), a plain df.count() on the same
    # DataFrame served the pruned scan), so a pruning pushFilters
    # reader returns wrong results. The versioned DS exposes file
    # pruning through the load-time .option("filter", ...) instead,
    # which is part of the relation identity and reuse-safe.
    # Write timestamps as TIMESTAMP_MICROS, not the deprecated INT96:
    # INT96 columns carry NO parquet min/max statistics, which blinds
    # every footer-based data-skipping path (versioned stats, DS
    # writer stats, backfill_stats) to timestamp columns.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    # Local test files are a few MB; split them small so all cores scan.
    # A production deployment keeps the 128m default (set via env).
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"
    ),
    "spark.sql.files.openCostInBytes": "1m",
    # Spark's generated-class cache is an LRU of 100 entries by
    # default. A lakehouse pass visits ~175 classes and a registry pass
    # ~3.7k, each in the same cycle every time, so at 100 each class
    # was evicted before its next use and every pass compiled almost
    # all of them again. Measured with an unbounded cache over bench.py's
    # flow on 4 cores (the sf0.001 warm pass, then the sf0.1 timed
    # pass): 3963 distinct classes. 8192 is the next power of two with
    # 2x headroom over that and keeps the cache bounded. A static
    # conf: it takes effect only if set before the JVM's first query
    # compiles, so a session that already exists keeps its cache.
    "spark.sql.codegen.cache.maxEntries": "8192",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _parse_extra_conf(extra: str) -> list[tuple[str, str]]:
    """Lenient comma parse of SPARK_GRAFT_EXTRA_CONF: some Spark conf
    VALUES are themselves comma-separated lists (spark.sql.extensions),
    so a fragment with no '=' continues the PREVIOUS entry's value
    instead of erroring; a leading non-k=v fragment is still a hard
    error, as is an empty key or value."""
    pairs: list[list[str]] = []
    for frag in filter(None, (p.strip() for p in extra.split(","))):
        if "=" in frag:
            k, _, v = frag.partition("=")
            if not k.strip() or not v:
                raise ValueError(
                    f"SPARK_GRAFT_EXTRA_CONF entry {frag!r} is not k=v"
                )
            pairs.append([k.strip(), v])
        elif pairs:
            pairs[-1][1] += "," + frag
        else:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF starts with a non-k=v "
                f"fragment: {frag!r}"
            )
    return [(k, v) for k, v in pairs]


# NOTE (r13, measured and REJECTED): deriving
# spark.sql.adaptive.advisoryPartitionSizeInBytes from input size
# (total bytes / cores, clamped) looked like the textbook AQE
# adaptation, and isolated window entries did gain (w_order_stats
# 1.30 s → 0.95 s at 1 MB advisory) — but iterative/driver-loop
# entries paid far more in per-task scheduling than the parallel
# stages won back (doc_bpe_train 1.86 s → 5.93 s, basket_part_pairs
# 1.80 s → 3.06 s, 3-rep minima). Single-core post-shuffle stages are
# cheap once spread() moved the per-row-heavy work to the map side,
# so the Spark default (64 MB) stays; override per deployment via
# SPARK_GRAFT_EXTRA_CONF if a workload proves otherwise.


def get_spark(app_name: str = "spark-graft-engine", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real deployment pass
    ``yarn``/``k8s://...`` or set it via spark-submit and leave None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    # Deployment escape hatch: comma-separated k=v pairs layered on
    # top of the defaults (e.g. spark.scheduler.mode=FAIR for the
    # multi-stream throughput bench).
    for k, v in _parse_extra_conf(
        os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    ):
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
    )
    return builder.getOrCreate()
