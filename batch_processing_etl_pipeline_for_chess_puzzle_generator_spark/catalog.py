"""Parquet table catalog for the test datasets.

Centralizes table loading so every operator reads through one place
(schema pruning + filter pushdown happen naturally because loads are
lazy DataFrames). At cluster scale the same API fronts a real
catalog/metastore; here it fronts ``{sf_dir}/{name}.parquet``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables that are always safe to broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


# Memoized lazy DataFrames per live session: a registry run calls
# table() ~600 times, and reusing the immutable lazy plan keeps every
# load after the first free without changing any plan (the relation is
# resolved once; each query still analyzes and executes its own tree on
# top). A load itself runs no Spark job when :func:`footer_schema`
# covers the file; one that falls back to Spark's parquet schema
# inference runs one job to read the footer (~0.07 s on a 4-core host).
# Keyed weakly on the session so a stopped session doesn't pin JVM-side
# state.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in per_session:
        per_session[key] = _load_table(spark, sf_dir, name)
    return per_session[key]


#: footer key Spark writes its own schema under; Spark's inference
#: prefers it to the parquet types, so such files are left to Spark
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _arrow_footer(path: str):
    """The arrow schema of a local parquet file's footer, or ``None``
    when ``path`` is not a local file or its footer cannot be read."""
    from urllib.parse import urlparse

    uri = urlparse(path)
    if uri.scheme not in ("", "file"):
        return None
    local = uri.path if uri.scheme else path
    if not os.path.isfile(local):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.read_schema(local)
    except (OSError, pa.ArrowException):
        return None


def _same_as_inferred(t, ntz: bool) -> bool:
    """True iff arrow type ``t`` maps through ``from_arrow_type`` to the
    type Spark's own parquet inference gives the column."""
    import pyarrow.types as pt

    if pt.is_list(t):
        t = t.value_type  # one level: array<scalar>
    if pt.is_timestamp(t):
        # TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
        # TIMESTAMP_NTZ only while inferTimestampNTZ is on
        return ntz and t.unit == "us" and t.tz is None
    return (pt.is_int32(t) or pt.is_int64(t) or pt.is_float32(t)
            or pt.is_float64(t) or pt.is_boolean(t) or pt.is_string(t)
            or pt.is_date32(t))


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from
    the file's footer on the driver: no Spark job. ``None`` unless
    ``path`` is one local parquet file whose every column is a type
    whose arrow mapping equals Spark's inference (int32, int64, float,
    double, bool, string, date32, naive ``timestamp[us]``, and lists of
    these) and whose footer carries no Spark-written schema; callers
    then let Spark infer."""
    arrow = _arrow_footer(path)
    if arrow is None or _SPARK_ROW_METADATA in (arrow.metadata or {}):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                         "true").lower() == "true"
    if not all(_same_as_inferred(f.type, ntz) for f in arrow):
        return None
    from pyspark.sql.pandas.types import from_arrow_schema

    # Spark reads every file column as nullable, whatever the footer says
    return StructType([
        StructField(f.name, _nullable(f.dataType))
        for f in from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    ])


def _nullable(dt):
    return ArrayType(dt.elementType) if isinstance(dt, ArrayType) else dt


def _nanos_ts(path: str) -> bool:
    """Whether ``path`` may store ``ts`` as TIMESTAMP(NANOS): its footer
    says so, or cannot be read."""
    arrow = _arrow_footer(path)
    if arrow is None:
        return True
    i = arrow.get_field_index("ts")
    return i >= 0 and getattr(arrow.field(i).type, "unit", None) == "ns"


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(spark, path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        if name == "events" and _nanos_ts(path):
            # TIMESTAMP(NANOS), which Spark's vectorized reader rejects:
            # read nanos as long and truncate to micros below (the µs
            # values DuckDB produces)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name != "events":
        return df
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
        # TIMESTAMP_NTZ, which unix_micros()/window funcs reject. The
        # session TZ is pinned to UTC (session.py), so casting to
        # TIMESTAMP is lossless and matches what DuckDB computes.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


# Default hash-spread key per table (a stable, uniformly distributed
# id column — NEVER rand(): task retries must re-derive identical
# placement, SPARK-38388).
_SPREAD_KEYS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


#: below this many source bytes a spread() is identity even on a
#: one-task scan: the per-row work on a sub-quarter-MB table is
#: cheaper than the exchange it would buy (measured at sf0.001/0.01,
#: where every touched query's spread was pure task overhead).
SPREAD_MIN_BYTES = int(os.environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES",
                                      256 * 1024))


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Total source bytes of the base table (memoized per session —
    driver-side file-size sum over the scan's input files). Returns
    ``-1`` ("unknown — assume large") when any input is not a local
    file (s3://, hdfs://): counting an unreadable remote file as 0
    would read as "tiny table" and silently disable spread() for
    exactly the single huge remote file guide §2.5 targets."""
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = ("bytes", sf_dir, name)
    if key not in per_session:
        import os as _os
        from urllib.parse import urlparse

        total = 0
        for uri in table(spark, sf_dir, name).inputFiles():
            p = urlparse(uri).path or uri
            try:
                total += _os.path.getsize(p)
            except OSError:
                total = -1
                break
        per_session[key] = total
    return per_session[key]


def scan_parallelism(spark: SparkSession, sf_dir: str, name: str) -> int:
    """How many tasks the base table's parquet scan fans out to
    (memoized per session — ``.rdd.getNumPartitions()`` compiles the
    plan once, runs no job). The local test tables are SINGLE-row-group
    parquet files, and a row group is the parquet split atom, so their
    scans are ONE task no matter how small
    ``spark.sql.files.maxPartitionBytes`` is; a production table with
    many files/row groups reports its real fan-out here."""
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = ("npart", sf_dir, name)
    if key not in per_session:
        per_session[key] = table(spark, sf_dir, name).rdd.getNumPartitions()
    return per_session[key]


def needs_spread(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """THE spread gate, shared by :func:`spread` and every caller that
    must adapt its own layout to whether the input was spread (e.g.
    dedup's post-aggregation compaction) — one predicate, so the two
    sides cannot drift. True iff the source scan would serialize most
    cores (< half of defaultParallelism) AND the source is not tiny
    (unknown sizes count as large — see :func:`table_bytes`)."""
    n = spark.sparkContext.defaultParallelism
    if scan_parallelism(spark, sf_dir, name) * 2 >= n:
        return False
    tb = table_bytes(spark, sf_dir, name)
    return tb < 0 or tb >= SPREAD_MIN_BYTES


def spread(spark: SparkSession, sf_dir: str, name: str,
           df: DataFrame | None = None, keys: tuple[str, ...] = ()) -> DataFrame:
    """Fan an effectively-unsplittable scan out to the session's cores
    before per-row-heavy work (optimization guide §2.5, "input skew:
    one huge unsplittable file … repartition immediately after the
    read").

    Gated on the SOURCE table's real scan parallelism: when the scan
    already fans out to >= half the cores (any production-size table),
    this is the identity — no extra exchange, no payload re-shuffle at
    scale. Only a scan that would serialize most cores (the
    single-row-group local files) pays one narrow hash repartition to
    ``defaultParallelism``. The partition count is explicit, so AQE's
    coalescer cannot fold the deliberately-small local shuffle back
    into one partition, and the keys are stable id columns (hash
    placement is retry-deterministic, unlike round-robin of a
    non-deterministic input).

    Callers project/filter first and pass the result as ``df`` so the
    exchange moves only the columns the heavy stage needs.

    (A ``width=`` cap below defaultParallelism was prototyped for the
    mm_* Python kernels in r14 and REVERTED — per-kind decode costs
    differ too much for one bytes-derived width; see
    multimodal.media_table and plans/r14/MEASUREMENTS.md.)"""
    base = table(spark, sf_dir, name) if df is None else df
    if not needs_spread(spark, sf_dir, name):
        return base
    n = spark.sparkContext.defaultParallelism
    cols = keys or _SPREAD_KEYS[name]
    return base.repartition(n, *[F.col(k) for k in cols])


# Last-registered sf_dir per live session: re-registering the same 10
# views costs ~0.5 s of parquet-footer schema reads EACH call (measured
# 5.4 s total), so repeated SQL-surface queries would re-pay it every
# run. Temp views are scoped to the SparkSession (spark.newSession()
# shares the applicationId but NOT the view catalog), so the memo is
# keyed on the session object itself — weakly, so a dropped session
# doesn't pin the entry.
_VIEWS_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


# SQL-defined functions (Spark 4 CREATE FUNCTION … RETURN): the
# engine-portable way to ship reusable business logic to SQL-surface
# users — the body is a plain SQL expression Catalyst inlines into the
# calling plan (whole-stage codegen keeps running; nothing here is a
# Python UDF). These are the house conventions the operators use
# everywhere, exposed to ad-hoc SQL:
#   cents(x)         — money onto the exact BIGINT cents grid
#   share_ppm(n, d)  — non-negative integer share in parts-per-million
#                      (NULL when d = 0), the lint-safe ratio grid
#   stable_hash(s)   — the 60-bit md5 content hash of hashing.py
#   ws_tokens(s)     — table function: whitespace tokens of s
_SQL_FUNCTIONS = (
    """CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE)
       RETURNS BIGINT RETURN CAST(ROUND(x * 100) AS BIGINT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION share_ppm(n BIGINT, d BIGINT)
       RETURNS BIGINT RETURN
       CASE WHEN d = 0 THEN NULL ELSE n * 1000000 DIV d END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION stable_hash(s STRING)
       RETURNS BIGINT RETURN
       CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION ws_tokens(s STRING)
       RETURNS TABLE(w STRING) RETURN SELECT explode(split(s, ' '))""",
)


def register_sql_functions(spark: SparkSession) -> None:
    """Register the house SQL-function library (idempotent — CREATE OR
    REPLACE). Session-scoped like the temp views; a cluster deployment
    would CREATE FUNCTION them once into the metastore instead."""
    for stmt in _SQL_FUNCTIONS:
        spark.sql(stmt)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for spark.sql queries
    (idempotent per session + sf_dir). The short-circuit re-verifies
    the views still EXIST (catalog lookups, no file I/O), so a dropped
    view self-heals on the next call; a view someone re-pointed at a
    different frame is indistinguishable from ours and stays — the
    standard temp-view sharing caveat."""
    if _VIEWS_REGISTERED.get(spark) == sf_dir and all(
        spark.catalog.tableExists(t) for t in TABLES
    ):
        return
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[spark] = sf_dir
