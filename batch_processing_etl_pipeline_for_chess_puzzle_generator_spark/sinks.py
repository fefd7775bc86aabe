"""Distributed sinks: every write path is executor-side, no driver loop.

The reference's only sink serialized rows to text files via RDD
``foreachPartition`` with a driver-managed directory (etl/transform.py:
36-54,117). Here each sink is a plain DataFrameWriter plan, so it
scales with the cluster and composes with checkpointed streaming:

- ``write_partitioned``: hive-style partition directories — the layout
  that makes downstream reads partition-prunable at 100 TB.
- ``write_bucketed``: bucketed + sorted table — repeated joins/aggs on
  the bucket key skip the shuffle entirely (asserted in tests).
- ``write_text``: the PGN-style single-string-column text sink.
- ``FORMATS`` round-trip writers/readers (parquet/orc/json/csv) with
  explicit schema on read — schema inference is a full extra scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "orc", "json", "csv")

# Avro ships as an external Spark module (spark-avro); probe once so the
# round-trip surface includes it automatically wherever the jar is on
# the classpath, and skips cleanly where it isn't.


def avro_available(spark) -> bool:
    # Probe the actual DataSource lookup (class presence alone is not
    # enough — the provider must be service-registered). A missing
    # module fails at format resolution, before the path is touched;
    # any path error therefore means the format itself resolved.
    try:
        spark.read.format("avro").schema("x INT").load("/nonexistent-avro-probe")
        return True
    except Exception as e:  # noqa: BLE001
        return "Failed to find data source" not in str(e)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Partition-directory write. Rows are pre-shuffled onto their
    partition keys so each task writes whole directories instead of
    every task appending a small file to every partition (the
    small-files explosion at scale)."""
    (
        df.repartition(*partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet",
                     schema: str | None = None) -> DataFrame:
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def write_partitioned_evolving(df: DataFrame, path: str,
                               partition_cols: list[str],
                               fmt: str = "parquet") -> int:
    """Partition-spec evolution over the hive layout (Iceberg's
    partition evolution, expressed Spark-first): each distinct spec
    gets its own ``spec=N`` subtree, recorded in ``_spec.json``. Old
    data is NEVER rewritten when the spec changes — new writes land
    under the new spec, and :func:`read_partitioned_evolving` unions
    the subtrees. Appending with the CURRENT spec reuses its subtree.
    Returns the spec id written to.

    Why not rewrite: at 100 TB a repartition of history is a full-table
    job; the whole point of spec evolution is that yesterday's layout
    keeps serving yesterday's data while today's queries prune on the
    new key for new data.
    """
    cols = list(partition_cols)
    return _append_under_spec(df, path, cols, cols, fmt)


def read_partitioned_evolving(spark: SparkSession, path: str,
                              fmt: str = "parquet") -> DataFrame:
    """Read a spec-evolved table: one pruned scan per spec subtree,
    ``unionByName`` with NULL-fill for partition columns an older spec
    lacks. A filter on a new-spec partition column folds the old
    subtrees to empty relations (NULL = literal is constant-false), so
    partition pruning survives the union in every branch."""
    import json as _json
    import os

    spec_file = os.path.join(path, "_spec.json")
    with open(spec_file) as fh:
        specs = _json.load(fh)
    out = None
    for spec_id in range(len(specs)):
        sub = os.path.join(path, f"spec={spec_id}")
        if not os.path.isdir(sub):
            continue  # spec registered but never written
        part = read_partitioned(spark, sub, fmt=fmt)
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    if out is None:
        raise FileNotFoundError(f"no spec subtrees under {path}")
    return out


# --------------------- Iceberg-style hidden-partitioning transforms
#
# Users filter on the SOURCE column (an event timestamp, a join key);
# the table partitions on a DERIVED value (its day, its hash bucket).
# Iceberg resolves the derivation at plan time; the Spark-first
# re-expression keeps the derived value as an ordinary hive partition
# column computed at write and RECONSTRUCTS the partition predicate
# from the source-column predicate at read — Catalyst constant-folds
# the reconstruction, so it prunes directories exactly like a
# hand-written partition filter. Transform specs ("days(ts)",
# "bucket(16, k)", "truncate(8, s)", or a bare column for identity)
# plug into the SAME spec-evolution machinery as plain columns:
# history written under days(ts) keeps pruning by day while new data
# partitions by hours(ts), per subtree.

import re as _re

_TRANSFORM_RE = _re.compile(
    r"^\s*(identity|years|months|days|hours|bucket|truncate)\s*\(\s*"
    r"(?:(\d+)\s*,\s*)?(\w+)\s*\)\s*$"
)

# date_format patterns whose STRING sort order is chronological, so
# between-predicates on the hidden column stay correct
_TIME_FMT = {"years": "yyyy", "months": "yyyy-MM",
             "days": "yyyy-MM-dd", "hours": "yyyy-MM-dd-HH"}
_TIME_SLICE = {"years": 4, "months": 7, "days": 10, "hours": 13}


class _Transform:
    """One parsed partition transform. ``hidden`` is the physical
    partition column name; ``value_sql(x)`` derives the partition
    value of any source-typed SQL expression (used on the data at
    write time and on folded literals at read time)."""

    def __init__(self, spec: str):
        m = _TRANSFORM_RE.match(spec)
        if m:
            self.kind, arg, self.col = m.group(1), m.group(2), m.group(3)
            if self.kind in ("bucket", "truncate"):
                if not arg:
                    raise ValueError(f"{self.kind} needs a width: {spec!r}")
                self.n = int(arg)
                if self.n <= 0:
                    raise ValueError(f"{self.kind} width must be > 0: {spec!r}")
            elif arg:
                raise ValueError(f"{self.kind} takes no width: {spec!r}")
            else:
                self.n = None
        elif _re.fullmatch(r"\w+", spec.strip()):
            self.kind, self.col, self.n = "identity", spec.strip(), None
        else:
            raise ValueError(f"unparseable partition transform: {spec!r}")

    @property
    def canonical(self) -> str:
        if self.kind == "identity":
            return self.col
        if self.n is not None:
            return f"{self.kind}({self.n}, {self.col})"
        return f"{self.kind}({self.col})"

    @property
    def hidden(self) -> str:
        if self.kind == "identity":
            return self.col
        suffix = f"_{self.n}" if self.n is not None else ""
        return f"{self.col}__{self.kind}{suffix}"

    def value_sql(self, x: str, dtype: str) -> str:
        if self.kind == "identity":
            return x
        if self.kind in _TIME_FMT:
            return f"date_format({x}, '{_TIME_FMT[self.kind]}')"
        if self.kind == "bucket":
            # Spark murmur3 via hash(); the literal side MUST be cast
            # to the source column's type — hash(5) != hash(5L)
            return f"pmod(hash(CAST({x} AS {dtype})), {self.n})"
        if dtype.lower() in ("string", "varchar"):
            return f"substring({x}, 1, {self.n})"
        # numeric truncate floors toward -inf (Iceberg semantics)
        return f"CAST(floor({x} / {self.n}) * {self.n} AS {dtype})"

    def range_values(self, lo, hi):
        """Partition-value [lo, hi] implied by a source-value range —
        valid only for monotone transforms (not bucket)."""
        if self.kind == "identity":
            return lo, hi
        if self.kind in _TIME_SLICE:
            w = _TIME_SLICE[self.kind]
            def _s(v):
                s = v.isoformat() if hasattr(v, "isoformat") else str(v)
                return s.replace("T", "-").replace(" ", "-")[:w]
            return _s(lo), _s(hi)
        if self.kind == "truncate":
            if isinstance(lo, str):
                return lo[:self.n], hi[:self.n]
            import math
            return (int(math.floor(lo / self.n) * self.n),
                    int(math.floor(hi / self.n) * self.n))
        return None  # bucket: ranges don't prune


def _parse_specs(specs: list[str]) -> list[_Transform]:
    return [_Transform(s) for s in specs]


def write_hidden_partitioned(df: DataFrame, path: str, specs: list[str],
                             fmt: str = "parquet") -> int:
    """Write with hidden-partitioning transforms through the
    spec-evolution layout: derives one physical partition column per
    transform, records the CANONICAL transform strings in _spec.json,
    and appends under the matching ``spec=N`` subtree (a new transform
    list = a new spec id; history is never rewritten). Identity
    transforms partition on the source column directly; derived
    columns keep the source column in the data files, so reads see the
    original schema."""
    from pyspark.sql import functions as F

    ts = _parse_specs(specs)
    types = dict(df.dtypes)
    hidden_cols = []
    for t in ts:
        if t.col not in types:
            raise ValueError(f"transform column {t.col!r} not in schema")
        if t.kind != "identity":
            df = df.withColumn(
                t.hidden, F.expr(t.value_sql(t.col, types[t.col]))
            )
        hidden_cols.append(t.hidden)
    return _append_under_spec(df, path, [t.canonical for t in ts],
                              hidden_cols, fmt)


_SPEC_LOCK = __import__("threading").Lock()


def _register_spec(path: str, spec_strings: list[str]) -> int:
    """Atomically record ``spec_strings`` in ``_spec.json`` and return
    its spec id. The read-modify-write is serialized so concurrent
    writers registering different specs can't lose each other's entry
    (the write JOBS may still overlap — only the tiny registration is
    locked)."""
    import json as _json
    import os

    with _SPEC_LOCK:
        os.makedirs(path, exist_ok=True)
        spec_file = os.path.join(path, "_spec.json")
        specs: list[list[str]] = []
        if os.path.exists(spec_file):
            with open(spec_file) as fh:
                specs = _json.load(fh)
        if specs and specs[-1] == spec_strings:
            return len(specs) - 1
        specs.append(spec_strings)
        tmp = spec_file + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(specs, fh)
        os.replace(tmp, spec_file)
        return len(specs) - 1


def _append_under_spec(df: DataFrame, path: str, spec_strings: list[str],
                       partition_cols: list[str], fmt: str) -> int:
    import os

    spec_id = _register_spec(path, spec_strings)
    write_partitioned(df, os.path.join(path, f"spec={spec_id}"),
                      partition_cols, fmt=fmt, mode="append")
    return spec_id


def read_hidden_partitioned(spark: SparkSession, path: str,
                            fmt: str = "parquet",
                            eq: dict | None = None,
                            between: dict | None = None) -> DataFrame:
    """Read a hidden-partitioned (possibly spec-evolved) table with
    source-level predicates that PRUNE like partition filters:

    - ``eq={"k": 5}``     → rows where k = 5; every subtree whose spec
      buckets/days/truncates k also gets the derived partition
      predicate (bucket equality included — the hash folds to a
      constant).
    - ``between={"ts": (lo, hi)}`` → rows in the closed range; monotone
      transforms (time/truncate/identity) derive a partition range,
      bucket transforms can't and fall back to the row filter alone.

    Each spec subtree is scanned with ITS OWN derived predicates, so
    pruning follows the layout each era of the table actually has —
    Iceberg's read-time behavior, reconstructed with ordinary Catalyst
    constant folding (assert via explain: PartitionFilters on the
    hidden column). Hidden columns are dropped from the result."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    spec_file = os.path.join(path, "_spec.json")
    with open(spec_file) as fh:
        specs = _json.load(fh)
    eq = eq or {}
    between = between or {}
    out = None
    for spec_id, spec_strings in enumerate(specs):
        sub = os.path.join(path, f"spec={spec_id}")
        if not os.path.isdir(sub):
            continue
        part = read_partitioned(spark, sub, fmt=fmt)
        types = dict(part.dtypes)
        ts = _parse_specs(spec_strings)
        preds = []
        for col, v in eq.items():
            preds.append(F.col(col) == F.lit(v))
            for t in ts:
                if t.col == col and t.kind != "identity":
                    lit = f"CAST({_sql_lit(v)} AS {types[col]})"
                    preds.append(
                        F.col(t.hidden) == F.expr(t.value_sql(lit, types[col]))
                    )
        for col, (lo, hi) in between.items():
            preds.append(F.col(col).between(F.lit(lo), F.lit(hi)))
            for t in ts:
                if t.col == col and t.kind != "identity":
                    rng = t.range_values(lo, hi)
                    if rng is not None:
                        preds.append(F.col(t.hidden).between(*rng))
        for p in preds:
            part = part.filter(p)
        part = part.drop(*[t.hidden for t in ts if t.kind != "identity"])
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    if out is None:
        raise FileNotFoundError(f"no spec subtrees under {path}")
    return out


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   fmt: str = "parquet") -> None:
    """Bucketed (and optionally sorted) managed table. Two tables
    bucketed the same way join WITHOUT an exchange — the physical plan
    reads pre-co-located buckets. This is the 100 TB answer for a fact
    table joined on the same key by every query."""
    writer = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_text(df: DataFrame, column: str, path: str, mode: str = "overwrite") -> None:
    """Single-string-column distributed text write (PGN sink shape —
    reference serialized per-row on the driver-side RDD hop)."""
    df.select(df[column].alias("value")).write.mode(mode).text(path)


def write_xml(df: DataFrame, path: str, mode: str = "overwrite",
              row_tag: str = "row", root_tag: str = "rows") -> None:
    """XML sink (built into Spark since 4.0 — no external spark-xml
    jar, unlike avro). Nested structs become nested elements and
    arrays become repeated elements, so the reference's nested
    ND-JSON shape (players.white.user.name) round-trips through XML
    unchanged. Distributed like every other format writer: one XML
    document per partition file."""
    (df.write.mode(mode).format("xml")
     .option("rowTag", row_tag).option("rootTag", root_tag).save(path))


def read_xml(spark: SparkSession, path: str, schema: str | None = None,
             row_tag: str = "row", **options: str) -> DataFrame:
    """XML source. Pass ``schema`` (DDL string) to pin types — XML
    carries no type metadata, so schema-less reads infer (the same
    schema-on-read contract as the ND-JSON source; production readers
    should pin, exactly like sources/ndjson.py does). Extra reader
    options pass through — the malformed-input contract mirrors the
    ND-JSON source: ``mode="PERMISSIVE"`` +
    ``columnNameOfCorruptRecord`` (with that column in the schema)
    routes bad rows to the corrupt column instead of failing the job.
    """
    r = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        r = r.option(k, v)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def compact(spark: SparkSession, path: str, fmt: str = "parquet",
            target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a directory of many small files
    into ~``target_file_bytes`` files. Returns the new file count.

    File count comes from total input bytes / target — computed from
    filesystem metadata, no data pass. The rewrite itself is one
    distributed read → coalesce → write into a temp dir, then an atomic
    directory swap, so readers never observe a half-compacted table.
    At cluster scale the same routine runs per partition directory
    (compact the partitions whose file count drifted, not the table).
    """
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith("_") and not f.startswith(".")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "._compact_tmp"
    (
        spark.read.format(fmt).load(path)
        .coalesce(n_files)
        .write.format(fmt).mode("overwrite").save(tmp)
    )
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def compact_partitioned(spark: SparkSession, path: str, fmt: str = "parquet",
                        target_file_bytes: int = 128 * 1024 * 1024,
                        min_files: int = 2) -> dict[str, int]:
    """Per-partition-directory compaction for hive-layout tables.

    Walks the ``key=value`` directory tree to its leaves and compacts
    ONLY the partitions whose file count exceeds ``min_files`` — the
    maintenance shape at 100 TB, where a full-table rewrite is never an
    option and only the partitions that drifted (streaming appends,
    skewed writers) need touching. Each leaf uses the same atomic
    temp-dir swap as :func:`compact`. Returns {partition_dir: new file
    count} for the partitions rewritten.
    """
    import os

    def leaves(d: str):
        subs = [
            os.path.join(d, x) for x in sorted(os.listdir(d))
            if os.path.isdir(os.path.join(d, x)) and "=" in x
        ]
        if not subs:
            yield d
            return
        for s in subs:
            yield from leaves(s)

    done: dict[str, int] = {}
    for leaf in leaves(path):
        data_files = [
            f for f in os.listdir(leaf)
            if not f.startswith("_") and not f.startswith(".")
            and os.path.isfile(os.path.join(leaf, f))
        ]
        if len(data_files) <= min_files:
            continue
        done[os.path.relpath(leaf, path)] = compact(
            spark, leaf, fmt=fmt, target_file_bytes=target_file_bytes
        )
    return done


def write_quarantine(df: DataFrame, rules: dict[str, str], path: str,
                     fmt: str = "parquet",
                     mode: str = "overwrite",
                     epoch: int | None = None) -> dict[str, int]:
    """Dead-letter split: route rows failing any rule to ``bad/`` (with
    the names of the violated rules) and the rest to ``good/`` — in ONE
    scan of the input.

    ``rules`` maps rule name → boolean SQL expression that must hold.
    The split is a ``partitionBy`` on a computed validity flag, so the
    input is read once and the writer fans rows to the two directories
    (the alternative — two filtered writes — scans twice, and a
    ``persist`` big enough to avoid that doesn't exist at 100 TB).
    Row counts come from ``observe`` metrics on the SAME job, not a
    second count() pass. Generalizes the reference's silent drop
    (etl/transform.py:100 filters malformed rows away) into an
    auditable quarantine.

    With ``epoch`` the write is IDEMPOTENT per epoch: rows land under
    ``_epoch=<id>/_bucket=.../`` via dynamic partition overwrite, so a
    replayed micro-batch overwrites its own partitions instead of
    appending duplicates — the exactly-once output contract the
    streaming twin needs.
    """
    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.telemetry import observed

    if epoch is not None and mode != "overwrite":
        # the epoch path hardcodes dynamic-partition overwrite (that IS
        # the idempotence mechanism) — honoring e.g. mode='append' is
        # impossible, so reject it rather than silently ignore it
        raise ValueError(
            f"mode={mode!r} is incompatible with epoch: per-epoch writes "
            "always use dynamic-partition overwrite for idempotent replay"
        )
    reserved = {"_violations", "_ok", "_bucket", "_epoch"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns {sorted(reserved)} collide with quarantine "
            "bookkeeping columns — rename them first"
        )
    # a rule evaluating to NULL (e.g. 'amount >= 0' on a NULL amount)
    # counts as a VIOLATION — the coalesce closes the ~NULL trap that
    # would otherwise route unvalidatable rows to good/
    violated = F.array_compact(F.array(*[
        F.when(~F.coalesce(F.expr(expr), F.lit(False)), F.lit(name))
        .otherwise(F.lit(None))
        for name, expr in rules.items()
    ]))
    flagged, obs = observed(
        df.withColumn("_violations", violated)
        .withColumn("_ok", F.size("_violations") == 0),
        "quarantine",
        n_good=F.sum(F.expr("CASE WHEN _ok THEN 1 ELSE 0 END")),
        n_bad=F.sum(F.expr("CASE WHEN _ok THEN 0 ELSE 1 END")),
    )
    routed = flagged.withColumns({
        "_violations": F.expr("CASE WHEN _ok THEN NULL "
                              "ELSE concat_ws(',', _violations) END"),
        "_bucket": F.expr("CASE WHEN _ok THEN 'good' ELSE 'bad' END"),
    }).drop("_ok")
    if epoch is not None:
        (
            routed.withColumn("_epoch", F.lit(int(epoch)))
            .write.format(fmt).mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch", "_bucket").save(path)
        )
    else:
        routed.write.format(fmt).mode(mode).partitionBy("_bucket").save(path)
    got = obs.get
    return {"n_good": got["n_good"] or 0, "n_bad": got["n_bad"] or 0}


def read_quarantine(spark: SparkSession, path: str, bucket: str,
                    fmt: str = "parquet") -> DataFrame:
    """Read back one side of a quarantine split ('good' or 'bad');
    partition pruning keeps the scan to that side's directory."""
    if bucket not in ("good", "bad"):
        raise ValueError(f"bucket must be 'good' or 'bad', got {bucket!r}")
    out = (
        spark.read.format(fmt).load(path)
        .filter(f"_bucket = '{bucket}'")
        .drop("_bucket")
    )
    return out.drop("_epoch") if "_epoch" in out.columns else out
