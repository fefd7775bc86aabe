"""``spark.read.format("versioned")`` — the time-travel reader as a
Spark 4 Python Data Source.

``versioned.read_version`` is the library API; this wraps the same
manifest resolution behind Spark's DataSource registry so SQL-surface
users (and tools that only speak ``spark.read.format(...)``) can
time-travel without importing the library:

    spark.dataSource.register(VersionedDataSource)
    df = (spark.read.format("versioned")
          .option("path", table_path)
          .option("version", 2)        # omit for latest
          .load())

Also a STREAMING source (``spark.readStream.format("versioned")``):
every committed version is a micro-batch of its added files, offsets
are version numbers, and a checkpointed query resumes from the last
committed version — see ``VersionedStreamReader``.

Partition planning mirrors the engine's: ONE InputPartition per
manifest file (the version's immutable file set — a later commit can't
disturb a running read), and each partition streams its parquet file
as Arrow RecordBatches, which Spark ingests zero-copy. Schema comes
from the manifest, so planning never opens a data file. This is the
sanctioned slow-ish path (Python workers ingest the bytes) — it
demonstrates the integration point; perf-critical jobs use
``versioned.read_version`` which plans a native parquet scan of the
same file list.
"""

from __future__ import annotations

import json
import os
import re

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class _FilePartition(InputPartition):
    def __init__(self, path: str, dv_sidecars: list[str] | None = None):
        self.path = path
        self.dv_sidecars = dv_sidecars


class _CdfPartition(InputPartition):
    """One change-feed file: ``change_type`` None means the file is a
    persisted cdf file whose ``_change_type`` column is in-file;
    otherwise every row gets the constant (append-only 'insert') and
    ``dv_sidecars`` name the version's deletion vectors for the file."""

    def __init__(self, path: str | None, change_type: str | None,
                 commit_version: int, dv_sidecars: list[str] | None = None):
        self.path = path
        self.change_type = change_type
        self.commit_version = commit_version
        self.dv_sidecars = dv_sidecars


def _iter_cdf_batches(partition: _CdfPartition, target: StructType,
                      name_map: dict | None = None):
    """Arrow batches of one change-feed partition aligned to the
    CDF-widened schema: _iter_file_batches NULL-backfills whatever the
    file lacks (_commit_version always; _change_type for insert
    files), then the constants overwrite those columns."""
    import pyarrow as pa

    names = target.fieldNames()
    ct_idx = names.index("_change_type")
    cv_idx = names.index("_commit_version")
    for batch in _iter_file_batches(partition.path, target,
                                    _skip_positions(partition),
                                    name_map=name_map):
        n = batch.num_rows
        arrays = list(batch.columns)
        if partition.change_type is not None:
            arrays[ct_idx] = pa.array([partition.change_type] * n,
                                      pa.string())
        arrays[cv_idx] = pa.array([partition.commit_version] * n,
                                  pa.int64())
        yield pa.RecordBatch.from_arrays(arrays, schema=batch.schema)


def _deleted_positions(sidecar_paths: list[str], data_path: str) -> set:
    """The deletion-vector positions for ONE data file, read from its
    sidecar parquet(s) ON THE EXECUTOR (the Delta reader shape: each
    task loads only its own file's vector). Sidecar rows key on the
    Spark-rendered file URI; matching decodes both sides to a
    normalized path."""
    import pyarrow.parquet as pq

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    want = os.path.abspath(versioned._uri_to_path(data_path))
    pos: set = set()
    for s in sidecar_paths:
        t = pq.read_table(s, columns=["file", "pos"])
        for f, p in zip(t.column("file").to_pylist(),
                        t.column("pos").to_pylist()):
            if os.path.normpath(versioned._uri_to_path(f)) == want:
                pos.add(p)
    return pos


def _skip_positions(partition) -> set | None:
    """The deleted positions of a partition's file, or None when it
    carries no deletion vectors."""
    sidecars = getattr(partition, "dv_sidecars", None)
    return _deleted_positions(sidecars, partition.path) if sidecars else None


def _with_sidecars(table_path: str, manifest: dict, rel_files: list[str]):
    """``(absolute file, absolute sidecars or None)`` for files of one
    version: the deletion vectors that version applies to each file.
    Every planned path goes through ``_abs_file`` (absolutized and
    normalized): sidecar rows key on ABSOLUTE file URIs, so a relative
    ``.option("path", ...)`` must not leak relative paths into a
    partition plan — matching would silently miss and deleted rows
    would resurrect."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    dv = versioned._dv_map(manifest)
    return [(versioned._abs_file(table_path, f),
             [versioned._abs_file(table_path, s) for s in dv[f]]
             if f in dv else None)
            for f in rel_files]


def _iter_file_batches(path: str, target: StructType,
                       skip_positions: set | None = None,
                       name_map: dict | None = None):
    """Stream one parquet file's row groups as Arrow batches (bounded
    memory per task), NULL-backfilling any column the file predates —
    the same semantics read_version gets from the explicit-schema scan.
    ``skip_positions`` (deletion-vector rows) are filtered out by
    in-file position, tracked as a running offset across batches.
    ``name_map`` ({logical: physical}, from RENAME COLUMN column
    mapping) serves a renamed column from its physical in-file name
    when the file predates the rename. Shared by the batch and
    streaming readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name_map = name_map or {}
    f = pq.ParquetFile(path)
    in_file = set(f.schema_arrow.names)
    missing = [name for name in target.fieldNames() if name not in in_file]
    from pyspark.sql.pandas.types import to_arrow_schema

    t = to_arrow_schema(target)
    offset = 0
    for batch in f.iter_batches():
        n = batch.num_rows
        if missing:
            cols = []
            for field in t:
                # prefer the logical name; fall back to the mapped
                # physical name (pre-rename files); else NULL-backfill
                src = None
                if field.name in batch.schema.names:
                    src = field.name
                elif name_map.get(field.name) in batch.schema.names:
                    src = name_map[field.name]
                if src is not None:
                    col = batch.column(batch.schema.names.index(src))
                    if col.type != field.type:
                        col = col.cast(field.type)
                    cols.append(col)
                else:
                    cols.append(pa.nulls(n, type=field.type))
            batch = pa.RecordBatch.from_arrays(cols, schema=t)
        if skip_positions:
            keep = [i for i in range(n)
                    if (offset + i) not in skip_positions]
            if len(keep) < n:
                batch = batch.take(pa.array(keep, type=pa.int64()))
        offset += n
        yield batch


_FILTER_OPT_RE = None  # compiled lazily in _parse_filter_option
_FILTER_IN_RE = None
_FILTER_LIT = r"(?:'([^']*)'|(-?\d+(?:\.\d+)?))"


def _split_on_kw(expr: str, kw: str) -> list[str]:
    """Split on a top-level keyword (case-insensitive), never inside a
    quoted string literal."""
    import re

    parts, buf, in_q = [], [], False
    tokens = re.split(rf"(\s+(?i:{kw})\s+|')", expr)
    for t in tokens:
        if t == "'":
            in_q = not in_q
            buf.append(t)
        elif (not in_q and t.strip().lower() == kw.lower()
                and t != t.strip()):
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(t)
    parts.append("".join(buf))
    return [p for p in parts if p.strip()]


def _split_and(expr: str) -> list[str]:
    return _split_on_kw(expr, "and")


def _strip_outer_parens(s: str) -> str:
    """Strip ONE balanced outer paren pair (``(a AND b)`` → ``a AND b``)
    so disjuncts may be parenthesized; ``k IN (1, 2)`` is untouched
    because its parens don't wrap the whole expression."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth, in_q = 0, False
        for i, ch in enumerate(s):
            if ch == "'":
                in_q = not in_q
            elif not in_q and ch == "(":
                depth += 1
            elif not in_q and ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    return s  # closes early: not one outer pair
        s = s[1:-1].strip()
    return s


def _lit_value(s: str | None, n: str | None):
    if s is not None:
        return s
    return float(n) if "." in n else int(n)


def _parse_conjuncts(expr: str) -> list:
    """Parse one disjunct — an AND of simple predicates — into
    [(col, op, value), …]. Forms: ``col OP literal`` (op ∈ {=, ==, !=,
    <, <=, >, >=}), ``col IN (lit, lit, …)`` (op = 'in', value =
    list), and ``col BETWEEN lit AND lit`` (desugared to >= AND <=).
    BETWEEN's own AND is consumed here: the quote-aware AND split
    leaves ``col BETWEEN lo`` followed by a bare ``hi`` part, which
    are re-joined by lookahead."""
    import re

    global _FILTER_OPT_RE, _FILTER_IN_RE
    if _FILTER_OPT_RE is None:
        _FILTER_OPT_RE = re.compile(
            r"^\s*(?P<col>\w+)\s*(?P<op>==|=|!=|<=|>=|<|>)\s*"
            rf"{_FILTER_LIT}\s*$"
        )
        _FILTER_IN_RE = re.compile(
            r"^\s*(?P<col>\w+)\s+[Ii][Nn]\s*\((?P<items>[^)]*)\)\s*$"
        )
    between_re = re.compile(
        rf"^\s*(?P<col>\w+)\s+[Bb][Ee][Tt][Ww][Ee][Ee][Nn]\s+"
        rf"{_FILTER_LIT}\s*$"
    )
    lit_re = re.compile(rf"^\s*{_FILTER_LIT}\s*$")
    conjuncts = []
    parts = _split_and(expr)
    i = 0
    while i < len(parts):
        part = parts[i]
        m = between_re.match(part)
        if m:
            hm = lit_re.match(parts[i + 1]) if i + 1 < len(parts) else None
            if hm is None:
                raise ValueError(
                    f"malformed BETWEEN in filter option {part!r} — "
                    "expected <column> BETWEEN <literal> AND <literal>")
            col = m["col"]
            conjuncts.append((col, ">=", _lit_value(m.group(2),
                                                    m.group(3))))
            conjuncts.append((col, "<=", _lit_value(hm.group(1),
                                                    hm.group(2))))
            i += 2
            continue
        m = _FILTER_OPT_RE.match(part)
        if m:
            col, op = m["col"], m["op"]
            value = _lit_value(m.group(3), m.group(4))
            conjuncts.append((col, "=" if op == "==" else op, value))
            i += 1
            continue
        m = _FILTER_IN_RE.match(part)
        if m:
            items = []
            rest = m["items"].strip()
            if not rest:
                raise ValueError(
                    f"empty IN list in filter option {part!r}")
            for item in rest.split(","):
                lm = re.fullmatch(rf"\s*{_FILTER_LIT}\s*", item)
                if not lm:
                    raise ValueError(
                        f"unsupported IN-list literal {item!r} in "
                        f"filter option {part!r}")
                items.append(_lit_value(lm.group(1), lm.group(2)))
            conjuncts.append((m["col"], "in", items))
            i += 1
            continue
        raise ValueError(
            f"unsupported filter option {part!r} — expected "
            "<column> <op> <literal> (op in = == != < <= > >=), "
            "<column> IN (<literal>, …), <column> BETWEEN <literal> "
            "AND <literal>, an AND of those, or an OR of "
            "(optionally parenthesized) AND groups, with quoted-string "
            "or numeric literals"
        )
    if not conjuncts:
        raise ValueError(
            f"empty predicate group in filter option {expr!r}")
    return conjuncts


def _parse_filter_option(expr: str, schema: StructType):
    """Parse the ``.option("filter", …)`` grammar into disjunctive
    normal form: a list of DISJUNCTS, each a list of conjuncts
    [(col, op, value), …]. ``expr`` is an OR of (optionally
    parenthesized) AND-groups of simple predicates — ``col OP lit``,
    ``col IN (…)``, ``col BETWEEN lo AND hi``. Literals are
    single-quoted strings or numerics; columns must exist in the table
    schema. Anything else raises — a silently-ignored filter option
    would read as 'pruned' when it wasn't.

    Pruning semantics: each disjunct prunes files INDEPENDENTLY (a
    file survives a disjunct only if it survives all its conjuncts);
    the partition plan is the union of survivors — so
    ``ds = 'a' OR ds = 'b'`` plans exactly the files of those two
    partitions, and ``k BETWEEN 10 AND 19`` plans only the files whose
    [min, max] overlaps the band."""
    disjuncts = [
        _parse_conjuncts(_strip_outer_parens(d))
        for d in _split_on_kw(expr, "or")
    ]
    for conj in disjuncts:
        for col, _, _ in conj:
            if col not in schema.fieldNames():
                raise ValueError(
                    f"filter option references unknown column {col!r} "
                    f"(table has {schema.fieldNames()})"
                )
    return disjuncts


def _bounds_reject(lo, hi, op: str, value, is_decimal: bool) -> bool:
    """True iff a file with [lo, hi] bounds CANNOT hold a row matching
    ``op value`` (encoded comparably). Conservative: incomparable or
    missing bounds never reject. DECIMAL-column bounds are stored in
    the fixed-point encoding; a numeric probe against them is encoded
    the same way so the lexicographic interval test stays exact.
    ``is_decimal`` is the manifest-schema verdict for the column
    (False blocks decimal probing of a STRING column whose stored
    bounds merely LOOK like encodings)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    dec_bounds = is_decimal and versioned._is_decimal_stat(lo)

    def _enc(v):
        if dec_bounds and isinstance(v, (int, float, str)) \
                and not isinstance(v, bool):
            from decimal import Decimal, InvalidOperation
            try:
                return versioned._encode_decimal(Decimal(str(v)))
            except (InvalidOperation, TypeError, ValueError):
                return None
        try:
            return versioned._stat_encode(v)
        except TypeError:
            return None

    def _comparable(v):
        return (v is not None and lo is not None and hi is not None
                and (isinstance(v, type(lo))
                     or (isinstance(v, (int, float))
                         and not isinstance(v, bool)
                         and isinstance(lo, (int, float))
                         and not isinstance(lo, bool))))

    if op == "in":
        vs = [_enc(v) for v in value]
        if not all(_comparable(v) for v in vs):
            return False
        return not any(lo <= v <= hi for v in vs)
    v = _enc(value)
    if not _comparable(v):
        return False
    if op == "=":
        return not (lo <= v <= hi)
    if op == ">":
        return not (hi > v)
    if op == ">=":
        return not (hi >= v)
    if op == "<":
        return not (lo < v)
    if op == "<=":
        return not (lo <= v)
    return False  # != never prunes on [min,max]


def _file_survives(path: str, col: str, op: str, value,
                   skip_meta: dict) -> bool:
    """Manifest-stats / bloom-bitmap file skipping for one parsed
    conjunct — the same metadata-only pruning the library paths use.
    ``col_stats`` bounds prune on ANY indexed column; bloom bitmaps
    prune point lookups on their column. Missing metadata always keeps
    the file (conservative)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions import bloomskip

    bounds = ((skip_meta.get("col_stats") or {}).get(path) or {}).get(col)
    if bounds is not None:
        is_dec = col in skip_meta.get("dec_cols", ())
        if _bounds_reject(bounds[0], bounds[1], op, value,
                          is_decimal=is_dec):
            return False
    bloom = skip_meta.get("bloom")
    if bloom is not None and col == bloom.get("col"):
        hexmap = bloom["filters"].get(path)
        if hexmap is not None:
            probes = value if op == "in" else (
                [value] if op == "=" else None)
            if probes is not None and all(
                    isinstance(p, (int, str)) and not isinstance(p, bool)
                    for p in probes):
                bits = int(hexmap, 16)
                # a file survives if ANY probed value may be present
                if not any(
                        all(bits >> p & 1 for p in
                            bloomskip._positions(v, bloom["bits"],
                                                 bloom["k"]))
                        for v in probes):
                    return False
    return True


def _apply_row_filter(batch, dnf):
    """Row-exact application of the parsed DNF on an Arrow batch: OR
    over disjuncts of AND over conjuncts (SQL comparison semantics:
    NULL never matches)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fn = {"=": pc.equal, "!=": pc.not_equal, "<": pc.less,
          "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal}

    def _conj_mask(conjuncts):
        mask = None
        for col, op, value in conjuncts:
            c = batch.column(batch.schema.names.index(col))
            if op == "in":
                vs = value
                if pa.types.is_decimal(c.type):
                    from decimal import Decimal
                    vs = [Decimal(str(v)) for v in value]
                m = pc.is_in(c, value_set=pa.array(vs, type=c.type))
            else:
                m = fn[op](c, value)
            # NULL comparisons must NOT match (Kleene or_ would let a
            # NULL survive an OR) — coalesce each leaf to False
            m = pc.coalesce(m, pa.scalar(False))
            mask = m if mask is None else pc.and_(mask, m)
        return mask

    full = None
    for conj in dnf:
        m = _conj_mask(conj)
        if m is None:  # empty conjunct list: matches everything
            return batch
        full = m if full is None else pc.or_(full, m)
    return batch if full is None else batch.filter(full)


class VersionedReader(DataSourceReader):
    """Plans one InputPartition per manifest file. With a parsed
    ``filter`` option, the partition plan is PRUNED against the
    manifest's per-file [min,max] stats and Bloom bitmaps — the same
    metadata-only skipping the library paths use, so a point lookup on
    a 10k-file table plans 1-2 partitions, not 10k — and the predicate
    is ALSO applied row-exactly inside read(), so the relation equals
    ``read_version(...).filter(pred)``.

    Why a load-time OPTION and not the DSv2 ``pushFilters`` hook: in
    Spark 4.1.2 the python-DS scan plan is cached per relation and
    REUSED for queries that push a different (e.g. empty) filter set —
    reproduced: after `df.filter(k<100).count()`, a plain `df.count()`
    on the same DataFrame served the pruned scan and returned wrong
    results, even when the reader claimed the filters and applied them
    row-level. A load-time option is part of the relation identity, so
    every query on the DataFrame sees one consistent, fully-filtered
    scan — no cross-query hazard by construction."""

    def __init__(self, files: list[str], schema: StructType,
                 dv: dict | None = None, skip_meta: dict | None = None,
                 row_filter=None, name_map: dict | None = None):
        self.files = files
        self.target = schema
        self.name_map = name_map or {}  # logical -> physical (renames)
        self.dv = dv or {}  # data-file path -> [sidecar paths]
        # skipping metadata keyed by data-file path:
        #   dec_cols [decimal column names],
        #   col_stats {path: {col: [lo, hi]|None}|None},
        #   bloom {col, bits, k, filters {path: hex}}
        self.skip_meta = skip_meta or {}
        # parsed DNF [[(col, op, value), …], …] or None; a file stays
        # in the partition plan if ANY disjunct keeps it (all of that
        # disjunct's conjuncts survive)
        self.row_filter = row_filter
        if row_filter:
            self.files = [
                f for f in self.files
                if any(
                    all(_file_survives(f, col, op, value, self.skip_meta)
                        for col, op, value in conj)
                    for conj in row_filter
                )
            ]

    def partitions(self):
        # an empty-files version (all rows merged away) still needs one
        # sentinel partition: PySpark substitutes [None] for an empty
        # list and read(None) would crash
        if not self.files:
            return [_FilePartition(None)]
        return [_FilePartition(f, self.dv.get(f)) for f in self.files]

    def read(self, partition: _FilePartition):
        if partition is None or partition.path is None:
            return
        for batch in _iter_file_batches(partition.path, self.target,
                                        _skip_positions(partition),
                                        self.name_map):
            if self.row_filter:
                batch = _apply_row_filter(batch, self.row_filter)
            yield batch


def _cdf_partitions(table_path: str, lo: int, hi: int,
                    fresh: bool = False) -> list:
    """CDF planning: one partition per change-carrying file of each
    version in (lo, hi] — persisted cdf files as-is (their
    ``_change_type`` is in-file), append-only commits' added files
    tagged ``insert`` and read through that version's deletion vectors
    (a fresh stream's first live version is read whole), data-neutral
    commits nothing. A destructive commit without change files raises
    (versioned._change_entries' guidance names both cdf.enabled and
    table_changes); a vacuumed version raises from
    ``versioned._iter_changes``."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    parts: list[_CdfPartition] = []
    for v, m, prev in versioned._iter_changes(table_path, lo, hi, fresh):
        kind, entries = versioned._change_entries(table_path, v, m, prev)
        if kind == "cdf":
            parts.extend(_CdfPartition(versioned._abs_file(table_path, e),
                                       None, v) for e in entries)
        else:
            parts.extend(_CdfPartition(path, "insert", v, dv)
                         for path, dv in _with_sidecars(table_path, m,
                                                        entries))
    return parts


class VersionedCdfReader(DataSourceReader):
    """Batch Change Data Feed read —
    ``spark.read.format("versioned").option("readChangeFeed", "true")``
    (Delta's batch CDF shape): one partition per change-carrying file
    of every version in [startingVersion, endingVersion] (defaults:
    full history → latest). DML commits contribute their PERSISTED
    cdf files (``cdf.enabled``), append-only commits their added files
    tagged ``insert``; planning is manifest-only and reading never
    joins snapshots — the library twin is ``versioned.read_changes``."""

    def __init__(self, table_path: str, schema: StructType,
                 lo: int, hi: int | None):
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        self.target = schema
        # plan eagerly on the driver (manifest metadata only)
        head, m = versioned._latest(table_path)
        self.name_map = versioned._column_mapping(m)
        self.parts = _cdf_partitions(table_path, lo,
                                     head if hi is None else hi)

    def partitions(self):
        return self.parts if self.parts else [_CdfPartition(None, None, -1)]

    def read(self, partition: _CdfPartition):
        if partition is None or partition.path is None:
            return
        yield from _iter_cdf_batches(partition, self.target, self.name_map)


class VersionedStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("versioned")`` — the versioned table
    as a STREAMING source: every committed version is a micro-batch
    (Delta's streaming-source shape). The offset is simply the version
    number; a batch between offsets (lo, hi] reads the files ADDED by
    each version in that range (files not referenced by the previous
    live version) — exact append deltas for fast-append commits
    (DS ``mode("append")``, streaming ``stream_cdc_versioned``). A
    copy-on-write MERGE's rewritten files stream as re-emitted rows
    (Delta's default behavior without CDF); consumers needing
    row-level change semantics read ``versioned.table_changes``.

    Option ``startingVersion``: first batch replays from that version
    (default 0 = full history; for an append-only table that equals
    the current snapshot). Offsets are checkpointable dicts, so a
    restarted query resumes from the last committed version.

    Every batch walks its range through ``versioned._iter_changes``.
    A batch resuming from offset ``lo`` needs version ``lo`` live (its
    successor's changes are a diff against it): after VACUUM dropped
    it, the batch raises with the re-bootstrap guidance instead of
    re-emitting rows the query already consumed. Only a fresh query's
    first batch may start behind a vacuumed version; it then reads its
    first live version whole, through that version's deletion vectors
    like the batch reader, so rows a DV already deleted never stream.
    Every streamed file carries the sidecars of the version that added
    it (``_with_sidecars``), in append and ``readChangeFeed`` mode.

    Change semantics (Delta parity): a commit that REMOVES files or
    touches deletion vectors (COW MERGE/DML, MOR DML, overwrite,
    RESTORE) is a DATA CHANGE an append stream cannot represent — by
    default the stream FAILS on it with guidance, instead of silently
    emitting re-written rows as duplicates or silently skipping
    deletes. Option ``ignoreChanges`` (``ignoreDeletes`` accepted as
    an alias) opts into Delta's relaxed behavior: added files stream
    (rewritten files re-emit their surviving rows), removals are
    skipped. OPTIMIZE commits (incl. incremental) are data-NEUTRAL
    compaction — their rewritten files are never re-emitted, exactly
    Delta's dataChange=false handling.
    """

    def __init__(self, table_path: str, schema: StructType,
                 starting: int | None, ignore_changes: bool = False,
                 change_feed: bool = False,
                 name_map: dict | None = None):
        self.table_path = table_path
        self.target = schema
        self.starting = 0 if starting is None else starting
        self.ignore_changes = ignore_changes
        self.name_map = name_map or {}  # logical -> physical (renames)
        # readChangeFeed mode: micro-batches are row-level change
        # feeds (insert/delete/update_pre/postimage) instead of added
        # files — DML commits stream their PERSISTED cdf files
        # (cdf.enabled), append-only commits their added files tagged
        # 'insert'; schema is widened by _change_type/_commit_version
        self.change_feed = change_feed

    def initialOffset(self) -> dict:
        return {"version": self.starting - 1}

    def latestOffset(self) -> dict:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        avail = versioned.versions(self.table_path)
        return {"version": avail[-1] if avail else self.starting - 1}

    def _added_files(self, lo: int, hi: int) -> list[tuple]:
        """``(absolute file, sidecars)`` of every file the versions in
        (lo, hi] added, each read through its version's deletion
        vectors (``_with_sidecars``)."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        added: list[tuple] = []
        for v, m, prev in versioned._iter_changes(
                self.table_path, lo, hi, fresh=lo == self.starting - 1):
            files = m["files"]
            if prev is None:
                added.extend(_with_sidecars(self.table_path, m, files))
                continue
            op = (m.get("operation") or "").upper()
            if op.startswith("OPTIMIZE"):
                # data-neutral compaction (Delta dataChange=false):
                # rewritten content was already emitted — skip
                continue
            pfiles = set(prev["files"])
            dv, prev_dv = versioned._dv_map(m), versioned._dv_map(prev)
            removed = pfiles - set(files)
            dv_changed = any(dv.get(f) != prev_dv.get(f)
                             for f in files if f in pfiles)
            if (removed or dv_changed) and not self.ignore_changes:
                raise ValueError(
                    f"version {v} of {self.table_path} "
                    f"({m.get('operation') or 'unknown op'}) removed "
                    "or deletion-vectored rows — an append stream "
                    "cannot represent that. Stream row-level "
                    "changes with .option('readChangeFeed', 'true') "
                    "(table property cdf.enabled='true' persists "
                    "change files for DML commits), read them in "
                    "batch via versioned.table_changes, or set "
                    ".option('ignoreChanges', 'true') to stream "
                    "added files only (rewritten files re-emit "
                    "their surviving rows)"
                )
            added.extend(_with_sidecars(
                self.table_path, m, [f for f in files if f not in pfiles]))
        return added

    def _change_partitions(self, lo: int, hi: int) -> list:
        return _cdf_partitions(self.table_path, lo, hi,
                               fresh=lo == self.starting - 1)

    def partitions(self, start: dict, end: dict):
        if self.change_feed:
            parts = self._change_partitions(start["version"],
                                            end["version"])
            return parts if parts else [_CdfPartition(None, None, -1)]
        files = self._added_files(start["version"], end["version"])
        if not files:
            return [_FilePartition(None)]
        return [_FilePartition(path, dv) for path, dv in files]

    def read(self, partition):
        if partition is None or partition.path is None:
            return
        if not self.change_feed:
            yield from _iter_file_batches(partition.path, self.target,
                                          _skip_positions(partition),
                                          self.name_map)
            return
        yield from _iter_cdf_batches(partition, self.target, self.name_map)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to ack


class VersionedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _resolve(self):
        """Resolve version → (schema, files) exactly ONCE per read and
        cache on the instance: schema() and reader() re-resolving
        independently would let a commit landing between planning and
        reader construction serve version N+1's rows under version N's
        schema."""
        if not hasattr(self, "_resolved"):
            from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

            table_path = self.options.get("path")
            if not table_path:
                raise ValueError("option 'path' is required")
            v = self.options.get("version")
            ts = self.options.get("timestampasof",
                                  self.options.get("timestampAsOf"))
            if v is not None and ts is not None:
                raise ValueError(
                    "pass option 'version' OR 'timestampAsOf', not both"
                )
            if ts is not None:
                v = versioned.resolve_timestamp(table_path, ts)
            m = versioned._latest(
                table_path, None if v is None else int(v))[1]
            files = m["files"]
            planned = _with_sidecars(table_path, m, files)
            # skipping metadata for pushFilters, re-keyed by the same
            # paths the partition plan uses; dec_cols is the SCHEMA
            # verdict on which columns' bounds are fixed-point decimal
            # encodings (shape-sniffing alone would let a STRING
            # column's look-alike data flip prune semantics)
            schema_struct = StructType.fromJson(json.loads(m["schema"]))
            skip_meta: dict = {
                "dec_cols": sorted(
                    f.name for f in schema_struct.fields
                    if type(f.dataType).__name__ == "DecimalType"),
            }
            if m.get("col_stats"):
                skip_meta["col_stats"] = {
                    versioned._abs_file(table_path, f):
                        m["col_stats"].get(f)
                    for f in files
                }
            if m.get("bloom"):
                b = m["bloom"]
                skip_meta["bloom"] = {
                    "col": b.get("col"), "bits": b["bits"], "k": b["k"],
                    "filters": {
                        versioned._abs_file(table_path, f):
                            b["filters"].get(f)
                        for f in files
                    },
                }
            self._resolved = (
                schema_struct,
                [path for path, _ in planned],
                {path: dv for path, dv in planned if dv},
                skip_meta,
                versioned._column_mapping(m),
            )
        return self._resolved

    def _change_feed(self) -> bool:
        return str(
            self.options.get("readchangefeed",
                             self.options.get("readChangeFeed", "false"))
        ).lower() == "true"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructField

        base = self._resolve()[0]
        if self._change_feed():
            # the CDF relation is the table schema + change metadata
            # (Delta's _change_type/_commit_version shape)
            return StructType(
                list(base.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType())]
            )
        return base

    def reader(self, schema) -> "DataSourceReader":
        resolved = self._resolve()
        if self._change_feed():
            sv = self.options.get("startingversion",
                                  self.options.get("startingVersion"))
            ev = self.options.get("endingversion",
                                  self.options.get("endingVersion"))
            return VersionedCdfReader(
                self.options.get("path"), schema,
                -1 if sv is None else int(sv) - 1,
                None if ev is None else int(ev),
            )
        flt = self.options.get("filter")
        row_filter = (_parse_filter_option(flt, resolved[0])
                      if flt is not None else None)
        return VersionedReader(resolved[1], resolved[0], resolved[2],
                               resolved[3], row_filter, resolved[4])

    def streamReader(self, schema) -> VersionedStreamReader:
        table_path = self.options.get("path")
        if not table_path:
            raise ValueError("option 'path' is required")
        sv = self.options.get("startingversion",
                              self.options.get("startingVersion"))
        ic = str(
            self.options.get("ignorechanges",
                             self.options.get("ignoredeletes", "false"))
        ).lower() == "true"
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        nm = versioned._column_mapping(
            versioned._head_manifest(table_path) or {})
        return VersionedStreamReader(
            table_path, schema, None if sv is None else int(sv), ic,
            change_feed=self._change_feed(), name_map=nm,
        )

    def writer(self, schema, overwrite: bool) -> "VersionedWriter":
        table_path = self.options.get("path")
        if not table_path:
            raise ValueError("option 'path' is required")
        w = VersionedWriter(table_path, schema, overwrite)
        # Delta's idempotent-write options: the (txnAppId, txnVersion)
        # stamp rides the SAME commit via the txn ledger, AND the
        # write itself becomes a no-op when txnVersion is <= the
        # table's recorded stamp for the app (checked at commit time,
        # see VersionedWriter._build) — matching Delta's contract so
        # foreachBatch re-deliveries are safe on the option alone.
        # Both or neither.
        app = self.options.get("txnappid")
        ver = self.options.get("txnversion")
        if (app is None) != (ver is None):
            raise ValueError(
                "txnAppId and txnVersion must be set together")
        if app is not None:
            w.extra_manifest = {"txn": {app: int(ver)}}
        return w

    def streamWriter(self, schema, overwrite: bool):
        table_path = self.options.get("path")
        if not table_path:
            raise ValueError("option 'path' is required")
        # The query's checkpoint location is its durable identity: it is
        # stable across restarts of the SAME logical query (replays must
        # be skipped) and necessarily different for a NEW query with a
        # fresh checkpoint (whose batch ids restart at 0 and must NOT be
        # skipped — Delta's sink keys idempotency on (queryId, batchId)
        # for exactly this reason).
        ckpt = self.options.get("checkpointlocation",
                                self.options.get("checkpointLocation"))
        query_key = None
        if ckpt:
            import hashlib

            query_key = hashlib.md5(
                os.path.normpath(ckpt).encode()
            ).hexdigest()[:16]
        return VersionedStreamWriter(table_path, schema, query_key)


#: Spark simpleString type → Arrow type for DEFAULT-literal injection
#: (JSON-native literals plus DATE, enforced at set_column_default
#: time; DATE rides the manifest as its ISO string).
def _arrow_of_spark():
    import pyarrow as pa

    return {
        "long": pa.int64(), "bigint": pa.int64(),
        "integer": pa.int32(), "int": pa.int32(),
        "short": pa.int16(), "smallint": pa.int16(),
        "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(),
        "date": pa.date32(),
        # NTZ only: its ISO string denotes the same wall-clock value in
        # every session; zoned TIMESTAMP is refused at declaration
        "timestamp_ntz": pa.timestamp("us"),
    }


_ARROW_OF_SPARK = _arrow_of_spark()


def _default_injectable(col: str, spark_type, value):
    """(python value, arrow type) for a stored DEFAULT literal, raising
    when the Arrow writer cannot inject the column's type. DATE is
    stored as its ISO string and re-hydrated to a date32 value here;
    DECIMAL(p,s) as its plain exact string, re-hydrated to a
    decimal128 value (string→Decimal is exact at any precision the
    manifest can carry)."""
    pa_t = _ARROW_OF_SPARK.get(spark_type)
    if pa_t is None:
        m = re.match(r"decimal\((\d+),\s*(\d+)\)$", spark_type or "")
        if m:
            import decimal

            import pyarrow as pa

            if value is not None:
                value = decimal.Decimal(value)
            return value, pa.decimal128(int(m[1]), int(m[2]))
        raise ValueError(
            f"defaulted column {col!r} has type {spark_type!r}, "
            "which the Arrow writer cannot inject — supply the column"
        )
    if spark_type == "date" and value is not None:
        import datetime

        value = datetime.date.fromisoformat(value)
    elif spark_type == "timestamp_ntz" and value is not None:
        import datetime

        value = datetime.datetime.fromisoformat(value)
    return value, pa_t


def _with_defaults(iterator, inject: dict):
    """Executor-side DEFAULT injection: append a constant column per
    omitted defaulted column — the literal was evaluated once at
    declaration time, so every task writes the identical value."""
    import pyarrow as pa

    for batch in iterator:
        n = batch.num_rows
        arrays = list(batch.columns)
        names = list(batch.schema.names)
        for c in sorted(inject):
            v, pa_t = inject[c]
            arrays.append(pa.array([v] * n, type=pa_t))
            names.append(c)
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _with_identity(iterator, alloc: dict):
    """Executor-side identity assignment inside a reserved block:
    value = base + (partition_id·2³³ + row_in_task)·step — the same
    sparse geometry as the library's monotonically_increasing_id
    allocation, so values are unique and increasing across tasks
    with zero coordination. The plan-time reservation covered
    partition ids up to IDENTITY_RESERVE_PARTITIONS; a wider write
    would escape its block and must fail loudly before any row."""
    import pyarrow as pa
    from pyspark import TaskContext

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    if pid >= versioned.IDENTITY_RESERVE_PARTITIONS:
        raise ValueError(
            f"identity append task partition id {pid} exceeds the "
            f"reserved block's "
            f"{versioned.IDENTITY_RESERVE_PARTITIONS}-partition "
            "headroom — coalesce the input or raise "
            "IDENTITY_RESERVE_PARTITIONS"
        )
    idx = 0
    for batch in iterator:
        n = batch.num_rows
        arrays = list(batch.columns)
        names = list(batch.schema.names)
        for c in sorted(alloc):
            a = alloc[c]
            start = a["base"] + ((pid << 33) + idx) * a["step"]
            arrays.append(pa.array(
                range(start, start + n * a["step"], a["step"]),
                type=pa.int64()))
            names.append(c)
        idx += n
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _write_arrow_part(staged: str, iterator):
    """Executor side of both the batch and streaming writers: stream
    this task's Arrow batches into ONE parquet part file under the
    invisible staged dir; only the returned commit message can make
    the file visible (failed/speculative attempts are never
    manifested)."""
    import uuid

    import pyarrow.parquet as pq

    part = None
    writer = None
    n = 0
    for batch in iterator:
        if writer is None:
            os.makedirs(staged, exist_ok=True)
            part = f"part-{uuid.uuid4().hex}.parquet"
            writer = pq.ParquetWriter(os.path.join(staged, part),
                                      batch.schema)
        writer.write_batch(batch)
        n += batch.num_rows
    if writer is not None:
        writer.close()
    return _WrotePart(filename=part, n_rows=n)


@dataclass
class _WrotePart(WriterCommitMessage):
    filename: str | None
    n_rows: int


class _Superseded(Exception):
    """The table already records this write's (txnAppId, txnVersion)
    stamp: the write is a no-op."""


class VersionedWriter(DataSourceArrowWriter):
    """``df.write.format("versioned")`` — every save commits a NEW
    version through the same manifest CAS as the library API:

    - ``mode("append")``: the new manifest shares EVERY parent file
      entry and adds this job's part files — a Delta-style fast append
      that rewrites nothing. The parent schema must match exactly
      (schema evolution goes through ``merge_version_cow``).
    - ``mode("overwrite")``: the new version's content is only this
      job's files; history stays time-travelable.

    Executors stream Arrow batches straight into parquet part files
    under a per-writer-unique ``_staged_w_<token>`` dir (invisible to
    readers — manifests are visibility; a crashed job's dir is swept
    by vacuum). The driver-side commit moves the part files named by
    task commit messages into ``v_N_<token>`` and publishes through
    ``versioned._commit``, the library's publish-or-rebase loop. An
    append read nothing, so a lost CAS rebuilds it on the winner (up
    to ``_COMMIT_ATTEMPTS`` attempts); each build re-checks the txn
    stamp, the identity race and the schema against its base. An
    overwrite raises CommitConflict on the first loss. A commit that
    does not publish removes its own dir, never touching the winner's
    data (same contract as write_version). CHECK constraints and
    generated columns ride the manifest but are not enforced here (no
    SparkSession at commit time): enforcement lives on the library
    write paths, SQL ``INSERT INTO`` included.
    """

    def __init__(self, table_path: str, schema, overwrite: bool):
        import uuid

        self.table_path = table_path
        self.schema = schema
        self.overwrite = overwrite
        self.token = uuid.uuid4().hex[:12]
        self.staged = os.path.join(table_path, f"_staged_w_{self.token}")
        # extra manifest keys merged in at commit (the streaming sink
        # records its micro-batch id here for replay detection)
        self.extra_manifest: dict = {}
        # GENERATED ALWAYS AS IDENTITY on appends: reserve a disjoint
        # id block NOW (plan time, driver side) via a CAS'd
        # metadata-only commit, so each executor task can allocate
        # base + (pid<<33 + row)·step inside the reservation with no
        # coordination — Delta's documented non-consecutive identity
        # semantics. Racing appends reserve disjoint blocks (the CAS
        # loser re-reads past the winner); an aborted write burns its
        # block (a gap, never a collision). Supplying the column
        # stays refused (GENERATED ALWAYS).
        self.identity_alloc: dict = {}
        # column DEFAULTs on appends: a writer whose schema OMITS a
        # defaulted column gets the stored literal injected
        # executor-side (no SparkSession needed — the literal was
        # evaluated once at declaration and rides the manifest)
        self.default_inject: dict = {}
        if not overwrite:
            from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

            parent_m = versioned._head_manifest(table_path)
            ident = (parent_m or {}).get("identity") or {}
            if ident:
                supplied = sorted(set(ident) & set(schema.fieldNames()))
                if supplied:
                    raise ValueError(
                        f"columns {supplied} are GENERATED ALWAYS AS "
                        "IDENTITY and cannot be supplied — drop them "
                        "from the DataFrame"
                    )
                # no SparkSession exists in the DS worker: the
                # high-water derives from col_stats / parquet footers
                self.identity_alloc = versioned.reserve_identity_block(
                    None, table_path)
            defaults = (parent_m or {}).get("defaults") or {}
            missing_def = {c: spec for c, spec in defaults.items()
                           if c not in schema.fieldNames()}
            if missing_def:
                types = {f.get("name"): f.get("type") for f in
                         json.loads(parent_m["schema"]).get("fields", [])}
                for c, spec in sorted(missing_def.items()):
                    self.default_inject[c] = _default_injectable(
                        c, types.get(c), spec["value"])

    def write(self, iterator):
        if self.identity_alloc:
            iterator = _with_identity(iterator, self.identity_alloc)
        if self.default_inject:
            iterator = _with_defaults(iterator, self.default_inject)
        return _write_arrow_part(self.staged, iterator)

    def commit(self, messages):
        import shutil

        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        # The version number derives from the SAME head resolution as
        # the parent: a writer committing v0 to a fresh table between
        # two reads would otherwise let this append publish v1 without
        # v0's files. From one empty snapshot, the CAS on 0.json turns
        # that interleave into a conflict that rebases onto v0.
        head, parent = (versioned._latest(self.table_path)
                        if versioned.versions(self.table_path)
                        else (-1, None))
        os.makedirs(versioned._manifest_path(self.table_path),
                    exist_ok=True)
        # Only the files named by task COMMIT MESSAGES enter the
        # version: the staged dir may also hold half-written parts from
        # failed or speculative attempts (no footer, or duplicate rows)
        # that must never be manifested. The dir keeps the first
        # attempt's version number; a rebased commit references the
        # same files by path.
        data_dir = f"v_{head + 1}_{self.token}"
        final = os.path.join(self.table_path, data_dir)
        names = sorted({m.filename for m in messages
                        if m is not None and m.filename})
        if names:
            os.makedirs(final)
            for n in names:
                os.rename(os.path.join(self.staged, n),
                          os.path.join(final, n))
        shutil.rmtree(self.staged, ignore_errors=True)
        new_files = [f"{data_dir}/{n}" for n in names]
        try:
            versioned._commit(
                self.table_path,
                lambda base, v: self._build(versioned, base, v, new_files),
                parent, head + 1,
                own=None if self.overwrite else set(), shape_keys=(),
                staged_dirs=[final])
        except _Superseded:
            pass

    def _build(self, versioned, base: dict | None, version: int,
               new_files: list[str]) -> dict:
        """This write's manifest on ``base`` (None for a fresh table).
        Raises ``_Superseded`` when ``base`` already records the txn
        stamp (Delta's idempotent-write contract: checked against every
        base, so a racing commit that advanced the stamp is honored),
        and ValueError when an append no longer fits ``base``."""
        txn = self.extra_manifest.get("txn")
        if txn and base is not None:
            ledger = base.get("txn") or {}
            if all(ledger.get(a) is not None and int(v) <= ledger[a]
                   for a, v in txn.items()):
                raise _Superseded
        if base is not None and not self.overwrite:
            ident = base.get("identity") or {}
            if ident and not self.identity_alloc:
                # the identity spec landed AFTER this writer planned:
                # the staged files lack the column and hold no
                # reservation
                raise ValueError(
                    "GENERATED ALWAYS AS IDENTITY columns "
                    f"{sorted(ident)} were declared concurrently "
                    "with this append — retry the save"
                )
            # written files carry the injected identity / defaulted
            # columns; the table schema (which already has them) stays
            # the recorded truth
            versioned._check_append_schema(
                base, self.schema,
                set(self.identity_alloc) | set(self.default_inject))
            # an APPEND shares the base's files, so its shape (column
            # mapping, specs, properties) and deletion vectors ride
            shared = base["files"]
            manifest = {**versioned._shape_of(base),
                        "files": shared + new_files}
            if versioned._dv_map(base):
                manifest["dv"] = versioned._dv_map(base)
        else:
            # an overwrite (or a fresh table) starts from this job's
            # logical-named files; constraints and properties carry
            shared = []
            manifest = {"files": new_files, "schema": self.schema.json(),
                        **{k: base[k] for k in ("constraints", "properties")
                           if (base or {}).get(k)}}
        manifest.update(version=version,
                        operation="OVERWRITE" if self.overwrite else "APPEND")
        manifest.update(self.extra_manifest)
        # data-skipping index: shared entries copied verbatim, one
        # footer read per new part file
        versioned._set_col_stats(manifest, base, self.table_path, shared,
                                 new_files)
        return manifest

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.staged, ignore_errors=True)


class VersionedStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("versioned")`` — the streaming SINK that
    completes the Data Source matrix (batch read/write + stream read
    now have a stream write): every micro-batch commits one new
    version through the same manifest CAS append path as the batch
    writer (parent files shared, nothing rewritten).

    Exactly-once: each commit records its micro-batch id AND the
    query's identity (``stream_batch_id`` + ``stream_query_id``, the
    latter derived from the checkpoint location — Delta keys sink
    idempotency on (queryId, batchId) the same way). After a crash
    between the sink commit and the checkpoint write, Structured
    Streaming replays the last batch — the replayed commit sees its
    (query, batch) already published, discards the re-staged part
    files, and publishes nothing, so rows are never doubled. A NEW
    query with a FRESH checkpoint restarts batch ids at 0 but carries
    a different query id, so its commits are never mistaken for
    replays (batch-id-only guards silently discard such a query's
    entire output). Contract: ONE streaming query writes a given table
    at a time; concurrent BATCH writers stay safe — they race through
    the same manifest CAS as always.
    """

    def __init__(self, table_path: str, schema, query_key: str | None = None):
        self.table_path = table_path
        self.schema = schema
        self.query_key = query_key
        # DETERMINISTIC staged dir — unlike the batch writer, the
        # streaming protocol re-instantiates this object independently
        # in the write tasks AND in the commit-runner process
        # (PythonStreamingSinkCommitRunner), so a random per-instance
        # token would point the committer at an empty dir. Safe under
        # the documented single-streaming-writer contract; only
        # commit-message-named files ever become visible.
        self.staged = os.path.join(table_path, "_staged_stream")

    def _default_inject(self) -> dict:
        """Defaulted columns this stream OMITS → {col: (value, pa
        type)}. Computed fresh per call because the streaming protocol
        re-instantiates this object in write tasks and in the commit
        runner — each side reads the manifest it can see."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        parent = versioned._head_manifest(self.table_path)
        defaults = (parent or {}).get("defaults") or {}
        missing = {c: spec for c, spec in defaults.items()
                   if c not in self.schema.fieldNames()}
        if not missing:
            return {}
        types = {f.get("name"): f.get("type") for f in
                 json.loads(parent["schema"]).get("fields", [])}
        inject = {}
        for c, spec in sorted(missing.items()):
            inject[c] = _default_injectable(c, types.get(c),
                                            spec["value"])
        return inject

    def write(self, iterator):
        inject = self._default_inject()
        if inject:
            iterator = _with_defaults(iterator, inject)
        return _write_arrow_part(self.staged, iterator)

    def _last_stream_batch(self):
        """(query_id, batch_id) of the most recent streaming commit,
        or (None, None) if the table has none."""
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

        for v in reversed(versioned.versions(self.table_path)):
            m = versioned._load_manifest(self.table_path, v)
            if "stream_batch_id" in m:
                return m.get("stream_query_id"), m["stream_batch_id"]
        return None, None

    def commit(self, messages, batchId: int) -> None:
        import shutil

        last_qid, last = self._last_stream_batch()
        # Skip iff this is a checkpoint REPLAY of an already-published
        # batch: same query id (or a legacy manifest with no recorded
        # id — those commits predate query-id stamping, and replaying
        # them must still be idempotent; a FRESH query restarting ids
        # at 0 against such a table is the one case the legacy guard
        # cannot distinguish, hence batchId > 0 below) and a batch id
        # not newer than the last published one. A different recorded
        # query id means a new query with a fresh checkpoint took over
        # the table: its batch 0 is new data, not a replay, and MUST
        # commit.
        is_replay = last is not None and last >= batchId and (
            last_qid == self.query_key
            or (last_qid is None and batchId > 0)
        )
        if is_replay:
            shutil.rmtree(self.staged, ignore_errors=True)
            return
        import uuid

        delegate = VersionedWriter(self.table_path, self.schema,
                                   overwrite=False)
        if delegate.default_inject:
            # a SET DEFAULT can race this batch: the write tasks
            # planned (and injected) from the manifest THEY saw, the
            # commit runner from the one IT sees. _default_inject is
            # computed PER TASK, so a default declared mid-batch
            # yields a MIXED batch — some tasks' files carry the
            # injected columns, earlier-planned ones don't. Check
            # EVERY staged file (not just the first: sampling one
            # file can hit an injected file and publish the rest,
            # whose rows would silently read NULL where the table now
            # promises the default).
            import pyarrow.parquet as pq

            for m in messages:
                if m is None or m.filename is None:
                    continue
                names = set(pq.ParquetFile(os.path.join(
                    self.staged, m.filename)).schema_arrow.names)
                missing = sorted(set(delegate.default_inject) - names)
                if missing:
                    shutil.rmtree(self.staged, ignore_errors=True)
                    raise ValueError(
                        f"column DEFAULTs {missing} were declared "
                        "concurrently with this micro-batch — restart "
                        "the streaming query"
                    )
        # commit-time-unique data dir: a crashed commit attempt leaves
        # an unmanifested orphan (vacuum sweeps it); the retry must not
        # collide with it
        delegate.token = f"stream_b{batchId}_{uuid.uuid4().hex[:8]}"
        delegate.staged = self.staged
        delegate.extra_manifest = {"stream_batch_id": batchId,
                                   "stream_query_id": self.query_key,
                                   "operation": "STREAMING APPEND"}
        delegate.commit(messages)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self.staged, ignore_errors=True)


# --------------------------------------- thread-safe registration
#
# spark.dataSource.register REPLACES an existing registration; under
# concurrent query streams (bench.py --streams N), one stream's
# replace races another stream's in-flight format("versioned") lookup
# and the loser dies with DATA_SOURCE_NOT_FOUND on .save(). Every
# library call site registers through this guard instead: exactly one
# registration per application, never a mid-run replace.
import threading as _threading

_REG_LOCK = _threading.Lock()
_REGISTERED: set[str] = set()


def ensure_registered(spark) -> None:
    # Spark pins each Python thread to its own JVM thread
    # (PYSPARK_PIN_THREAD): Python-DS lookup resolves through the JVM
    # thread's ACTIVE session, which is unset on any thread that did
    # not create the session — a .save() from such a thread falls
    # through to the classpath and dies with DATA_SOURCE_NOT_FOUND
    # even though the source IS registered. Pin the active session for
    # THIS thread on every call (cheap, idempotent); register once.
    spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    key = spark.sparkContext.applicationId
    if key in _REGISTERED:
        return
    with _REG_LOCK:
        if key in _REGISTERED:
            return
        spark.dataSource.register(VersionedDataSource)
        _REGISTERED.add(key)
