"""Versioned snapshot tables: Delta-style time-travel reads on plain
parquet.

The reference tracks progress at file granularity (a processed-files
ledger, etl/transform.py:24-34); a warehouse user needs the TABLE-level
analog — "read this table as of version N" — after every CDC merge or
compaction rewrite. This module provides the minimal transaction-log
pattern the real lakehouse formats (Delta/Iceberg) build on:

- every write lands in an immutable data directory ``v_N/``,
- a version becomes VISIBLE only when its tiny manifest JSON appears in
  ``_manifest/`` (written tmp-then-rename, so a crash mid-commit leaves
  no partial version — readers simply never see it),
- readers resolve a version by listing manifests (or pinning an
  explicit N) and read only that version's directory.

Scale notes (100 TB): data directories are immutable, so concurrent
readers never race a writer — a reader that pinned version N keeps a
consistent snapshot while N+1 commits. The manifest dir holds one
O(100-byte) JSON per version (the Delta log shape); listing it is
metadata-only. The write path is a plain distributed
``df.write.parquet``; nothing here touches the driver beyond manifest
metadata.

Manifests are FILE-level: each records the parquet files making up the
version, its schema, and per-file min/max ``col_stats`` on the leading
columns read from the parquet footers (the Delta data-skipping shape,
one stats record per file), so a version can SHARE unchanged files
with its parent instead of rewriting the table. Every DML exploits
that through one of two engines, each taking a match (a SQL predicate
or a MERGE's change keys): ``_predicate_cow`` (copy-on-write DELETE,
UPDATE, REPLACE WHERE, COPY INTO, INSERT INTO and MERGE) finds the
files holding a matched row (for change keys, only among files whose
[min,max] can contain a key), rewrites just those together with the
rows the commit adds, and publishes a manifest = untouched parent
files + new files; ``_mor_dml`` (merge-on-read DELETE, UPDATE and
MERGE) writes deletion vectors for the matched rows instead and
appends the new rows. ``_fill_new_rows`` completes every commit's
added rows (defaults, generated columns, identity values).
The only driver-side state is the file LIST (O(#files), the same
planning metadata Delta's driver holds), never row data. ``vacuum``
is reference-counting-aware: a data file survives as long as ANY live
manifest references it, so dropping the parent version never breaks a
child that shares its files.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifest"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, _MANIFEST_DIR)


def versions(table_path: str) -> list[int]:
    """Committed versions, ascending. A version exists iff its manifest
    JSON does — staged/crashed writes are invisible."""
    mdir = _manifest_path(table_path)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            out.append(int(f[: -len(".json")]))
    return sorted(out)


def _latest(table_path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of the table head, or of ``version`` when
    the caller pins one. The one place a table with no commits raises
    ``FileNotFoundError`` and a pinned version that is not live raises
    ``ValueError``."""
    avail = versions(table_path)
    if not avail:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    if version is None:
        version = avail[-1]
    elif version not in avail:
        raise ValueError(f"version {version} not in {avail} at {table_path}")
    return version, _load_manifest(table_path, version)


def _head_manifest(table_path: str) -> dict | None:
    """The latest manifest, or None for a table with no commits."""
    return _latest(table_path)[1] if versions(table_path) else None


_HIGH_WATER = ".high_water"


def _high_water(table_path: str) -> int:
    """Largest version number EVER committed (−1 for a fresh table) —
    survives vacuum, unlike the live manifest list, so history stays
    append-only: a vacuumed number can never be silently re-committed
    with different data (that would corrupt time-travel ordering)."""
    avail = versions(table_path)
    live = avail[-1] if avail else -1
    p = os.path.join(_manifest_path(table_path), _HIGH_WATER)
    if os.path.exists(p):
        with open(p) as fh:
            # max(): a crash between manifest publish and the marker
            # update leaves the marker one behind the live manifests.
            return max(int(fh.read()), live)
    return live


def _list_data_files(table_path: str, data_dir: str) -> list[str]:
    """Relative paths of the parquet data files inside one data dir
    (skips _SUCCESS / checksums / hidden files). Recurses into
    subdirectories — a ``partition_by`` write lays files out as
    ``v_N/col=value/part-*.parquet``."""
    full = os.path.join(table_path, data_dir)
    out = []
    for f in sorted(os.listdir(full)):
        sub = os.path.join(full, f)
        isdir = os.path.isdir(sub)
        # markers/checksums (_SUCCESS, .crc) are skipped; hive-style
        # partition DIRS pass even when the (duplicated) partition
        # column name starts with an underscore
        if f.startswith(("_", ".")) and not (isdir and "=" in f):
            continue
        if isdir:
            out.extend(_list_data_files(table_path, f"{data_dir}/{f}"))
        else:
            out.append(f"{data_dir}/{f}")
    return out


#: Delta collects data-skipping stats for the first 32 columns by
#: default; the same cap bounds manifest size here (#files × #cols × 2
#: scalars of JSON metadata).
_MAX_STATS_COLS = 32


def _stats_eligible_cols(schema) -> list[str]:
    """Top-level columns whose min/max JSON form preserves order —
    the columns `col_stats` indexes (first ``_MAX_STATS_COLS``).
    Binary/complex columns are excluded for the same reason
    ``_stat_encode`` rejects their values: their string form does not
    sort like the value, and a wrong prune drops rows. DECIMAL is
    eligible via the order-preserving fixed-point encoding
    (:func:`_encode_decimal`) — warehouses key money columns as
    DECIMAL, and skipping them would silently degrade to no-pruning
    exactly where retention predicates live."""
    from pyspark.sql import types as T

    ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
          T.FloatType, T.DoubleType, T.StringType, T.DateType,
          T.TimestampType, T.TimestampNTZType, T.BooleanType,
          T.DecimalType)
    return [f.name for f in schema.fields
            if isinstance(f.dataType, ok)][:_MAX_STATS_COLS]


def _footer_col_stats(path: str, cols: list[str]) -> dict:
    """Exact per-column [min, max] for ``cols`` from ONE parquet-footer
    read — no data scan (what Delta persists per AddFile). A column
    encodes as None (= never pruned, always correct) unless EVERY row
    group reports exact non-null stats of an order-preserving type;
    NaN bounds also bail (NaN sorts greatest into parquet double stats
    and defeats interval comparison)."""
    import re

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = md.schema.to_arrow_schema().names
    out: dict[str, list | None] = {}
    for col in cols:
        try:
            idx = names.index(col)
        except ValueError:
            out[col] = None
            continue
        # DECIMAL stats need the raw path: pyarrow's statistics.min
        # raises ArrowNotImplementedError for the decimal logical type,
        # but min_raw/max_raw carry the unscaled integer (INT32/INT64
        # physical) or its big-endian two's-complement bytes (FLBA) —
        # the scale comes from the column's own parquet logical type
        dec_scale = None
        lt = md.schema.column(idx).logical_type
        if str(getattr(lt, "type", "")).upper() == "DECIMAL":
            m = re.search(r"scale=(-?\d+)", str(lt))
            if m is None:
                out[col] = None
                continue
            dec_scale = int(m.group(1))
        lo = hi = None
        bad = False
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                bad = True
                break
            if dec_scale is not None:
                rmin = _decimal_from_raw(st.min_raw, dec_scale)
                rmax = _decimal_from_raw(st.max_raw, dec_scale)
            else:
                rmin, rmax = st.min, st.max
            if rmin is None or rmax is None:
                bad = True
                break
            if any(isinstance(v, float) and v != v for v in (rmin, rmax)):
                bad = True
                break
            lo = rmin if lo is None or rmin < lo else lo
            hi = rmax if hi is None or rmax > hi else hi
        if bad or lo is None:
            out[col] = None
            continue
        try:
            out[col] = [_stat_encode(lo), _stat_encode(hi)]
        except TypeError:
            out[col] = None
    return out


def _decimal_from_raw(raw, scale: int):
    """Decode a parquet DECIMAL statistic from its raw physical form:
    unscaled int (INT32/INT64) or big-endian two's-complement bytes
    (FIXED_LEN_BYTE_ARRAY / BYTE_ARRAY)."""
    from decimal import Decimal

    if raw is None:
        return None
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    if not isinstance(raw, int):
        return None
    return Decimal(raw).scaleb(-scale)


def _collect_col_stats(table_path: str, rel_files: list[str],
                       schema) -> dict:
    """{rel_file: {col: [lo, hi] | None}} for every stats-eligible
    column — O(#files) driver-side footer reads, zero Spark jobs."""
    cols = _stats_eligible_cols(schema)
    if not cols:
        return {f: {} for f in rel_files}
    return {rel: _footer_col_stats(_abs_file(table_path, rel), cols)
            for rel in rel_files}


def _set_col_stats(manifest: dict, parent: dict | None, table_path: str,
                   shared_files: list[str], new_files: list[str]) -> None:
    """Record multi-column data-skipping stats (``col_stats``) on a
    commit's manifest: shared files copy the parent's entries verbatim
    (data files are immutable; files the parent never indexed stay
    None until :func:`backfill_stats`), new files get one parquet
    footer read each. Called by every commit path that changes the
    file list, so any indexed column can prune merges and Data Source
    filter reads."""
    from pyspark.sql import types as T

    pcs = (parent or {}).get("col_stats") or {}
    cs: dict = {f: pcs.get(f) for f in shared_files}
    if new_files:
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        cs.update(_collect_col_stats(table_path, new_files, schema))
    if cs:
        manifest["col_stats"] = cs
    # per-file row counts (Delta's numRecords): shared files copy the
    # parent's entry, new files read ONE footer field — this is what
    # makes COUNT(*) on the table metadata-only (count_rows)
    import pyarrow.parquet as pq

    prc = (parent or {}).get("row_counts") or {}
    rc: dict = {f: prc.get(f) for f in shared_files}
    for f in new_files:
        try:
            rc[f] = pq.ParquetFile(
                _abs_file(table_path, f)).metadata.num_rows
        except OSError:
            rc[f] = None
    if rc:
        manifest["row_counts"] = rc
    # per-file byte sizes (Delta's AddFile.size): one os.stat per NEW
    # file, shared files copy the parent — this is what lets
    # table_statistics() serve the planner an exact sizeInBytes
    # without touching data
    pfb = (parent or {}).get("file_bytes") or {}
    fb: dict = {f: pfb.get(f) for f in shared_files}
    for f in new_files:
        try:
            fb[f] = os.path.getsize(_abs_file(table_path, f))
        except OSError:
            fb[f] = None
    if fb:
        manifest["file_bytes"] = fb


def _bounds_for(manifest: dict, col: str) -> dict | None:
    """Per-file [lo, hi] bounds of ``col`` from the manifest's
    ``col_stats`` index. None = no file has bounds for ``col``
    (callers must then treat every file as a candidate)."""
    cs = manifest.get("col_stats") or {}
    bounds = {f: (per or {}).get(col) for f, per in cs.items()}
    if any(b is not None for b in bounds.values()):
        return bounds
    return None


def _abs_file(table_path: str, entry: str) -> str:
    """Absolute path of a manifest file entry. Entries are normally
    table-relative; a SHALLOW CLONE writes ABSOLUTE entries pointing
    into the source table, and os.path.join passes those through."""
    return os.path.normpath(os.path.join(os.path.abspath(table_path), entry))


def _uri_to_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return uri


#: Fixed-point stat encoding geometry: decimal128 caps precision at 38,
#: so 38 integer + 38 fraction digits cover every Spark DecimalType.
_DEC_DIGITS = 38


def _encode_decimal(d) -> str:
    """Order-preserving fixed-point string for DECIMAL stats: a sign
    prefix ('0' negative < '1' non-negative) + 38 zero-padded integer
    digits + '.' + 38 fraction digits; negative magnitudes use
    9's-complement digits so more-negative sorts first. Lexicographic
    order of the encoding == numeric order of the value, which is the
    invariant every [lo, hi] interval prune relies on."""
    from decimal import Decimal

    d = Decimal(d)
    if not d.is_finite():  # NaN/Inf have no total order against values
        raise TypeError(f"non-finite decimal stat {d} cannot be encoded")
    neg = d < 0
    s = format(abs(d), f"0{2 * _DEC_DIGITS + 1}.{_DEC_DIGITS}f")
    if len(s) != 2 * _DEC_DIGITS + 1:  # |value| >= 10^38: can't happen
        raise TypeError(               # for decimal128, but never guess
            f"decimal stat {d} exceeds {_DEC_DIGITS} integer digits")
    if neg:
        s = "".join(c if c == "." else str(9 - int(c)) for c in s)
        return "0" + s
    return "1" + s


def _is_decimal_stat(s) -> bool:
    """True iff ``s`` is a :func:`_encode_decimal` string (78 chars:
    sign digit + 38 digits + '.' + 38 digits)."""
    n = 2 * _DEC_DIGITS + 2
    return (isinstance(s, str) and len(s) == n and s[0] in "01"
            and s[_DEC_DIGITS + 1] == "."
            and s[1:_DEC_DIGITS + 1].isdigit()
            and s[_DEC_DIGITS + 2:].isdigit())


def _schema_decimal_cols(manifest: dict) -> set:
    """Column names of DecimalType in a manifest's recorded schema —
    the TYPE-based authority for whether a stat string is a
    fixed-point decimal encoding. Shape-sniffing alone would
    mis-decode a STRING column whose stored min/max happens to look
    like an encoding (78 chars of digits around a dot)."""
    from pyspark.sql import types as T

    st = T.StructType.fromJson(json.loads(manifest["schema"]))
    return {f.name for f in st.fields
            if isinstance(f.dataType, T.DecimalType)}


def _stat_decode(v, is_decimal: bool):
    """Inverse of the stat encoding where one exists: fixed-point
    DECIMAL strings come back as Decimal; everything else (numbers,
    strings, ISO date/timestamp strings) passes through unchanged.
    ``is_decimal`` is the manifest-schema verdict for the column:
    False suppresses decoding even for shape-matching strings (a
    STRING column's data may look like an encoding), True requires
    the shape to validate."""
    from decimal import Decimal

    if not is_decimal or not _is_decimal_stat(v):
        return v
    body = v[1:]
    if v[0] == "0":
        body = "".join(c if c == "." else str(9 - int(c)) for c in body)
        return -Decimal(body)
    return Decimal(body)


def _stat_encode(v):
    """Make a min/max stat JSON-serializable AND order-preserving:
    numbers/strings pass through; date/datetime become ISO strings
    (lexicographic order == chronological order, so pruning stays
    correct); Decimal becomes the fixed-point form of
    :func:`_encode_decimal`. Types whose string form does NOT preserve
    order (bytes) are rejected up front — a wrong silent prune would
    drop rows from a MERGE.

    Timestamps are CANONICALIZED to the DRIVER-LOCAL zone and
    rendered naive: PySpark's `collect()` (the scanning stats path
    and the merge change bounds) converts TIMESTAMP values to naive
    datetimes in the Python process's LOCAL zone (independent of
    spark.sql.session.timeZone), while parquet FOOTERS (the DS writer
    and backfill_stats paths) yield tz-AWARE UTC ones — encoding both
    verbatim would make the lexicographic interval prune compare
    shifted representations and silently prune a file that holds
    change keys. `astimezone()` with no argument converts an aware
    datetime to that same driver-local zone."""
    import datetime
    from decimal import Decimal

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, Decimal):
        return _encode_decimal(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone().replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise TypeError(
        f"stat values of type {type(v).__name__} are not supported "
        "(string form is not order-preserving) — cast the column to a "
        "numeric, string, date, decimal, or timestamp type first"
    )


def _column_mapping(manifest: dict) -> dict:
    """{logical column name: physical (in-file) name} for columns whose
    names diverged through RENAME COLUMN — Delta column mapping
    (name mode). Empty for tables never renamed."""
    return {k: v for k, v in (manifest.get("column_mapping") or {}).items()
            if k != v}


def _mapping_plan(schema, mapping: dict):
    """(scan_schema, select_exprs) for reading files under a column
    mapping: the scan schema carries BOTH the physical and the logical
    name of each renamed column (a file stores exactly one of them;
    the other reads NULL), and the projection coalesces them back to
    the logical name. select_exprs is None when no mapping applies —
    the caller uses the plain explicit-schema scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    live = {f.name for f in schema.fields}
    mapping = {k: v for k, v in mapping.items() if k in live}
    if not mapping:
        return schema, None
    scan_fields = []
    for f in schema.fields:
        if f.name in mapping:
            scan_fields.append(
                T.StructField(mapping[f.name], f.dataType, True))
        scan_fields.append(T.StructField(f.name, f.dataType, True))
    sel = [
        (F.coalesce(F.col(mapping[f.name]), F.col(f.name)).alias(f.name)
         if f.name in mapping else F.col(f.name))
        for f in schema.fields
    ]
    return T.StructType(scan_fields), sel


def add_column(table_path: str, name: str, type_sql: str) -> int:
    """ADD COLUMN as a METADATA-ONLY commit (Delta's instant
    add-column): the schema widens by one NULLABLE field and not a
    data byte moves — every reader's explicit-schema scan
    NULL-backfills the column for files that predate it (the same
    mechanics MERGE's ``evolve_schema`` relies on). The same
    resurrection guards as schema evolution apply: the new name must
    not equal a RETIRED physical name (old files still hold those
    bytes) nor a live column's physical name (one scan would alias
    two columns)."""
    head, parent = _latest(table_path)
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(parent["schema"]))
    names = [f.name for f in schema.fields]
    if name in names:
        raise ValueError(f"column '{name}' already exists on {table_path}")
    if name in set(parent.get("retired_physical") or []):
        raise ValueError(
            f"cannot add column '{name}': a dropped column of that "
            "physical name still exists in old data files and would "
            "resurrect — OPTIMIZE the table to rewrite them first, or "
            "pick another name"
        )
    live_physical = {
        (parent.get("column_mapping") or {}).get(n, n) for n in names
    }
    if name in live_physical:
        raise ValueError(
            f"cannot add column '{name}': it collides with a renamed "
            "column's physical name — pick another name"
        )
    try:
        dt = T._parse_datatype_string(type_sql)
    except Exception as exc:
        raise ValueError(
            f"cannot parse column type {type_sql!r}: {exc}") from exc
    manifest = _child(parent, head + 1, "ADD COLUMNS")
    manifest["schema"] = T.StructType(
        schema.fields + [T.StructField(name, dt, True)]
    ).json()
    return _publish(table_path, manifest)


def rename_column(table_path: str, old: str, new: str) -> int:
    """RENAME COLUMN as a METADATA-ONLY commit (Delta column mapping,
    name mode): no data file is rewritten — the manifest's
    ``column_mapping`` records the logical→physical name and every
    reader coalesces the physical (old files) with the logical (files
    written after the rename). Stats, bloom, and per-column skipping
    indexes re-key to the new name so pruning keeps working. Time
    travel BEFORE the rename serves the old name (each snapshot reads
    through its own manifest).

    Guardrails (the reasons Delta grew id-mode mapping): renames that
    would alias two live columns in one scan — the freed name equals
    another column's physical name, or the new name shadows one —
    raise; swap two columns through a temporary third name."""
    head, parent = _latest(table_path)
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(parent["schema"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise KeyError(f"no column '{old}' on {table_path} ({names})")
    if new in names:
        raise ValueError(f"column '{new}' already exists on {table_path}")
    mapping = dict(parent.get("column_mapping") or {})
    physical = mapping.pop(old, old)
    other_physicals = {mapping.get(n, n) for n in names if n != old}
    if physical in set(names) - {old} or new in other_physicals:
        raise ValueError(
            f"renaming '{old}' → '{new}' would alias two columns in "
            "one scan (the physical name collides with a live logical "
            "or physical name) — rename through a temporary name"
        )
    if physical != new:
        mapping[new] = physical
    new_fields = [
        T.StructField(new, f.dataType, f.nullable, f.metadata)
        if f.name == old else f
        for f in schema.fields
    ]
    manifest = _child(parent, head + 1, "RENAME COLUMN")
    manifest["schema"] = T.StructType(new_fields).json()
    if mapping:
        manifest["column_mapping"] = mapping
    else:
        manifest.pop("column_mapping", None)
    # skipping metadata follows the logical name (bounds are unchanged
    # — the data bytes did not move)
    if manifest.get("col_stats"):
        manifest["col_stats"] = {
            f: (None if per is None else
                {(new if c == old else c): b for c, b in per.items()})
            for f, per in manifest["col_stats"].items()
        }
    if (manifest.get("bloom") or {}).get("col") == old:
        manifest["bloom"] = dict(manifest["bloom"], col=new)
    return _publish(table_path, manifest)


def drop_column(table_path: str, name: str) -> int:
    """DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    schema (readers' explicit projection never touches the stored
    bytes again — they go when the files are next rewritten or
    vacuumed), and its physical name is RETIRED in the manifest so a
    later schema evolution cannot re-add a column that would resurrect
    the dropped bytes from old files."""
    head, parent = _latest(table_path)
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(parent["schema"]))
    names = [f.name for f in schema.fields]
    if name not in names:
        raise KeyError(f"no column '{name}' on {table_path} ({names})")
    if len(names) == 1:
        raise ValueError("cannot drop a table's only column")
    mapping = dict(parent.get("column_mapping") or {})
    physical = mapping.pop(name, name)
    retired = list(dict.fromkeys(
        (parent.get("retired_physical") or []) + [physical]))
    manifest = _child(parent, head + 1, "DROP COLUMN")
    manifest["schema"] = T.StructType(
        [f for f in schema.fields if f.name != name]).json()
    if mapping:
        manifest["column_mapping"] = mapping
    else:
        manifest.pop("column_mapping", None)
    manifest["retired_physical"] = retired
    if manifest.get("col_stats"):
        manifest["col_stats"] = {
            f: (None if per is None else
                {c: b for c, b in per.items() if c != name})
            for f, per in manifest["col_stats"].items()
        }
    if (manifest.get("bloom") or {}).get("col") == name:
        manifest.pop("bloom", None)
    return _publish(table_path, manifest)


#: sidecar files always carry exactly (file URI, in-file position) —
#: passing the schema explicitly saves one driver-side parquet-footer
#: inference per sidecar read (every MOR commit reads sidecars 2-3×)
_DV_SIDECAR_SCHEMA = "file STRING, pos BIGINT"


def _dv_map(manifest: dict) -> dict:
    """{data-file entry: [sidecar parquet file entries]} — the
    manifest's deletion-vector index ({} if the version has none)."""
    return manifest.get("dv") or {}


def _read_files_dv(spark: SparkSession, table_path: str, manifest: dict,
                   rel_files: list[str], schema=None,
                   file_col: str | None = None,
                   pos_col: str | None = None) -> DataFrame:
    """Scan a subset of a version's files with the manifest's DELETION
    VECTORS applied (merge-on-read, Delta 3.x shape): rows whose
    (file, position) appear in a referenced DV sidecar are filtered
    JVM-side by ONE anti-join on (_metadata.file_path,
    _metadata.row_index) against the sidecar rows — the small side is
    O(deleted rows), AQE broadcasts it. The join key is the RAW Spark
    file URI on BOTH sides (sidecars store the URI the writing scan
    itself rendered), so no path re-encoding can ever diverge.

    ``file_col`` / ``pos_col`` optionally keep the row's source-file
    URI and in-file position — the COW discovery scans and the MOR
    writers attribute rows to files through them. With no DVs and no
    metadata columns requested this is exactly the plain parquet scan
    (zero overhead for DV-free tables)."""
    from pyspark.sql import functions as F

    paths = [_abs_file(table_path, f) for f in rel_files]
    sel = None
    if schema is None:
        reader = spark.read
    else:
        # column mapping (RENAME COLUMN): scan carries physical AND
        # logical names of renamed columns; the projection coalesces
        # them back to logical — old and new files read identically
        scan_schema, sel = _mapping_plan(schema, _column_mapping(manifest))
        reader = spark.read.schema(scan_schema)
    dv = _dv_map(manifest)
    sidecars = sorted({s for f in rel_files for s in dv.get(f, ())})
    df = reader.parquet(*paths)
    if not sidecars and file_col is None and pos_col is None:
        return df if sel is None else df.select(*sel)
    # bookkeeping-column collision guard (same contract as OPTIMIZE's
    # _zk check): a table column named like a working column would be
    # silently shadowed and then dropped from every read
    logical = (set(df.columns) if schema is None
               else {f.name for f in schema.fields})
    reserved = {"__dv_uri", "__dv_pos", file_col, pos_col} & logical
    if reserved:
        raise ValueError(
            f"table columns {sorted(reserved)} collide with deletion-"
            "vector bookkeeping columns — rename them first"
        )
    df = df.select(
        *(sel if sel is not None else [F.col(c) for c in df.columns]),
        F.col("_metadata.file_path").alias("__dv_uri"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    if sidecars:
        dvdf = (
            spark.read.schema(_DV_SIDECAR_SCHEMA)
            .parquet(*[_abs_file(table_path, s) for s in sidecars])
            .select(F.col("file").alias("__dv_uri"),
                    F.col("pos").alias("__dv_pos"))
        )
        df = df.join(dvdf, ["__dv_uri", "__dv_pos"], "left_anti")
    if file_col is not None:
        df = df.withColumn(file_col, F.col("__dv_uri"))
    if pos_col is not None:
        df = df.withColumn(pos_col, F.col("__dv_pos"))
    return df.drop("__dv_uri", "__dv_pos")


def table_properties(table_path: str) -> dict:
    """{key: value} table properties on the latest manifest."""
    return (_head_manifest(table_path) or {}).get("properties") or {}


#: Manifest keys that describe ONE specific commit (provenance stamps,
#: that commit's change-feed files) and must never ride a manifest COPY
#: into a different commit.
_PER_COMMIT_KEYS = ("restored_from", "stream_batch_id",
                    "stream_query_id", "backfilled_from", "cdf",
                    "copy_sources")


def _child(parent: dict, version: int, operation: str) -> dict:
    """A metadata commit's manifest: a copy of ``parent`` (same files,
    schema and table metadata) numbered ``version`` and stamped with
    its own ``operation``. The parent's per-commit keys are dropped —
    a SET TBLPROPERTIES is not a stream batch or a backfill, and
    snapshots() would misreport it as one."""
    manifest = {k: v for k, v in parent.items()
                if k not in _PER_COMMIT_KEYS}
    manifest["version"] = version
    manifest["operation"] = operation
    return manifest


def set_table_property(table_path: str, key: str, value: str) -> int:
    """Record a table property as a metadata-only commit (Delta's
    ``ALTER TABLE SET TBLPROPERTIES``). Properties ride every
    subsequent manifest. The property this engine interprets:
    ``dv.enabled = 'true'`` routes predicate DELETE/UPDATE through the
    merge-on-read deletion-vector path instead of copy-on-write."""
    head, parent = _latest(table_path)
    manifest = _child(parent, head + 1, "SET TBLPROPERTIES")
    manifest["properties"] = {**(parent.get("properties") or {}),
                              str(key): str(value)}
    return _publish(table_path, manifest)


#: JSON-native literal types a column DEFAULT may evaluate to — the
#: stored value must round-trip the manifest AND be injectable by the
#: SparkSession-less Arrow writer, so richer types (timestamps,
#: intervals) are refused at declaration time, not at some later
#: write. DATE is allowed: it rides the manifest as its ISO string
#: (JSON-native) and the Arrow writer re-hydrates it to date32.
_DEFAULT_LITERAL_TYPES = (int, float, str, bool, type(None))


def _is_py_decimal(value) -> bool:
    import decimal

    return isinstance(value, decimal.Decimal)

#: Catalyst node classes that are QUERY-constant but not TABLE-constant:
#: Catalyst marks them foldable/deterministic (they evaluate to one value
#: within a query), yet two engines — or the same engine tomorrow —
#: evaluating them disagree, which is exactly what a manifest-frozen
#: default literal must never depend on. Matched by AST class name in
#: both the parsed and analyzed plans, so spelling/casing/nesting can't
#: dodge the check the way they dodged the old token blacklist.
_QUERY_CONSTANT_NODES = frozenset({
    "CurrentTimestamp", "Now", "CurrentDate", "LocalTimestamp",
    "CurrentTimeZone", "CurrentUser", "CurrentDatabase",
    "CurrentCatalog", "SparkVersion",
})
#: their function-call spellings, matched in the PARSED plan: the
#: analyzer's ReplaceCurrentLike rule rewrites the session ones
#: (current_user &c.) to plain literals before the analyzed tree is
#: visible, so only the unresolved tree still shows them.
_QUERY_CONSTANT_FUNCS = frozenset({
    "current_timestamp", "now", "current_date", "localtimestamp",
    "current_timezone", "current_user", "user", "session_user",
    "current_database", "current_schema", "current_catalog", "version",
})


def _refuse_non_constant_default(spark: SparkSession, col: str,
                                 expr_sql: str) -> None:
    """Delta's foldable rule, enforced on the expression TREE instead of
    a token blacklist: the stored default is evaluated once and the
    literal rides the manifest, so the expression must be (a) foldable
    AND deterministic per Catalyst's own flags — refusing
    rand()/uuid()/monotonically_increasing_id()/nondeterministic UDFs
    and anything else no blacklist would have listed — and (b) free of
    query-constant-only nodes (current_timestamp, unix_timestamp()'s
    implicit now, current_user, …), which Catalyst happily marks
    foldable because they are constant WITHIN one query while differing
    across engines, sessions, and days."""
    qe = spark.sql(f"SELECT ({expr_sql}) AS __v")._jdf.queryExecution()

    def refuse(why: str):
        raise ValueError(
            f"DEFAULT for {col!r} must be a constant expression "
            f"(Delta's foldable rule): {expr_sql!r} {why}"
        )

    def expr_nodes(plan):
        exprs = plan.expressions()
        stack = [exprs.apply(i) for i in range(exprs.size())]
        kids = plan.children()
        for i in range(kids.size()):
            yield from expr_nodes(kids.apply(i))
        while stack:
            e = stack.pop()
            yield e
            ch = e.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))

    # the projected expression is wrapped in an Alias, whose foldable
    # is hardwired false (NamedExpressions never fold) — check its
    # child, the actual default expression
    top = qe.analyzed().expressions().apply(0).child()
    if not top.deterministic():
        refuse("is nondeterministic")
    if not top.foldable():
        refuse("is not foldable")
    for plan in (qe.logical(), qe.analyzed()):
        for e in expr_nodes(plan):
            name = e.getClass().getSimpleName()
            if name in _QUERY_CONSTANT_NODES:
                refuse(f"contains {name} — constant only within a query")
            if name == "UnresolvedFunction":
                fn = e.nameParts().mkString(".").lower().split(".")[-1]
                if fn in _QUERY_CONSTANT_FUNCS:
                    refuse(f"calls {fn}() — constant only within a query")


def set_column_default(spark: SparkSession, table_path: str,
                       col: str, expr_sql: str) -> int:
    """``ALTER TABLE … ALTER COLUMN c SET DEFAULT <literal>`` (Delta's
    ``allowColumnDefaults``): record a column default as a
    metadata-only commit. Delta's contract, mirrored exactly: the
    default applies to FUTURE writes that omit the column — existing
    rows are untouched and continue to read whatever they hold. Every
    append path honors it (library ``write_version``, REPLACE WHERE
    inserts, the Data-Source writer — which injects the stored
    literal executor-side, no SparkSession needed); MERGE upserts
    carry full rows and are unaffected.

    The expression must be FOLDABLE (Delta's rule): it is evaluated
    ONCE here and the resulting literal rides the manifest, so a
    non-constant default (e.g. ``current_timestamp()``) is refused —
    two engines or two tasks evaluating it would disagree."""
    head, parent = _latest(table_path)
    import json as _json

    from pyspark.sql import types as T

    schema = T.StructType.fromJson(_json.loads(parent["schema"]))
    if col not in schema.fieldNames():
        raise KeyError(
            f"column {col!r} not in table schema "
            f"{schema.fieldNames()} — ADD COLUMN first")
    owned = (set(parent.get("generated") or {})
             | set(parent.get("identity") or {}))
    if col in owned:
        raise ValueError(
            f"column {col!r} is GENERATED — its value is always "
            "computed, a DEFAULT would never apply"
        )
    typ = schema[col].dataType.simpleString()
    _refuse_non_constant_default(spark, col, expr_sql)
    row = spark.sql(
        f"SELECT CAST(({expr_sql}) AS {typ}) AS v").collect()[0]
    value = row["v"]
    import datetime as _dt

    if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        # DATE rides the manifest as its ISO string: JSON-native, and
        # both injectors re-materialize it (F.lit(str).cast("date")
        # library-side, date32 from the ISO string in the Arrow writer)
        value = value.isoformat()
    elif isinstance(value, _dt.datetime):
        # TIMESTAMP_NTZ rides the same way (its ISO string denotes one
        # absolute wall-clock value everywhere). Session-zoned
        # TIMESTAMP stays refused: the literal was evaluated under the
        # DECLARING session's zone, and a reader session in another
        # zone would re-materialize a different instant — the
        # disagreement the foldable-only rule exists to prevent.
        if typ != "timestamp_ntz":
            raise TypeError(
                f"DEFAULT for {col!r} is a session-zoned TIMESTAMP — "
                "its rendered instant depends on the reader's "
                "spark.sql.session.timeZone. Use TIMESTAMP_NTZ for a "
                "zone-independent default"
            )
        value = value.isoformat()
    elif _is_py_decimal(value):
        # DECIMAL rides as its plain exact string (like DATE's ISO
        # form): string→Decimal round-trips exactly at any precision,
        # and both injectors re-materialize it type-driven off the
        # table schema (F.lit(str).cast(decimal) library-side,
        # decimal128 in the Arrow writer). The zero-padded col_stats
        # encoding exists for lexicographic ORDERING, which a default
        # never needs — the plain string is the simpler exact carrier.
        value = str(value)
    elif not isinstance(value, _DEFAULT_LITERAL_TYPES):
        raise TypeError(
            f"DEFAULT for {col!r} evaluates to "
            f"{type(value).__name__} — only JSON-native literals "
            "(int/float/str/bool/NULL), DATE, TIMESTAMP_NTZ, and "
            "DECIMAL can ride the manifest and be injected by the "
            "Arrow writer"
        )
    manifest = _child(parent, head + 1, "SET DEFAULT")
    manifest["defaults"] = {**(parent.get("defaults") or {}),
                            col: {"sql": expr_sql, "value": value}}
    return _publish(table_path, manifest)


def drop_column_default(table_path: str, col: str) -> int:
    """``ALTER TABLE … ALTER COLUMN c DROP DEFAULT`` — metadata-only
    commit removing the default; writes that omit the column go back
    to NULL-fill (or schema mismatch on the strict DS path)."""
    head, parent = _latest(table_path)
    defaults = dict(parent.get("defaults") or {})
    if col not in defaults:
        raise KeyError(f"column {col!r} has no default")
    del defaults[col]
    manifest = _child(parent, head + 1, "DROP DEFAULT")
    if defaults:
        manifest["defaults"] = defaults
    else:
        manifest.pop("defaults", None)
    return _publish(table_path, manifest)


def _table_defaults(table_path: str) -> dict:
    return (_head_manifest(table_path) or {}).get("defaults") or {}


class CommitConflict(Exception):
    """Another writer committed this version number first. The loser's
    staged data is orphaned-but-invisible (the next vacuum sweeps it);
    retry by re-running the write against the new latest version."""


class ConstraintViolation(Exception):
    """A write tried to commit rows failing a table CHECK constraint
    (Delta's `ALTER TABLE ADD CONSTRAINT` analog). The staged data was
    removed; nothing was published."""


def _checks(manifest: dict) -> dict:
    """The commit-time check set of a table: its CHECK constraints plus
    its GENERATED ALWAYS AS write invariants as CHECK expressions.
    Delta enforces generated columns exactly this way: a writer MAY
    supply the column, but every supplied value must equal the
    generation expression (NULL-safe, so a NULL source generating NULL
    passes). The invariants are never stored as table constraints."""
    return {**(manifest.get("constraints") or {}),
            **{f"generated:{c}": f"{c} <=> ({e})"
               for c, e in (manifest.get("generated") or {}).items()}}


def _apply_generated(df: DataFrame, generated: dict, schema=None):
    """(Re)compute generated columns: missing ones are added, existing
    ones are REPLACED by their expression (the UPDATE-rewrite path —
    Delta recomputes generated columns when their sources change).
    With ``schema``, results cast to the declared type."""
    from pyspark.sql import functions as F

    for c, e in (generated or {}).items():
        col = F.expr(e)
        if schema is not None and c in schema.fieldNames():
            col = col.cast(schema[c].dataType)
        df = df.withColumn(c, col)
    return df


def _validate_identity_spec(identity: dict) -> dict:
    out = {}
    for c, sp in (identity or {}).items():
        start = int((sp or {}).get("start", 1))
        step = int((sp or {}).get("step", 1))
        if step < 1:
            raise ValueError(
                f"identity column '{c}': step must be a positive "
                "integer (monotonic allocation keys on the column's "
                "recorded high-water mark)"
            )
        out[c] = {"start": start, "step": step}
    return out


def _identity_high_water(spark: SparkSession, table_path: str,
                         manifest: dict, col: str):
    """Largest allocated value of an identity column on a snapshot —
    answered from per-file col_stats bounds when every file is
    indexed (metadata-only, the common case since every commit path
    indexes BIGINT columns), else one column-pruned scan. None on an
    empty table. An outstanding DS reservation
    (``identity.reserve.<col>`` in the snapshot's properties, see
    :func:`reserve_identity_block`) FLOORS the answer so no allocator
    can hand out ids inside a reserved block."""
    from pyspark.sql import functions as F

    res = (manifest.get("properties") or {}).get(f"identity.reserve.{col}")
    res_hw = int(res) if res is not None else None
    files = manifest["files"]
    if not files:
        return res_hw
    bounds = _bounds_for(manifest, col)
    if (bounds is not None
            and all(bounds.get(f) is not None for f in files)):
        data_hw = max(int(bounds[f][1]) for f in files)
    elif spark is None:
        # DS planning runs in the Python data-source worker with NO
        # SparkSession — read the missing bounds straight from the
        # parquet footers. DVs are ignored here, which can only
        # OVERestimate the high-water (deleted rows lower the true
        # max): a gap in the id sequence, never a collision.
        import pyarrow.parquet as pq

        vals = []
        for f in files:
            b = bounds.get(f) if bounds else None
            if b is None:
                absf = _abs_file(table_path, f)
                if pq.ParquetFile(absf).metadata.num_rows == 0:
                    continue  # empty part: no rows, no stats, no ids
                b = _footer_col_stats(absf, [col])[col]
            if b is None:
                raise RuntimeError(
                    f"cannot derive identity high-water for '{col}' "
                    f"without a scan (file {f} has no usable stats) — "
                    "use the library write paths for this commit"
                )
            vals.append(int(b[1]))
        data_hw = max(vals) if vals else None
    else:
        row = (read_version(spark, table_path, manifest.get("version"))
               .agg(F.max(col)).first())
        data_hw = None if row[0] is None else int(row[0])
    if res_hw is None:
        return data_hw
    return res_hw if data_hw is None else max(data_hw, res_hw)


def _identity_check_headroom(col: str, base: int, step: int,
                             num_partitions: int) -> None:
    """Refuse an identity allocation whose largest possible value
    could pass 2^63−1: monotonically_increasing_id() is
    (partition_id << 33) + row_in_partition, so each commit can
    consume up to ~numPartitions·2^33·step of the id space — after
    enough commits (or with a large step on a wide dataframe) the
    base+id·step product would wrap (non-ANSI) or throw mid-write
    (ANSI), either way after data may already be staged. Delta
    documents the same exhaustion mode for identity columns; failing
    loudly BEFORE any write is the only safe behavior."""
    max_id = (num_partitions + 1) << 33  # row_in_partition < 2^33
    if base + max_id * step > (1 << 63) - 1:
        raise ValueError(
            f"identity column '{col}': allocation would exceed BIGINT "
            f"range (base={base}, step={step}, partitions="
            f"{num_partitions}; worst-case id ~{base + max_id * step:e})"
            " — the sparse per-partition allocation has exhausted the "
            "id space; rewrite the table with a fresh start/step to "
            "re-seed"
        )


#: Partition-id headroom a DS identity reservation covers: an
#: executor-side writer allocates base + (pid<<33 + row)·step per
#: task, so one reserved block spans (RESERVE+1)<<33 ids per step.
IDENTITY_RESERVE_PARTITIONS = 4096


def reserve_identity_block(spark: SparkSession | None,
                           table_path: str) -> dict:
    """Reserve a disjoint identity-id block for an EXECUTOR-SIDE
    writer (the DS append path): a CAS-serialized metadata-only
    commit records ``identity.reserve.<col>`` (the block's inclusive
    high-water) in the table properties, which ride every subsequent
    manifest — so racing reservers get DISJOINT blocks (the CAS loser
    rebuilds past the winner through ``_commit``) and every later
    allocator, library or DS, starts past the reservation via
    :func:`_identity_high_water`. Returns {col: {"base", "step"}}
    ({} when the table has no identity spec). Delta's documented
    identity semantics apply: ids are unique and increasing, NOT
    consecutive, and a reservation whose write aborts burns its block
    (a gap, never a collision)."""
    if not versions(table_path):
        return {}
    head, parent = _latest(table_path)
    if not parent.get("identity"):
        return {}
    alloc: dict = {}

    def build(base: dict, version: int) -> dict:
        # a rebuild on a racing winner reserves past the winner's block
        alloc.clear()
        props = dict(base.get("properties") or {})
        for c, sp in _validate_identity_spec(base["identity"]).items():
            hw = _identity_high_water(spark, table_path, base, c)
            start = sp["start"] if hw is None else hw + sp["step"]
            _identity_check_headroom(c, start, sp["step"],
                                     IDENTITY_RESERVE_PARTITIONS)
            block = ((IDENTITY_RESERVE_PARTITIONS + 1) << 33) * sp["step"]
            alloc[c] = {"base": start, "step": sp["step"]}
            props[f"identity.reserve.{c}"] = str(start + block - sp["step"])
        manifest = _child(base, version, "IDENTITY RESERVE")
        manifest["properties"] = props
        return manifest

    # rebases onto any winner that kept the identity spec
    _commit(table_path, build, parent, head + 1, own=set(),
            shape_keys=("identity",))
    return alloc


def _fill_new_rows(rows: DataFrame, table_path: str, table: dict,
                   operation: str, schema=None,
                   keep: tuple | None = None) -> DataFrame:
    """The rows a commit adds, completed the one way every writer
    completes them from ``table`` (the parent manifest, or the spec a
    write declares; a fresh table has no ``files``):

    - a column the rows OMIT gets its stored DEFAULT literal, cast to
      the column's type (present columns are untouched — a supplied
      NULL stays NULL, Delta's semantics);
    - a missing GENERATED ALWAYS AS column is computed from its
      expression (a supplied one is checked in the write job);
    - GENERATED ALWAYS AS IDENTITY columns may not be supplied
      (raises). Each row gets base + monotonically_increasing_id() ·
      step, where base continues past the table's high-water mark
      (derived from col_stats — no allocator state in the manifest, so
      restores and clones can never resurrect a stale counter). Values
      are unique and increasing across commits but NOT consecutive —
      the contract Delta documents for identity columns (per-task
      allocation without a global ordering pass; a global row_number
      would be a full sort). ``keep`` = (key column, matched
      pre-images) is MERGE's rule: a row whose key matches a pre-image
      keeps that pre-image's value (an update must not renumber); only
      new keys get fresh ones.

    With ``schema`` (the DML engines) the result is exactly the
    schema's columns, each cast to its declared type."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    defaults = table.get("defaults") or {}
    if defaults:
        declared = T.StructType.fromJson(json.loads(table["schema"]))
        for c, spec in defaults.items():
            if c not in rows.columns:
                col = F.lit(spec["value"])
                if c in declared.fieldNames():
                    col = col.cast(declared[c].dataType)
                rows = rows.withColumn(c, col)
    rows = _apply_generated(rows, {
        c: e for c, e in (table.get("generated") or {}).items()
        if c not in rows.columns})
    ident = _validate_identity_spec(table.get("identity"))
    supplied = sorted(set(ident) & set(rows.columns))
    if supplied:
        raise ValueError(
            f"columns {supplied} are GENERATED ALWAYS AS IDENTITY and "
            f"cannot be supplied to {operation} — drop them from the rows"
        )
    if ident and keep is not None:
        key, pre = keep
        rows = rows.join(pre.select(key, *ident), key, "left")
    for c, sp in ident.items():
        hw = (_identity_high_water(rows.sparkSession, table_path, table, c)
              if "files" in table else None)
        base = sp["start"] if hw is None else hw + sp["step"]
        _identity_check_headroom(c, base, sp["step"],
                                 rows.rdd.getNumPartitions())
        new = (F.lit(base)
               + F.monotonically_increasing_id() * F.lit(sp["step"])
               ).cast("long")
        rows = rows.withColumn(
            c, F.coalesce(F.col(c), new) if c in rows.columns else new)
    if schema is not None:
        rows = rows.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                             for f in schema.fields])
    return rows


def _stage(table_path: str, final_dir: str, df: DataFrame, write,
           checks: dict | None = None) -> list[str]:
    """A commit's data-dir step: ``write(df, staged)`` under
    ``_staged_<final_dir>`` (vacuum's orphan sweep clears that prefix
    after a crash), rename to ``final_dir`` and return its data files.

    ``checks`` ({name: sql_expr}) are CHECK constraints and generated-
    column invariants. Their per-name violation sums,
    ``SUM(CAST(NOT expr <=> TRUE AS LONG))``, ride the write job as
    observed metrics, so a checked commit runs no extra Spark job and
    never reads back its own files. NULL counts as a violation: SQL
    CHECK's accept-on-UNKNOWN leniency silently admits NULL garbage,
    so this engine is strict; write an explicit ``x IS NULL OR ...``
    to opt in. A non-zero sum raises ``ConstraintViolation`` before
    the rename, and any exception from the write or the checks
    (including one that fails analysis, before anything is written)
    removes the staged dir, so nothing is left to publish.

    The gate is sound because it only tests ``> 0``:
    ``CollectMetrics`` sums are exact for the write shapes in use (a
    plain write, ``coalesce`` and ``_write_partitioned``'s hash
    repartition); a plan that recomputes its input can only over-count
    (a ``repartitionByRange`` sampling job doubles both sums), never
    under-count; failed task attempts' updates are dropped. A
    zero-row write reports ``None`` sums, read as 0. With no checks
    the write plan is untouched."""
    import shutil

    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.telemetry import observed

    staged = os.path.join(table_path, f"_staged_{final_dir}")
    names = sorted(checks or {})
    try:
        obs = None
        if names:
            df, obs = observed(df, f"checks_{final_dir}", **{
                f"c{i}": F.sum((~F.expr(checks[n]).eqNullSafe(True))
                               .cast("long"))
                for i, n in enumerate(names)})
        write(df, staged)
        sums = obs.get if obs is not None else {}
        bad = {n: sums[f"c{i}"] for i, n in enumerate(names)
               if sums[f"c{i}"]}
        if bad:
            raise ConstraintViolation(
                "constraint violations (rows not satisfying CHECK): "
                + ", ".join(f"{n} ({checks[n]!r}): {c}"
                            for n, c in sorted(bad.items()))
            )
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    os.rename(staged, os.path.join(table_path, final_dir))
    return _list_data_files(table_path, final_dir)


def add_constraint(spark: SparkSession, table_path: str, name: str,
                   expr: str) -> int:
    """Record a CHECK constraint as a metadata-only commit — AFTER
    proving the CURRENT data satisfies it (a constraint the existing
    table already violates would make every future write fail). Every
    subsequent write_version / merge_version_cow / predicate-DML
    commit enforces it on the rows it adds, inside that commit's
    write job (see ``_stage``); the Data Source writer
    carries it forward in the manifest but leaves enforcement to the
    library paths (documented there)."""
    head, parent = _latest(table_path)
    cons = dict(parent.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint '{name}' already exists")
    from pyspark.sql import functions as F

    n_bad = (
        read_version(spark, table_path)
        .filter(~F.expr(expr).eqNullSafe(True))
        .count()
    )
    if n_bad:
        raise ConstraintViolation(
            f"cannot add '{name}': {n_bad} existing rows violate {expr!r}"
        )
    cons[name] = expr
    manifest = _child(parent, head + 1, "ADD CONSTRAINT")
    manifest["constraints"] = cons
    return _publish(table_path, manifest)


def drop_constraint(table_path: str, name: str) -> int:
    """Remove a CHECK constraint (metadata-only commit)."""
    head, parent = _latest(table_path)
    cons = dict(parent.get("constraints") or {})
    if name not in cons:
        raise KeyError(f"no constraint '{name}' on {table_path}")
    del cons[name]
    manifest = _child(parent, head + 1, "DROP CONSTRAINT")
    manifest["constraints"] = cons
    return _publish(table_path, manifest)


def _publish(table_path: str, manifest: dict) -> int:
    """Atomically publish a manifest + advance the high-water mark.

    The publish is a COMPARE-AND-SWAP on the manifest name: the JSON is
    staged to a tmp file and then ``os.link``-ed into place, which
    FAILS if version N's manifest already exists — so two concurrent
    writers racing to commit the same version number get exactly one
    winner and one ``CommitConflict`` (the optimistic-concurrency
    contract of the Delta/Iceberg log; a plain rename would let the
    second writer silently overwrite the first's commit). On a shared
    filesystem without atomic link (e.g. some object stores), swap
    this for the store's conditional-put."""
    import time
    import uuid

    version = manifest["version"]
    # Commit wall-clock (UTC epoch) — the TIMESTAMP AS OF index. Set
    # HERE, at publish, so copied manifests (restore/backfill/clone)
    # never inherit their source's commit time.
    manifest["committed_at"] = time.time()
    # table-features stamp (Delta protocol analog): record the format
    # features this snapshot depends on so a build without them fails
    # loudly at load instead of reading wrongly
    _stamp_features(manifest, as_delta=False)
    # Delta-log encoding: when the direct parent (version-1) is live,
    # persist this commit as a structural DELTA of it instead of a
    # full snapshot — an append to a million-file table then writes
    # O(new files) of manifest, not O(table files). Every
    # ``checkpoint interval``-th commit (and any commit whose delta
    # isn't actually smaller, e.g. an overwrite) writes a full
    # snapshot, bounding reader replay. A vacuumed/absent parent just
    # means a full snapshot — the log self-heals.
    parent = None
    if version > 0:
        try:
            parent_raw = _read_raw_manifest(table_path, version - 1)
        except (FileNotFoundError, ValueError):
            parent_raw = None
        if parent_raw is not None and parent_raw.get("version") == version - 1:
            parent = (_load_manifest(table_path, version - 1)
                      if "~of" in parent_raw else parent_raw)
            # txn ledger (Delta SetTransaction analog): per-app
            # idempotency stamps ride EVERY commit forward, so
            # ``txn_version`` reads the LATEST manifest only — never a
            # backward scan. A commit's own stamps win over inherited
            # ones. Carried here, at the single publish choke point,
            # so OPTIMIZE/CLONE/DML on the same table can't drop a
            # streaming writer's stamp.
            ptxn = parent.get("txn")
            if ptxn:
                manifest["txn"] = {**ptxn, **(manifest.get("txn") or {})}
    payload = json.dumps(manifest)
    if parent is not None:
        depth = (parent_raw.get("~depth", 0)
                 if "~of" in parent_raw else 0) + 1
        if depth < _checkpoint_interval(manifest):
            record = _encode_manifest_delta(parent, manifest, depth)
            # the delta RECORD itself needs the delta-manifests
            # reader feature on top of the content's features
            record["features"] = sorted(
                set(manifest.get("features") or ())
                | {"delta-manifests"})
            delta = json.dumps(record)
            if len(delta) < len(payload):
                payload = delta
    mdir = _manifest_path(table_path)
    # The tmp name must be PER-WRITER unique: with a shared name, two
    # racing writers would stage into the same inode and the loser's
    # re-open could truncate bytes the winner is about to (or already
    # did, via the link's shared inode) publish.
    token = uuid.uuid4().hex
    tmp = os.path.join(mdir, f".{version}.{token}.json.tmp")
    with open(tmp, "w") as fh:
        fh.write(payload)
    try:
        os.link(tmp, os.path.join(mdir, f"{version}.json"))
    except FileExistsError:
        os.remove(tmp)
        raise CommitConflict(
            f"version {version} at {table_path} was committed by a "
            "concurrent writer — re-read the table and retry"
        ) from None
    # Published. The bookkeeping below must not raise: a caller would
    # take committed data for a failed commit. A stale marker
    # self-heals (``_high_water`` takes the max with the live head) and
    # vacuum sweeps leftover ``.tmp`` files.
    try:
        os.remove(tmp)
        hw_tmp = os.path.join(mdir, f"{_HIGH_WATER}.{token}.tmp")
        with open(hw_tmp, "w") as fh:
            fh.write(str(version))
        os.rename(hw_tmp, os.path.join(mdir, _HIGH_WATER))
    except OSError:
        pass
    return version


#: Manifest keys that make up a table's logical shape. A commit that
#: shares its parent's files carries them forward verbatim
#: (``_shape_of``), and a racing commit that changed any of them cannot
#: be rebased onto (``_rebasable``): a racing property flip
#: (cdf.enabled / dv.enabled) changes what a DML should have produced
#: just as a schema or constraint change does.
_SHAPE_KEYS = ("schema", "constraints", "column_mapping",
               "retired_physical", "partition_by", "generated",
               "identity", "defaults", "properties")

#: Publish attempts of a rebasing commit: the first, plus up to three
#: rebuilds against a racing winner.
_COMMIT_ATTEMPTS = 4


def _shape_of(base: dict) -> dict:
    """The shape keys ``base`` sets, to seed a file-sharing child."""
    return {k: base[k] for k in _SHAPE_KEYS if base.get(k)}


def _check_append_schema(table: dict, schema, filled=()) -> None:
    """Refuse an append whose rows (``schema``, a StructType) do not
    fit ``table``'s schema as they are, leaving out the ``filled``
    columns the commit fills in itself (identity, omitted defaults).
    Names, order, types and metadata must match exactly; nullability
    may only NARROW (non-nullable rows into a nullable column, e.g. a
    ``range()`` projection into a CONVERTed all-nullable table).
    Schema evolution goes through ``merge_version_cow``."""
    tf = [f for f in json.loads(table["schema"]).get("fields", [])
          if f.get("name") not in filled]
    af = schema.jsonValue().get("fields", [])
    if len(tf) != len(af) or any(
            (t.get("name"), t.get("type"), t.get("metadata"))
            != (a.get("name"), a.get("type"), a.get("metadata"))
            or (a.get("nullable", True) and not t.get("nullable", True))
            for t, a in zip(tf, af)):
        raise ValueError(
            "append schema does not match the table schema — "
            "use merge_version_cow(evolve_schema=True) to evolve"
        )


def _rebasable(parent: dict | None, winner: dict, own: set, attempt: int,
               shape_keys: tuple = _SHAPE_KEYS) -> bool:
    """Whether a commit built on ``parent`` that lost the CAS to
    ``winner`` may be rebuilt on top of it (Delta's WriteSerializable
    file-level rules). The commit's decision only read its ``own``
    files, so the race truly conflicts only when the winner removed
    or re-vectored one of them (publishing would resurrect stale bytes
    or double-delete) or changed a ``shape_keys`` entry. Anything else
    (blind appends, DML or compaction on other files) rebases; rows a
    racing append added are not re-matched against a DML predicate.
    ``parent=None`` is a commit planned on a table with no commits
    (the winner published v0). The last attempt never rebases."""
    parent = parent or {}
    parent_dv, win_dv = _dv_map(parent), _dv_map(winner)
    return (attempt < _COMMIT_ATTEMPTS - 1
            and all(winner.get(k) == parent.get(k) for k in shape_keys)
            and own <= set(winner.get("files") or ())
            and all(win_dv.get(f) == parent_dv.get(f) for f in own))


def _commit(table_path: str, build, parent: dict | None, version: int,
            *, own: set | None = None, shape_keys: tuple = _SHAPE_KEYS,
            staged_dirs=()) -> dict:
    """Publish ``build(parent, version)`` through the manifest CAS and
    return the published manifest — the publish path of every commit
    that writes data, the Data Source writer's included. When the CAS
    is lost and ``_rebasable`` accepts the winner, the manifest is
    rebuilt as ``build(winner, winner_version + 1)`` and republished,
    keeping the data already written; ``build`` may raise to refuse a
    base. Whenever the commit does not publish (an unrebasable
    conflict, or an exception from ``build``), its ``staged_dirs``
    (data, sidecar and change-feed dirs; None entries are skipped)
    are removed and the exception propagates. Once ``_publish`` has
    linked the manifest they are committed data and stay.
    ``own=None`` marks a commit that never rebases."""
    import shutil

    try:
        manifest = build(parent, version)
        for attempt in range(_COMMIT_ATTEMPTS):
            try:
                _publish(table_path, manifest)
                return manifest
            except CommitConflict:
                if own is None:
                    raise
                head, winner = _latest(table_path)
                if not _rebasable(parent, winner, own, attempt, shape_keys):
                    raise
                manifest = build(winner, head + 1)
    except Exception:  # not BaseException: an interrupt may follow the link
        for d in staged_dirs:
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)
        raise


#: Write a full manifest snapshot every N commits (Delta's
#: ``delta.checkpointInterval`` analog) — the bound on how many delta
#: records a reader replays. Overridable per table via the
#: ``commit.checkpointInterval`` table property.
_CHECKPOINT_INTERVAL = 10


def _checkpoint_interval(manifest: dict) -> int:
    try:
        n = int((manifest.get("properties") or {})
                .get("commit.checkpointInterval", _CHECKPOINT_INTERVAL))
    except (TypeError, ValueError):
        return _CHECKPOINT_INTERVAL
    return max(1, n)


def _next_version(table_path: str, version: int | None) -> int:
    hw = _high_water(table_path)
    if version is None:
        version = hw + 1
    if version <= hw:
        raise ValueError(
            f"version {version} already committed (or vacuumed; high water "
            f"{hw}) at {table_path} — history is append-only"
        )
    return version


def _write_partitioned(df: DataFrame, staged: str,
                       partition_by: list[str]) -> None:
    """Hive-aligned staged write, partitioning on DUPLICATED columns so
    partitionBy's column-dropping never removes the real columns from
    the data files — readers stay path-agnostic."""
    from pyspark.sql import functions as F

    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise KeyError(
            f"partition_by columns {missing} not in {df.columns}")
    dup = [f"__p_{c}" for c in partition_by]
    out = df
    for c, d in zip(partition_by, dup):
        out = out.withColumn(d, F.col(c))
    # cluster before partitionBy (Delta's optimized-write shape): each
    # value lands in one task, so one file per partition value instead
    # of one per (input task × value) — num_files stays O(partitions)
    out = out.repartition(*[F.col(d) for d in dup])
    out.write.mode("overwrite").partitionBy(*dup).parquet(staged)


def _write_rewrite(df: DataFrame, staged: str, parent: dict,
                   n_touched: int) -> None:
    """Stage a DML rewrite/append, preserving the table's layout.

    Partition-aligned tables (manifest carries ``partition_by``) keep
    hive alignment through EVERY rewrite — Delta preserves partitioning
    on DML; without this a predicate UPDATE would mix partition values
    into one file and break the whole-file metadata-only path for later
    partition deletes until an OPTIMIZE re-clustered. Unpartitioned
    tables coalesce to the touched-file count so a DML touching k files
    emits ~k files, not one per shuffle partition; rows that touch no
    file (a pure insert) keep their own partitioning, as
    ``write_version`` does, instead of funnelling through one task.
    Every shape keeps ``_stage``'s observed CHECK sums exact."""
    spec = parent.get("partition_by")
    if spec and all(c in df.columns for c in spec):
        _write_partitioned(df, staged, spec)
    else:
        (df.coalesce(n_touched) if n_touched else df).write.mode(
            "overwrite"
        ).parquet(staged)


def write_version(df: DataFrame, table_path: str,
                  version: int | None = None,
                  partition_by: list[str] | None = None,
                  generated: dict[str, str] | None = None,
                  identity: dict[str, dict] | None = None,
                  _operation: str = "WRITE") -> int:
    """Commit ``df`` as the next (or an explicit) version of the table.

    ``generated`` declares GENERATED ALWAYS AS columns ({col: sql_expr},
    Delta's analog): a column absent from ``df`` is COMPUTED from its
    expression before the write; one the caller supplies is enforced
    value-by-value against the expression inside the write job
    (NULL-safe equality — the same CHECK machinery as table
    constraints, see ``_stage``). The spec
    rides the manifest: every subsequent library commit (MERGE,
    DELETE/UPDATE both physics) enforces it on the rows it adds, and
    predicate UPDATE RECOMPUTES generated columns after applying its
    assignments (assigning one directly is refused). Combine with
    ``partition_by`` on a generated column for hidden partitioning
    with metadata-only retention: ``{"day": "CAST(ts AS DATE)"}`` +
    ``partition_by=["day"]`` makes ``DELETE WHERE day = d`` free.
    The DS writer carries the spec but, as with constraints, does not
    enforce it; SQL ``INSERT INTO`` takes the library insert path and
    does.

    ``identity`` declares GENERATED ALWAYS AS IDENTITY columns
    ({col: {"start": s, "step": p}}, Delta's analog): the column must
    be ABSENT from ``df`` (always-generated — supplying it raises) and
    is assigned unique, increasing BIGINT values continuing past the
    table's high-water mark (derived from col_stats, so no allocator
    state rides the manifest and RESTORE/CLONE can never resurrect a
    stale counter). Values are NOT consecutive — Delta's documented
    identity contract (per-task allocation, no global ordering pass).
    MERGE generates identity values for its upserts the same way; a
    DS append allocates inside a block it reserves at plan time
    (:func:`reserve_identity_block`).

    Generated, identity, defaults, constraints and properties are all
    inherited from ONE read of the head manifest.

    Commit protocol: distributed write into ``_staged_v_N`` (CHECK
    sums riding that one job) → atomic rename to ``v_N`` → manifest
    published by ``_commit`` (tmp file, then a link that fails if the
    version exists). Readers only discover the version at the link,
    so every intermediate failure leaves the table exactly as it was.
    Version numbers are append-only for the table's lifetime:
    committing a number at or below the high-water mark raises, even
    if vacuum has since dropped that version's manifest.

    The manifest records the version's parquet FILES, its schema, and
    per-file [min, max] ``col_stats`` of the first 32 columns whose
    type has an order-preserving stat form (numeric, string, date,
    timestamp, decimal, boolean), read from the parquet footers with
    no Spark job. Those bounds drive data skipping in MERGE, DML and
    filtered reads; other columns (binary, complex) are not indexed.

    ``partition_by`` writes hive-aligned files (one partition value
    never shares a file with another) by partitioning on a DUPLICATED
    column — the original stays in the data bytes, so the explicit-
    schema readers need no path parsing and the layout is purely a
    physical guarantee. The payoff is exactness, not new machinery:
    per-file ``col_stats`` collapse to lo == hi on the partition
    columns (pruning becomes partition pruning), and
    ``DELETE WHERE col = value`` takes the whole-file metadata-only
    path for every file of that partition — retention on a 100 TB
    table as manifest arithmetic. DML rewrites preserve the layout
    (``_write_rewrite``), exactly as Delta does, so alignment survives
    arbitrary predicate UPDATE/DELETE/MERGE with no OPTIMIZE needed.
    """
    import uuid

    # INHERIT generated/identity from the latest manifest when the
    # caller omits them — the spec rides the manifest, so a routine
    # overwrite commit must not silently drop it (Delta: column
    # metadata survives INSERT OVERWRITE). Passing a spec explicitly
    # re-declares it; passing {} explicitly drops it.
    head_m = _head_manifest(table_path) or {}
    if generated is None:
        generated = head_m.get("generated") or None
    if identity is None:
        identity = head_m.get("identity") or None
    if identity:
        identity = _validate_identity_spec(identity)
    # column DEFAULTs ride the manifest like generated/identity: a
    # commit omitting a defaulted column gets the stored literal
    defaults = head_m.get("defaults") or {}
    df = _fill_new_rows(df, table_path, {**head_m, "generated": generated,
                                         "identity": identity}, _operation)
    version = _next_version(table_path, version)
    os.makedirs(_manifest_path(table_path), exist_ok=True)
    # PER-WRITER unique staged AND final dirs (like _publish's tmp
    # manifest): two writers racing version N each write their own
    # v_N_<token>; the CAS on the manifest picks the winner, and the
    # loser's dir is invisible (manifest IS visibility) — it is
    # removed on conflict below, or by vacuum's orphan sweep after a
    # crash. A shared final name would let the loser delete/replace
    # the winner's already-committed data.
    data_dir = f"v_{version}_{uuid.uuid4().hex[:12]}"
    final = os.path.join(table_path, data_dir)
    # CHECK constraints: enforced inside the write job, carried forward
    # in the manifest so every future write keeps enforcing
    cons = head_m.get("constraints") or {}
    files = _stage(
        table_path, data_dir, df,
        (lambda d, p: _write_partitioned(d, p, partition_by))
        if partition_by else
        (lambda d, p: d.write.mode("overwrite").parquet(p)),
        _checks({"constraints": cons, "generated": generated}))
    manifest = {
        "version": version,
        "dir": data_dir,
        "files": files,
        "schema": df.schema.json(),
        "operation": _operation,
    }
    if cons:
        manifest["constraints"] = cons
    if partition_by:
        manifest["partition_by"] = list(partition_by)
    if generated:
        manifest["generated"] = dict(generated)
    if identity:
        manifest["identity"] = identity
    if defaults:
        manifest["defaults"] = defaults
    if head_m.get("properties"):
        manifest["properties"] = head_m["properties"]
    _set_col_stats(manifest, None, table_path, [], files)
    return _commit(table_path, lambda _base, _v: manifest, None, version,
                   staged_dirs=[final])["version"]


def _merge_slot(table_path: str, version: int | None) -> tuple[int, dict]:
    """``(version, parent)`` of a DML commit: the parent is the head and
    the version is the slot right after it. Auto-numbering derives from
    the SAME snapshot the parent comes from, NOT from a later
    high-water read: a commit interleaving between the two reads must
    collide on the version number (CommitConflict at publish) rather
    than let this commit publish one number higher with the stale
    parent's file list, which would silently drop the interleaved
    version's rows. For the same reason a MERGE's explicit number must
    be exactly that slot: a gap would let a concurrent commit land in
    the skipped slot without conflict, and the merge would publish over
    it."""
    head, parent = _latest(table_path)
    if version is not None and version != head + 1:
        raise ValueError(
            f"merge version must be the next version ({head + 1}), got "
            f"{version} — explicit gaps would let a concurrent commit "
            "interleave without CommitConflict"
        )
    return head + 1, parent


def _unpruneable(v) -> bool:
    """Missing, NULL, or NaN bounds give interval tests that are False
    for EVERY comparison — treating them as "prunes" would silently
    skip a file that holds change keys and duplicate those keys after
    the merge."""
    return v is None or (isinstance(v, float) and v != v)


def _key_span_candidates(parent: dict, key_col: str,
                         changes: DataFrame) -> list[str]:
    """Parent files whose ``col_stats`` [min, max] on ``key_col`` can
    intersect the change keys' span (Delta's data-skipping step: one
    two-scalar aggregate, planning metadata rather than row data).
    Every file is a candidate when the key has no bounds."""
    from pyspark.sql import functions as F

    pfiles = parent["files"]
    bounds = _bounds_for(parent, key_col)
    if bounds is None or not pfiles:
        return list(pfiles)
    lo, hi = changes.agg(F.min(key_col), F.max(key_col)).first()
    if _unpruneable(lo) or _unpruneable(hi):
        return list(pfiles)
    # encode only on the pruning path: a non-whitelisted key type (no
    # stats recorded for it anyway) must still merge, just unpruned
    lo, hi = _stat_encode(lo), _stat_encode(hi)
    return [
        f for f in pfiles
        if bounds.get(f) is None
        or _unpruneable(bounds[f][0]) or _unpruneable(bounds[f][1])
        or (bounds[f][0] <= hi and lo <= bounds[f][1])
    ]


class _Keys(NamedTuple):
    """A MERGE's match: the target rows whose ``key`` equals a key of
    the pinned change frame ``changes``. NULL keys match nothing."""

    key: str
    changes: DataFrame

    def keys(self, *extra) -> DataFrame:
        """The distinct change keys (plus ``extra`` columns), broadcast:
        a change batch is the small side of every join on it."""
        from pyspark.sql import functions as F

        return F.broadcast(
            self.changes.select(self.key, *extra).distinct())


def _match_files(parent: dict, match) -> list[str]:
    """The parent files a DML scans for ``match``: for change keys only
    the files whose key span can hold one (``_key_span_candidates``);
    none for the literal predicate ``false`` (a pure insert: COPY INTO,
    INSERT INTO); otherwise every file."""
    if isinstance(match, _Keys):
        return _key_span_candidates(parent, match.key, match.changes)
    return [] if match.strip().lower() == "false" else list(parent["files"])


def _match_rows(df: DataFrame, match, matched: bool = True) -> DataFrame:
    """The rows of ``df`` that ``match`` selects, or with
    ``matched=False`` every other row. A SQL predicate selects the rows
    where it is TRUE (a NULL result selects nothing, SQL WHERE
    semantics); change keys select by a semi-join on the key."""
    from pyspark.sql import functions as F

    if isinstance(match, _Keys):
        return df.join(match.keys(), match.key,
                       "left_semi" if matched else "left_anti")
    hit = F.coalesce(F.expr(match), F.lit(False))
    return df.filter(hit if matched else ~hit)


def _read_matched(spark: SparkSession, table_path: str, manifest: dict,
                  rel_files: list[str], schema, match,
                  **meta_cols) -> DataFrame:
    """The live rows of ``rel_files`` that ``match`` selects, read
    with deletion vectors applied (``meta_cols``: ``_read_files_dv``'s
    ``file_col`` / ``pos_col``). No files give an empty frame of
    ``schema`` the planner folds away."""
    if not rel_files:
        return spark.createDataFrame([], schema)
    return _match_rows(_read_files_dv(spark, table_path, manifest,
                                      rel_files, schema, **meta_cols),
                       match)


def merge_version_cow(spark: SparkSession, table_path: str,
                      changes: DataFrame, key_col: str,
                      delete_col: str = "is_delete",
                      version: int | None = None,
                      evolve_schema: bool = False,
                      extra_manifest: dict | None = None) -> dict:
    """Copy-on-write MERGE: commit a new version that REWRITES ONLY the
    parent files containing a change key and SHARES every other file
    with the parent (Delta's MERGE physical plan: find the touched
    files, rewrite them, commit).

    The plan is :func:`_predicate_cow`'s with the change keys as its
    match: stat-prune the files whose ``col_stats`` span cannot hold a
    change key, scan only the candidates for the files actually
    touched, rewrite those without their matched rows plus the
    non-deleted changes, and publish untouched parent files (stats
    carried verbatim) + new files. ``changes`` must have the parent's
    data columns plus a boolean ``delete_col`` (a NULL flag is treated
    as an upsert); omitted defaulted and generated columns are filled,
    and identity values of matched keys are kept
    (:func:`_fill_new_rows`). The change source is pinned once, so every
    job of the commit sees the same key set. A MERGE commits at exactly
    the slot after the head it read (``_merge_slot``) and never
    rebases. ``extra_manifest`` stamps keys on the same commit (an
    idempotency stamp, Delta's txnAppId/txnVersion). Returns commit
    stats: files shared vs rewritten and files pruned by stats. With
    ``dv.enabled`` and no schema evolution the merge routes to
    :func:`merge_version_mor`.

    Schema evolution (``evolve_schema=True``): columns in ``changes``
    beyond the parent schema are ADDED to the table (Delta's
    mergeSchema). The child manifest records the widened schema;
    untouched parent files are still shared byte-identically, and the
    read path NULL-backfills the new columns for them by reading with
    the manifest schema — no historical rewrite, exactly Delta's
    add-column mechanics. Time travel to pre-evolution versions keeps
    the old schema. Without the flag, extra columns raise.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    version, parent = _merge_slot(table_path, version)
    # dv.enabled routes MERGE through the merge-on-read path (no file
    # rewrites) — except schema evolution, whose rewrite is what
    # materializes the widened schema
    if _dv_enabled(parent) and not evolve_schema:
        return merge_version_mor(spark, table_path, changes, key_col,
                                 delete_col=delete_col, version=version)
    parent_struct = T.StructType.fromJson(json.loads(parent["schema"]))
    data_cols = [f.name for f in parent_struct.fields]
    extra = [f for f in changes.schema.fields
             if f.name not in data_cols and f.name != delete_col]
    if extra and not evolve_schema:
        raise ValueError(
            f"changes carry columns {[f.name for f in extra]} not in the "
            "table schema — pass evolve_schema=True to add them "
            "(NULL-backfilled for existing rows), or drop them"
        )
    if extra:
        # column-mapping guards: a new logical name must not collide
        # with a RETIRED physical name (old files still store those
        # bytes — the new column would resurrect them) nor with a live
        # column's physical name (one scan would alias two columns)
        retired = set(parent.get("retired_physical") or [])
        live_physical = {
            (parent.get("column_mapping") or {}).get(f.name, f.name)
            for f in parent_struct.fields
        }
        for f in extra:
            if f.name in retired:
                raise ValueError(
                    f"cannot add column '{f.name}': a dropped column "
                    "of that physical name still exists in old data "
                    "files and would resurrect — OPTIMIZE the table "
                    "to rewrite them first, or pick another name"
                )
            if f.name in live_physical:
                raise ValueError(
                    f"cannot add column '{f.name}': it collides with a "
                    "renamed column's physical name — pick another name"
                )
    out_struct = T.StructType(
        parent_struct.fields
        + [T.StructField(f.name, f.dataType, True) for f in extra]
    )
    # the bounds agg, the touched-file scan, the rewrite and the feed
    # each evaluate the change source: pin it once so a
    # non-deterministic or re-read source gives all of them one key set
    # (Delta materializes the MERGE source for exactly this reason)
    changes = changes.localCheckpoint(eager=True)
    return _predicate_cow(
        spark, table_path, _Keys(key_col, changes), operation="MERGE",
        # a NULL delete flag is an upsert: ~NULL would drop the row
        insert_rows=changes.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))),
        extra_manifest=extra_manifest, slot=(version, parent),
        schema=out_struct)


def _predicate_cow(spark: SparkSession, table_path: str, match,
                   rewrite=None, validate=None,
                   operation: str = "DELETE", make_feed=None,
                   drop_fully_matched: bool = False,
                   insert_rows: DataFrame | None = None,
                   extra_manifest: dict | None = None,
                   slot: tuple | None = None, schema=None) -> dict:
    """Shared physical plan of copy-on-write DML — DELETE, UPDATE,
    REPLACE WHERE, COPY INTO, INSERT INTO and MERGE: Delta's COW
    rewrite shape. ``match`` selects the rows the DML changes: a SQL
    predicate, or a MERGE's change keys (:class:`_Keys`).

    1. Discovery scan over the files ``_match_files`` keeps (every
       file for a predicate, the key-span candidates for change keys,
       none for a pure insert): the DV-aware scan materializes only the
       match's columns plus ``input_file_name()`` (a predicate is
       pushed to parquet for row-group pruning) and collects, per file
       holding a match, its MATCHED and LIVE row counts — O(#files)
       driver metadata. Untouched files are SHARED byte-identically in
       the child manifest. With ``drop_fully_matched`` (DELETE, REPLACE
       WHERE), a file whose every live row matched skips the rewrite
       and is DROPPED from the manifest — the metadata-only whole-file
       fast path, exact for ARBITRARY predicates (NULLs never match).
    2. Rewrite: ``rewrite(df_of_touched_files, schema)`` (default:
       their unmatched rows) replaces the touched files. The rows the
       commit adds (``insert_rows``: REPLACE WHERE's replacement, COPY
       INTO / INSERT INTO, MERGE's upserts) are completed by
       :func:`_fill_new_rows` and land in the same staged write. CHECK
       constraints gate the written rows inside that write job.
    3. Change feed (``cdf.enabled``): ``make_feed(matched_rows,
       schema)`` plus the added rows as ``insert``; for change keys the
       matched pre-images and the added rows are classified by key
       (``_classify_feed``), so no-op upserts drop out exactly as in
       :func:`table_changes`.
    4. Publish through :func:`_commit`. A racing commit confined to
       OTHER files (blind append, disjoint DML, compaction elsewhere)
       REBASES onto the new head and republishes — Delta's
       WriteSerializable file-level conflict rules — while one that
       removed/re-vectored this DML's own files, or changed the
       table's shape (``_SHAPE_KEYS``), raises ``CommitConflict``.
       ``slot`` = (version, parent) is a MERGE's ``_merge_slot``: the
       commit lands at exactly that version on that parent and never
       rebases. Untouched files keep their ``col_stats`` verbatim; new
       files get one footer read each.

    ``rewrite(df, schema)`` and ``validate(schema)`` (run right after
    the snapshot resolves) receive the SAME snapshot schema — so a
    caller's column checks and casts can never race a concurrent
    commit into using a different schema than the snapshot being
    rewritten. ``schema`` overrides it with the commit's schema when a
    MERGE widens the table.

    A DML that matches no rows and adds none returns ``{"version":
    None, ...}`` without committing — an empty rewrite would only
    fragment history.
    """
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    version, parent = slot or _merge_slot(table_path, None)
    widened = schema
    if schema is None:
        schema = T.StructType.fromJson(json.loads(parent["schema"]))
    cols = [f.name for f in schema.fields]
    pfiles = parent["files"]
    if validate is not None:
        validate(schema)
    if not pfiles and insert_rows is None:
        return {"version": None, "files_total": 0, "files_shared": 0,
                "files_rewritten": 0}

    keyed = isinstance(match, _Keys)
    candidates = _match_files(parent, match)
    rows = []
    if candidates:
        # DV-aware: an already-deleted row must neither mark its file
        # touched nor resurrect through the rewrite
        scan = _read_files_dv(spark, table_path, parent, candidates,
                              schema, file_col="__f")
        if keyed:
            # the keys are distinct, so the left join repeats no row
            scan = scan.join(match.keys(F.lit(True).alias("__hit")),
                             match.key, "left")
            hit = F.coalesce(F.col("__hit"), F.lit(False))
        else:
            hit = F.coalesce(F.expr(match), F.lit(False))
        rows = (
            scan.groupBy("__f")
            .agg(F.sum(hit.cast("long")).alias("__m"),
                 F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__m") > 0)
            .collect()
        )
    counts = {os.path.normpath(_uri_to_path(r["__f"])): (r["__m"], r["__n"])
              for r in rows}
    touched, dropped, untouched = [], [], []
    for f in pfiles:
        m, n = counts.get(_abs_file(table_path, f), (0, 0))
        if m == 0:
            untouched.append(f)
        elif drop_fully_matched and m == n:
            dropped.append(f)
        else:
            touched.append(f)
    if not touched and not dropped and insert_rows is None:
        return {"version": None, "files_total": len(pfiles),
                "files_shared": len(pfiles), "files_rewritten": 0,
                "files_dropped": 0}

    replacement = None
    if touched:
        kept = _read_files_dv(spark, table_path, parent, touched, schema)
        replacement = (_match_rows(kept, match, matched=False)
                       if rewrite is None else rewrite(kept, schema))
        # GENERATED ALWAYS AS columns recompute after an UPDATE's
        # assignments (Delta's behavior when their sources change);
        # idempotent on the kept rows, so no matched-row split needed
        if operation.startswith("UPDATE") and parent.get("generated"):
            replacement = _apply_generated(
                replacement, parent["generated"], schema)
        replacement = replacement.select(*cols)
    ins = None
    if insert_rows is not None:
        keep = None
        if keyed and touched and parent.get("identity"):
            keep = (match.key, _read_matched(
                spark, table_path, parent, touched, schema, match))
        ins = _fill_new_rows(insert_rows, table_path, parent, operation,
                             schema, keep)
        # the added rows feed the data write AND (cdf.enabled) the feed
        # write: pin them once so identity ids or a nondeterministic
        # source cannot diverge between the two (a MERGE's rows come
        # from its already pinned change source)
        if parent.get("identity") or (_cdf_enabled(parent) and not keyed):
            ins = ins.localCheckpoint(eager=True)
        replacement = (ins if replacement is None
                       else replacement.unionByName(ins))

    token = uuid.uuid4().hex[:12]
    new_files: list[str] = []
    final = None
    if replacement is not None:
        final_dir = f"d_{version}_{token}"
        final = os.path.join(table_path, final_dir)
        # Rewrite granularity == touched-file count, and rows that
        # rewrite no file keep their own partitioning; aligned tables
        # keep their hive layout (see _write_rewrite). The checked
        # write runs first, so a rejected commit has staged nothing
        # else.
        new_files = _stage(
            table_path, final_dir, replacement,
            lambda d, p: _write_rewrite(d, p, parent, len(touched)),
            _checks(parent))
    # persisted Change Data Feed (cdf.enabled): the matched rows are
    # already confined to the touched + dropped files — one more
    # bounded scan builds the row-level feed CDF consumers read back
    cdf_files: list[str] = []
    final_cdf = None
    if _cdf_enabled(parent) and (keyed or make_feed is not None):
        pre = _read_matched(spark, table_path, parent, touched + dropped,
                            schema, match)
        if keyed:
            feed = _classify_feed(pre, ins, [match.key])
        else:
            feed = make_feed(pre, schema)
            if ins is not None:
                feed = feed.unionByName(ins.select(
                    F.lit("insert").alias("_change_type"), *cols))
        cdf_files, final_cdf = _write_cdf(table_path, version, token, feed)

    own = set(touched) | set(dropped)

    def _build(base: dict, v: int) -> dict:
        """Child manifest against ``base``: the DML's rewrite/drop set
        is fixed (it was computed against the parent snapshot); every
        OTHER base file is shared verbatim."""
        unt = [f for f in base["files"] if f not in own]
        m = {
            "version": v,
            "files": unt + new_files,
            **_shape_of(base),
            "operation": operation,
            **(extra_manifest or {}),
        }
        if widened is not None:
            m["schema"] = widened.json()
        base_dv = _dv_map(base)
        child_dv = {f: base_dv[f] for f in unt if f in base_dv}
        if child_dv:
            m["dv"] = child_dv
        _set_col_stats(m, base, table_path, unt, new_files)
        if final_cdf is not None:
            m["cdf"] = cdf_files
        return m

    manifest = _commit(table_path, _build, parent, version,
                       own=None if slot is not None else own,
                       staged_dirs=[final, final_cdf])
    n_shared = len(manifest["files"]) - len(new_files)
    return {
        "version": manifest["version"],
        "files_total": len(manifest["files"]),
        "files_shared": n_shared,
        "files_rewritten": len(touched),
        # a MERGE never drops whole files; it reports its pruning
        **({"files_pruned_by_stats": len(pfiles) - len(candidates)}
           if keyed else {"files_dropped": len(dropped)}),
    }


def delete_where(spark: SparkSession, table_path: str,
                 predicate_sql: str) -> dict:
    """Predicate DELETE (Delta's ``DELETE FROM t WHERE p``): commit a
    new version with every row matching ``predicate_sql`` removed,
    rewriting ONLY the files that hold a matching row and sharing the
    rest. Rows where the predicate is NULL are KEPT (SQL WHERE
    semantics: only TRUE deletes). History stays time-travelable; the
    physical bytes go when vacuum retires the old versions (the
    compliance-purge path proven in tests/test_versioned.py).

    With table property ``dv.enabled = 'true'`` the delete routes
    through the merge-on-read deletion-vector path instead
    (:func:`delete_where_mor`) — same visible result, bytes written
    ∝ deleted rows."""
    if _dv_enabled(_head_manifest(table_path) or {}):
        return delete_where_mor(spark, table_path, predicate_sql)
    return _predicate_cow(spark, table_path, predicate_sql,
                          operation="DELETE", make_feed=_delete_feed,
                          drop_fully_matched=True)


def replace_where(spark: SparkSession, table_path: str, df: DataFrame,
                  predicate_sql: str) -> dict:
    """Atomic ``REPLACE WHERE`` (Delta's ``INSERT INTO t REPLACE WHERE
    p <select>`` / the ``replaceWhere`` writer option — dynamic
    partition overwrite when ``p`` is a partition filter): ONE commit
    that removes every row matching ``predicate_sql`` and inserts
    ``df``'s rows in their place. Every inserted row must itself
    satisfy the predicate (Delta's runtime check — a replace that
    smuggles rows OUTSIDE its declared region would corrupt
    concurrent readers' reasoning); violations raise before anything
    is staged.

    Physics = the predicate-COW DELETE shape plus the insert in the
    same rewrite: files whose every live row matches are DROPPED
    metadata-only (on a table partitioned/aligned on the predicate
    column this is the whole point — "replace yesterday's partition"
    drops its files without reading them), partially-matching files
    rewrite keeping only non-matching rows, every other file is
    shared byte-identically, and the replacement rows land through
    the alignment-preserving writer. Generated columns are computed,
    identity values allocated, CHECK constraints enforced on the new
    files, and with ``cdf.enabled`` the change feed records the
    deletes AND the inserts. Concurrency follows the
    WriteSerializable predicate-DML rules (disjoint commits rebase,
    overlapping ones conflict)."""
    from pyspark.sql import functions as F

    # isEmpty, not limit(1).count(): a limit's generated code names a
    # process-wide counter, so that form compiles anew on every call
    if not df.filter(
        ~F.coalesce(F.expr(predicate_sql), F.lit(False))
    ).isEmpty():
        raise ValueError(
            "REPLACE WHERE: the replacement data contains rows NOT "
            f"matching the predicate {predicate_sql!r} — every "
            "inserted row must satisfy it"
        )
    return _predicate_cow(spark, table_path, predicate_sql,
                          operation="REPLACE WHERE", make_feed=_delete_feed,
                          drop_fully_matched=True, insert_rows=df)


def copy_into(spark: SparkSession, table_path: str, source_dir: str,
              pattern: str = "*.parquet",
              file_format: str = "parquet") -> dict:
    """Idempotent file-level ingestion (Delta's ``COPY INTO``): load
    every source file matching ``pattern`` under ``source_dir`` that
    has NOT been loaded before, as ONE append commit; re-running is a
    no-op for already-loaded files, so a scheduled ingestion job can
    point at a landing directory and never double-load. File identity
    is (absolute path, size, mtime_ns) — a re-dropped file with new
    bytes reloads, a byte-identical re-run never does.

    Loaded identities are recorded per commit under the manifest's
    ``copy_sources`` key (a per-commit provenance stamp like
    ``stream_batch_id``, never carried forward); the dedup set is the
    union over LIVE manifests, so — exactly like Delta's COPY INTO —
    the dedup horizon equals the table's version retention: vacuuming
    a version retires its load history with it.

    The insert path is the REPLACE WHERE machinery with the
    literally-false predicate (pure insert, discovery scan skipped):
    generated columns computed, identity allocated, CHECK constraints
    enforced on the inserted rows, ``cdf.enabled`` records inserts, and
    conflict handling follows the blind-append rebase rules. Source
    rows are cast to the table schema; extra/missing columns raise.
    """
    import glob as _glob

    avail = versions(table_path)
    if not avail:
        raise FileNotFoundError(
            f"no committed versions at {table_path} — COPY INTO "
            "requires an existing table (CREATE TABLE ... AS first)"
        )
    seen = {tuple(ent) for _v, m in _iter_manifests(table_path, avail)
            for ent in m.get("copy_sources") or ()}
    cand = sorted(
        _glob.glob(os.path.join(source_dir, pattern))
    )
    new_sources = []
    for p in cand:
        stt = os.stat(p)
        ident = (os.path.abspath(p), stt.st_size, stt.st_mtime_ns)
        if ident not in seen:
            new_sources.append(ident)
    if not new_sources:
        return {"version": None, "files_loaded": 0,
                "files_skipped": len(cand)}
    readers = {"parquet": spark.read.parquet,
               "json": spark.read.json,
               "csv": lambda *p: spark.read.option("header", "true")
               .csv(*p)}
    if file_format not in readers:
        raise ValueError(
            f"unsupported COPY INTO format {file_format!r} — "
            f"supported: {sorted(readers)}"
        )
    df = readers[file_format](*[p for p, _, _ in new_sources])
    st = _predicate_cow(
        spark, table_path, "false",
        operation="COPY INTO",
        make_feed=_delete_feed,
        insert_rows=df,
        extra_manifest={"copy_sources": [list(s) for s in new_sources]},
    )
    st["files_loaded"] = len(new_sources)
    st["files_skipped"] = len(cand) - len(new_sources)
    return st


def _delete_feed(matched: DataFrame, schema) -> DataFrame:
    """CDF feed of a predicate DELETE: every matched row is its own
    ``delete`` preimage — row-local, no join."""
    from pyspark.sql import functions as F

    return matched.select(
        F.lit("delete").alias("_change_type"),
        *[f.name for f in schema.fields],
    )


def _update_feed(assignments: dict[str, str]):
    """CDF feed builder for a predicate UPDATE: each matched row fans
    out to its pre/post images IN ONE PASS (the post image re-evaluates
    the SET expressions against the pre-update row — same simultaneous
    semantics as the rewrite); no-op updates (every assignment yields
    the old value) are suppressed to match ``table_changes``."""
    from pyspark.sql import functions as F

    def _feed(matched: DataFrame, schema) -> DataFrame:
        cols = [f.name for f in schema.fields]

        def _new(f):
            if f.name in assignments:
                return F.expr(assignments[f.name]).cast(f.dataType)
            return F.col(f.name)

        pre = F.struct(F.lit("update_preimage").alias("_change_type"),
                       *[F.col(c).alias(c) for c in cols])
        post = F.struct(F.lit("update_postimage").alias("_change_type"),
                        *[_new(f).alias(f.name) for f in schema.fields])
        changed = None
        for f in schema.fields:
            if f.name not in assignments:
                continue
            d = ~F.col(f.name).eqNullSafe(_new(f))
            changed = d if changed is None else (changed | d)
        return (
            matched.filter(changed if changed is not None else F.lit(False))
            .select(F.explode(F.array(pre, post)).alias("_c"))
            .select("_c.*")
        )

    return _feed


def update_where(spark: SparkSession, table_path: str,
                 assignments: dict[str, str],
                 predicate_sql: str = "true") -> dict:
    """Predicate UPDATE (Delta's ``UPDATE t SET c = e WHERE p``):
    commit a new version where rows matching ``predicate_sql`` have
    each ``assignments`` target column replaced by its SQL expression,
    rewriting only touched files. All expressions are evaluated
    against the PRE-update row simultaneously (standard SQL UPDATE:
    ``SET a = b, b = a`` swaps), and each result is cast back to the
    column's declared type so the table schema never drifts. Assigning
    a column the table doesn't have raises.

    With table property ``dv.enabled = 'true'`` the update routes
    through the merge-on-read path (:func:`update_where_mor`)."""
    from pyspark.sql import functions as F

    if _dv_enabled(_head_manifest(table_path) or {}):
        return update_where_mor(spark, table_path, assignments,
                                predicate_sql)
    _refuse_generated_assignment(table_path, assignments)

    def _validate(schema):
        by_name = {f.name for f in schema.fields}
        unknown = sorted(set(assignments) - by_name)
        if unknown:
            raise ValueError(
                f"UPDATE assigns columns {unknown} not in the table "
                f"schema ({sorted(by_name)}) — schema evolution goes "
                "through MERGE"
            )

    def _apply(df, schema):
        hit = F.coalesce(F.expr(predicate_sql), F.lit(False))
        # one select → every expression sees the pre-update row
        return df.select(*[
            (F.when(hit, F.expr(assignments[f.name])
                    .cast(f.dataType)).otherwise(F.col(f.name))
             if f.name in assignments else F.col(f.name)).alias(f.name)
            for f in schema.fields
        ])

    return _predicate_cow(spark, table_path, predicate_sql, _apply,
                          validate=_validate, operation="UPDATE",
                          make_feed=_update_feed(assignments))


def _refuse_generated_assignment(table_path: str,
                                 assignments: dict) -> None:
    """GENERATED ALWAYS AS (expression or IDENTITY) columns cannot be
    assigned directly (Delta refuses the same): update their SOURCE
    columns and the engine recomputes expression columns; identity
    values never change after allocation."""
    m = _head_manifest(table_path) or {}
    spec = set(m.get("generated") or {}) | set(m.get("identity") or {})
    bad = sorted(set(assignments) & spec)
    if bad:
        raise ValueError(
            f"columns {bad} are GENERATED ALWAYS AS and cannot be "
            "assigned directly — update their source columns; the "
            "engine recomputes generated columns"
        )


_DV_ENABLED_PROP = "dv.enabled"


def _dv_enabled(manifest: dict) -> bool:
    return (manifest.get("properties") or {}).get(
        _DV_ENABLED_PROP, ""
    ).lower() == "true"


#: target (file, position) rows per sidecar part file — a bulk delete
#: fans its sidecar write across ~n_rows/this tasks instead of
#: funneling everything through one
_DV_ROWS_PER_PART = 4_000_000


def _write_dv_sidecar(spark: SparkSession, table_path: str, version: int,
                      token: str, matched: DataFrame, touched: list[str],
                      touched_uris: list[str], parent_dv: dict,
                      n_rows: int = 0):
    """Write the commit's deletion-vector sidecar: the matched rows'
    (file URI, position) pairs UNIONED with the touched files' existing
    DV rows (a file's vector is always replaced whole, so each file
    maps to exactly ONE current sidecar). Old rows are carried forward
    ONLY from each file's CURRENT vector (``parent_dv[f]``, filtered
    to that group's files): an older sidecar that is still current for
    file g can hold STALE positions for file f, and a blanket
    union-of-all-touched-sidecars would land f's positions twice —
    reads tolerate that (anti-join), but every metadata consumer that
    SUBTRACTS sidecar rows (count_rows, describe_detail, the
    whole-file drop split) would under-count (the r8 bug). With the
    per-vector carry-forward, positions ARE disjoint: new ones were
    excluded by the discovery scan, old ones appear once per file —
    so no distinct is needed.

    Bulk-delete physics: the write is RANGE-PARTITIONED and SORTED on
    (file, pos) — small DML stays a single task, but a delete matching
    millions of rows fans out over ~n_rows/_DV_ROWS_PER_PART tasks
    (never through one), each file's positions land contiguous and
    sorted so parquet dictionary-encodes the repeated URI to ~0 bytes
    and delta-encodes the monotone positions (measured ~0.6 B/row for
    a 10^5-row delete, SCALING.md). Returns (sidecar rel files, bytes
    written, final dir)."""
    from pyspark.sql import functions as F

    new_rows = matched.select(F.col("__f").alias("file"),
                              F.col("__p").alias("pos"))
    # group by current vector (files touched in the same past DML share
    # one sidecar list); each group scans ITS sidecars once, keeping
    # only ITS files' rows — stale positions for files whose vector has
    # since moved to a newer sidecar are left behind
    uri_of = dict(zip(touched, touched_uris))
    vec_groups: dict[tuple, list] = {}
    for f in touched:
        sidecars = tuple(parent_dv.get(f, ()))
        if sidecars:
            vec_groups.setdefault(sidecars, []).append(uri_of[f])
    for sidecars, uris in vec_groups.items():
        old_rows = (
            spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(
                *[_abs_file(table_path, s) for s in sidecars]
            )
            .filter(F.col("file").isin(uris))
            .select("file", "pos")
            # self-heal sidecars written by the pre-fix carry-forward
            # (which could duplicate positions); O(deleted rows) only
            .dropDuplicates(["file", "pos"])
        )
        new_rows = new_rows.unionByName(old_rows)
    parts = max(1, min(len(touched) or 1,
                       n_rows // _DV_ROWS_PER_PART + 1))
    if parts == 1:
        out = new_rows.coalesce(1)
    else:
        out = new_rows.repartitionByRange(parts, "file", "pos")
    out = out.sortWithinPartitions("file", "pos")
    dv_dir = f"s_{version}_{token}"
    # parquet v2 page encoding: sorted positions delta-bit-pack to a
    # few bits per row (the poor man's roaring bitmap) instead of
    # 8-byte plains. Dictionary is disabled for pos specifically —
    # high-cardinality positions overflow the dictionary page and the
    # mid-write fallback is PLAIN, not delta (measured 78 KB vs 214 B
    # for the same 16k positions); the file-URI column keeps its
    # dictionary (8 distinct values).
    sidecar_files = _stage(
        table_path, dv_dir, out,
        lambda d, p: d.write.mode("overwrite")
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary#pos", "false")
        .parquet(p))
    dv_bytes = sum(os.path.getsize(_abs_file(table_path, f))
                   for f in sidecar_files)
    return sidecar_files, dv_bytes, os.path.join(table_path, dv_dir)


def _split_fully_matched(spark: SparkSession, table_path: str,
                         mcounts: dict, touched: list[str],
                         touched_uris: list[str], parent_dv: dict):
    """Metadata-only whole-file split for MOR DML: a touched file whose
    every LIVE row matched DROPS from the child manifest instead of
    carrying a 100%-coverage deletion vector — zero sidecar bytes for
    it, no read-side anti-join work, vacuum reclaims it at retention
    (Delta's file-level fast path, MOR flavor; a MOR UPDATE/MERGE
    drops the old file too — every matched row's post-image is
    appended). Live totals are METADATA-only: parquet footer row
    counts minus the file's current DV rows (counted in one tiny
    sidecar scan per distinct current vector). A file's DV rows are
    attributed ONLY from the sidecars in ``parent_dv[f]`` — its
    CURRENT vector — never from other touched files' sidecars: a
    vector is replaced whole on each DML, so an OLDER sidecar that is
    still current for file g can hold STALE positions for file f, and
    counting those twice understates ``live`` and drops a file that
    still has live rows (the r8 data-loss bug: the same guard
    ``count_rows`` applies). ``mcounts`` is the per-file matched-row
    count map (normalized absolute path → count) the caller already
    collected — the callers derive touched files AND the deleted-row
    total from that same single aggregation, so the DML's discovery
    costs ONE Spark action instead of three (distinct-files collect +
    count + per-file count). Returns (dropped, dv_touched, dv_uris,
    matched-rows-in-dv_touched)."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F  # noqa: F401

    by_abs = {_abs_file(table_path, f): f for f in touched}
    uri_of = {by_abs[os.path.normpath(_uri_to_path(u))]: u
              for u in touched_uris
              if os.path.normpath(_uri_to_path(u)) in by_abs}
    old_dv_counts: dict[str, int] = {}
    # group touched files by their current vector (files touched in the
    # same past DML share one sidecar list) — one scan per group, each
    # file counted only where ``file == f`` inside ITS OWN sidecars
    vec_groups: dict[tuple, set] = {}
    for f in touched:
        sidecars = tuple(parent_dv.get(f, ()))
        if sidecars:
            vec_groups.setdefault(sidecars, set()).add(
                _abs_file(table_path, f))
    for sidecars, targets in vec_groups.items():
        for r in spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(
            *[_abs_file(table_path, s) for s in sidecars]
        ).groupBy("file").count().collect():
            p = os.path.normpath(_uri_to_path(r["file"]))
            if p in targets:
                old_dv_counts[p] = r["count"]
    dropped, dv_touched = [], []
    for f in touched:
        absf = _abs_file(table_path, f)
        live = (pq.ParquetFile(absf).metadata.num_rows
                - old_dv_counts.get(absf, 0))
        (dropped if mcounts.get(absf, 0) >= live else dv_touched).append(f)
    return (dropped, dv_touched, [uri_of[f] for f in dv_touched],
            sum(mcounts.get(_abs_file(table_path, f), 0)
                for f in dv_touched))


def _mor_dml(spark: SparkSession, table_path: str, match,
             make_rows=None, validate=None, make_feed=None,
             operation: str = "DELETE (DV)",
             insert_rows: DataFrame | None = None,
             slot: tuple | None = None) -> dict:
    """Shared physical plan of MERGE-ON-READ DML — DELETE, UPDATE and
    MERGE with deletion vectors (Delta 3.x): instead of rewriting every
    touched file (copy-on-write), commit a tiny positional-delete
    SIDECAR and leave every data file byte-identical. ``match`` is a
    SQL predicate or a MERGE's change keys (:class:`_Keys`), as in
    :func:`_predicate_cow`.

    1. Discovery: the DV-aware read of the files ``_match_files``
       keeps holds each row's source file + in-file position; the
       matched rows are pinned once (localCheckpoint — the same
       source-stability rule as MERGE's change source), with full
       pre-images only when new rows or the change feed need them. ONE
       per-file count over them gives the touched files, the
       deleted-row total and the counts ``_split_fully_matched`` needs
       to DROP files whose every live row matched.
    2. New rows: ``make_rows(matched, schema)`` (UPDATE's post-images,
       generated columns recomputed) and ``insert_rows`` (MERGE's
       upserts, completed by :func:`_fill_new_rows`) are fast-APPENDED
       as new data files in one checked write; old positions are DV'd
       away — Delta's MOR update shape exactly. An empty write adds no
       file (read from its footers, not a count job).
    3. Sidecar write: the matched (file, position) pairs, UNIONED with
       the touched files' existing DV rows (a file's vector is always
       replaced whole, so each file maps to exactly ONE current
       sidecar), land in a new ``s_N_<token>`` parquet dir. Bytes
       written ∝ DELETED rows, not touched-file size — the whole point
       at 100 TB: a 1-row delete in a 1 GB file costs ~100 bytes of
       sidecar, not 1 GB of rewrite.
    4. Change feed (``cdf.enabled``) from the pinned pre-images:
       ``make_feed(matched, schema)``, or for change keys the key
       classification against the added rows (``_classify_feed``).
    5. Publish: manifest shares EVERY surviving parent data file
       verbatim (stats too — [min,max] stay valid upper bounds under
       deletes), remaps touched files' DV pointers, and goes through
       :func:`_commit` with the same WriteSerializable rules as the COW
       engine; a MERGE's ``slot`` never rebases.

    Readers (read_version, the Data Source, CDF, bloom point lookups,
    the COW engine's own scans) all apply DVs through
    ``_read_files_dv``; OPTIMIZE compacts DV-laden files back to plain
    ones (its rewrite reads through the DVs); vacuum refcounts
    sidecars like data files.
    """
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    version, parent = slot or _merge_slot(table_path, None)
    schema = T.StructType.fromJson(json.loads(parent["schema"]))
    pfiles = parent["files"]
    if validate is not None:
        validate(schema)
    keyed = isinstance(match, _Keys)
    want_cdf = _cdf_enabled(parent) and (keyed or make_feed is not None)

    candidates = _match_files(parent, match)
    fcounts: dict = {}
    matched = None
    if candidates:
        matched = _read_matched(spark, table_path, parent, candidates,
                                schema, match, file_col="__f",
                                pos_col="__p")
        # positions suffice for the sidecar; full pre-images are only
        # pinned when new rows or the change feed are built from them —
        # a 100-column table's delete checkpoint shrinks to two longs
        # per matched row
        if make_rows is None and not want_cdf:
            matched = matched.select("__f", "__p")
        matched = matched.localCheckpoint(eager=True)
        fcounts = {r["__f"]: r["count"]
                   for r in matched.groupBy("__f").count().collect()}
    touched_uris = list(fcounts)
    if not touched_uris and insert_rows is None:
        return {"version": None, "files_total": len(pfiles),
                "files_shared": len(pfiles), "rows_deleted": 0,
                "dv_bytes": 0}
    by_abs = {_abs_file(table_path, f): f for f in pfiles}
    touched = sorted(
        by_abs[os.path.normpath(_uri_to_path(u))] for u in touched_uris
    )
    n_deleted = sum(fcounts.values())
    mcounts = {os.path.normpath(_uri_to_path(u)): c
               for u, c in fcounts.items()}
    parent_dv = _dv_map(parent)
    dropped, dv_touched, dv_uris, n_dv_rows = _split_fully_matched(
        spark, table_path, mcounts, touched, touched_uris, parent_dv)

    token = uuid.uuid4().hex[:12]
    new_rows = ins = None
    if make_rows is not None:
        new_rows = make_rows(matched, schema)
        # GENERATED ALWAYS AS columns recompute on the post-update
        # images, same as the COW rewrite path
        if parent.get("generated"):
            new_rows = _apply_generated(
                new_rows, parent["generated"], schema)
        new_rows = new_rows.select(*[f.name for f in schema.fields])
    if insert_rows is not None:
        keep = None
        if keyed and touched and parent.get("identity"):
            keep = (match.key, _read_matched(
                spark, table_path, parent, touched, schema, match))
        ins = _fill_new_rows(insert_rows, table_path, parent, operation,
                             schema, keep)
        # pinned once for the data and feed writes (see _predicate_cow)
        if parent.get("identity") or (_cdf_enabled(parent) and not keyed):
            ins = ins.localCheckpoint(eager=True)
        new_rows = ins if new_rows is None else new_rows.unionByName(ins)
    # the checked write runs first, so a rejected commit has staged
    # nothing else
    new_files: list[str] = []
    final_data = None
    if new_rows is not None:
        data_dir = f"d_{version}_{token}"
        final_data = os.path.join(table_path, data_dir)
        new_files = _stage(
            table_path, data_dir, new_rows,
            lambda d, p: _write_rewrite(d, p, parent, len(touched)),
            _checks(parent))
        if not sum(pq.ParquetFile(_abs_file(table_path, f)).metadata.num_rows
                   for f in new_files):
            shutil.rmtree(final_data, ignore_errors=True)
            new_files, final_data = [], None
    if not touched and not new_files:
        return {"version": None, "files_total": len(pfiles),
                "files_shared": len(pfiles), "files_rewritten": 0,
                "files_dv": 0, "rows_deleted": 0, "new_files": 0,
                "dv_bytes": 0}

    sidecar_files: list[str] = []
    dv_bytes, final_dv = 0, None
    if dv_touched:
        sidecar_files, dv_bytes, final_dv = _write_dv_sidecar(
            spark, table_path, version, token,
            matched.filter(F.col("__f").isin(dv_uris)), dv_touched,
            dv_uris, parent_dv, n_rows=n_dv_rows,
        )

    # persisted CDF: the pinned matched rows already hold the full
    # pre-images — the feed costs one bounded pass, no re-scan
    cdf_files: list[str] = []
    final_cdf = None
    if want_cdf:
        pre = (matched.drop("__f", "__p") if touched
               else spark.createDataFrame([], schema))
        feed = (_classify_feed(pre, ins, [match.key]) if keyed
                else make_feed(pre, schema))
        cdf_files, final_cdf = _write_cdf(table_path, version, token, feed)

    own = set(touched) | set(dropped)
    dropped_set = set(dropped)

    def _build(base: dict, v: int) -> dict:
        """Child manifest against ``base``: the DML's drop/vector set
        is fixed (computed against the parent snapshot); every other
        base file and its vector are shared verbatim."""
        surv = [f for f in base["files"] if f not in dropped_set]
        m = {
            "version": v,
            "files": surv + new_files,
            **_shape_of(base),
            "operation": operation,
        }
        dv = {f: s for f, s in _dv_map(base).items() if f not in own}
        for f in dv_touched:
            dv[f] = sidecar_files
        if dv:
            m["dv"] = dv
        _set_col_stats(m, base, table_path, surv, new_files)
        if final_cdf is not None:
            m["cdf"] = cdf_files
        return m

    # Same WriteSerializable file-level conflict rules as the COW
    # path; our new sidecar replaced the PARENT vector whole, so
    # publishing over a re-vectored own file would lose the winner's
    # deletes.
    manifest = _commit(table_path, _build, parent, version,
                       own=None if slot is not None else own,
                       staged_dirs=[final_dv, final_data, final_cdf])
    n_shared = len(manifest["files"]) - len(new_files)
    return {
        "version": manifest["version"],
        "files_total": len(manifest["files"]),
        "files_shared": n_shared,
        "files_rewritten": 0,
        "files_dv": len(dv_touched),
        "files_dropped": len(dropped),
        "rows_deleted": n_deleted,
        "dv_bytes": dv_bytes,
        "new_files": len(new_files),
        **({"files_pruned_by_stats": len(pfiles) - len(candidates)}
           if keyed else {}),
    }


def delete_where_mor(spark: SparkSession, table_path: str,
                     predicate_sql: str) -> dict:
    """Merge-on-read predicate DELETE: commit a deletion-vector
    sidecar instead of rewriting touched files — bytes written scale
    with DELETED ROWS, not touched-file size. Read-equivalent to
    :func:`delete_where` (proven by the ``snapshot_dv_read`` oracle
    entry and tests/test_versioned.py's COW-vs-MOR sequence)."""
    return _mor_dml(spark, table_path, predicate_sql,
                    make_feed=_delete_feed)


def update_where_mor(spark: SparkSession, table_path: str,
                     assignments: dict[str, str],
                     predicate_sql: str = "true") -> dict:
    """Merge-on-read predicate UPDATE (Delta 3.x DV update): matched
    rows' old positions are deletion-vectored away and their
    post-update images fast-appended as new files — touched files are
    never rewritten. Same expression semantics as
    :func:`update_where` (all assignments see the pre-update row;
    results cast back to the declared column type)."""
    from pyspark.sql import functions as F

    _refuse_generated_assignment(table_path, assignments)

    def _validate(schema):
        by_name = {f.name for f in schema.fields}
        unknown = sorted(set(assignments) - by_name)
        if unknown:
            raise ValueError(
                f"UPDATE assigns columns {unknown} not in the table "
                f"schema ({sorted(by_name)}) — schema evolution goes "
                "through MERGE"
            )

    def _apply(matched, schema):
        # matched rows ALL satisfy the predicate; one select → every
        # expression sees the pre-update row
        return matched.select(*[
            (F.expr(assignments[f.name]).cast(f.dataType)
             if f.name in assignments else F.col(f.name)).alias(f.name)
            for f in schema.fields
        ])

    return _mor_dml(spark, table_path, predicate_sql, make_rows=_apply,
                    make_feed=_update_feed(assignments),
                    validate=_validate, operation="UPDATE (DV)")


def merge_version_mor(spark: SparkSession, table_path: str,
                      changes: DataFrame, key_col: str,
                      delete_col: str = "is_delete",
                      version: int | None = None) -> dict:
    """Merge-on-read MERGE (Delta's DV-enabled merge): matched target
    rows are deletion-vectored away and the non-delete change rows are
    fast-APPENDED as new files — NO data file is ever rewritten. MERGE
    is the highest-volume DML a warehouse runs, so this is where the
    deletion-vector write-amplification win matters most: a CDC batch
    touching 1k keys spread over 1k × 1 GB files costs ~1 TB of COW
    rewrite but only O(1k positions) of sidecar + the new rows here.
    The plan is :func:`_mor_dml`'s with the change keys as its match
    (key-span pruned discovery, fully consumed files dropped, identity
    values of matched keys kept). Same visible semantics, slot rule
    and change pinning as :func:`merge_version_cow` (upsert = old
    copies vectored + new image appended; delete = vectored only; NULL
    delete flags are upserts); schema evolution still goes through the
    COW path (the rewrite is what materializes the new column).
    ``merge_version_cow`` routes here automatically when the table
    property ``dv.enabled = 'true'`` is set (and evolve_schema is
    off). A MERGE that deletes no row and adds none commits nothing
    (``version`` None)."""
    from pyspark.sql import functions as F

    version, parent = _merge_slot(table_path, version)
    data_cols = [f["name"] for f in json.loads(parent["schema"])["fields"]]
    extra = [c for c in changes.columns
             if c not in data_cols and c != delete_col]
    if extra:
        raise ValueError(
            f"changes carry columns {extra} not in the table schema — "
            "schema evolution goes through "
            "merge_version_cow(evolve_schema=True)"
        )
    # pin the change source once (same stability rule as COW merge)
    changes = changes.localCheckpoint(eager=True)
    return _mor_dml(
        spark, table_path, _Keys(key_col, changes), operation="MERGE (DV)",
        insert_rows=changes.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))),
        slot=(version, parent))


def vacuum_dry_run(table_path: str, keep_last: int = 2,
                   retain_hours: float | None = None) -> dict:
    """What ``vacuum`` WOULD do, touching nothing (Delta's ``VACUUM …
    DRY RUN``): the versions that would drop, the data/sidecar/CDF
    files that would become unreferenced, and their bytes — the number
    an operator checks before pointing retention at a 100 TB table."""
    avail = versions(table_path)
    if retain_hours is not None:
        import time

        cutoff = time.time() - retain_hours * 3600.0
        drop = [v for v in avail[:-1]
                if _commit_ts(table_path, v) < cutoff]
    else:
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        drop = avail[:-keep_last] if len(avail) > keep_last else []
    dropset = set(drop)
    kept_refs: set[str] = set()
    dropped_refs: set[str] = set()
    for v, m in _iter_manifests(table_path):
        refs = set(m["files"])
        for sidecars in _dv_map(m).values():
            refs.update(sidecars)
        refs.update(m.get("cdf") or [])
        (dropped_refs if v in dropset else kept_refs).update(refs)
    removable = sorted(dropped_refs - kept_refs)
    nbytes = 0
    for f in removable:
        try:
            nbytes += os.path.getsize(_abs_file(table_path, f))
        except OSError:
            pass
    return {"versions": drop, "files": removable, "bytes": nbytes}


def fsck_repair(spark: SparkSession, table_path: str,
                dry_run: bool = True) -> dict:
    """FSCK REPAIR TABLE (Delta's analog): find manifest-referenced
    DATA files missing from storage (out-of-band deletion, a botched
    restore of shared storage) and — with ``dry_run=False`` — commit a
    new version that drops the dead references so scans stop failing
    on FileNotFound. Missing DV SIDECARS are reported but never
    auto-repaired: dropping a deletion vector would RESURRECT deleted
    rows — that needs a human (restore the sidecar, or OPTIMIZE the
    affected files from a good snapshot). Row loss from dropped data
    refs is the point of the repair and is irreversible; hence the
    default is report-only."""
    head, parent = _latest(table_path)
    missing = [f for f in parent["files"]
               if not os.path.exists(_abs_file(table_path, f))]
    dv = _dv_map(parent)
    missing_dv = sorted({
        s for f, sidecars in dv.items() for s in sidecars
        if not os.path.exists(_abs_file(table_path, s))
    })
    out = {"version": None, "missing_files": missing,
           "missing_sidecars": missing_dv}
    if dry_run or not missing:
        return out
    surviving = [f for f in parent["files"] if f not in set(missing)]
    manifest = _child(parent, head + 1, "FSCK REPAIR")
    manifest["files"] = surviving
    if dv:
        kept_dv = {f: s for f, s in dv.items() if f in set(surviving)}
        if kept_dv:
            manifest["dv"] = kept_dv
        else:
            manifest.pop("dv", None)
    if manifest.get("col_stats") is not None:
        manifest["col_stats"] = {f: manifest["col_stats"].get(f)
                                 for f in surviving}
    if manifest.get("row_counts") is not None:
        manifest["row_counts"] = {f: manifest["row_counts"].get(f)
                                  for f in surviving}
    out["version"] = _publish(table_path, manifest)
    return out


def vacuum(table_path: str, keep_last: int = 2,
           retain_hours: float | None = None) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` versions — or,
    with ``retain_hours`` (Delta's ``VACUUM … RETAIN n HOURS``), drop
    every version whose commit is older than the horizon, ALWAYS
    keeping the latest (the current table state is never vacuumable).
    Time-based retention is what a real deployment schedules: "7 days
    of time travel" is a policy about reader pin horizons, which are
    measured in wall-clock, not commit counts.

    Order matters for crash safety — the MANIFEST is deleted first, so
    a version disappears from the catalog atomically before its data
    goes; a crash mid-vacuum leaves either a fully visible version or
    an invisible one whose orphaned data the next vacuum sweeps.
    Reclamation is REFERENCE-COUNTED at file granularity: a data file
    is deleted only when no LIVE manifest references it, so a
    copy-on-write child that shares its parent's files stays readable
    after the parent is vacuumed. Readers that already resolved a
    manifest may race a concurrent vacuum (same as Delta/Iceberg:
    retention must exceed the longest reader pin — pick ``keep_last``
    accordingly). The orphan sweep also clears ``_staged_*`` dirs, so
    vacuum must not run concurrently with an in-flight writer
    (single-writer maintenance window — the same contract the real
    formats put on VACUUM vs OPTIMIZE). Returns the versions removed.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    avail = versions(table_path)
    if retain_hours is not None:
        import time

        cutoff = time.time() - retain_hours * 3600.0
        drop = [v for v in avail[:-1]  # latest is never vacuumable
                if _commit_ts(table_path, v) < cutoff]
    else:
        drop = avail[:-keep_last] if len(avail) > keep_last else []
    # Delta-log safety: a SURVIVING manifest stored as a delta whose
    # parent is about to be dropped must first be MATERIALIZED as a
    # full snapshot, or it becomes unreadable. Chains are linear
    # (~of = version-1), so only survivors bordering the dropped range
    # rewrite — atomically, content-equivalent, committed_at preserved
    # — BEFORE any removal, keeping every intermediate state readable.
    dropset = set(drop)
    if dropset:
        for v in (x for x in avail if x not in dropset):
            raw = _read_raw_manifest(table_path, v)
            if "~of" not in raw or raw["~of"] not in dropset:
                continue
            full = _load_manifest(table_path, v)
            tmp = os.path.join(_manifest_path(table_path),
                               f".{v}.materialize.json.tmp")
            with open(tmp, "w") as fh:
                json.dump(full, fh)
            os.rename(tmp, os.path.join(
                _manifest_path(table_path), f"{v}.json"))
    for v in drop:
        os.remove(os.path.join(_manifest_path(table_path), f"{v}.json"))
    # file-level refcount across the surviving manifests — DATA files
    # and DV SIDECAR files alike (a sidecar lives as long as any live
    # manifest's dv map points at it)
    referenced: set[str] = set()
    for _v, m in _iter_manifests(table_path):
        referenced.update(m["files"])
        for sidecars in _dv_map(m).values():
            referenced.update(sidecars)
        referenced.update(m.get("cdf") or [])  # change-feed files
    # sweep staged tmp manifests from crashed/conflicted writers
    mdir = _manifest_path(table_path)
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            if f.endswith(".tmp"):
                try:
                    os.remove(os.path.join(mdir, f))
                except OSError:
                    pass
    for d in os.listdir(table_path):
        full = os.path.join(table_path, d)
        if not os.path.isdir(full) or d == _MANIFEST_DIR:
            continue
        if d.startswith("_staged_"):
            shutil.rmtree(full, ignore_errors=True)
            continue
        stem = d[2:].split("_", 1)[0]  # v_3_ab12cd → "3"; v_3 → "3"
        versioned_dir = (d.startswith(("v_", "d_", "s_", "c_"))
                         and stem.isdigit())
        if not versioned_dir:
            continue
        # recursive: partition_by layouts nest files under
        # col=value subdirs — sweep file-by-file so a subdir holding
        # BOTH referenced and dead files never gets rmtree'd whole
        for rel in _list_data_files(table_path, d):
            if rel not in referenced:
                try:
                    os.remove(os.path.join(table_path, rel))
                except OSError:
                    pass
        # marker/checksum files (_SUCCESS, .crc) are never in a
        # manifest; they go only when the whole dir empties
        if not _list_data_files(table_path, d):
            shutil.rmtree(full, ignore_errors=True)
    return drop


def _read_raw_manifest(table_path: str, version: int) -> dict:
    """One manifest file's literal JSON — a FULL snapshot or a DELTA
    record (``~of`` present). Callers outside the log layer want
    ``_load_manifest``, which materializes delta chains."""
    with open(os.path.join(_manifest_path(table_path), f"{version}.json")) as fh:
        return json.load(fh)


def _encode_manifest_delta(parent: dict, child: dict, depth: int) -> dict:
    """Delta-log record: the structural diff that rebuilds ``child``
    from ``parent`` (the Delta-Lake commit-log shape — an append to a
    million-file table logs O(new files), not O(table files)).

    Three patch granularities, keyed under reserved ``~`` names so no
    manifest key can collide: dict values (col_stats, dv,
    constraints, properties, column_mapping) diff per ENTRY
    (``~dpatch`` put/drop); string-list values (files, cdf,
    retired_physical) diff as ordered remove+append (``~lpatch``) when
    that reproduces the child list exactly; everything else replaces
    wholesale (``~set``/``~unset``). ``~depth`` bounds reader replay —
    ``_publish`` writes a full snapshot (checkpoint) when the chain
    would reach the checkpoint interval."""
    out: dict = {"version": child["version"],
                 "~of": parent["version"], "~depth": depth}
    sets: dict = {}
    unsets = [k for k in parent if k not in child]
    dpatch: dict = {}
    lpatch: dict = {}
    for k, v in child.items():
        if k == "version":
            continue
        if k in parent and parent[k] == v:
            continue
        pv = parent.get(k)
        if isinstance(v, dict) and isinstance(pv, dict):
            put = {kk: vv for kk, vv in v.items()
                   if kk not in pv or pv[kk] != vv}
            drop = [kk for kk in pv if kk not in v]
            dpatch[k] = {"put": put, "drop": drop}
        elif (isinstance(v, list) and isinstance(pv, list)
              and all(isinstance(x, str) for x in v)
              and all(isinstance(x, str) for x in pv)):
            vset = set(v)
            kept = [x for x in pv if x in vset]
            if v[: len(kept)] == kept:
                lpatch[k] = {"drop": [x for x in pv if x not in vset],
                             "append": v[len(kept):]}
            else:  # reordered (or duplicated) — replace wholesale
                sets[k] = v
        else:
            sets[k] = v
    if sets:
        out["~set"] = sets
    if unsets:
        out["~unset"] = unsets
    if dpatch:
        out["~dpatch"] = dpatch
    if lpatch:
        out["~lpatch"] = lpatch
    return out


def _apply_manifest_delta(parent: dict, delta: dict) -> dict:
    """Inverse of ``_encode_manifest_delta``."""
    m = {k: v for k, v in parent.items()
         if k not in set(delta.get("~unset", ()))}
    for k, p in (delta.get("~dpatch") or {}).items():
        d = dict(parent.get(k) or {})
        for kk in p.get("drop", ()):
            d.pop(kk, None)
        d.update(p.get("put", {}))
        m[k] = d
    for k, p in (delta.get("~lpatch") or {}).items():
        drop = set(p.get("drop", ()))
        m[k] = ([x for x in (parent.get(k) or []) if x not in drop]
                + list(p.get("append", ())))
    m.update(delta.get("~set") or {})
    m["version"] = delta["version"]
    return m


#: Table-features protocol (Delta reader/writer-features analog):
#: every commit STAMPS the format features its snapshot depends on,
#: and every load REFUSES features this build doesn't implement — a
#: future feature degrades to a clear error instead of a silently
#: wrong read (resurrected deletes, missing renames).
_SUPPORTED_FEATURES = {
    "deletion-vectors",   # dv sidecars applied via anti-join
    "column-mapping",     # logical->physical rename map
    "change-data-feed",   # persisted cdf files
    "delta-manifests",    # manifest stored as a delta record chain
}


def _stamp_features(manifest: dict, as_delta: bool) -> None:
    feats = set()
    if manifest.get("dv"):
        feats.add("deletion-vectors")
    if manifest.get("column_mapping") or manifest.get("retired_physical"):
        feats.add("column-mapping")
    if manifest.get("cdf"):
        feats.add("change-data-feed")
    if as_delta:
        feats.add("delta-manifests")
    if feats:
        manifest["features"] = sorted(feats)
    else:
        manifest.pop("features", None)


def _check_features(manifest: dict, table_path: str) -> None:
    unknown = set(manifest.get("features") or ()) - _SUPPORTED_FEATURES
    if unknown:
        raise ValueError(
            f"table {table_path} requires reader features "
            f"{sorted(unknown)} this build does not support "
            f"(supported: {sorted(_SUPPORTED_FEATURES)}) — upgrade "
            "the engine before reading"
        )


def _check_materialized(m: dict, table_path: str, version: int) -> None:
    """A materialized manifest must carry its file list and schema —
    the one manifest shape every reader and commit path relies on."""
    _check_features(m, table_path)
    missing = [k for k in ("files", "schema") if k not in m]
    if missing:
        raise ValueError(
            f"manifest of version {version} of {table_path} lacks "
            f"{missing} — dir-level manifests are not supported; "
            "rewrite the table through write_version"
        )


def _load_manifest(table_path: str, version: int) -> dict:
    """The materialized manifest of one version: a full snapshot reads
    as-is; a delta record replays its chain back to the nearest full
    snapshot (bounded by the checkpoint interval, so a read costs at
    most ~interval small JSON files). Raises on manifests stamped with
    reader features this build does not implement, and on manifests
    without a ``files`` list or ``schema``."""
    raw = _read_raw_manifest(table_path, version)
    _check_features(raw, table_path)
    chain = []
    while "~of" in raw:
        chain.append(raw)
        raw = _read_raw_manifest(table_path, raw["~of"])
    m = raw
    for delta in reversed(chain):
        m = _apply_manifest_delta(m, delta)
    _check_materialized(m, table_path, version)
    return m


def _iter_manifests(table_path: str, version_list: list[int] | None = None):
    """Yield ``(version, materialized manifest)`` ascending with O(1)
    manifest-file reads per version: a delta record whose parent is the
    PREVIOUS yielded version applies against that already-materialized
    manifest instead of replaying its whole chain — the metadata loops
    (history, snapshots, vacuum refcount, CDF ranges) stay O(versions)
    total instead of O(versions × checkpoint interval)."""
    prev_v: int | None = None
    prev_m: dict | None = None
    vs = versions(table_path) if version_list is None else version_list
    for v in vs:
        raw = _read_raw_manifest(table_path, v)
        _check_features(raw, table_path)
        if prev_m is not None and raw.get("~of") == prev_v:
            m = _apply_manifest_delta(prev_m, raw)
            _check_materialized(m, table_path, v)
        else:
            m = _load_manifest(table_path, v)
        yield v, m
        prev_v, prev_m = v, m


def _iter_changes(table_path: str, lo: int, hi: int, fresh: bool = False):
    """Yield ``(version, manifest, prev)`` for every version in
    ``(lo, hi]`` ascending, ``prev`` being the manifest of the version
    before it (None before the first commit): the one change walk of
    ``read_changes``, the CDF Data Source and the streaming source, in
    O(hi - lo) manifest-file reads (``_iter_manifests``).

    A version's changes are its diff against the version before, so
    ``lo`` (when >= 0) must be live as well as every version in the
    range; otherwise one ``FileNotFoundError`` names the vacuumed
    versions and the recovery. ``fresh`` marks a new stream's first
    batch: a vacuumed ``lo`` then makes the first version read whole,
    which is the documented re-bootstrap (a fresh checkpoint with
    ``startingVersion`` at the earliest retained version)."""
    live = versions(table_path)
    first = lo if lo >= 0 and (lo in live or not fresh) else max(lo + 1, 0)
    missing = sorted(set(range(first, hi + 1)) - set(live))
    if missing:
        raise FileNotFoundError(
            f"versions {missing} of {table_path} are not live (vacuumed) "
            "— their change history is gone and skipping them would "
            "lose rows. Re-seed consumers from the current snapshot "
            "(streaming.jobs.bootstrap_dedup_corpus / "
            "bootstrap_vector_index re-triage it against the committed "
            "state; per-version txn stamps keep the re-seed "
            "append-idempotent), then restart with a fresh checkpoint "
            f"and .option('startingVersion', {live[0] if live else None})"
        )
    prev = None
    for v, m in _iter_manifests(table_path, list(range(first, hi + 1))):
        if v > lo:
            yield v, m, prev
        prev = m


def _commit_ts(table_path: str, version: int,
               manifest: dict | None = None) -> float:
    """Commit wall-clock of a live version (UTC epoch seconds). Falls
    back to the manifest file's mtime for manifests committed before
    ``committed_at`` existed (same physical moment — the manifest is
    written exactly once). Pass ``manifest`` when the caller already
    holds it (history/snapshots loops) to skip the re-read."""
    if manifest is None:
        manifest = _load_manifest(table_path, version)
    ts = manifest.get("committed_at")
    if ts is not None:
        return float(ts)
    return os.path.getmtime(
        os.path.join(_manifest_path(table_path), f"{version}.json")
    )


def resolve_timestamp(table_path: str, ts) -> int:
    """``TIMESTAMP AS OF`` resolution (Delta semantics): the LATEST
    live version whose commit time is <= ``ts``. Accepts an epoch
    number, a ``datetime`` (naive = local time, like Delta's session-
    zone interpretation), or an ISO string. Raises if ``ts`` predates
    the earliest live commit — there is no table state to serve."""
    import datetime

    if isinstance(ts, str):
        # ISO-8601 first: compact forms like '20260101' are valid
        # dates in fromisoformat and must not be misread as epoch
        # seconds; strings no datetime parse accepts (e.g.
        # '1786791104.165' — the DS option form) fall back to epoch.
        try:
            ts = datetime.datetime.fromisoformat(ts)
        except ValueError:
            ts = float(ts)
    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    ts = float(ts)
    # commit times are monotone with version numbers
    head, m = _latest(table_path)
    if _commit_ts(table_path, head, m) <= ts:
        return head
    avail = versions(table_path)
    best = None
    for v in avail:
        if _commit_ts(table_path, v) <= ts:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the earliest live commit at "
            f"{table_path} (earliest: {_commit_ts(table_path, avail[0])})"
        )
    return best


#: per-JVM-gateway cache of the compiled catalog-stats setter (the
#: Janino cook is ~10 ms; the evaluator is stateless and reusable)
_CATALOG_STATS_SETTERS: dict = {}
_CATALOG_STATS_LOCK = __import__("threading").Lock()


def _set_catalog_stats(spark: SparkSession, name: str,
                       size_in_bytes: int, row_count: int | None) -> None:
    """Feed exact table-level statistics to the session catalog with
    ZERO scan jobs — the manifest-fed replacement for ``ANALYZE TABLE
    COMPUTE STATISTICS``. The in-memory catalog only consumes stats
    through ``SessionCatalog.alterTableStats`` (it does not interpret
    ``spark.sql.statistics.*`` table properties the way the Hive
    catalog does), and that API takes ``scala.math.BigInt`` arguments
    Py4J cannot round-trip (it flattens any returned ``Number`` to a
    Python int, so a BigInt reference can never be held Python-side).
    The bridge is Janino — the Java compiler Spark already ships for
    whole-stage codegen: a six-line script compiled once per JVM
    builds the ``CatalogStatistics`` entirely JVM-side and calls the
    same ``alterTableStats`` the ANALYZE command uses."""
    gw = spark.sparkContext._gateway
    jvm = spark._jvm
    key = id(gw)
    with _CATALOG_STATS_LOCK:
        se = _CATALOG_STATS_SETTERS.get(key)
        if se is None:
            script = """
            scala.math.BigInt size = scala.math.BigInt.apply(sizeBytes);
            scala.Option rc = rowCount < 0L
                ? scala.Option.apply(null)
                : scala.Option.apply(scala.math.BigInt.apply(rowCount));
            scala.collection.immutable.Map empty =
                scala.collection.immutable.Map$.MODULE$.empty();
            org.apache.spark.sql.catalyst.catalog.CatalogStatistics stats =
                new org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
                    size, rc, empty);
            org.apache.spark.sql.catalyst.TableIdentifier ident = db == null
                ? new org.apache.spark.sql.catalyst.TableIdentifier(table)
                : new org.apache.spark.sql.catalyst.TableIdentifier(
                      table, scala.Option.apply(db));
            catalog.alterTableStats(ident, scala.Option.apply(stats));
            """
            se = jvm.org.codehaus.janino.ScriptEvaluator()
            pnames = gw.new_array(jvm.java.lang.String, 5)
            for i, n in enumerate(
                    ("catalog", "table", "db", "sizeBytes", "rowCount")):
                pnames[i] = n
            ptypes = gw.new_array(jvm.java.lang.Class, 5)
            ptypes[0] = jvm.java.lang.Class.forName(
                "org.apache.spark.sql.catalyst.catalog.SessionCatalog")
            ptypes[1] = jvm.java.lang.Class.forName("java.lang.String")
            ptypes[2] = jvm.java.lang.Class.forName("java.lang.String")
            ptypes[3] = jvm.java.lang.Long.TYPE
            ptypes[4] = jvm.java.lang.Long.TYPE
            se.setParameters(pnames, ptypes)
            se.cook(script)
            _CATALOG_STATS_SETTERS[key] = se
        parts = name.split(".")
        args = gw.new_array(jvm.java.lang.Object, 5)
        args[0] = spark._jsparkSession.sessionState().catalog()
        args[1] = parts[-1]
        args[2] = parts[-2] if len(parts) > 1 else None
        args[3] = jvm.java.lang.Long(int(size_in_bytes))
        args[4] = jvm.java.lang.Long(
            -1 if row_count is None else int(row_count))
        se.evaluate(args)


def register_snapshot_table(spark: SparkSession, table_path: str,
                            name: str, version: int | None = None,
                            analyze_columns=None) -> dict:
    """Register a snapshot as a CATALOG parquet table with MANIFEST-fed
    statistics — the rung of the CBO ladder the per-read broadcast
    hint can't reach: Catalyst's cost-based join REORDER
    (``spark.sql.cbo.enabled`` + ``spark.sql.cbo.joinReorder.enabled``)
    needs per-relation rowCount from the catalog, and the Python DS
    scan cannot report statistics (see :func:`table_statistics`). A
    multi-join SQL over several registered snapshots gets real
    cardinalities and reorders; the temp-view route (merge_sql) keeps
    Catalyst's syntactic order.

    Mechanics: the snapshot's LIVE file set is hard-linked (copy
    fallback) into a stable per-version directory under
    ``<table>/_registered/`` — zero data movement, and the links keep
    the bytes alive even if a later VACUUM unlinks the originals, so
    the catalog table can never dangle. Partition-aligned layouts
    flatten safely: the engine's hive dirs are DUPLICATE ``__p_*``
    path columns and every partition value also lives in the data
    file, so the flat read serves it (path pruning degrades to
    row-group min/max pruning on the registered copy). The table is
    created with the MANIFEST schema (inference could miss a
    metadata-only ADD COLUMN no file carries yet).

    Statistics cost ZERO Spark jobs: the exact rowCount /
    sizeInBytes the manifest records at commit time
    (:func:`table_statistics`) are fed straight into the session
    catalog via ``alterTableStats`` — the same numbers a full-scan
    ``ANALYZE TABLE COMPUTE STATISTICS`` would burn a table scan to
    learn. ``analyze_columns`` additionally runs column-level ANALYZE
    ("ALL" or a list) for ndv-based join cardinality estimates — that
    one IS a scan and stays opt-in.

    Refused for snapshots whose correct read is not plain parquet
    (deletion vectors, column mapping) — those need the versioned
    read path. Re-registering the same name re-links the current
    version (the catalog table is a pinned snapshot, not a live view;
    :func:`refresh_snapshot_table` advances a registered name to the
    table head when it has moved — the source path and version ride
    the table properties for exactly that).
    """
    import shutil

    from pyspark.sql import types as T

    v, m = _latest(table_path, version)
    blockers = []
    if _dv_map(m):
        blockers.append("deletion vectors")
    if m.get("column_mapping") or m.get("retired_physical"):
        blockers.append("column mapping")
    if blockers:
        raise ValueError(
            f"snapshot v{v} of {table_path} cannot be served as a "
            f"plain-parquet catalog table ({', '.join(blockers)}) — "
            "read it through read_version / format('versioned')"
        )

    reg_dir = os.path.join(table_path, "_registered", f"v{v}")
    if os.path.isdir(reg_dir):
        shutil.rmtree(reg_dir)  # idempotent re-register
    os.makedirs(reg_dir, exist_ok=True)  # covers the 0-file snapshot
    for i, f in enumerate(m["files"]):
        src = _abs_file(table_path, f)
        # flatten: data-dir levels (v_N_tok, d_N_tok) and __p_* hive
        # segments all drop — partition values live in the files
        dst = os.path.join(reg_dir, f"{i:05d}_{f.rsplit('/', 1)[-1]}")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    ident = ".".join(f"`{p}`" for p in name.split("."))
    spark.sql(f"DROP TABLE IF EXISTS {ident}")
    # the source path + pinned version ride the table properties so
    # refresh_snapshot_table can follow the head without extra state
    src_esc = table_path.replace("'", "''")
    ac = ("" if not analyze_columns else
          "ALL" if analyze_columns == "ALL" else ",".join(analyze_columns))
    props = (f"TBLPROPERTIES ('versioned.source' = '{src_esc}', "
             f"'versioned.version' = '{v}', "
             f"'versioned.analyze' = '{ac}')")
    if m.get("schema"):
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        colspec = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in schema.fields)
        spark.sql(f"CREATE TABLE {ident} ({colspec}) USING parquet "
                  f"LOCATION '{reg_dir}' {props}")
    else:
        spark.sql(f"CREATE TABLE {ident} USING parquet "
                  f"LOCATION '{reg_dir}' {props}")
    # manifest-fed stats: zero scan jobs (see _set_catalog_stats)
    st = table_statistics(table_path, version=v)
    _set_catalog_stats(spark, name, st["size_in_bytes"], st["row_count"])
    if analyze_columns:
        cols = ("FOR ALL COLUMNS" if analyze_columns == "ALL"
                else "FOR COLUMNS "
                + ", ".join(f"`{c}`" for c in analyze_columns))
        spark.sql(f"ANALYZE TABLE {ident} COMPUTE STATISTICS {cols}")
    return {"table": name, "version": v, "location": reg_dir}


def refresh_snapshot_table(spark: SparkSession, name: str) -> dict:
    """Advance a registered snapshot to its source table's HEAD — the
    staleness escape for :func:`register_snapshot_table`'s pinned
    catalog tables (after a commit, the catalog silently serves the
    old version until re-registered; this is the re-register, driven
    off the properties the registration recorded). A no-op when the
    head hasn't moved (``refreshed: False``). Re-links the head's
    files into a fresh per-version dir, recreates the catalog entry
    with manifest-fed stats (zero scan jobs), re-runs column ANALYZE
    only if the original registration asked for it, and reclaims the
    superseded link dir."""
    import shutil

    ident = ".".join(f"`{p}`" for p in name.split("."))
    props = {r.key: r.value for r in
             spark.sql(f"SHOW TBLPROPERTIES {ident}").collect()}
    src = props.get("versioned.source")
    if src is None:
        raise ValueError(
            f"{name} is not a registered snapshot table (no "
            "'versioned.source' property) — register_snapshot_table "
            "creates refreshable registrations")
    reg_v = int(props["versioned.version"])
    ac = props.get("versioned.analyze") or None
    head = versions(src)[-1]
    if head == reg_v:
        detail = spark.sql(f"DESCRIBE TABLE EXTENDED {ident}") \
            .filter("col_name = 'Location'").collect()
        loc = _uri_to_path(detail[0].data_type) if detail else None
        return {"table": name, "version": reg_v, "location": loc,
                "refreshed": False}
    old_dir = os.path.join(src, "_registered", f"v{reg_v}")
    got = register_snapshot_table(
        spark, src, name, version=head,
        analyze_columns=("ALL" if ac == "ALL"
                         else ac.split(",") if ac else None))
    if os.path.isdir(old_dir) and old_dir != got["location"]:
        shutil.rmtree(old_dir, ignore_errors=True)
    return {**got, "refreshed": True}


def unregister_snapshot_table(spark: SparkSession, name: str) -> dict:
    """Drop a catalog table created by :func:`register_snapshot_table`
    AND reclaim its hard-link directory — the full lifecycle: DROP
    TABLE alone leaves the per-version link dir pinning the snapshot's
    bytes (by design while registered; garbage after). Safe on
    already-dropped names (``dropped: False``); refuses tables whose
    location is not an ``_registered`` dir (it won't delete data it
    didn't create)."""
    import shutil

    ident = ".".join(f"`{p}`" for p in name.split("."))
    try:
        detail = spark.sql(f"DESCRIBE TABLE EXTENDED {ident}") \
            .filter("col_name = 'Location'").collect()
    except Exception:
        # no such table — nothing to reclaim
        return {"table": name, "dropped": False}
    loc = _uri_to_path(detail[0].data_type) if detail else None
    spark.sql(f"DROP TABLE IF EXISTS {ident}")
    if loc and os.path.basename(os.path.dirname(loc)) == "_registered":
        shutil.rmtree(loc, ignore_errors=True)
    return {"table": name, "dropped": True}


def txn_version(table_path: str, app_id: str) -> int | None:
    """Delta ``txnVersion(appId)`` analog: the idempotency stamp the
    given writer app last committed, or None if it never stamped.
    O(1) manifest loads — ``_publish`` carries the ``txn`` ledger
    forward on every commit, so the LATEST manifest alone answers,
    never a backward scan over the history (a long-lived maintained
    view accumulates thousands of commits; per-micro-batch reads must
    not walk them)."""
    got = ((_head_manifest(table_path) or {}).get("txn") or {}).get(app_id)
    return None if got is None else int(got)


def table_statistics(table_path: str,
                     version: int | None = None,
                     include_rows: bool = True) -> dict:
    """Optimizer-grade table statistics from manifest METADATA — no
    data scan, no SparkSession: exact ``row_count`` (per-file
    row_counts minus deletion-vectored positions; None when a file
    has no recorded count), ``size_in_bytes`` (per-file sizes recorded
    at commit, os.stat fallback for files without one), and the live
    ``num_files``.

    ``include_rows=False`` skips the row count (returned as None):
    exact rows under deletion vectors must read each DV sidecar's
    positions — O(deleted rows) driver I/O that hot metadata paths
    (the per-read broadcast hint) don't need for a size-only answer.

    This is the engine's ANALYZE TABLE: Delta persists the same
    numbers per AddFile and Spark's CBO consumes them. Spark 4.1.2's
    Python Data Source scan cannot report statistics upstream (JVM
    ``PythonScan`` implements only ``Scan`` + ``SupportsMetadata``, no
    ``SupportsReportStatistics`` — so a ``format("versioned")``
    relation planners as Long.MaxValue bytes and never broadcasts).
    Until that hook exists, :func:`read_version` serves these numbers
    to the planner itself — see its ``stats_hint``."""
    return _manifest_statistics(table_path, _latest(table_path, version)[1],
                                include_rows)


def _manifest_statistics(table_path: str, m: dict,
                         include_rows: bool = True) -> dict:
    """:func:`table_statistics` of one loaded manifest."""
    import pyarrow.parquet as pq

    files = m["files"]
    fb = m.get("file_bytes") or {}
    size = 0
    for f in files:
        b = fb.get(f)
        if b is None:
            try:
                b = os.path.getsize(_abs_file(table_path, f))
            except OSError:
                b = 0
        size += b
    rc = m.get("row_counts")
    rows = None
    if include_rows and rc is not None \
            and all(rc.get(f) is not None for f in files):
        rows = sum(rc[f] for f in files)
        by_sidecar: dict[str, set] = {}
        for f, sidecars in _dv_map(m).items():
            for s in sidecars:
                by_sidecar.setdefault(s, set()).add(f)
        for s, fs in by_sidecar.items():
            targets = {_abs_file(table_path, f) for f in fs}
            col = pq.read_table(_abs_file(table_path, s),
                                columns=["file"]).column("file")
            rows -= sum(
                1 for u in col.to_pylist()
                if os.path.normpath(_uri_to_path(u)) in targets
            )
    return {"row_count": rows, "size_in_bytes": size,
            "num_files": len(files)}


def _parse_size_bytes(text: str) -> int:
    """Spark size-conf string → bytes ('10MB', '10485760b', '-1')."""
    t = str(text).strip().lower()
    for suf, mult in (("tb", 2**40), ("gb", 2**30), ("mb", 2**20),
                      ("kb", 2**10), ("t", 2**40), ("g", 2**30),
                      ("m", 2**20), ("k", 2**10), ("b", 1)):
        if t.endswith(suf):
            return int(float(t[: -len(suf)]) * mult)
    return int(t)


def _stats_broadcast_hint(spark: SparkSession, df: DataFrame,
                          table_path: str, version: int) -> DataFrame:
    """Attach a broadcast hint iff the snapshot's TRUE size (manifest
    statistics) clears the session's autoBroadcastJoinThreshold — the
    exact decision Catalyst would make from relation stats, made here
    with exact numbers because the Python DS scan cannot report any
    (see :func:`table_statistics`). A fact-sized snapshot gets no hint
    and plans a shuffle join as it must; file bytes are an upper bound
    under deletion vectors, so the hint is conservative."""
    try:
        thr = _parse_size_bytes(spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"))
    except (ValueError, TypeError):
        return df
    if thr <= 0:
        return df
    # size-only: the hint never uses row_count, and computing it under
    # deletion vectors reads every DV sidecar — O(deleted rows) driver
    # I/O per snapshot read (MERGE internals re-read constantly)
    stats = table_statistics(table_path, version, include_rows=False)
    if stats["size_in_bytes"] > thr:
        return df
    from pyspark.sql.functions import broadcast

    return broadcast(df)


def count_rows(spark: SparkSession, table_path: str,
               version: int | None = None) -> int:
    """Exact ``SELECT COUNT(*)`` from manifest METADATA — no data scan
    (Delta answers this from per-AddFile numRecords): sum the per-file
    ``row_counts``, minus deletion-vectored positions counted from the
    (tiny, O(deleted rows)) sidecars — a sidecar row is subtracted only
    when it belongs to a file whose CURRENT vector includes that
    sidecar, so stale positions for since-rewritten files never
    undercount. Falls back to a real count for manifests predating the
    index (or clones of them)."""
    v, m = _latest(table_path, version)
    rows = _manifest_statistics(table_path, m)["row_count"]
    if rows is not None:
        return rows
    return read_version(spark, table_path, v).count()


def min_max(spark: SparkSession, table_path: str, col: str,
            version: int | None = None) -> tuple:
    """Exact ``SELECT MIN(col), MAX(col)`` from manifest metadata when
    that is provably safe, else one column-pruned scan. The metadata
    answer requires: no deletion vectors on the version (a DV could
    have removed exactly the extreme row — the same guard Spark's own
    parquet aggregate pushdown applies to formats with row-level
    deletes) and an exact ``col_stats`` bound for EVERY file (a None
    entry means unindexed/NaN-tainted bounds). Footer bounds are exact
    per file, so min(los)/max(his) is the true table extreme.
    NULL-only or empty tables return (None, None) via the scan path
    (stats never index NULLs)."""
    from pyspark.sql import functions as F

    v, m = _latest(table_path, version)
    files = m["files"]
    bounds = _bounds_for(m, col)
    if (files and bounds is not None and not _dv_map(m)
            and all(bounds.get(f) is not None for f in files)):
        los = [bounds[f][0] for f in files]
        his = [bounds[f][1] for f in files]
        # fixed-point DECIMAL stats decode back to Decimal (min/max of
        # the encodings IS the numeric min/max — order-preserving);
        # decode strictly by the SCHEMA type of the column, never by
        # string shape (a STRING column may contain look-alikes)
        is_dec = col in _schema_decimal_cols(m)
        return (_stat_decode(min(los), is_dec),
                _stat_decode(max(his), is_dec))
    row = (read_version(spark, table_path, v)
           .agg(F.min(col), F.max(col)).first())
    is_dec = col in _schema_decimal_cols(m)
    return (_stat_decode(_stat_encode(row[0]), is_dec),
            _stat_decode(_stat_encode(row[1]), is_dec))


def describe_detail(spark: SparkSession, table_path: str) -> DataFrame:
    """``DESCRIBE DETAIL`` (Delta's analog): ONE row summarizing the
    table's latest snapshot — version, commit time, file/byte totals,
    DV'd file count, partition columns, reader features, properties,
    constraint names, and checkpoint interval — from manifest metadata
    alone."""
    import datetime

    v, m = _latest(table_path)
    files = m["files"]
    fb = m.get("file_bytes") or {}
    size = 0
    for f in files:
        b = fb.get(f)  # recorded at commit; os.stat when missing
        if b is None:
            try:
                b = os.path.getsize(_abs_file(table_path, f))
            except OSError:
                b = 0
        size += b
    rc = m.get("row_counts") or {}
    counts = [rc.get(f) for f in files]
    row = (
        os.path.abspath(table_path),
        v,
        datetime.datetime.fromtimestamp(
            _commit_ts(table_path, v, m), datetime.timezone.utc
        ).replace(tzinfo=None),
        m.get("operation"),
        len(files),
        size,
        (sum(counts) if counts and all(c is not None for c in counts)
         else None),
        len(_dv_map(m)),
        list(m.get("partition_by") or []),
        list(m.get("features") or []),
        sorted((m.get("constraints") or {}).keys()),
        dict((m.get("properties") or {})),
        _checkpoint_interval(m),
        len(versions(table_path)),
    )
    return spark.createDataFrame(
        [row],
        "location STRING, version INT, committed_at TIMESTAMP_NTZ, "
        "operation STRING, num_files BIGINT, size_bytes BIGINT, "
        "num_rows BIGINT, num_dv_files BIGINT, "
        "partition_columns ARRAY<STRING>, features ARRAY<STRING>, "
        "constraints ARRAY<STRING>, properties MAP<STRING, STRING>, "
        "checkpoint_interval INT, num_versions BIGINT",
    )


def partitions(spark: SparkSession, table_path: str,
               version: int | None = None) -> DataFrame:
    """``SHOW PARTITIONS`` analog from manifest metadata alone (no
    data read): one row per partition-value combination with file and
    row counts. A file is attributed to a partition when its
    ``col_stats`` bounds collapse to a point on every partition column
    — true for all ``partition_by``-aligned writes; files that span
    values (unpartitioned DML rewrites before the next OPTIMIZE
    re-clusters them) report as one ``aligned = false`` row with NULL
    values. ``rows`` sums the per-file row counts; ``has_dv`` marks
    partitions whose counts are upper bounds (deletion vectors
    present). Raises on tables without a partition spec."""
    m = _latest(table_path, version)[1]
    pb = m.get("partition_by")
    if not pb:
        raise ValueError(
            f"{table_path} has no partition spec — write with "
            "write_version(partition_by=...) or CREATE TABLE … "
            "PARTITIONED BY"
        )
    cs = m.get("col_stats") or {}
    rc = m.get("row_counts") or {}
    dv = _dv_map(m)
    agg: dict[tuple, list] = {}
    for f in m.get("files") or []:
        per = cs.get(f) or {}
        vals = []
        for c in pb:
            b = per.get(c)
            vals.append(b[0] if b is not None and b[0] == b[1] else None)
        key = tuple(str(x) if x is not None else None for x in vals)
        if any(x is None for x in key):
            key = tuple(None for _ in pb)  # unaligned bucket
        slot = agg.setdefault(key, [0, 0, False, all(x is not None
                                                     for x in key)])
        slot[0] += 1
        n = rc.get(f)
        slot[1] = None if (n is None or slot[1] is None) else slot[1] + n
        slot[2] = slot[2] or f in dv
    rows = [(*k, n_files, n_rows, has_dv, aligned)
            for k, (n_files, n_rows, has_dv, aligned)
            in sorted(agg.items(), key=lambda kv: tuple(
                (x is None, x) for x in kv[0]))]
    schema = (", ".join(f"`{c}` STRING" for c in pb)
              + ", files BIGINT, rows BIGINT, has_dv BOOLEAN, "
                "aligned BOOLEAN")
    return spark.createDataFrame(rows, schema)


def read_version(spark: SparkSession, table_path: str,
                 version: int | None = None,
                 timestamp=None,
                 stats_hint: bool = True) -> DataFrame:
    """Time-travel read: the table as of ``version`` (default: latest)
    or, with ``timestamp`` (exclusive with ``version``), as of the
    latest commit at that wall-clock moment — ``TIMESTAMP AS OF``.

    Resolves the manifest, then reads ONLY that version's immutable
    file set — a later commit can't disturb this snapshot, and a
    copy-on-write version transparently reads the parent files it
    shares plus its own rewrites.

    ``stats_hint`` (default on) feeds the snapshot's MANIFEST
    statistics to the planner: when the true live-file byte size
    clears ``spark.sql.autoBroadcastJoinThreshold``, the returned
    DataFrame carries a broadcast hint, so joins against a dim-sized
    snapshot build a broadcast hash join even where Catalyst's own
    size propagation can't see it (a DV anti-join subtree, or — once
    upstream grows a Python-DS statistics hook — a
    ``format("versioned")`` relation, which today planners as
    Long.MaxValue bytes; :func:`table_statistics`). A fact-sized
    snapshot gets no hint and shuffles as it must.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = resolve_timestamp(table_path, timestamp)
    version, manifest = _latest(table_path, version)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not manifest["files"]:
        return spark.createDataFrame([], schema)
    # Read with the MANIFEST schema, not parquet inference: after a
    # schema-evolving MERGE, shared pre-evolution files lack the new
    # columns and this NULL-backfills them (Delta's read path); it
    # also pins column order/nullability to what was committed.
    # Deletion vectors (if the version carries any) are applied by the
    # same scan — a DV-free version plans the identical plain parquet
    # read as before.
    df = _read_files_dv(
        spark, table_path, manifest, manifest["files"], schema
    )
    if stats_hint:
        df = _stats_broadcast_hint(spark, df, table_path, version)
    return df


def optimize_version(spark: SparkSession, table_path: str,
                     target_files: int = 1,
                     sort_col: str | None = None,
                     zorder_cols: tuple[str, str] | None = None,
                     zorder_bits: int = 8,
                     curve: str = "morton") -> dict:
    """Delta-OPTIMIZE-style compaction: commit a NEW version whose
    content is identical to the latest but rewritten into
    ``target_files`` files (optionally range-clustered on ``sort_col``
    so per-file [min,max] spans are tight and later COW merges prune
    harder). Time travel to the pre-optimize version keeps working —
    its manifest still references the old files, and vacuum's refcount
    only reclaims them once that version is retired. This is the
    maintenance half of the small-files problem: many COW merges each
    add a small ``d_N`` file; OPTIMIZE folds them back into few
    well-sized ones.

    ``zorder_cols=(x, y)`` clusters on a space-filling-curve key of the
    two integer columns instead (OPTIMIZE ZORDER BY): each column is
    first scaled to ``zorder_bits`` buckets against its own min/max
    (one tiny agg broadcast back — no collect), then files are
    range-partitioned and sorted on the curve key, so per-file AND
    per-row-group min/max stats are tight on BOTH dimensions and range
    predicates on either column prune. ``curve`` picks the key:
    ``"morton"`` (Z-order, Delta's OPTIMIZE ZORDER) or ``"hilbert"``
    (adjacency-true curve — fewer files per 2-D box, the clustering
    Delta's liquid clustering moved to; locality numbers in
    SCALING.md).
    """
    from pyspark.sql import functions as F

    head, parent = _latest(table_path)
    df = read_version(spark, table_path, head)
    if zorder_cols is not None:
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hilbert import with_hilbert_key
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.zorder import morton_sql

        if curve not in ("morton", "hilbert"):
            raise ValueError(f"curve must be 'morton' or 'hilbert', "
                             f"got {curve!r}")
        x, y = zorder_cols
        reserved = ({"_zk", "_xlo", "_xhi", "_ylo", "_yhi", "_bx", "_by"}
                    & set(df.columns))
        if reserved:
            raise ValueError(
                f"table columns {sorted(reserved)} collide with OPTIMIZE "
                "ZORDER bookkeeping columns — rename them first"
            )
        n = 1 << zorder_bits
        bounds = df.agg(
            F.min(x).alias("_xlo"), F.max(x).alias("_xhi"),
            F.min(y).alias("_ylo"), F.max(y).alias("_yhi"),
        )
        bx = (f"least({n - 1}, CAST(floor(({x} - _xlo) * {n}.0 "
              f"/ (_xhi - _xlo + 1)) AS BIGINT))")
        by = (f"least({n - 1}, CAST(floor(({y} - _ylo) * {n}.0 "
              f"/ (_yhi - _ylo + 1)) AS BIGINT))")
        cols = df.columns
        keyed = df.crossJoin(F.broadcast(bounds))
        if curve == "hilbert":
            keyed = with_hilbert_key(
                keyed.selectExpr(*cols, f"{bx} AS _bx", f"{by} AS _by"),
                "_bx", "_by", bits=zorder_bits, key_col="_zk",
            ).drop("_bx", "_by")
        else:
            keyed = keyed.withColumn(
                "_zk", F.expr(morton_sql(bx, by, zorder_bits))
            ).drop("_xlo", "_xhi", "_ylo", "_yhi")
        df = (
            keyed.repartitionByRange(target_files, "_zk")
            .sortWithinPartitions("_zk")
            .select(*cols)
        )
    elif sort_col is not None:
        df = df.repartitionByRange(target_files, sort_col)
    else:
        df = df.coalesce(target_files)
    v = write_version(df, table_path, _operation="OPTIMIZE")
    return {
        "version": v,
        "files_before": len(parent["files"]),
        "files_after": len(_load_manifest(table_path, v)["files"]),
    }


def optimize_incremental(spark: SparkSession, table_path: str,
                         min_file_bytes: int = 32 * 1024 * 1024,
                         sort_col: str | None = None,
                         target_files: int = 1) -> dict:
    """Incremental OPTIMIZE (Delta auto-compaction / bin-packing
    shape): compact ONLY the files that need it — files smaller than
    ``min_file_bytes`` (the small-file debt every fast-append and COW
    merge accrues) and files carrying deletion vectors (whose debt is
    read-time anti-join work) — into ``target_files`` well-sized files,
    SHARING every healthy file byte-identically. A full
    ``optimize_version`` rewrites the whole table; on a 100 TB table
    where 1% of files are small, that is 100× more write I/O than this
    for the same layout benefit — incremental compaction is the only
    OPTIMIZE an operator can afford to run continuously.

    DV-laden files are read through their vectors and re-emitted
    plain, so the commit also retires their sidecars. Healthy files
    keep their col_stats verbatim. No-op (no commit) when nothing
    qualifies. Returns commit stats."""
    import uuid

    head, parent = _latest(table_path)
    version = head + 1
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(parent["schema"]))
    pfiles = parent["files"]
    dv = _dv_map(parent)
    small: list[str] = []
    for f in pfiles:
        try:
            sz = os.path.getsize(_abs_file(table_path, f))
        except OSError:
            sz = 0
        if sz < min_file_bytes or f in dv:
            small.append(f)
    if len(small) <= 1 and not any(f in dv for f in small):
        # one small DV-free file compacts to itself: nothing to gain
        return {"version": None, "files_total": len(pfiles),
                "files_compacted": 0, "files_shared": len(pfiles)}

    compacted = _read_files_dv(spark, table_path, parent, small, schema)
    if sort_col is not None:
        compacted = compacted.repartitionByRange(target_files, sort_col)
    else:
        compacted = compacted.coalesce(target_files)
    final_dir = f"d_{version}_{uuid.uuid4().hex[:12]}"
    final = os.path.join(table_path, final_dir)
    # re-compacted files keep the table's partition alignment, so
    # whole-partition deletes stay metadata-only after OPTIMIZE
    spec = parent.get("partition_by")
    new_files = _stage(
        table_path, final_dir, compacted,
        (lambda d, p: _write_partitioned(d, p, spec)) if spec else
        (lambda d, p: d.write.mode("overwrite").parquet(p)))

    small_set = set(small)

    def _build(base: dict, v: int) -> dict:
        kept = [f for f in base["files"] if f not in small_set]
        m = {
            "version": v,
            "files": kept + new_files,
            # content-identical rewrite: constraints can't be newly
            # violated, so they carry forward unchecked (same reasoning
            # as COW sharing)
            **_shape_of(base),
            "operation": "OPTIMIZE (INCREMENTAL)",
        }
        kept_set = set(kept)
        kept_dv = {f: s for f, s in _dv_map(base).items() if f in kept_set}
        if kept_dv:
            m["dv"] = kept_dv
        _set_col_stats(m, base, table_path, kept, new_files)
        return m

    # OPTIMIZE conflict resolution (Delta's): compaction is
    # data-neutral over its INPUT files, so a racing commit conflicts
    # only when it touched those inputs or changed the schema — the
    # one shape key a compaction's output depends on. Anything else
    # rebases, which lets a background compactor run continuously
    # under streaming appends without caller-side retry loops.
    manifest = _commit(table_path, _build, parent, version, own=small_set,
                       shape_keys=("schema",), staged_dirs=[final])
    n_shared = len(manifest["files"]) - len(new_files)
    return {
        "version": manifest["version"],
        "files_total": len(manifest["files"]),
        "files_compacted": len(small),
        "files_shared": n_shared,
        "dv_files_retired": sum(1 for f in small if f in dv),
    }


def reorg_purge(spark: SparkSession, table_path: str) -> dict:
    """``REORG TABLE … APPLY (PURGE)`` (Delta's DV-materialization
    verb): rewrite ONLY the files carrying deletion vectors, applying
    their vectors, and retire the sidecars — every DV-free file is
    shared byte-identically. This is the maintenance step that turns
    accumulated soft deletes back into plain parquet (compliance
    purges need it: the deleted bytes physically leave once the old
    versions are vacuumed). Physically it is incremental OPTIMIZE
    restricted to the vectored set (``min_file_bytes=0`` selects no
    small files), keeping one output file per vectored input so the
    purge never degrades the layout into one giant file. No-op (no
    commit) when the table has no DVs."""
    n_dv = len(_dv_map(_latest(table_path)[1]))
    if n_dv == 0:
        return {"version": None, "files_compacted": 0,
                "dv_files_retired": 0}
    return optimize_incremental(spark, table_path, min_file_bytes=0,
                                target_files=n_dv)


def generate_symlink_manifest(table_path: str,
                              version: int | None = None) -> dict:
    """``GENERATE symlink_format_manifest`` (Delta's external-reader
    bridge): write text manifests under
    ``<table>/_symlink_format_manifest/`` listing the snapshot's
    ACTIVE data files as ``file://`` URIs — one manifest per hive
    partition directory (partition-aligned tables), or a single root
    manifest — so engines that speak plain parquet-with-a-file-list
    (Trino/Presto/Hive external tables, or any reader that cannot
    parse the transaction log) can query a consistent snapshot
    without scanning stale files.

    Delta's own restrictions apply and are enforced: a snapshot with
    DELETION VECTORS is refused (a file-list reader would resurrect
    soft-deleted rows — run :func:`reorg_purge` first), and the
    manifest is a POINT-IN-TIME export: it goes stale the moment a
    newer version commits or vacuum retires the listed version, so
    regenerate after every write the external reader should see.
    Metadata-only: O(#files) driver-side, no Spark jobs, no data
    bytes read. Returns ``{"version", "manifests", "files"}``."""
    import shutil

    version, m = _latest(table_path, version)
    if _dv_map(m):
        raise ValueError(
            "snapshot carries deletion vectors — a symlink manifest "
            "would resurrect soft-deleted rows (Delta refuses this "
            "too); run reorg_purge() first"
        )
    if _column_mapping(m):
        raise ValueError(
            "snapshot uses column mapping — its data files carry "
            "PHYSICAL column names (and post-rename rewrites logical "
            "ones), which a file-list reader would resolve wrongly "
            "or inconsistently against the logical schema; Delta "
            "blocks manifest generation under column mapping too"
        )
    entries = m["files"]
    groups: dict[str, list[str]] = {}
    for e in entries:
        parts = e.replace(os.sep, "/").split("/")
        hive = [p for p in parts[:-1] if "=" in p]
        # plain file:// URI, UNescaped — hive dirs contain '=' and the
        # engines that consume symlink manifests (and Spark itself)
        # take the listed strings as literal paths, not RFC-encoded
        groups.setdefault("/".join(hive), []).append(
            "file://" + _abs_file(table_path, e))
    out_root = os.path.join(table_path, "_symlink_format_manifest")
    # GENERATE overwrites the whole export: a partition dropped since
    # the last run must not leave a stale per-partition manifest
    shutil.rmtree(out_root, ignore_errors=True)
    for hive_dir, uris in groups.items():
        d = os.path.join(out_root, *hive_dir.split("/")) \
            if hive_dir else out_root
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "manifest"), "w") as fh:
            fh.write("\n".join(sorted(uris)) + "\n")
    return {"version": version, "manifests": len(groups),
            "files": len(entries)}


def history(spark: SparkSession, table_path: str) -> DataFrame:
    """DESCRIBE HISTORY analog: one row per live version with its file
    count, total bytes, and how many files are shared with the
    previous live version — the audit a warehouse user runs to see
    what each MERGE/OPTIMIZE actually rewrote. Pure manifest metadata
    (no data files are opened); the result is O(#versions)."""
    rows = []
    prev_files: set[str] = set()
    for v, m in _iter_manifests(table_path):
        files = m["files"]
        size = 0
        for f in files:
            try:
                size += os.path.getsize(_abs_file(table_path, f))
            except OSError:
                pass
        rows.append((v, len(files), size,
                     len(set(files) & prev_files),
                     float(_commit_ts(table_path, v, m))))
        prev_files = set(files)
    return spark.createDataFrame(
        rows,
        "version INT, n_files INT, total_bytes LONG, "
        "files_shared_with_prev INT, committed_at DOUBLE",
    )


def snapshots(spark: SparkSession, table_path: str) -> DataFrame:
    """Iceberg ``table.snapshots`` metadata-table analog: one row per
    LIVE version with its commit instant, the OPERATION that produced
    it (every commit path stamps one — WRITE / MERGE / DELETE /
    UPDATE / DELETE (DV) / OPTIMIZE / RESTORE / CLONE / APPEND /
    STREAMING APPEND / the metadata ops), file/byte totals and how
    many files carry deletion vectors — the first table an operator
    reads in an audit. Pure manifest metadata, O(#versions); older
    manifests committed before operations were stamped read as NULL."""
    rows = []
    for v, m in _iter_manifests(table_path):
        file_list = m["files"]
        size = 0
        for f in file_list:
            try:
                size += os.path.getsize(_abs_file(table_path, f))
            except OSError:
                pass
        rows.append((
            v,
            float(_commit_ts(table_path, v, m)),
            m.get("operation"),
            len(file_list),
            size,
            len(_dv_map(m)),
            bool(m.get("stream_batch_id") is not None),
        ))
    return spark.createDataFrame(
        rows,
        "version INT, committed_at DOUBLE, operation STRING, "
        "n_files INT, total_bytes LONG, n_dv_files INT, "
        "is_stream_commit BOOLEAN",
    )


def table_changes(spark: SparkSession, table_path: str,
                  key_cols: list[str], v_from: int,
                  v_to: int | None = None) -> DataFrame:
    """Change Data Feed between two committed versions (Delta's
    ``table_changes`` analog, key-based): a row-level feed classifying
    every primary key as ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage`` between the ``v_from``
    and ``v_to`` snapshots. The consumer shape downstream incremental
    pipelines subscribe to instead of re-diffing full snapshots.

    Spark-first plan: two time-travel reads + ONE full-outer join on
    the key (the only shuffle; AQE handles skewed keys), then change
    classification and pre/post-image fan-out as row-local expressions
    (an inline struct array + explode) — no window, no second pass,
    no driver-side rows. Unchanged keys are dropped before the
    explode, so the feed's cost is O(changed keys) after the join.
    Value comparison is null-safe (``<=>``) per non-key column.
    """
    from pyspark.sql import functions as F

    if v_to is None:
        v_to = versions(table_path)[-1]
    pre = read_version(spark, table_path, v_from)
    post = read_version(spark, table_path, v_to)
    feed = _classify_feed(pre, post, key_cols)
    return feed.withColumn("_from_version", F.lit(v_from).cast("long")) \
               .withColumn("_to_version", F.lit(v_to).cast("long"))


def _classify_feed(pre: DataFrame, post: DataFrame,
                   key_cols: list[str]) -> DataFrame:
    """Row-level change classification between two keyed states — the
    shared core of :func:`table_changes` (full time-travel reads) and
    the DML change-file writers (bounded pre/post sides): one
    full-outer key join, per-column null-safe value comparison,
    pre/post-image fan-out as a row-local inline array + explode.
    Unchanged keys drop BEFORE the explode (no-op updates never appear
    in the feed). Output = union of input columns + ``_change_type``."""
    from pyspark.sql import functions as F

    cols = pre.columns
    if post.columns != cols:
        # schema evolution between the states: diff on the union of
        # columns; the missing side reads as NULL (Delta's behavior).
        cols = list(dict.fromkeys(cols + post.columns))
        for c in cols:
            if c not in pre.columns:
                pre = pre.withColumn(c, F.lit(None))
            if c not in post.columns:
                post = post.withColumn(c, F.lit(None))
    val_cols = [c for c in cols if c not in key_cols]
    p = pre.select(
        *[F.col(c).alias(f"p_{c}") for c in cols], F.lit(True).alias("p_in")
    )
    q = post.select(
        *[F.col(c).alias(f"q_{c}") for c in cols], F.lit(True).alias("q_in")
    )
    on = [p[f"p_{k}"].eqNullSafe(q[f"q_{k}"]) for k in key_cols]
    j = p.join(q, on, "full_outer")

    def _img(side: str, ctype: str):
        return F.struct(
            F.lit(ctype).alias("_change_type"),
            *[F.col(f"{side}_{c}").alias(c) for c in cols],
        )

    changed = None
    for c in val_cols:
        d = ~F.col(f"p_{c}").eqNullSafe(F.col(f"q_{c}"))
        changed = d if changed is None else (changed | d)
    if changed is None:  # key-only table: presence is the only signal
        changed = F.lit(False)
    return (
        j.filter(F.col("p_in").isNull() | F.col("q_in").isNull() | changed)
        .select(
            F.when(F.col("p_in").isNull(), F.array(_img("q", "insert")))
            .when(F.col("q_in").isNull(), F.array(_img("p", "delete")))
            .otherwise(F.array(_img("p", "update_preimage"),
                               _img("q", "update_postimage")))
            .alias("_changes")
        )
        .select(F.explode("_changes").alias("_c"))
        .select("_c.*")
    )


def _cdf_enabled(parent: dict | None) -> bool:
    """Table property gate for persisted Change Data Feed files
    (Delta's ``delta.enableChangeDataFeed`` analog)."""
    return ((parent or {}).get("properties") or {}) \
        .get("cdf.enabled") == "true"


def _write_cdf(table_path: str, version: int, token: str,
               feed: DataFrame) -> tuple[list[str], str]:
    """Persist a DML commit's row-level change feed (columns = table
    schema + ``_change_type``) as parquet under ``c_<version>_<token>``
    — Delta's ``_change_data`` files. Written at COMMIT time from rows
    the DML already has in hand (O(changed rows), no re-diff), so CDF
    consumers — :func:`read_changes` and the streaming
    ``readChangeFeed`` source — never join two snapshots at read time.
    Returns (rel files, final dir) for the manifest's ``cdf`` key and
    conflict cleanup; vacuum refcounts these like data files."""
    cdf_dir = f"c_{version}_{token}"
    # change volume is O(changed rows); a handful of files suffices
    # and keeps tiny CDC commits from spraying shuffle-width parts
    return (_stage(table_path, cdf_dir, feed,
                   lambda d, p: d.coalesce(4).write.mode("overwrite")
                   .parquet(p)),
            os.path.join(table_path, cdf_dir))


def _change_entries(table_path: str, version: int, manifest: dict,
                    prev: dict | None) -> tuple[str, list[str]]:
    """Classify commit ``version`` for CDF consumers:

    - ``("cdf", files)`` — the commit persisted change files.
    - ``("insert", added_files)`` — append-only commit (no removes, no
      DV change): its added data files ARE the inserted rows.
    - ``("none", [])`` — data-neutral (metadata-only, OPTIMIZE).
    - raises for a destructive commit with no change files — the
      consumer cannot reconstruct row-level changes without re-diffing
      snapshots; enable ``cdf.enabled`` (or use
      :func:`table_changes` for a key-based batch diff).
    """
    if manifest.get("cdf") is not None:
        return "cdf", manifest["cdf"]
    op = manifest.get("operation") or ""
    if "OPTIMIZE" in op or "BACKFILL" in op or op in (
            "SET TBLPROPERTIES", "ADD CONSTRAINT", "DROP CONSTRAINT"):
        return "none", []  # data-neutral by construction
    files = manifest["files"]
    if prev is None:
        return "insert", list(files)  # first commit: all rows inserted
    pfiles = prev["files"]
    removed = set(pfiles) - set(files)
    dv_changed = _dv_map(manifest) != _dv_map(prev)
    if removed or dv_changed:
        raise ValueError(
            f"version {version} of {table_path} "
            f"({op or 'unknown op'}) removed or deletion-vectored "
            "rows without persisted change files — row-level changes "
            "cannot be reconstructed. Set table property "
            "cdf.enabled='true' BEFORE the DML (future commits will "
            "carry change files), or diff snapshots with "
            "versioned.table_changes"
        )
    return "insert", [f for f in files if f not in set(pfiles)]


def read_changes(spark: SparkSession, table_path: str, v_from: int,
                 v_to: int | None = None) -> DataFrame:
    """Batch Change Data Feed from PERSISTED change files (Delta's
    ``table_changes(...)`` over ``_change_data``): every commit in
    ``(v_from, v_to]`` contributes its change rows — DML commits from
    their ``cdf`` files (written when ``cdf.enabled`` was set),
    append-only commits as ``insert`` rows read straight from the
    added data files, data-neutral commits nothing. No snapshot join
    happens at read time — cost is O(changed rows) — and unlike the
    key-based :func:`table_changes` no key columns are needed.
    Output = table schema + ``_change_type`` + ``_commit_version``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if v_to is None:
        v_to = _latest(table_path)[0]
    # v_from = -1 streams history from the very first commit
    changes = [(v, m, *_change_entries(table_path, v, m, prev))
               for v, m, prev in _iter_changes(table_path, v_from, v_to)]
    latest = _load_manifest(table_path, v_to)
    schema = T.StructType.fromJson(json.loads(latest["schema"]))
    cdf_schema = T.StructType(
        [T.StructField("_change_type", T.StringType())] + list(schema.fields))
    out_cols = [f.name for f in schema.fields]
    parts = []
    for v, m, kind, entries in changes:
        if not entries:
            continue
        # files written before a RENAME COLUMN hold the physical name:
        # read through the latest mapping, and inserts through their
        # version's deletion vectors
        view = dict(m, column_mapping=latest.get("column_mapping"))
        if kind == "cdf":
            d = _read_files_dv(spark, table_path, view, entries, cdf_schema)
        else:
            d = (_read_files_dv(spark, table_path, view, entries, schema)
                 .withColumn("_change_type", F.lit("insert")))
        parts.append(
            d.select("_change_type", *out_cols)
            .withColumn("_commit_version", F.lit(v).cast("long")))
    if not parts:
        empty = T.StructType(
            list(cdf_schema.fields)
            + [T.StructField("_commit_version", T.LongType())])
        return spark.createDataFrame([], empty)
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def files(spark: SparkSession, table_path: str,
          version: int | None = None) -> DataFrame:
    """Iceberg ``table.files`` metadata-table analog: one row per data
    file in the given snapshot (default latest) with its byte size and
    its ``col_stats`` bounds as Iceberg-style ``lower_bounds`` /
    ``upper_bounds`` maps (column → bound, in the manifest's stat
    encoding; a column without bounds is absent, a file never indexed
    has NULL maps) — what an operator inspects to judge clustering
    quality and stat-pruning effectiveness before an OPTIMIZE. Pure
    manifest + os.stat metadata; no data file is opened, O(#files)."""
    from pyspark.sql import functions as F

    version, m = _latest(table_path, version)
    col_stats = m.get("col_stats") or {}
    dv = _dv_map(m)
    rows = []
    for f in m["files"]:
        try:
            size = os.path.getsize(_abs_file(table_path, f))
        except OSError:
            size = None
        per = col_stats.get(f)
        lower = upper = None
        if per is not None:
            lower = {c: str(b[0]) for c, b in per.items() if b is not None}
            upper = {c: str(b[1]) for c, b in per.items() if b is not None}
        rows.append((f, size, lower, upper, f in dv))
    return spark.createDataFrame(
        rows,
        "file STRING, size_bytes LONG, lower_bounds MAP<STRING, STRING>, "
        "upper_bounds MAP<STRING, STRING>, has_dv BOOLEAN",
    ).withColumn("version", F.lit(version).cast("int"))


def backfill_stats(table_path: str) -> int:
    """Metadata-only stats backfill: publish a NEW version whose
    manifest rebuilds ``col_stats``, ``row_counts`` and ``file_bytes``
    for the SAME data files as the LATEST version — read from the
    parquet FOOTERS (NaN/partial-stats columns get ``None`` = scanned,
    never wrongly pruned), so no data row is ever scanned and no file
    is rewritten (Iceberg's replace-with-same-files shape). This
    retro-enables data skipping and metadata-only ``count_rows`` on
    tables committed before those indexes existed. Only the latest
    version can be annotated — an older snapshot's file list must
    never be republished as latest (that would be a silent rollback;
    use ``restore_version`` when a rollback is the intent). The commit
    goes through the normal manifest CAS, so it serializes against
    concurrent writers like any other commit."""
    head, parent = _latest(table_path)
    manifest = _child(parent, head + 1, "BACKFILL STATS")
    _set_col_stats(manifest, None, table_path, [], parent["files"])
    manifest["backfilled_from"] = head
    return _publish(table_path, manifest)


def restore_version(table_path: str, to_version: int) -> int:
    """RESTORE (Delta's analog): publish a NEW version whose manifest
    is a copy of ``to_version``'s — files, schema, stats — so the
    table's latest state rolls back WITHOUT rewriting data or erasing
    history (the bad versions stay time-travelable for the
    post-mortem; vacuum reclaims them when the pin horizon passes).
    Metadata-only and CAS-serialized like every commit; refcounted
    vacuum already handles many manifests sharing one file. Raises
    FileNotFoundError if ``to_version`` is not a live manifest (e.g.
    already vacuumed — a vacuumed state is gone by design)."""
    avail = versions(table_path)
    if to_version not in avail:
        raise FileNotFoundError(
            f"version {to_version} is not live at {table_path} "
            f"(live: {avail}) — vacuumed states cannot be restored"
        )
    # the source's per-commit stamps (incl. its change-feed files)
    # describe ITS commit, not this restore
    manifest = _child(_load_manifest(table_path, to_version),
                      avail[-1] + 1, "RESTORE")
    manifest["restored_from"] = to_version
    return _publish(table_path, manifest)


def clone_table(src_path: str, dst_path: str,
                version: int | None = None,
                spark: SparkSession | None = None,
                deep: bool = False) -> int:
    """SHALLOW CLONE (Delta's analog): commit version 0 of a NEW table
    at ``dst_path`` whose manifest references the SOURCE snapshot's
    data files by ABSOLUTE path — no data is copied, so a 100 TB table
    clones in manifest-write time. The clone is fully independent
    going forward: merges/DML on it rewrite only touched files into
    its own directory (untouched absolute refs stay shared), and its
    vacuum never reclaims source-owned files (refcounting is local by
    construction — absolute refs never match a local data dir). The
    sharp edge is Delta's own: ``vacuum`` on the SOURCE does not know
    about clones, so retiring the source versions a clone still
    references breaks the clone. Retention on cloned sources must
    exceed clone lifetime, exactly like readers' pin horizon.

    ``deep=True`` is Delta's DEEP CLONE: the clone OWNS its bytes.
    DV-free source files are byte-copied (a DISTRIBUTED copy — one
    Spark task per file shard, the distcp shape; the driver never
    moves data) into the clone's own directory preserving hive
    partition alignment; files carrying deletion vectors are
    materialized through their DVs (the same read every scan does)
    and re-emitted plain, so the clone needs no sidecars at all and
    doubles as a DV purge of the copied snapshot. Source vacuum can
    then never break the clone. Skipping stats ride along: copied
    files keep the source's col_stats/row_counts verbatim (bytes are
    identical), materialized files get fresh footer reads.

    ``version`` picks the source snapshot (default: latest). The
    destination must be fresh — clone never clobbers history.
    """
    version, src = _latest(src_path, version)
    if versions(dst_path):
        raise ValueError(
            f"table already exists at {dst_path} — clone never clobbers "
            "history"
        )
    if deep:
        if spark is None:
            raise ValueError(
                "DEEP CLONE needs a SparkSession (distributed file copy "
                "+ DV materialization) — pass spark="
            )
        return _deep_clone(spark, src_path, dst_path, version, src)
    entries = src["files"]
    abs_files = [_abs_file(src_path, f) for f in entries]
    # column mapping, partition spec, properties and CHECK constraints
    # are name-based table metadata (no file keys): they ride verbatim,
    # and constraints resume enforcing on the clone's own future writes
    manifest = {
        "version": 0,
        "files": abs_files,
        **_shape_of(src),
        "cloned_from": {
            "table": os.path.abspath(src_path),
            "version": version,
        },
        "operation": "CLONE",
    }
    if src.get("col_stats"):
        # multi-column skipping stats ride the clone re-keyed to the
        # same absolute entries the clone's file list uses
        manifest["col_stats"] = {
            a: src["col_stats"].get(e) for a, e in zip(abs_files, entries)
        }
    if src.get("row_counts"):
        manifest["row_counts"] = {
            a: src["row_counts"].get(e) for a, e in zip(abs_files, entries)
        }
    # deletion vectors ride the clone by ABSOLUTE reference like the
    # data files (sidecar rows key on the source files' URIs, which
    # the clone's scans render identically)
    src_dv = _dv_map(src)
    if src_dv:
        manifest["dv"] = {
            a: [_abs_file(src_path, s) for s in src_dv[e]]
            for a, e in zip(abs_files, entries) if e in src_dv
        }
    os.makedirs(_manifest_path(dst_path), exist_ok=True)
    return _publish(dst_path, manifest)


def _clone_copy_width(n_files: int, default_parallelism: int) -> int:
    """Task count for DEEP CLONE's distributed byte-copy: scales with
    the cluster (2× defaultParallelism absorbs file-size skew), capped
    by the file count so small clones don't schedule empty tasks."""
    return max(1, min(n_files, 2 * default_parallelism))


def _deep_clone(spark: SparkSession, src_path: str, dst_path: str,
                version: int, src: dict) -> int:
    """DEEP CLONE physical plan (see :func:`clone_table`): distributed
    byte-copy of DV-free files + DV-materializing rewrite of vectored
    files, then one version-0 manifest publish at ``dst_path``."""
    import uuid

    from pyspark.sql import types as T

    entries = src["files"]
    schema = T.StructType.fromJson(json.loads(src["schema"]))
    dv = _dv_map(src)
    clean = [e for e in entries if not dv.get(e)]
    vectored = [e for e in entries if dv.get(e)]
    token = uuid.uuid4().hex[:12]
    copy_dir = f"d_0_{token}"

    def _dst_rel(i: int, entry: str) -> str:
        # preserve trailing hive components (…/__p_k=5/part.parquet) so
        # partition alignment — and with it whole-partition
        # metadata-only deletes — survives the clone; the index prefix
        # keeps names collision-free across source directories
        parts = entry.replace(os.sep, "/").split("/")
        hive = [p for p in parts[:-1] if "=" in p]
        return "/".join([copy_dir, *hive, f"c{i:05d}_{parts[-1]}"])

    copied_rel = [_dst_rel(i, e) for i, e in enumerate(clean)]
    dst_abs = os.path.abspath(dst_path)
    pairs = [(_abs_file(src_path, e), os.path.join(dst_abs, r))
             for e, r in zip(clean, copied_rel)]
    if pairs:
        # one task per shard of the copy list: the bytes move
        # executor-side through the shared filesystem client (the
        # distcp shape) — at 100 TB the driver only holds the O(#files)
        # pair list it already holds for every commit. Copy width
        # scales with the cluster (2× defaultParallelism keeps every
        # core busy despite file-size skew), capped by #files — a
        # fixed constant would serialize ~1.6 TB per task at 10⁵
        # files on a 1000-executor cluster.
        width = _clone_copy_width(
            len(pairs), spark.sparkContext.defaultParallelism)

        def _copy_shard(shard):
            import os as _os
            import shutil as _shutil

            for s, d in shard:
                _os.makedirs(_os.path.dirname(d), exist_ok=True)
                _shutil.copyfile(s, d)

        spark.sparkContext.parallelize(
            pairs, width
        ).foreachPartition(_copy_shard)
    new_files: list[str] = []
    materialized = None
    if vectored:
        final_dir = f"d_0m_{token}"
        materialized = os.path.join(dst_path, final_dir)
        new_files = _stage(
            dst_path, final_dir,
            _read_files_dv(spark, src_path, src, vectored, schema),
            lambda d, p: _write_rewrite(d, p, src, max(1, len(vectored))))
    manifest = {
        "version": 0,
        "files": copied_rel + new_files,
        **_shape_of(src),
        "cloned_from": {
            "table": os.path.abspath(src_path),
            "version": version,
            "deep": True,
        },
        "operation": "CLONE (DEEP)",
    }
    # copied bytes are identical → the source's per-file skipping stats
    # transfer verbatim (re-keyed); materialized files get one footer
    # read each through the shared helper
    src_cs = src.get("col_stats") or {}
    src_rc = src.get("row_counts") or {}
    pseudo_parent = {
        "col_stats": {r: src_cs.get(e)
                      for e, r in zip(clean, copied_rel)},
        "row_counts": {r: src_rc.get(e)
                       for e, r in zip(clean, copied_rel)},
    }
    _set_col_stats(manifest, pseudo_parent, dst_path, copied_rel,
                   new_files)
    os.makedirs(_manifest_path(dst_path), exist_ok=True)
    # a racing writer that created the table first wins: a fresh deep
    # clone never clobbers, so the conflict surfaces after the clone's
    # own bytes are removed
    return _commit(dst_path, lambda _base, _v: manifest, None, 0,
                   staged_dirs=[os.path.join(dst_path, copy_dir),
                                materialized])["version"]


def convert_to_versioned(table_path: str,
                         spark: SparkSession | None = None) -> int:
    """CONVERT an existing plain-parquet directory into a versioned
    table IN PLACE (Delta's ``CONVERT TO DELTA`` analog): commit
    version 0 referencing the directory's parquet files exactly where
    they are — zero data bytes move, so adopting a 100 TB dataset into
    the transaction log costs one schema read plus a parquet-FOOTER
    pass for the ``col_stats`` data-skipping index (no row is
    scanned). From then on
    the full lakehouse surface applies: time travel, DML (rewrites land
    in versioned dirs; the originals keep serving older snapshots),
    OPTIMIZE, CDF, constraints.

    Hive-partitioned layouts (``k=v`` path segments) are REFUSED: their
    partition values live in paths, not file bytes, so an in-place
    explicit-schema scan would read those columns as NULL — silently
    wrong. Rewrite such datasets through ``write_version`` instead
    (one-time cost, the honest trade Delta's CONVERT makes by
    demanding a partition schema).

    The reference pipeline (etl/load.py) re-lists its output dir every
    run with no notion of a committed snapshot; this is the adoption
    path from that world into the log."""
    if versions(table_path):
        raise ValueError(
            f"{table_path} is already a versioned table — CONVERT only "
            "adopts plain parquet directories"
        )
    rel_files: list[str] = []
    for root, dirs, fs in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for d in dirs:
            if "=" in d:
                raise ValueError(
                    f"hive-partitioned layout ({d!r} under {root}) — "
                    "partition values live in paths, not file bytes; "
                    "rewrite through write_version instead of CONVERT"
                )
        for f in fs:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            rel_files.append(os.path.relpath(os.path.join(root, f),
                                             table_path))
    if not rel_files:
        raise FileNotFoundError(f"no parquet files under {table_path}")
    rel_files.sort()
    sess = spark or SparkSession.getActiveSession()
    if sess is None:
        raise RuntimeError("CONVERT needs a SparkSession to read the "
                           "schema — pass spark=")
    # the one inferring read in the versioned layer: an unmanaged
    # directory has no recorded schema to read with
    schema = sess.read.parquet(
        *[_abs_file(table_path, f) for f in rel_files]).schema
    manifest: dict = {
        "version": 0,
        "files": rel_files,
        "schema": schema.json(),
        "operation": "CONVERT",
    }
    # multi-column skipping index + per-file row counts from the same
    # footer pass (count_rows works immediately on an adopted table)
    _set_col_stats(manifest, None, table_path, [], rel_files)
    os.makedirs(_manifest_path(table_path), exist_ok=True)
    return _publish(table_path, manifest)
