"""Per-file Bloom-filter data skipping for versioned tables.

The [min,max] manifest stats (versioned.py) prune RANGE predicates;
they are useless for point lookups on high-cardinality, unclustered
keys (every file's [min,max] spans the whole domain). The lakehouse
answer — Delta's bloom filter index, Iceberg/Parquet bloom columns —
is a per-file Bloom bitmap: ``backfill_bloom`` publishes a
metadata-only commit carrying one bitmap per data file, and
``read_point_lookup`` consults the bitmaps to scan ONLY files that
may contain the key. Bloom guarantees no false negatives, so pruning
is always correct; false positives only cost an extra file scan.

Scale shape: the build hashes each file's column DISTRIBUTED (one
narrow Spark scan per file; only the ≤ n_bits distinct bit positions
are collected — never the values), the bitmaps ride the manifest
(n_bits/8 bytes per file — 1 KiB per file at the 8192-bit default),
and the read path touches manifests only before planning the pruned
scan. At 100 TB a 10k-file table costs ~10 MiB of manifest bloom —
and a point lookup plans 1-2 files instead of 10k.

Determinism: bit positions come from the house md5 hash family
(functions/hashing.py), never a JVM/Python builtin hash.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

DEFAULT_BITS = 8192
DEFAULT_HASHES = 4

# Types whose Python str() rendering is IDENTICAL to Spark's
# CAST(col AS STRING) for every value — the only types the bitmap
# build (Spark-side hashing) and the probe (Python-side hashing) agree
# on. BOOLEAN ('True' vs 'true'), DOUBLE (repr drift), DECIMAL and
# DATE/TIMESTAMP all diverge between the two renderings, which would
# produce silent false negatives — so they are REJECTED, not merely
# documented away.
_INDEXABLE_SPARK_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long", "string",
}


def _check_probe_value(value) -> None:
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"bloom point-lookup values must be int or str (got "
            f"{type(value).__name__}) — other types render differently "
            "in Python str() vs Spark CAST(... AS STRING) and would "
            "silently miss files"
        )


def _positions(value, n_bits: int, n_hashes: int) -> list[int]:
    """The k bit positions of a value: md5 of 'i:str(value)' per hash
    family member (same construction as hashing.stable_hash64_seeded).
    Values are canonicalized through str(); only INT/BIGINT/STRING keys
    are accepted (enforced at backfill AND probe time — see
    ``_INDEXABLE_SPARK_TYPES``)."""
    _check_probe_value(value)
    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:15], 16)
        % n_bits
        for i in range(n_hashes)
    ]


def backfill_bloom(spark: SparkSession, table_path: str, col: str,
                   n_bits: int = DEFAULT_BITS,
                   n_hashes: int = DEFAULT_HASHES) -> int:
    """Publish a metadata-only commit (backfill_stats' shape) whose
    manifest carries a per-file Bloom bitmap of ``col`` for the SAME
    files as the latest version. Each file is hashed distributed: a
    narrow single-column scan projects the k bit positions, and only
    the distinct positions (≤ n_bits ints) reach the driver."""
    from pyspark.sql import functions as F

    head, parent = versioned._latest(table_path)
    rel_files = parent["files"]
    # Enforce the indexable-type whitelist at BUILD time: an index on a
    # type whose str()/CAST renderings diverge would pass silently here
    # and miss rows at lookup time. The MANIFEST schema is the
    # authority — on a schema-evolved table the first file may predate
    # the column entirely (footer inference would wrongly KeyError a
    # legitimate column).
    struct = StructType.fromJson(json.loads(parent["schema"]))
    if rel_files:
        dtypes = {f.name: f.dataType.simpleString() for f in struct.fields}
        if col not in dtypes:
            raise KeyError(f"column '{col}' not present in {table_path}")
        if dtypes[col] not in _INDEXABLE_SPARK_TYPES:
            raise TypeError(
                f"bloom index on '{col}' ({dtypes[col]}) is not "
                "supported — only integer and string key columns hash "
                "identically in Python and Spark; cast the column first"
            )
    filters: dict[str, str] = {}
    for rel in rel_files:
        full = versioned._abs_file(table_path, rel)
        hashes = ", ".join(
            "CAST(CONV(SUBSTRING(MD5(CONCAT('%d:', CAST(%s AS STRING))), "
            "1, 15), 16, 10) AS BIGINT) %% %d" % (i, col, n_bits)
            for i in range(n_hashes)
        )
        # read with the manifest schema: a shared pre-evolution file
        # lacking the column NULL-backfills (its bitmap stays empty =
        # that file always prunes for point lookups, correctly — NULL
        # never equals a probe value)
        pos = (
            spark.read.schema(struct).parquet(full)
            .selectExpr(f"explode(array({hashes})) AS p")
            .where("p IS NOT NULL")
            .distinct()
            .collect()
        )
        bits = 0
        for r in pos:
            bits |= 1 << int(r.p)
        filters[rel] = format(bits, "x")
    manifest = versioned._child(parent, head + 1, "BACKFILL BLOOM")
    manifest["files"] = list(rel_files)
    manifest["bloom"] = {
        "col": col, "bits": n_bits, "k": n_hashes, "filters": filters,
    }
    manifest["bloom_backfilled_from"] = head
    return versioned._publish(table_path, manifest)


def prune_files(table_path: str, value,
                version: int | None = None,
                col: str | None = None) -> tuple[list[str], list[str]]:
    """(kept, all) relative file lists for a point lookup on the
    bloom-indexed column: a file is kept iff ALL k of the value's bits
    are set in its bitmap (no false negatives by construction — a
    value written into a file set exactly these bits).

    ``col`` names the column the caller is looking up. When the
    manifest's bloom index was built on a DIFFERENT column, pruning is
    SKIPPED (all files kept) — hashing the probe value against bitmaps
    built from another column's values would prune files that do hold
    matching rows. Omitting ``col`` asserts the caller already knows
    the indexed column."""
    m = versioned._latest(table_path, version)[1]
    rel_files = m["files"]
    bloom = m.get("bloom")
    if not bloom or (col is not None and bloom.get("col") != col):
        return list(rel_files), list(rel_files)
    pos = _positions(value, bloom["bits"], bloom["k"])
    kept = []
    for rel in rel_files:
        hexmap = bloom["filters"].get(rel)
        if hexmap is None:  # file added after the backfill: unprunable
            kept.append(rel)
            continue
        bits = int(hexmap, 16)
        if all(bits >> p & 1 for p in pos):
            kept.append(rel)
    return kept, list(rel_files)


def read_point_lookup(spark: SparkSession, table_path: str, col: str,
                      value, version: int | None = None) -> DataFrame:
    """Point lookup through the bloom index: plan a scan over ONLY the
    surviving files, with the equality predicate still applied (bloom
    false positives are filtered, never returned). Result is row-equal
    to ``read_version(...).filter(col = value)`` by the no-false-
    negative property."""
    from pyspark.sql import functions as F

    _check_probe_value(value)
    v, m = versioned._latest(table_path, version)
    kept, _ = prune_files(table_path, value, v, col=col)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not kept:
        return spark.createDataFrame([], schema)
    # Read with the MANIFEST schema, exactly like read_version: on a
    # schema-evolved table, inference over the kept subset could fail
    # or reorder/drop columns that pre-evolution files lack, breaking
    # the documented row-equality with read_version().filter(). The
    # DV-aware scan keeps deletion-vectored rows out for the same
    # reason (identical to the full read on a DV-free table).
    return versioned._read_files_dv(
        spark, table_path, m, kept, schema
    ).filter(F.col(col) == F.lit(value))
