"""DEEP CLONE, REORG APPLY (PURGE), and symlink-manifest GENERATE.

Deep clone: the clone OWNS its bytes (source vacuum can never break
it), DV-free files byte-copy distributed, vectored files materialize
through their DVs (so the clone needs no sidecars), skipping stats
ride verbatim for copied files, and hive partition alignment survives
so whole-partition deletes on the clone stay metadata-only.
REORG PURGE: only vectored files rewrite; clean files share.
GENERATE: a point-in-time file-list export external engines can read;
refused while DVs exist (Delta's own restriction)."""

from __future__ import annotations

import os

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql


def _mk(spark, path, n=600, files=4, dv=False):
    df = spark.range(n).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v",
        "CAST(id % 7 AS INT) AS grp",
    ).repartitionByRange(files, "k")
    versioned.write_version(df, path)
    if dv:
        versioned.set_table_property(path, "dv.enabled", "true")
    return path


def _rows(spark, path, version=None):
    return sorted(
        tuple(r) for r in
        versioned.read_version(spark, path, version).collect()
    )


# ------------------------------------------------------- deep clone
def test_deep_clone_matches_source_and_survives_source_vacuum(
        spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"), dv=True)
    versioned.write_version(
        versioned.read_version(spark, src).filter("k < 500"), src)
    versioned.delete_where_mor(spark, src, "k % 10 = 3")
    assert versioned._dv_map(
        versioned._load_manifest(src, versioned.versions(src)[-1]))
    want = _rows(spark, src)

    dst = str(tmp_path / "dst")
    assert versioned.clone_table(src, dst, spark=spark, deep=True) == 0
    assert _rows(spark, dst) == want

    m = versioned._load_manifest(dst, 0)
    # the clone owns every byte: no absolute refs into the source, no
    # DV sidecars (vectored files were materialized)
    assert "dv" not in m
    for f in m["files"]:
        assert not os.path.isabs(f)
        assert os.path.isfile(versioned._abs_file(dst, f))
    assert m["operation"] == "CLONE (DEEP)"
    assert m["cloned_from"]["deep"] is True

    # the independence headline: retire EVERY source version the
    # shallow clone would have depended on — deep clone still reads
    versioned.vacuum(src, keep_last=1)
    assert _rows(spark, dst) == want


def test_deep_clone_with_dvs_materializes_vectors(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"), dv=True)
    stats = versioned.delete_where_mor(spark, src, "k % 4 = 1")
    assert stats["files_dv"] >= 1
    want = _rows(spark, src)
    dst = str(tmp_path / "dst")
    versioned.clone_table(src, dst, spark=spark, deep=True)
    assert _rows(spark, dst) == want
    # a deleted row must be physically ABSENT from the clone's bytes
    # (purge semantics), not just filtered at read
    raw = sorted(
        tuple(r) for r in spark.read.parquet(
            *[versioned._abs_file(dst, f)
              for f in versioned._load_manifest(dst, 0)["files"]]
        ).select("k", "v", "grp").collect()
    )
    assert raw == want


def test_deep_clone_carries_stats_and_metadata(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    versioned.add_constraint(spark, src, "k_pos", "k >= 0")
    versioned.set_table_property(src, "owner", "team-a")
    dst = str(tmp_path / "dst")
    versioned.clone_table(src, dst, spark=spark, deep=True)
    m = versioned._load_manifest(dst, 0)
    assert m["constraints"] == {"k_pos": "k >= 0"}
    assert m["properties"]["owner"] == "team-a"
    # copied bytes identical → col_stats transfer verbatim; COUNT(*)
    # and MIN/MAX stay metadata-only on the clone
    src_m = versioned._load_manifest(src, versioned.versions(src)[-1])
    assert sorted(
        str(s) for s in (m.get("col_stats") or {}).values()
    ) == sorted(str(s) for s in (src_m.get("col_stats") or {}).values())
    assert versioned.count_rows(spark, dst) == 600
    lo, hi = versioned.min_max(spark, dst, "k")
    assert (lo, hi) == (0, 599)
    # constraints keep enforcing on the clone's own writes
    with pytest.raises(versioned.ConstraintViolation):
        versioned.write_version(
            spark.createDataFrame([(-1, "x", 0)], "k INT, v STRING, "
                                  "grp INT"), dst)


def test_deep_clone_preserves_partition_alignment(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 3 AS INT) AS part")
    versioned.write_version(df, src, partition_by=["part"])
    dst = str(tmp_path / "dst")
    versioned.clone_table(src, dst, spark=spark, deep=True)
    assert versioned._load_manifest(dst, 0)["partition_by"] == ["part"]
    # whole-partition delete on the CLONE stays metadata-only — the
    # copy preserved the hive dirs the fast path needs
    stats = versioned.delete_where(spark, dst, "part = 1")
    assert stats["files_rewritten"] == 0
    assert stats["files_dropped"] >= 1
    assert _rows(spark, dst) == sorted(
        (i, i % 3) for i in range(300) if i % 3 != 1)


def test_shallow_clone_carries_constraints(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    versioned.add_constraint(spark, src, "k_pos", "k >= 0")
    dst = str(tmp_path / "dst")
    versioned.clone_table(src, dst, spark=spark)
    with pytest.raises(versioned.ConstraintViolation):
        versioned.write_version(
            spark.createDataFrame([(-1, "x", 0)], "k INT, v STRING, "
                                  "grp INT"), dst)


def test_deep_clone_sql_route(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    dst = str(tmp_path / "dst")
    assert vsql(
        spark,
        f"CREATE TABLE versioned.`{dst}` DEEP CLONE versioned.`{src}`",
    ) == 0
    assert versioned._load_manifest(dst, 0)["operation"] == "CLONE (DEEP)"
    assert _rows(spark, dst) == _rows(spark, src)


# ------------------------------------------------------ REORG PURGE
def test_reorg_purge_rewrites_only_vectored_files(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"), dv=True)
    versioned.delete_where_mor(spark, path, "k % 4 = 1")
    want = _rows(spark, path)
    before = versioned._load_manifest(path, versioned.versions(path)[-1])
    clean_before = [f for f in before["files"]
                    if f not in versioned._dv_map(before)]
    n_dv = len(versioned._dv_map(before))
    assert n_dv >= 1

    out = versioned.reorg_purge(spark, path)
    assert out["files_compacted"] == n_dv
    assert out["dv_files_retired"] == n_dv
    after = versioned._load_manifest(path, out["version"])
    assert "dv" not in after or not after["dv"]
    # clean files share byte-identically; visible rows unchanged
    assert set(clean_before) <= set(after["files"])
    assert _rows(spark, path) == want
    # idempotent: a DV-free table is a no-op, no commit
    assert versioned.reorg_purge(spark, path)["version"] is None


def test_reorg_purge_sql_route(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"), dv=True)
    versioned.delete_where_mor(spark, path, "k = 7")
    out = vsql(spark, f"REORG TABLE versioned.`{path}` APPLY (PURGE)")
    assert out["dv_files_retired"] >= 1
    assert not versioned._dv_map(
        versioned._load_manifest(path, out["version"]))


# ------------------------------------------------- symlink manifests
def _manifest_uris(table_path):
    root = os.path.join(table_path, "_symlink_format_manifest")
    uris = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f == "manifest":
                with open(os.path.join(dirpath, f)) as fh:
                    uris.extend(line.strip() for line in fh
                                if line.strip())
    return uris


def test_generate_symlink_manifest_unpartitioned(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"))
    out = versioned.generate_symlink_manifest(path)
    assert out["manifests"] == 1
    uris = _manifest_uris(path)
    assert len(uris) == out["files"]
    # an external plain-parquet reader over the listed files sees
    # exactly the snapshot
    got = sorted(tuple(r) for r in spark.read.parquet(*uris).collect())
    assert got == _rows(spark, path)


def test_generate_symlink_manifest_partitioned_and_regenerate(
        spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 3 AS INT) AS part")
    versioned.write_version(df, path, partition_by=["part"])
    out = versioned.generate_symlink_manifest(path)
    assert out["manifests"] == 3  # one per hive partition dir
    # drop a partition, regenerate: its manifest must disappear
    versioned.delete_where(spark, path, "part = 2")
    out2 = versioned.generate_symlink_manifest(path)
    assert out2["manifests"] == 2
    got = sorted(
        tuple(r) for r in
        spark.read.parquet(*_manifest_uris(path))
        .select("k", "part").collect()
    )
    assert got == sorted((i, i % 3) for i in range(300) if i % 3 != 2)


def test_generate_refuses_deletion_vectors(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"), dv=True)
    versioned.delete_where_mor(spark, path, "k = 5")
    with pytest.raises(ValueError, match="deletion vectors"):
        versioned.generate_symlink_manifest(path)
    # the documented recovery: purge, then generate succeeds
    versioned.reorg_purge(spark, path)
    assert versioned.generate_symlink_manifest(path)["files"] >= 1


def test_deep_clone_copy_width_scales_with_cluster():
    """r10 verdict item 7: the distributed byte-copy's task count must
    scale with the cluster, not sit at a fixed constant — at 10⁵ files
    a 64-task cap means ~1.6 TB of serial copying per task."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.versioned import _clone_copy_width

    assert _clone_copy_width(100_000, 1000) == 2000   # scales up
    assert _clone_copy_width(100_000, 32) == 64
    assert _clone_copy_width(3, 1000) == 3            # capped by files
    assert _clone_copy_width(0, 8) == 1               # never zero


def test_generate_refuses_column_mapping(spark, tmp_path):
    """r10 ADVICE: under column mapping the data files carry PHYSICAL
    names (and post-rename rewrites logical ones) — a file-list reader
    would resolve wrong/inconsistent columns against the logical
    schema, so GENERATE must refuse, as Delta does."""
    path = _mk(spark, str(tmp_path / "t"))
    versioned.rename_column(path, "v", "label")
    with pytest.raises(ValueError, match="column mapping"):
        versioned.generate_symlink_manifest(path)
    # a rename cycled BACK to the physical name leaves no divergent
    # mapping — external readers resolve correctly, so allow it
    versioned.rename_column(path, "label", "v")
    assert versioned.generate_symlink_manifest(path)["files"] >= 1


def test_generate_sql_route(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"))
    out = vsql(
        spark,
        f"GENERATE symlink_format_manifest FOR TABLE versioned.`{path}`",
    )
    assert out["manifests"] == 1


def test_deep_clone_of_renamed_dv_table(spark, tmp_path):
    """Deep clone of a column-MAPPED table with DVs: copied files keep
    the retired physical column name, materialized files write the
    logical name — the clone's carried column_mapping + retired list
    must make both read identically."""
    src = str(tmp_path / "src")
    versioned.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING"),
        src)
    versioned.rename_column(src, "v", "label")
    versioned.set_table_property(src, "dv.enabled", "true")
    versioned.write_version(
        versioned.read_version(spark, src).unionByName(
            spark.createDataFrame([(3, "c")], "k INT, label STRING")),
        src)
    versioned.delete_where_mor(spark, src, "k = 2")
    want = _rows(spark, src)
    dst = str(tmp_path / "dst")
    versioned.clone_table(src, dst, spark=spark, deep=True)
    assert _rows(spark, dst) == want == [(1, "a"), (3, "c")]


def test_reorg_purge_emits_no_change_feed(spark, tmp_path):
    """REORG rewrites bytes but changes NO rows: on a cdf-enabled
    table its commit must carry an EMPTY change feed (a consumer
    replaying the feed sees the delete once, never re-sees the
    purged rows as inserts)."""
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(100).selectExpr(
            "CAST(id AS INT) k", "CONCAT('v', id) v").repartition(4),
        path)
    versioned.set_table_property(path, "cdf.enabled", "true")
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where_mor(spark, path, "k % 7 = 3")
    out = versioned.reorg_purge(spark, path)
    assert versioned.read_changes(
        spark, path, out["version"], out["version"]).count() == 0
    assert sorted(r.k for r in
                  versioned.read_version(spark, path).collect()) \
        == sorted(k for k in range(100) if k % 7 != 3)
