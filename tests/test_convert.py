"""CONVERT TO VERSIONED (Delta's CONVERT TO DELTA analog): adopt an
existing plain-parquet directory into the transaction log IN PLACE —
one manifest write + a parquet-footer stats pass, zero data bytes
moved — plus the table-features protocol gate (a manifest stamped with
features this build lacks fails loudly instead of reading wrongly).
Reference parity: the reference's loader (etl/load.py) re-lists its
output dir per run; CONVERT is the adoption path from that world."""

import json
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import (
    maintenance_sql,
)
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (  # noqa: E501
    VersionedDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(VersionedDataSource)


def _plain(spark, path, n=400, files=4):
    spark.range(n).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"
    ).repartitionByRange(files, "k").write.parquet(path)
    return path


def test_convert_in_place_zero_copy(spark, tmp_path):
    path = _plain(spark, str(tmp_path / "t"))
    inodes = {f: os.stat(os.path.join(path, f)).st_ino
              for f in os.listdir(path) if f.endswith(".parquet")}
    v = versioned.convert_to_versioned(path, spark=spark)
    assert v == 0
    got = versioned.read_version(spark, path)
    assert got.count() == 400
    # zero copy: the same inodes serve the versioned reads
    for f, ino in inodes.items():
        assert os.stat(os.path.join(path, f)).st_ino == ino
    m = versioned._load_manifest(path, 0)
    assert m["operation"] == "CONVERT"
    assert set(m["files"]) == set(inodes)
    # footer stats landed without any data scan surface to check, but
    # they must be present and sane for pruning
    assert m["col_stats"] and all(
        per and per.get("k") for per in m["col_stats"].values())


def test_converted_table_runs_the_full_dml_surface(spark, tmp_path):
    path = _plain(spark, str(tmp_path / "t"))
    versioned.convert_to_versioned(path, spark=spark)
    stats = versioned.delete_where(spark, path, "k >= 300")
    assert stats["files_dropped"] == 1      # aligned: metadata-only
    assert versioned.read_version(spark, path).count() == 300
    assert versioned.read_version(spark, path, 0).count() == 400
    spark.range(400, 450).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"
    ).coalesce(1).write.format("versioned").mode("append") \
        .option("path", path).save()
    assert versioned.read_version(spark, path).count() == 350


def test_convert_guards(spark, tmp_path):
    # hive layout refused (partition values live in paths, not bytes)
    hive = str(tmp_path / "h")
    spark.range(20).selectExpr("id AS k", "id % 2 AS p") \
        .write.partitionBy("p").parquet(hive)
    with pytest.raises(ValueError, match="hive-partitioned"):
        versioned.convert_to_versioned(hive, spark=spark)
    # double-convert refused
    path = _plain(spark, str(tmp_path / "t"))
    versioned.convert_to_versioned(path, spark=spark)
    with pytest.raises(ValueError, match="already a versioned table"):
        versioned.convert_to_versioned(path, spark=spark)
    # empty dir refused
    empty = str(tmp_path / "e")
    os.makedirs(empty)
    with pytest.raises(FileNotFoundError):
        versioned.convert_to_versioned(empty, spark=spark)


def test_convert_sql_route(spark, tmp_path):
    path = _plain(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="unsupported maintenance"):
        maintenance_sql(
            spark, f"CONVERT TO VERSIONED parquet.`{path}` STATS BY k")
    v = maintenance_sql(spark, f"CONVERT TO VERSIONED parquet.`{path}`")
    assert v == 0
    m = versioned._load_manifest(path, 0)
    assert versioned._bounds_for(m, "k") is not None


def test_features_stamped_and_gated(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(100).selectExpr("CAST(id AS INT) AS k",
                                    "CONCAT('v', id) AS v")
        .repartitionByRange(2, "k"), path)
    assert "features" not in versioned._read_raw_manifest(path, 0)
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k = 7")
    raw = versioned._read_raw_manifest(path, 2)
    feats = set(raw.get("features") or ())
    assert "deletion-vectors" in feats
    assert "delta-manifests" in feats          # stored as a delta record
    versioned.rename_column(path, "v", "w")
    m = versioned._load_manifest(path, 3)
    assert "column-mapping" in set(m.get("features") or ())
    # the gate: a manifest stamped with an unknown future feature
    # refuses to load instead of reading wrongly
    mdir = versioned._manifest_path(path)
    hacked = dict(versioned._load_manifest(path, 3))
    hacked["version"] = 4
    hacked["features"] = sorted(
        set(hacked.get("features") or ()) | {"row-tracking-v9"})
    with open(os.path.join(mdir, "4.json"), "w") as fh:
        json.dump(hacked, fh)
    with pytest.raises(ValueError, match="row-tracking-v9"):
        versioned.read_version(spark, path, 4)
    # earlier versions stay readable
    assert versioned.read_version(spark, path, 3).count() == 99


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(100).selectExpr("CAST(id AS INT) AS k"), path)
    versioned.write_version(
        spark.range(50).selectExpr("CAST(id AS INT) AS k"), path)
    versioned.write_version(
        spark.range(25).selectExpr("CAST(id AS INT) AS k"), path)
    rep = versioned.vacuum_dry_run(path, keep_last=1)
    assert rep["versions"] == [0, 1]
    assert rep["files"] and rep["bytes"] > 0
    # nothing moved
    assert versioned.versions(path) == [0, 1, 2]
    for f in rep["files"]:
        assert os.path.exists(versioned._abs_file(path, f))
    # the real vacuum removes exactly what the dry run predicted
    removed = versioned.vacuum(path, keep_last=1)
    assert removed == rep["versions"]
    for f in rep["files"]:
        assert not os.path.exists(versioned._abs_file(path, f))
    # SQL route returns the report dict
    versioned.write_version(
        spark.range(10).selectExpr("CAST(id AS INT) AS k"), path)
    rep2 = maintenance_sql(
        spark, f"VACUUM versioned.`{path}` RETAIN 1 VERSIONS DRY RUN")
    assert rep2["versions"] == [2]


def test_fsck_repair_drops_dead_refs(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(400).selectExpr("CAST(id AS INT) AS k")
        .repartitionByRange(4, "k"), path)
    m = versioned._load_manifest(path, 0)
    victim = m["files"][1]
    os.remove(versioned._abs_file(path, victim))
    # scans now fail; dry run reports, repairs nothing
    rep = versioned.fsck_repair(spark, path)
    assert rep["missing_files"] == [victim] and rep["version"] is None
    assert versioned.versions(path) == [0]
    # repair commits a new version without the dead ref
    rep = maintenance_sql(spark, f"FSCK REPAIR TABLE versioned.`{path}`")
    assert rep["version"] == 1
    m1 = versioned._load_manifest(path, 1)
    assert victim not in m1["files"]
    assert set(m1["col_stats"]) == set(m1["files"])
    assert versioned.read_version(spark, path).count() == 300
    # clean table: FSCK is a no-op report
    rep = versioned.fsck_repair(spark, path, dry_run=False)
    assert rep == {"version": None, "missing_files": [],
                   "missing_sidecars": []}


def test_fsck_never_repairs_missing_sidecars(spark, tmp_path):
    """Dropping a deletion vector would resurrect deleted rows —
    FSCK reports missing sidecars and refuses to repair them."""
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(200).selectExpr("CAST(id AS INT) AS k")
        .repartitionByRange(2, "k"), path)
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k = 5")
    m = versioned._load_manifest(path, 2)
    sidecar = next(iter(versioned._dv_map(m).values()))[0]
    os.remove(versioned._abs_file(path, sidecar))
    rep = versioned.fsck_repair(spark, path, dry_run=False)
    assert rep["missing_sidecars"] == [sidecar]
    assert rep["version"] is None           # nothing auto-repaired


def test_describe_detail(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(700).selectExpr("CAST(id AS INT) AS k",
                                    "CAST(id % 7 AS INT) AS ds"),
        path, partition_by=["ds"])
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.add_constraint(spark, path, "k_ok", "k >= 0")
    versioned.delete_where(spark, path, "k = 3")
    d = maintenance_sql(
        spark, f"DESCRIBE DETAIL versioned.`{path}`").collect()[0]
    assert d["version"] == 3 and d["num_versions"] == 4
    assert d["operation"] == "DELETE (DV)"
    assert d["num_rows"] == 700          # footer counts; DV'd row still stored
    assert d["num_dv_files"] == 1
    assert d["partition_columns"] == ["ds"]
    assert "deletion-vectors" in d["features"]
    assert d["constraints"] == ["k_ok"]
    assert d["properties"]["dv.enabled"] == "true"
    assert d["num_files"] == 7 and d["size_bytes"] > 0
    assert d["location"] == path and d["checkpoint_interval"] == 10
    assert d["committed_at"] is not None
