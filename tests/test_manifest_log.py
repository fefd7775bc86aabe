"""Manifest delta-log + checkpoints: commits persist as structural
deltas of their parent (O(changed files) manifest bytes, the Delta-Lake
commit-log shape) with a full snapshot every checkpoint interval, and
every reader sees exactly the same materialized manifest as before.
Reference parity note: the reference (etl/load.py) re-lists its output
dir per run — no transaction log at all; this is the Spark-lakehouse
replacement for that, sized for million-file tables."""

import json
import os

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (  # noqa: E501
    VersionedDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(VersionedDataSource)


def _raws(path):
    return {v: versioned._read_raw_manifest(path, v)
            for v in versioned.versions(path)}


def test_appends_write_deltas_with_periodic_checkpoints(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(100).withColumn("k", F.col("id") % 7)
    versioned.write_version(base, path)
    for i in range(14):
        spark.range(100 * (i + 1), 100 * (i + 1) + 5) \
            .withColumn("k", F.col("id") % 7) \
            .write.format("versioned").mode("append") \
            .option("path", path).save()
    raws = _raws(path)
    deltas = {v for v, r in raws.items() if "~of" in r}
    fulls = set(raws) - deltas
    # v0 is always full; the default interval (10) forces one more
    # checkpoint inside 15 commits; everything else is a delta
    assert 0 in fulls and len(fulls) == 2 and len(deltas) == 13
    assert all(raws[v]["~of"] == v - 1 for v in deltas)
    # a delta append logs O(new files): it must not restate the base
    # file list (only ~lpatch appends) and must be far smaller than
    # the checkpoint it chains to
    d = raws[max(deltas)]
    assert "files" not in (d.get("~set") or {})
    assert d["~lpatch"]["files"]["drop"] == []
    ckpt = max(v for v in fulls)
    assert (len(json.dumps(d))
            < len(json.dumps(raws[ckpt])) / 2)
    # materialized manifests serve every version exactly
    for v in versioned.versions(path):
        assert versioned.read_version(spark, path, v).count() == 100 + 5 * v


def test_delta_chain_equals_full_snapshot_for_dml(spark, tmp_path):
    """COW DML, MOR DML (deletion vectors), properties, constraints,
    rename — every commit shape materializes and READS identically
    whether its manifest was stored as a delta or a full snapshot
    (twin table forced to checkpoint every commit)."""
    def build(path, interval):
        base = spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") % 13).alias("grp"),
            F.col("id").cast("double").alias("val"),
        )
        versioned.write_version(base, path)
        versioned.set_table_property(
            path, "commit.checkpointInterval", str(interval))
        versioned.set_table_property(path, "dv.enabled", "true")
        versioned.delete_where(spark, path, "k < 10")
        versioned.update_where(spark, path, {"val": "val + 1000"},
                               "k >= 190")
        versioned.set_table_property(path, "dv.enabled", "false")
        ch = spark.range(150, 260).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("grp"),
            F.lit(-1.0).alias("val"), F.lit(False).alias("is_delete"))
        versioned.merge_version_cow(spark, path, ch, "k")
        versioned.add_constraint(spark, path, "val_ok", "val IS NOT NULL")
        versioned.rename_column(path, "val", "score")
        return path

    a = build(str(tmp_path / "a"), interval=50)   # deltas
    b = build(str(tmp_path / "b"), interval=1)    # all snapshots
    va, vb = versioned.versions(a), versioned.versions(b)
    assert va == vb
    assert any("~of" in r for r in _raws(a).values()), "a must use deltas"
    assert all("~of" not in r for r in _raws(b).values())
    for v in va:
        ma = versioned._load_manifest(a, v)
        mb = versioned._load_manifest(b, v)
        # file-independent manifest keys are identical
        for k in ("schema", "operation", "constraints",
                  "column_mapping", "retired_physical"):
            assert ma.get(k) == mb.get(k), (v, k)
        assert len(ma.get("files", [])) == len(mb.get("files", [])), v
        ra = versioned.read_version(spark, a, v)
        rb = versioned.read_version(spark, b, v)
        assert ra.exceptAll(rb).isEmpty() and rb.exceptAll(ra).isEmpty(), v


def test_vacuum_materializes_surviving_deltas(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned.write_version(spark.range(50).withColumn("k", F.lit(0)), path)
    for i in range(6):
        spark.range(50 + i, 51 + i).withColumn("k", F.lit(1)) \
            .write.format("versioned").mode("append") \
            .option("path", path).save()
    assert "~of" in versioned._read_raw_manifest(path, 3)
    removed = versioned.vacuum(path, keep_last=4)
    assert removed == [0, 1, 2]
    live = versioned.versions(path)
    assert live == [3, 4, 5, 6]
    # the border survivor was materialized (its parent is gone) …
    assert "~of" not in versioned._read_raw_manifest(path, 3)
    # … later survivors stay deltas (their chain now ends at 3)
    assert "~of" in versioned._read_raw_manifest(path, 6)
    for v in live:
        assert versioned.read_version(spark, path, v).count() == 50 + v
    # committed_at survives materialization (TIMESTAMP AS OF intact)
    assert versioned.resolve_timestamp(
        path, versioned._commit_ts(path, 3)) == 3


def test_missing_parent_self_heals_to_snapshot(tmp_path):
    """A commit whose direct parent manifest is gone (concurrent
    vacuum, version gap) cannot delta — it must write a full
    snapshot rather than a dangling chain."""
    path = str(tmp_path / "t")
    os.makedirs(versioned._manifest_path(path))
    versioned._publish(path, {"version": 7, "files": [], "schema": "{}"})
    raw = versioned._read_raw_manifest(path, 7)
    assert "~of" not in raw and raw["files"] == []


def test_delta_roundtrip_property():
    """encode→apply is the identity for adversarial manifest shapes:
    key drops, dict entry churn, list reorders (falls back to ~set),
    duplicate list entries, nested None stats."""
    parents = [
        {"version": 4, "files": ["a", "b", "c"], "schema": "s",
         "col_stats": {"a": {"k": [1, 2]}, "b": None},
         "dv": {"a": ["s1"]}, "properties": {"p": "1"},
         "committed_at": 1.0, "operation": "WRITE"},
        {"version": 4, "files": ["a", "a"], "committed_at": 1.0},
        {"version": 4, "dir": "v_4", "committed_at": 1.0},
    ]
    children = [
        {"version": 5, "files": ["a", "c", "d"], "schema": "s2",
         "col_stats": {"a": {"k": [1, 3]}, "d": None},
         "properties": {"p": "1"}, "committed_at": 2.0,
         "operation": "MERGE", "column_mapping": {"x": "y"}},
        {"version": 5, "files": ["c", "b", "a"], "committed_at": 2.0},
        {"version": 5, "files": ["a"], "committed_at": 2.0},
    ]
    for p in parents:
        for c in children:
            d = versioned._encode_manifest_delta(p, c, 1)
            assert versioned._apply_manifest_delta(p, d) == c, (p, c)


def _inject_append(path, spark):
    """Simulate a concurrent appender winning the CAS: publish an
    append-shaped commit that shares every current file plus one
    copied data file."""
    import shutil

    avail = versioned.versions(path)
    par = versioned._load_manifest(path, avail[-1])
    src = versioned._abs_file(path, par["files"][0])
    os.makedirs(os.path.join(path, "d_99_inject"), exist_ok=True)
    shutil.copy(src, os.path.join(path, "d_99_inject", "part-0.parquet"))
    m = {"version": avail[-1] + 1,
         "files": list(par["files"]) + ["d_99_inject/part-0.parquet"],
         "schema": par["schema"], "operation": "WRITE"}
    if par.get("properties"):
        m["properties"] = par["properties"]
    return versioned._publish(path, m)


def test_optimize_rebases_over_concurrent_append(spark, tmp_path,
                                                 monkeypatch):
    path = str(tmp_path / "t")
    base = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v")
    versioned.write_version(base.repartitionByRange(6, "k"), path)
    n0 = versioned.read_version(spark, path).count()

    orig = versioned._publish
    fired = {"done": False}

    def racy(table_path, manifest):
        if (manifest.get("operation") == "OPTIMIZE (INCREMENTAL)"
                and not fired["done"]):
            fired["done"] = True
            _inject_append(path, spark)   # winner takes our version
        return orig(table_path, manifest)

    monkeypatch.setattr(versioned, "_publish", racy)
    stats = versioned.optimize_incremental(spark, path,
                                           min_file_bytes=10**9,
                                           target_files=2)
    assert fired["done"] and stats["version"] == 2
    m = versioned._load_manifest(path, 2)
    # the rebase kept the winner's appended file AND our compaction
    assert "d_99_inject/part-0.parquet" in m["files"]
    assert len(m["files"]) == 2 + 1
    dup = versioned.read_version(spark, path, 1).count() - n0
    assert versioned.read_version(spark, path).count() == n0 + dup


def test_optimize_conflict_on_touched_inputs_raises(spark, tmp_path,
                                                    monkeypatch):
    """A winner that REMOVED one of the compaction's input files is a
    true conflict — publishing would resurrect its rows."""
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(300).selectExpr("CAST(id AS INT) AS k",
                                    "CONCAT('v', id) AS v")
        .repartitionByRange(6, "k"), path)

    orig = versioned._publish
    fired = {"done": False}

    def racy(table_path, manifest):
        if (manifest.get("operation") == "OPTIMIZE (INCREMENTAL)"
                and not fired["done"]):
            fired["done"] = True
            versioned.delete_where(spark, path, "k < 50")  # drops file 1
        return orig(table_path, manifest)

    monkeypatch.setattr(versioned, "_publish", racy)
    with pytest.raises(versioned.CommitConflict):
        versioned.optimize_incremental(spark, path,
                                       min_file_bytes=10**9,
                                       target_files=2)
    # the loser cleaned its staged output; the winner's delete stands
    assert versioned.read_version(spark, path).count() == 250


def test_txn_ledger_rides_every_commit(spark, tmp_path):
    """Delta SetTransaction analog: a per-app idempotency stamp set on
    one commit is carried forward by EVERY later commit (appends,
    metadata changes, OPTIMIZE), so txn_version answers from the
    latest manifest alone — never a backward history scan."""
    path = str(tmp_path / "t")
    base = spark.range(50).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 2 AS LONG) AS v")
    versioned.write_version(base, path)                        # v0

    # stamp rides a MERGE commit
    up = spark.createDataFrame([(1, 999), (100, 5)], "k INT, v LONG") \
        .withColumn("is_delete", F.lit(False))
    versioned.merge_version_cow(spark, path, up, "k",
                                extra_manifest={"txn": {"job_a": 7}})
    assert versioned.txn_version(path, "job_a") == 7
    assert versioned.txn_version(path, "job_b") is None

    # unrelated commits carry it forward: append, property, OPTIMIZE
    spark.range(200, 210).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS LONG) AS v") \
        .write.format("versioned").mode("append") \
        .option("path", path).save()
    versioned.set_table_property(path, "some.key", "1")
    versioned.optimize_version(spark, path)
    assert versioned.txn_version(path, "job_a") == 7

    # a newer stamp for the same app wins; other apps coexist
    up2 = spark.createDataFrame([(2, 42)], "k INT, v LONG") \
        .withColumn("is_delete", F.lit(False))
    versioned.merge_version_cow(spark, path, up2, "k",
                                extra_manifest={"txn": {"job_a": 9,
                                                        "job_b": 1}})
    assert versioned.txn_version(path, "job_a") == 9
    assert versioned.txn_version(path, "job_b") == 1

    # survives enough commits to cross a full-snapshot checkpoint AND
    # a vacuum that drops the stamping commit itself
    for i in range(12):
        spark.range(300 + i, 301 + i).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id AS LONG) AS v") \
            .write.format("versioned").mode("append") \
            .option("path", path).save()
    versioned.vacuum(path, keep_last=3)
    assert versioned.txn_version(path, "job_a") == 9
    assert versioned.txn_version(path, "job_b") == 1


def test_ds_writer_txn_options(spark, tmp_path):
    """Delta's idempotent-write options on the DS writer: the stamp
    rides the SAME append commit; txnAppId/txnVersion must come
    together."""
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(3).selectExpr("CAST(id AS INT) AS k"), path)
    (spark.range(3, 5).selectExpr("CAST(id AS INT) AS k")
     .write.format("versioned").mode("append").option("path", path)
     .option("txnAppId", "loader").option("txnVersion", 41).save())
    assert versioned.txn_version(path, "loader") == 41
    with pytest.raises(Exception, match="together"):
        (spark.range(5, 6).selectExpr("CAST(id AS INT) AS k")
         .write.format("versioned").mode("append").option("path", path)
         .option("txnAppId", "loader").save())


def test_ds_writer_txn_skip_stale(spark, tmp_path):
    """Delta's idempotent-write CONTRACT, not just the stamp: a save
    whose txnVersion is <= the table's recorded stamp for that appId
    is a writer-level no-op — no version publishes, no rows land, no
    staged files linger. A foreachBatch re-delivery is safe on the
    option alone. A HIGHER version, and any OTHER app, still write."""
    import os

    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(3).selectExpr("CAST(id AS INT) AS k"), path)
    (spark.range(3, 5).selectExpr("CAST(id AS INT) AS k")
     .write.format("versioned").mode("append").option("path", path)
     .option("txnAppId", "loader").option("txnVersion", 7).save())
    n_ver = len(versioned.versions(path))

    # equal AND lower stamps: both skipped outright
    for stale in (7, 6):
        (spark.range(100, 110).selectExpr("CAST(id AS INT) AS k")
         .write.format("versioned").mode("append").option("path", path)
         .option("txnAppId", "loader")
         .option("txnVersion", stale).save())
    assert len(versioned.versions(path)) == n_ver
    assert versioned.read_version(spark, path).count() == 5
    assert versioned.txn_version(path, "loader") == 7
    # the skipped writers swept their staged dirs
    assert not [d for d in os.listdir(path) if d.startswith("_staged")]

    # a different app is an independent ledger line — it writes
    (spark.range(10, 12).selectExpr("CAST(id AS INT) AS k")
     .write.format("versioned").mode("append").option("path", path)
     .option("txnAppId", "other").option("txnVersion", 1).save())
    assert versioned.read_version(spark, path).count() == 7
    # and a newer stamp for the original app writes and advances
    (spark.range(20, 23).selectExpr("CAST(id AS INT) AS k")
     .write.format("versioned").mode("append").option("path", path)
     .option("txnAppId", "loader").option("txnVersion", 8).save())
    assert versioned.read_version(spark, path).count() == 10
    assert versioned.txn_version(path, "loader") == 8
