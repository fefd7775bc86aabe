"""Column mapping (Delta name-mode analog): RENAME COLUMN and DROP
COLUMN as METADATA-ONLY commits — no data file rewritten, old files
served through the manifest's logical→physical map by every reader
(library, DS batch/stream), time travel across the rename intact."""

from __future__ import annotations

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import (
    maintenance_sql,
)
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
    VersionedDataSource,
)


def _mk(spark, path, n=100):
    df = spark.range(n).selectExpr("CAST(id AS INT) AS k",
                                   "CONCAT('v', id) AS v",
                                   "CAST(id % 5 AS INT) AS grp")
    versioned.write_version(df.repartitionByRange(4, "k"), path)
    return path


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    files_before = set(versioned._load_manifest(p, 0)["files"])
    versioned.rename_column(p, "v", "label")                 # v1
    m1 = versioned._load_manifest(p, 1)
    assert set(m1["files"]) == files_before  # nothing rewritten
    assert m1["column_mapping"] == {"label": "v"}
    assert m1["operation"] == "RENAME COLUMN"

    cur = versioned.read_version(spark, p)
    assert cur.columns == ["k", "label", "grp"]
    assert {r.label for r in cur.filter("k < 3").collect()} == \
        {"v0", "v1", "v2"}
    # time travel BEFORE the rename serves the old name
    old = versioned.read_version(spark, p, 0)
    assert old.columns == ["k", "v", "grp"]
    assert old.count() == 100


def test_rename_mixed_old_new_files(spark, tmp_path):
    """Files written after the rename store the NEW physical name;
    pre-rename files the old one — one read serves both."""
    p = _mk(spark, str(tmp_path / "t"))
    versioned.rename_column(p, "v", "label")
    ch = spark.createDataFrame([(3, "u", 3, False), (5, "w", 0, False)],
                               "k INT, label STRING, grp INT, "
                               "is_delete BOOLEAN")
    s = versioned.merge_version_cow(spark, p, ch, "k")       # v2
    assert s["files_pruned_by_stats"] >= 3  # stats survive the rename
    got = {r.k: r.label for r in versioned.read_version(spark, p).collect()}
    assert got[3] == "u" and got[5] == "w" and got[7] == "v7"
    assert len(got) == 100
    # skipping metadata re-keyed to the logical name
    m = versioned._load_manifest(p, 2)
    assert all(per is None or "label" in per
               for per in m["col_stats"].values())


def test_rename_ds_read_stream_and_filter(spark, tmp_path):
    spark.dataSource.register(VersionedDataSource)
    p = _mk(spark, str(tmp_path / "t"))
    versioned.rename_column(p, "v", "label")
    versioned.rename_column(p, "k", "id2")
    ds = (spark.read.format("versioned").option("path", p).load())
    assert ds.columns == ["id2", "label", "grp"]
    assert ds.count() == 100
    # filter option prunes on the RENAMED column through re-keyed stats
    flt = (spark.read.format("versioned").option("path", p)
           .option("filter", "id2 >= 75").load())
    assert flt.rdd.getNumPartitions() < 4
    assert sorted(r.id2 for r in flt.collect()) == list(range(75, 100))
    # streaming source serves renamed columns from old files
    q = (spark.readStream.format("versioned").option("path", p).load()
         .writeStream.format("memory").queryName("cm_s")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cm_s").collect()
    assert len(rows) == 100 and rows[0].__fields__ == ["id2", "label", "grp"]
    assert all(r.label is not None for r in rows)


def test_rename_with_deletion_vectors(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    versioned.set_table_property(p, "dv.enabled", "true")
    versioned.delete_where(spark, p, "k = 7")
    versioned.rename_column(p, "v", "label")
    got = versioned.read_version(spark, p)
    assert got.count() == 99
    assert got.filter("k = 7").count() == 0
    assert got.filter("label = 'v8'").count() == 1
    # DML on the renamed column still works
    versioned.update_where(spark, p, {"label": "'x'"}, "k = 9")
    assert versioned.read_version(spark, p) \
        .filter("label = 'x'").count() == 1


def test_drop_column_and_resurrection_guard(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    versioned.drop_column(p, "v")                            # v1
    cur = versioned.read_version(spark, p)
    assert cur.columns == ["k", "grp"]
    # time travel before the drop still serves it
    assert versioned.read_version(spark, p, 0).columns == ["k", "v", "grp"]
    # re-adding the dropped name would resurrect old bytes → refused
    ch = spark.createDataFrame([(5, 0, "boo", False)],
                               "k INT, grp INT, v STRING, is_delete BOOLEAN")
    with pytest.raises(ValueError, match="resurrect"):
        versioned.merge_version_cow(spark, p, ch, "k", evolve_schema=True)
    # a fresh name evolves fine
    ch2 = spark.createDataFrame([(5, 0, "ok", False)],
                                "k INT, grp INT, note STRING, "
                                "is_delete BOOLEAN")
    versioned.merge_version_cow(spark, p, ch2, "k", evolve_schema=True)
    got = versioned.read_version(spark, p)
    assert got.filter("note = 'ok'").count() == 1


def test_drop_stats_col_and_only_column_guards(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    versioned.drop_column(p, "k")   # k IS the merge key
    m = versioned._load_manifest(p, 1)
    assert all(per is None or "k" not in per
               for per in m["col_stats"].values())
    versioned.drop_column(p, "v")
    with pytest.raises(ValueError, match="only column"):
        versioned.drop_column(p, "grp")


def test_rename_swap_guard(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    versioned.rename_column(p, "v", "label")
    # freeing 'label' back to 'v' is fine (round trip drops the map)
    versioned.rename_column(p, "label", "v")
    assert "column_mapping" not in versioned._load_manifest(
        p, versioned.versions(p)[-1])
    # but renaming another column ONTO a live physical name aliases
    # two columns in one scan → refused
    versioned.rename_column(p, "v", "label")
    with pytest.raises(ValueError, match="alias"):
        versioned.rename_column(p, "grp", "v")


def test_sql_rename_and_drop_routes(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    maintenance_sql(spark,
                    f"ALTER TABLE versioned.`{p}` RENAME COLUMN v TO label")
    assert versioned.read_version(spark, p).columns == ["k", "label", "grp"]
    maintenance_sql(spark, f"ALTER TABLE versioned.`{p}` DROP COLUMN grp")
    assert versioned.read_version(spark, p).columns == ["k", "label"]


def test_add_column_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMN widens the schema without moving a data
    byte: existing rows read back NULL in the new column, later writes
    fill it, time travel before the add serves the old schema."""
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k INT, v STRING")
    versioned.write_version(df, path)
    dirs_before = sorted(os.listdir(path))
    versioned.add_column(path, "note", "STRING")
    # metadata-only: no new data/staged dir
    assert [d for d in sorted(os.listdir(path))
            if not d.startswith("_manifest")] == \
        [d for d in dirs_before if not d.startswith("_manifest")]
    got = versioned.read_version(spark, path)
    assert got.columns == ["k", "v", "note"]
    assert got.filter("note IS NOT NULL").count() == 0
    assert got.count() == 20
    # time travel before the add: old schema
    assert versioned.read_version(spark, path, 0).columns == ["k", "v"]
    # a MERGE can now fill the column; old rows stay NULL
    ch = spark.createDataFrame(
        [(3, "u3", "hello", False)],
        "k INT, v STRING, note STRING, is_delete BOOLEAN")
    versioned.merge_version_cow(spark, path, ch, "k")
    got = {r.k: r.note for r in
           versioned.read_version(spark, path).collect()}
    assert got[3] == "hello" and got[4] is None
    # duplicate / bad type refused
    with pytest.raises(ValueError, match="already exists"):
        versioned.add_column(path, "note", "STRING")
    with pytest.raises(ValueError, match="cannot parse"):
        versioned.add_column(path, "x", "NOT A TYPE")


def test_add_column_resurrection_guard_and_sql(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10)], "k INT, v STRING, secret INT")
    versioned.write_version(df, path)
    versioned.drop_column(path, "secret")
    # re-adding the retired physical name would resurrect old bytes
    with pytest.raises(ValueError, match="resurrect"):
        versioned.add_column(path, "secret", "INT")
    # SQL route, including a parameterized type
    vsql(spark, f"ALTER TABLE versioned.`{path}` ADD COLUMN "
                "amount DECIMAL(10, 2)")
    got = versioned.read_version(spark, path)
    assert got.columns == ["k", "v", "amount"]
    assert [str(f.dataType) for f in got.schema.fields
            if f.name == "amount"] == ["DecimalType(10,2)"]
