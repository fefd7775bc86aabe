"""Deletion vectors / merge-on-read DML (versioned.py `_mor_dml`):
read-equivalence with copy-on-write on the same DML sequence, write
amplification ∝ deleted rows, every reader applying DVs (library read,
Data Source, CDF, bloom lookup, COW scans), OPTIMIZE compaction, and
vacuum refcounting of sidecars."""

from __future__ import annotations

import os

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql


def _mk(spark, path, n=600, files=6):
    df = spark.range(n).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v",
        "CAST(id % 7 AS INT) AS grp",
    ).repartitionByRange(files, "k")
    versioned.write_version(df, path)
    return path


def _rows(spark, path, version=None):
    return sorted(
        tuple(r) for r in
        versioned.read_version(spark, path, version).collect()
    )


def _data_bytes_of_version(path, v):
    m = versioned._load_manifest(path, v)
    prev = versioned._load_manifest(path, v - 1) if v else {"files": []}
    new = set(m.get("files", [])) - set(prev.get("files", []))
    total = sum(os.path.getsize(versioned._abs_file(path, f)) for f in new)
    for sidecars in versioned._dv_map(m).values():
        for s in set(sidecars):
            total += os.path.getsize(versioned._abs_file(path, s))
    return total


def test_mor_delete_equals_cow_and_writes_less(spark, tmp_path):
    """The headline contract: the SAME predicate delete through MOR
    and COW yields identical visible rows, and the MOR commit writes
    orders of magnitude fewer bytes (sidecar ∝ deleted rows, COW ∝
    touched-file size)."""
    # realistically-sized files (~50k rows each): at toy sizes the
    # fixed parquet footer dominates and hides the amplification gap
    cow = _mk(spark, str(tmp_path / "cow"), n=200_000, files=4)
    mor = _mk(spark, str(tmp_path / "mor"), n=200_000, files=4)
    versioned.set_table_property(mor, "dv.enabled", "true")

    pred = "k = 123"  # 1-row delete: the worst case for COW
    s_cow = versioned.delete_where(spark, cow, pred)
    s_mor = versioned.delete_where(spark, mor, pred)
    assert s_cow["files_rewritten"] == 1
    assert s_mor["files_rewritten"] == 0 and s_mor["files_dv"] == 1
    assert s_mor["rows_deleted"] == 1
    assert _rows(spark, cow) == _rows(spark, mor)

    # every parent DATA file is shared verbatim by the MOR commit
    m0 = versioned._load_manifest(mor, 1)  # v1 = property commit parent
    m2 = versioned._load_manifest(mor, 2)
    assert m2["files"] == m0["files"]

    # write amplification: MOR bytes ≪ COW bytes for the same delete
    cow_bytes = _data_bytes_of_version(cow, 1)
    mor_bytes = _data_bytes_of_version(mor, 2)
    assert mor_bytes < cow_bytes / 50, (mor_bytes, cow_bytes)
    assert s_mor["dv_bytes"] == mor_bytes

    # files() surfaces which file carries the vector
    f = versioned.files(spark, mor)
    assert f.filter("has_dv").count() == 1


def test_mor_update_equals_cow(spark, tmp_path):
    cow = _mk(spark, str(tmp_path / "cow"))
    mor = _mk(spark, str(tmp_path / "mor"))
    versioned.set_table_property(mor, "dv.enabled", "true")
    assigns = {"v": "CONCAT(v, '!')", "grp": "grp + 100"}
    pred = "k % 50 = 0"
    versioned.update_where(spark, cow, assigns, pred)
    s = versioned.update_where(spark, mor, assigns, pred)
    assert s["files_rewritten"] == 0 and s["new_files"] >= 1
    assert _rows(spark, cow) == _rows(spark, mor)


def test_mor_sequence_time_travel_and_second_delete(spark, tmp_path):
    """A DML sequence (delete, delete-overlapping-file, update) stays
    read-equivalent to COW at EVERY version, and a second delete on an
    already-vectored file replaces its vector whole (old + new
    positions)."""
    cow = _mk(spark, str(tmp_path / "cow"))
    mor = _mk(spark, str(tmp_path / "mor"))
    versioned.set_table_property(mor, "dv.enabled", "true")
    seq = [
        ("delete", "k % 10 = 3"),
        ("delete", "k % 10 = 7"),        # same files again
        ("update", {"v": "'patched'"}, "k % 25 = 0"),
        ("delete", "grp = 5"),
    ]
    for step in seq:
        if step[0] == "delete":
            versioned.delete_where(spark, cow, step[1])
            versioned.delete_where(spark, mor, step[1])
        else:
            versioned.update_where(spark, cow, step[1], step[2])
            versioned.update_where(spark, mor, step[1], step[2])
    # final states agree...
    assert _rows(spark, cow) == _rows(spark, mor)
    # ...and so does every intermediate snapshot (offset: mor has the
    # extra property commit at v1)
    for i in range(len(seq) + 1):
        assert _rows(spark, cow, i) == _rows(spark, mor, i + 1 if i else 0)
    # deleted keys are really gone
    got = versioned.read_version(spark, mor)
    assert got.filter("k % 10 IN (3, 7)").count() == 0
    assert got.filter("grp = 5").count() == 0
    assert got.filter("v = 'patched'").count() > 0


def test_cow_merge_reads_through_dvs(spark, tmp_path):
    """merge_version_cow on a DV-laden table: vectored rows never
    resurrect through the rewrite, untouched files keep their DVs."""
    path = _mk(spark, str(tmp_path / "t"))
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k BETWEEN 0 AND 20")
    ch = spark.createDataFrame(
        [(5, "resurrect?", 0, False), (300, "upd", 1, False),
         (10_000, "new", 2, False)],
        "k INT, v STRING, grp INT, is_delete BOOLEAN",
    )
    versioned.merge_version_cow(spark, path, ch, "k")
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    # k=5 was DV-deleted; the merge UPSERTS it back (one row, the new
    # value) — crucially rows 0..20 other than 5 stay deleted
    assert got[5] == "resurrect?" and got[300] == "upd" and got[10_000] == "new"
    assert all(k not in got for k in range(21) if k != 5)
    assert versioned.read_version(spark, path).filter("k = 5").count() == 1


def test_every_reader_applies_dvs(spark, tmp_path):
    """Data Source read, CDF, bloom point lookup, and a shallow clone
    all agree with the library read on a DV-laden table."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions import bloomskip
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    path = _mk(spark, str(tmp_path / "t"))
    bloomskip.backfill_bloom(spark, path, "k")
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k % 3 = 0")
    want = _rows(spark, path)
    assert want and all(r[0] % 3 != 0 for r in want)

    spark.dataSource.register(VersionedDataSource)
    ds = sorted(tuple(r) for r in (
        spark.read.format("versioned").option("path", path).load().collect()
    ))
    assert ds == want

    # bloom point lookup: a vectored key is gone, a live key found
    # (bloom false-positively keeps the file; the DV filters the row)
    assert bloomskip.read_point_lookup(spark, path, "k", 9).count() == 0
    assert bloomskip.read_point_lookup(spark, path, "k", 10).count() == 1

    # CDF between the pre- and post-delete versions: pure deletes
    # (v0 data, v1 bloom backfill, v2 property, v3 MOR delete)
    feed = versioned.table_changes(spark, path, ["k"], 2, 3)
    assert feed.filter("_change_type != 'delete'").count() == 0
    assert feed.count() == 200

    # clone carries the vectors by absolute reference
    clone = str(tmp_path / "clone")
    versioned.clone_table(path, clone, spark=spark)
    assert _rows(spark, clone) == want


def test_optimize_compacts_dvs_and_vacuum_refcounts_sidecars(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"))
    versioned.set_table_property(path, "dv.enabled", "true")
    # partial-file predicate: a full "k < 100" would take the whole-
    # file metadata drop (no DV to compact — covered elsewhere)
    versioned.delete_where(spark, path, "k >= 20 AND k < 100")
    want = _rows(spark, path)
    assert versioned._dv_map(versioned._load_manifest(path, 2))

    # OPTIMIZE reads through the DVs and rewrites plain files
    versioned.optimize_version(spark, path, target_files=2)
    m = versioned._load_manifest(path, 3)
    assert not versioned._dv_map(m)
    assert _rows(spark, path) == want

    # while the DV'd version is live, its sidecar survives vacuum...
    sidecars = {s for lst in
                versioned._dv_map(versioned._load_manifest(path, 2)).values()
                for s in lst}
    versioned.vacuum(path, keep_last=2)  # keeps v2 (DV) + v3
    for s in sidecars:
        assert os.path.exists(versioned._abs_file(path, s))
    assert _rows(spark, path, 2) == want
    # ...and goes once no live manifest references it
    versioned.vacuum(path, keep_last=1)
    for s in sidecars:
        assert not os.path.exists(versioned._abs_file(path, s))
    assert _rows(spark, path) == want


def test_mor_sql_surface_and_constraints(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES routes the SQL DELETE/UPDATE
    through MOR; CHECK constraints still gate MOR-update appends."""
    path = _mk(spark, str(tmp_path / "t"))
    v = vsql(spark, f"ALTER TABLE versioned.`{path}` SET TBLPROPERTIES "
                    "('dv.enabled' = 'true')")
    assert v == 1
    stats = vsql(spark, f"DELETE FROM versioned.`{path}` WHERE k < 50")
    assert stats["files_rewritten"] == 0 and stats["files_dv"] >= 1
    assert versioned.read_version(spark, path).filter("k < 50").count() == 0

    versioned.add_constraint(spark, path, "grp_small", "grp < 200")
    with pytest.raises(versioned.ConstraintViolation):
        versioned.update_where(spark, path, {"grp": "grp + 500"}, "k = 100")
    # the failed update must not have published anything
    assert versioned.read_version(spark, path).filter(
        "grp >= 200").count() == 0
    ok = vsql(spark, f"UPDATE versioned.`{path}` SET grp = grp + 100 "
                     "WHERE k = 100")
    assert ok["files_rewritten"] == 0
    assert versioned.read_version(spark, path).filter(
        "k = 100 AND grp >= 100").count() == 1


def test_ds_append_carries_dvs_and_streaming_source_sees_appends(
        spark, tmp_path):
    """A DS fast-append on a DV-laden table keeps the vectors (deleted
    rows must not resurrect), and a MOR delete feeds the streaming
    source ZERO added files (append-stream semantics, like Delta
    without CDF)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    path = _mk(spark, str(tmp_path / "t"))
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k < 300")
    extra = spark.range(10_000, 10_001).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('app', id) AS v",
        "CAST(id % 7 AS INT) AS grp",
    )
    (extra.write.format("versioned").mode("append")
     .option("path", path).save())
    got = versioned.read_version(spark, path)
    assert got.filter("k < 300").count() == 0
    assert got.filter("k = 10000").count() == 1

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedStreamReader,
    )

    # versions: 0 data, 1 property, 2 MOR delete, 3 append. An append
    # stream cannot represent the delete: by default it FAILS on that
    # version (Delta semantics) instead of silently skipping rows...
    r = VersionedStreamReader(path, got.schema, None)
    with pytest.raises(ValueError, match="ignoreChanges"):
        r._added_files(1, 2)
    # ...and with ignoreChanges the DV commit streams zero added files
    # while the later append still streams
    r_ic = VersionedStreamReader(path, got.schema, None,
                                 ignore_changes=True)
    assert r_ic._added_files(1, 2) == []
    assert len(r_ic._added_files(2, 3)) >= 1


def test_ds_filter_option_prunes_partitions(spark, tmp_path):
    """spark.read.format('versioned').option('filter', ...): manifest
    [min,max] stats and bloom bitmaps prune the PARTITION PLAN, and
    the predicate applies row-exactly — the relation equals
    read_version().filter(pred) with strictly fewer planned partitions
    on a stats-backfilled table. (A load-time option rather than DSv2
    pushFilters: Spark 4.1.2 reuses the cached python-DS scan across
    queries with different pushed-filter sets, which makes any
    pruning pushFilters reader return wrong results — reproduced and
    documented in VersionedReader.)"""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions import bloomskip
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    path = str(tmp_path / "t")
    _mk(spark, path, n=1000, files=8)      # range-clustered on k
    bloomskip.backfill_bloom(spark, path, "v")
    n_files = len(versioned._load_manifest(
        path, versioned.versions(path)[-1])["files"])
    assert n_files == 8

    def _read(flt=None):
        r = spark.read.format("versioned").option("path", path)
        if flt:
            r = r.option("filter", flt)
        return r.load()

    def _want(pred):
        return sorted(tuple(r) for r in
                      versioned.read_version(spark, path)
                      .filter(pred).collect())

    # stats-range prune: an equality inside one file's [lo, hi]
    got = _read("k = 500")
    assert got.rdd.getNumPartitions() < n_files
    assert sorted(tuple(r) for r in got.collect()) == _want("k = 500")
    # range predicate
    got = _read("k >= 900")
    assert got.rdd.getNumPartitions() < n_files
    assert sorted(tuple(r) for r in got.collect()) == _want("k >= 900")
    # bloom prune on the string column (unclustered: stats can't help)
    got = _read("v = 'v17'")
    assert got.rdd.getNumPartitions() < n_files
    assert [r.k for r in got.collect()] == [17]
    # a predicate matching nothing prunes everything but stays correct
    assert _read("k = -5").count() == 0
    # the filtered relation is CONSISTENT across repeated and further-
    # filtered queries (the reuse hazard pushFilters had)
    got = _read("k >= 900")
    assert got.count() == 100
    assert got.filter("k >= 950").count() == 50
    assert got.count() == 100
    # an unfiltered read still plans every file and returns everything
    assert _read().rdd.getNumPartitions() == n_files
    assert _read().count() == 1000
    # malformed / unknown-column options fail loudly
    with pytest.raises(Exception):
        _read("k LIKE 'v%'").count()
    with pytest.raises(Exception):
        _read("nope = 5").count()
    # DV interaction: filter option composes with deletion vectors
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k = 500")
    assert _read("k = 500").count() == 0
    assert _read("k >= 900").count() == 100


def test_dv_free_read_plans_no_join(spark, tmp_path):
    """The zero-overhead claim, asserted in-plan: read_version on a
    DV-FREE table plans a plain parquet scan (no join, no metadata
    columns); only a DV-laden snapshot plans the one anti-join."""
    path = _mk(spark, str(tmp_path / "t"))
    plan = versioned.read_version(spark, path)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan and "_metadata" not in plan

    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k = 1")
    plan_dv = versioned.read_version(spark, path)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LeftAnti" in plan_dv

    # OPTIMIZE compacts the vector away: plain scan again
    versioned.optimize_version(spark, path, target_files=2)
    plan_opt = versioned.read_version(spark, path)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan_opt


def test_mor_merge_equals_cow_and_rewrites_nothing(spark, tmp_path):
    """MERGE on a dv.enabled table routes merge-on-read: matched rows
    deletion-vectored, new images appended, ZERO files rewritten —
    row-identical to the COW merge on the twin table."""
    cow = _mk(spark, str(tmp_path / "cow"))
    mor = _mk(spark, str(tmp_path / "mor"))
    versioned.set_table_property(mor, "dv.enabled", "true")
    ch = spark.createDataFrame(
        [(5, "upd5", 0, False), (7, "gone", 0, True),
         (10_000, "new", 1, False)],
        "k INT, v STRING, grp INT, is_delete BOOLEAN",
    )
    s_cow = versioned.merge_version_cow(spark, cow, ch, "k")
    s_mor = versioned.merge_version_cow(spark, mor, ch, "k")  # routed
    assert s_cow["files_rewritten"] >= 1
    assert s_mor["files_rewritten"] == 0 and s_mor["files_dv"] >= 1
    assert s_mor["new_files"] >= 1
    assert _rows(spark, cow) == _rows(spark, mor)
    m = versioned._load_manifest(mor, s_mor["version"])
    assert m["operation"] == "MERGE (DV)"

    # every parent data file shared; merged keys correct
    got = {r.k: r.v for r in versioned.read_version(spark, mor).collect()}
    assert got[5] == "upd5" and got[10_000] == "new" and 7 not in got

    # second MOR merge on the same keys: vectors replaced whole, still
    # equal to the COW twin
    ch2 = spark.createDataFrame(
        [(5, "upd5b", 0, False), (10_000, "gone", 1, True)],
        "k INT, v STRING, grp INT, is_delete BOOLEAN",
    )
    versioned.merge_version_cow(spark, cow, ch2, "k")
    s2 = versioned.merge_version_cow(spark, mor, ch2, "k")
    assert s2["files_rewritten"] == 0
    assert _rows(spark, cow) == _rows(spark, mor)

    # insert-only merge (no matched keys): pure fast-append, no sidecar
    ch3 = spark.createDataFrame(
        [(20_000, "ins", 2, False)],
        "k INT, v STRING, grp INT, is_delete BOOLEAN",
    )
    s3 = versioned.merge_version_cow(spark, mor, ch3, "k")
    assert s3["files_dv"] == 0 and s3["new_files"] >= 1
    # no-op merge (all-delete flags on absent keys) commits nothing
    ch4 = spark.createDataFrame(
        [(99_999, "x", 0, True)],
        "k INT, v STRING, grp INT, is_delete BOOLEAN",
    )
    s4 = versioned.merge_version_cow(spark, mor, ch4, "k")
    assert s4["version"] is None
    # schema evolution still takes the COW path (rewrite materializes
    # the new column)
    ch5 = spark.createDataFrame(
        [(5, "upd5c", 0, "extra", False)],
        "k INT, v STRING, grp INT, w STRING, is_delete BOOLEAN",
    )
    s5 = versioned.merge_version_cow(spark, mor, ch5, "k",
                                     evolve_schema=True)
    assert s5["files_rewritten"] >= 1
    assert "w" in versioned.read_version(spark, mor).columns


def test_ds_dv_read_with_relative_table_path(spark, tmp_path):
    """Code-review regression: the DS keyed DV matching on the raw
    option path — a RELATIVE path never matched the sidecars' absolute
    URIs and every deleted row silently resurrected. All planned paths
    now go through _abs_file."""
    import os as _os

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        _deleted_positions,
    )

    # build with an absolute path (Spark writes resolve relative paths
    # against the warehouse dir, not the process cwd) ...
    abs_path = str(tmp_path / "t_rel")
    _mk(spark, abs_path)
    versioned.set_table_property(abs_path, "dv.enabled", "true")
    versioned.delete_where(spark, abs_path, "k >= 20 AND k < 100")
    # ... then RESOLVE through a relative option path, as the planning
    # worker would when its cwd contains the table: every planned path
    # must come out ABSOLUTE (sidecar rows key on absolute file URIs —
    # a relative partition path would silently match nothing and every
    # DV'd row would resurrect), and the executor-side vector load must
    # find the positions for a planned file.
    old_cwd = _os.getcwd()
    _os.chdir(str(tmp_path))
    try:
        ds = VersionedDataSource({"path": "t_rel"})
        schema, files, dv, _skip, _nm = ds._resolve()
        assert files and all(_os.path.isabs(f) for f in files)
        assert dv, "the DV mapping must survive resolution"
        assert all(_os.path.isabs(s)
                   for lst in dv.values() for s in lst)
        data_file, sidecars = next(iter(dv.items()))
        assert _deleted_positions(sidecars, data_file)
    finally:
        _os.chdir(old_cwd)
    # end-to-end through the engine session (absolute path): rows gone
    got = (spark.read.format("versioned").option("path", abs_path)
           .load())
    assert got.filter("k >= 20 AND k < 100").count() == 0
    assert got.count() == 520


def test_stream_sink_replay_guard_on_legacy_manifests(spark, tmp_path):
    """Code-review regression: manifests from before query-id stamping
    (stream_query_id absent) must STILL be replay-protected — a
    same-sequence batch id at or below the last one skips; only a
    fresh query's batch 0 commits."""
    import pyarrow as pa

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedStreamWriter,
        _write_arrow_part,
    )

    path = str(tmp_path / "t")
    schema = spark.range(1).selectExpr("id AS k").schema

    def _commit(writer, batch_id, value):
        msg = _write_arrow_part(
            writer.staged,
            iter([pa.record_batch({"k": pa.array([value], pa.int64())})]),
        )
        writer.commit([msg], batchId=batch_id)

    legacy = VersionedStreamWriter(path, schema, query_key=None)
    _commit(legacy, 0, 10)
    _commit(legacy, 1, 11)
    assert len(versioned.versions(path)) == 2

    # upgraded code replays batch 1 (query id now derived): the legacy
    # manifest has no id — still treated as a replay, nothing publishes
    upgraded = VersionedStreamWriter(path, schema, query_key="q-new")
    _commit(upgraded, 1, 99)
    assert len(versioned.versions(path)) == 2
    assert versioned.read_version(spark, path).filter("k = 99").count() == 0
    # ...but its NEXT batch commits normally
    _commit(upgraded, 2, 12)
    assert sorted(r.k for r in
                  versioned.read_version(spark, path).collect()) == \
        [10, 11, 12]
    # and a FRESH query restarting at batch 0 against a legacy-tailed
    # table is new data, not a replay
    legacy2 = VersionedStreamWriter(str(tmp_path / "t2"), schema, None)
    _commit(legacy2, 0, 20)
    fresh = VersionedStreamWriter(str(tmp_path / "t2"), schema, "q-f")
    _commit(fresh, 0, 21)
    assert sorted(r.k for r in versioned.read_version(
        spark, str(tmp_path / "t2")).collect()) == [20, 21]


def test_dv_bookkeeping_column_collision_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id AS k", "id AS __dv_pos")
    versioned.write_version(df, path)
    versioned.set_table_property(path, "dv.enabled", "true")
    with pytest.raises(ValueError, match="bookkeeping"):
        versioned.delete_where(spark, path, "k = 1")


def test_bulk_delete_sidecar_fans_out_and_delta_packs(spark, tmp_path,
                                                      monkeypatch):
    """r7 advice (DV bulk-delete soft spot): the sidecar write is
    range-partitioned by (file, pos) and sorted — a bulk delete fans
    out over ~n_rows/_DV_ROWS_PER_PART tasks instead of one — and v2
    delta-bit-packed pages store sorted positions at bits-per-row
    (measured 100k-row delete: 402 KB → 4.0 KB, SCALING.md)."""
    monkeypatch.setattr(versioned, "_DV_ROWS_PER_PART", 20_000)
    path = _mk(spark, str(tmp_path / "t"), n=200_000, files=8)
    versioned.set_table_property(path, "dv.enabled", "true")
    s = versioned.delete_where(spark, path, "k % 4 = 1")  # 50k rows
    assert s["rows_deleted"] == 50_000
    m = versioned._load_manifest(path, versioned.versions(path)[-1])
    sidecars = {x for lst in versioned._dv_map(m).values() for x in lst}
    assert len(sidecars) >= 2          # fanned out, not coalesce(1)
    assert s["dv_bytes"] < 50_000      # bits per row, not bytes
    # every reader still applies the multi-part vector exactly
    got = versioned.read_version(spark, path)
    assert got.count() == 150_000
    assert got.filter("k % 4 = 1").count() == 0
