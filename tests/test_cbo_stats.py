"""Manifest statistics → planner (the engine's CBO feed).

Spark 4.1.2's Python Data Source scan cannot report statistics to
Catalyst (JVM ``PythonScan`` implements only Scan + SupportsMetadata),
so a ``format("versioned")`` relation planners as Long.MaxValue bytes
and never broadcasts. The engine therefore serves the manifest's exact
row_count / size_in_bytes itself: ``table_statistics`` is the
metadata-only ANALYZE TABLE, and ``read_version`` turns those numbers
into the planner decision Catalyst would make — broadcast a dim-sized
snapshot, shuffle a fact-sized one — keyed to the live session's
``spark.sql.autoBroadcastJoinThreshold``."""

from __future__ import annotations

import os

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned


def _mk(spark, path, n=200):
    df = spark.range(n).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v")
    versioned.write_version(df, path)
    return path


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parse_size_bytes():
    p = versioned._parse_size_bytes
    assert p("10485760") == 10 * 2**20
    assert p("10MB") == 10 * 2**20
    assert p("1kb") == 1024
    assert p("2g") == 2 * 2**30
    assert p("512b") == 512
    assert p("-1") == -1


def test_table_statistics_metadata_only(spark, tmp_path):
    path = _mk(spark, str(tmp_path / "t"), n=200)
    st = versioned.table_statistics(path)
    assert st["row_count"] == 200
    assert st["num_files"] >= 1
    # exact: the recorded bytes equal the live files on disk
    m = versioned._load_manifest(path, versioned.versions(path)[-1])
    disk = sum(os.path.getsize(versioned._abs_file(path, f))
               for f in m["files"])
    assert st["size_in_bytes"] == disk
    # DV delete: row_count is exact; bytes track the LIVE file set
    # (files whose whole range matched were dropped metadata-only, the
    # rest keep their full size — an upper bound under partial DVs)
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where_mor(spark, path, "k < 50")
    st2 = versioned.table_statistics(path)
    assert st2["row_count"] == 150
    assert 0 < st2["size_in_bytes"] <= st["size_in_bytes"]
    # count_rows serves the same number, still metadata-only
    assert versioned.count_rows(spark, path) == 150


def test_file_bytes_ride_every_commit(spark, tmp_path):
    """Shared files copy the parent's recorded size; new files get one
    os.stat — every commit path that reuses _set_col_stats keeps the
    size index complete, so table_statistics never re-stats at scale."""
    path = _mk(spark, str(tmp_path / "t"), n=100)
    versioned.write_version(
        spark.createDataFrame([(1000, "x")], "k INT, v STRING"), path)
    versioned.optimize_version(spark, path, target_files=1)
    m = versioned._load_manifest(path, versioned.versions(path)[-1])
    fb = m.get("file_bytes") or {}
    assert all(fb.get(f) is not None for f in m["files"])


def test_dim_snapshot_broadcasts(spark, tmp_path):
    """A dim-sized snapshot must build a broadcast hash join even when
    its read plan is a DV anti-join subtree — the case where Catalyst's
    own size propagation has nothing exact to work with."""
    path = _mk(spark, str(tmp_path / "dim"), n=100)
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where_mor(spark, path, "k >= 90")
    dim = versioned.read_version(spark, path)
    fact = spark.range(100_000).selectExpr(
        "CAST(id % 100 AS INT) AS k", "id AS amount")
    joined = fact.join(dim, "k")
    assert "BroadcastHashJoin" in _physical(joined)
    # and the values are right: keys 0..89 survive the DV delete
    got = joined.groupBy().count().collect()[0][0]
    assert got == 90_000


def test_fact_snapshot_does_not_hint(spark, tmp_path):
    """A snapshot whose true size exceeds the session threshold gets NO
    hint: the join plans its shuffle as it must at scale. Threshold is
    dropped below the table's real size to simulate the fact table."""
    path = _mk(spark, str(tmp_path / "fact"), n=5000)
    st = versioned.table_statistics(path)
    assert st["size_in_bytes"] > 1024  # sanity: 1KB is below the table
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        fact = versioned.read_version(spark, path)
        other = spark.range(10_000).selectExpr(
            "CAST(id % 5000 AS INT) AS k", "id AS amount")
        plan = _physical(other.join(fact, "k"))
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        # flip the threshold back up: the SAME table now broadcasts —
        # the decision tracks the session conf, not a baked constant
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        fact2 = versioned.read_version(spark, path)
        assert "BroadcastHashJoin" in _physical(other.join(fact2, "k"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_analyze_table_sql_route(spark, tmp_path):
    """ANALYZE TABLE reads the manifest-served statistics back — with
    or without COMPUTE STATISTICS [NOSCAN]; they are always current
    (recorded at commit), so no scan ever runs."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql

    path = _mk(spark, str(tmp_path / "t"), n=50)
    for stmt in (f"ANALYZE TABLE versioned.`{path}`",
                 f"ANALYZE TABLE versioned.`{path}` COMPUTE STATISTICS",
                 f"ANALYZE TABLE versioned.`{path}` "
                 "COMPUTE STATISTICS NOSCAN"):
        # returns a one-row DataFrame (uniform sql() contract — every
        # statement result supports .collect()/.show())
        row = vsql(spark, stmt).collect()[0]
        st = versioned.table_statistics(path)
        assert (row.row_count, row.size_in_bytes, row.num_files) == (
            st["row_count"], st["size_in_bytes"], st["num_files"])
        assert row.row_count == 50 and row.size_in_bytes > 0


def test_stats_hint_opt_out(spark, tmp_path):
    """stats_hint=False returns the unhinted plan (callers composing
    their own join strategy, e.g. inside MERGE internals)."""
    path = _mk(spark, str(tmp_path / "t"), n=10)
    df = versioned.read_version(spark, path, stats_hint=False)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_stats_hint_skips_dv_sidecar_reads(spark, tmp_path):
    """The per-read broadcast hint needs only size_in_bytes; on a
    DV-heavy table it must NOT read deletion-vector sidecars (that is
    O(deleted rows) driver I/O per snapshot read, paid inside MERGE
    internals). table_statistics(include_rows=False) is the size-only
    path the hint uses."""
    from unittest import mock

    path = _mk(spark, str(tmp_path / "t"), n=200)
    versioned.set_table_property(path, "dv.enabled", "true")
    versioned.delete_where(spark, path, "k % 3 = 0")
    assert versioned._dv_map(versioned._load_manifest(
        path, versioned.versions(path)[-1]))  # DVs really exist

    import pyarrow.parquet as pq
    with mock.patch.object(pq, "read_table",
                           side_effect=AssertionError(
                               "sidecar read on the size-only path")):
        st = versioned.table_statistics(path, include_rows=False)
        assert st["row_count"] is None and st["size_in_bytes"] > 0
        df = versioned.read_version(spark, path)  # hint path runs
    # the full-stats path still counts exactly (sidecars applied)
    st = versioned.table_statistics(path)
    assert st["row_count"] == df.count()


def test_register_snapshot_cbo_join_reorder(spark, tmp_path):
    """r11 verdict item 3 — the next rung of the CBO ladder: snapshots
    registered as catalog parquet tables carry ANALYZE-fed rowCount /
    sizeInBytes, so spark.sql.cbo.enabled + joinReorder FLIPS a
    3-table join order the syntactic plan gets wrong (big JOIN dim
    first → 100k-row intermediate; reordered: dim JOIN sub first →
    200 rows). The registered content equals the snapshot (post-DML),
    and the catalog rowCount equals the manifest's."""
    big, dim, sub = (str(tmp_path / n) for n in ("big", "dim", "sub"))
    versioned.write_version(
        spark.range(100_000).selectExpr(
            "id AS a_k", "id % 50 AS a_j", "repeat('x', 30) AS pad"),
        big)
    versioned.write_version(
        spark.range(250).selectExpr("id AS b_k", "id % 50 AS b_j"), dim)
    # DML history: the registration must serve the LIVE snapshot
    versioned.delete_where(spark, dim, "b_k >= 200")
    versioned.write_version(
        spark.range(200).selectExpr("id AS c_k"), sub)

    for path, name in ((big, "rs_big"), (dim, "rs_dim"), (sub, "rs_sub")):
        got = versioned.register_snapshot_table(
            spark, path, name, analyze_columns="ALL")
        # catalog rowCount == manifest row_count (exact, metadata-fed)
        stats_row = spark.sql(f"DESC EXTENDED {name}") \
            .filter("col_name = 'Statistics'").collect()[0].data_type
        want = versioned.table_statistics(path)["row_count"]
        assert f"{want} rows" in stats_row, (name, stats_row, want)
        assert got["version"] == versioned.versions(path)[-1]
    assert spark.table("rs_dim").count() == 200  # post-DELETE snapshot
    assert sorted(r.b_k for r in spark.table("rs_dim").collect()) == \
        sorted(r.b_k for r in versioned.read_version(spark, dim).collect())

    q = ("SELECT count(*) AS n FROM rs_big JOIN rs_dim ON a_j = b_j "
         "JOIN rs_sub ON b_k = c_k")

    def rel_order(plan: str) -> list[str]:
        import re
        return re.findall(r"default\.(rs_\w+)", plan)

    old = {k: spark.conf.get(k) for k in
           ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")}
    try:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        syntactic = spark.sql(q)._jdf.queryExecution() \
            .optimizedPlan().toString()
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        cbo = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        # syntactic: big joins first; CBO: the two small relations
        # join first and big joins LAST
        assert rel_order(syntactic)[0] == "rs_big"
        assert rel_order(cbo)[-1] == "rs_big"
        assert rel_order(cbo)[:2] in (["rs_dim", "rs_sub"],
                                      ["rs_sub", "rs_dim"])
        # and the reordered plan still computes the same answer
        assert spark.sql(q).collect()[0].n == 100_000 // 50 * 200
    finally:
        for k, val in old.items():
            spark.conf.set(k, val)
        for name in ("rs_big", "rs_dim", "rs_sub"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_register_snapshot_partitioned_and_refusals(spark, tmp_path):
    """Partition-aligned snapshots register correctly (partition
    values live in the data files; the flat registered copy serves
    them); DV / column-mapped snapshots are refused — plain parquet
    would resurrect deleted rows or misname columns."""
    import pytest

    part = str(tmp_path / "part")
    versioned.write_version(
        spark.range(300).selectExpr("id AS v", "CAST(id % 3 AS INT) AS p"),
        part, partition_by=["p"])
    versioned.register_snapshot_table(spark, part, "rs_part")
    try:
        assert spark.table("rs_part").count() == 300
        assert spark.table("rs_part").filter("p = 1").count() == 100
        assert set(spark.table("rs_part").columns) == {"v", "p"}
    finally:
        spark.sql("DROP TABLE IF EXISTS rs_part")

    dv = str(tmp_path / "dv")
    versioned.write_version(
        spark.range(100).selectExpr("CAST(id AS INT) AS k", "id AS v"), dv)
    versioned.set_table_property(dv, "dv.enabled", "true")
    versioned.delete_where_mor(spark, dv, "k < 10")
    with pytest.raises(ValueError, match="deletion vectors"):
        versioned.register_snapshot_table(spark, dv, "rs_dv")


def test_register_snapshot_sql_route(spark, tmp_path):
    """REGISTER SNAPSHOT versioned.`/p` [VERSION AS OF n] AS name
    [ANALYZE ALL COLUMNS] — the SQL spelling of
    register_snapshot_table, returning a one-row DataFrame."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql

    path = _mk(spark, str(tmp_path / "t"), n=40)
    versioned.write_version(
        spark.range(41, 51).selectExpr(
            "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"), path)
    try:
        row = vsql(spark, f"REGISTER SNAPSHOT versioned.`{path}` "
                          "AS rs_sql ANALYZE ALL COLUMNS").collect()[0]
        assert (row.table, row.version) == ("rs_sql", 1)
        assert spark.table("rs_sql").count() == 10  # the LIVE snapshot
        row0 = vsql(spark, f"REGISTER SNAPSHOT versioned.`{path}` "
                           "VERSION AS OF 0 AS rs_sql0").collect()[0]
        assert row0.version == 0
        assert spark.table("rs_sql0").count() == 40  # time travel
    finally:
        spark.sql("DROP TABLE IF EXISTS rs_sql")
        spark.sql("DROP TABLE IF EXISTS rs_sql0")


def test_registered_snapshot_survives_vacuum(spark, tmp_path):
    """The hard-link guarantee: a registered catalog table keeps
    serving its pinned snapshot even after VACUUM unlinks the source
    version's originals — the links keep the bytes alive, so catalog
    readers can never dangle mid-query."""
    path = _mk(spark, str(tmp_path / "t"), n=60)
    versioned.register_snapshot_table(spark, path, "rs_vac", version=0)
    try:
        # advance the table twice, then vacuum v0 away
        for lo in (100, 200):
            versioned.write_version(
                spark.range(lo, lo + 10).selectExpr(
                    "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"), path)
        dropped = versioned.vacuum(path, keep_last=1)
        assert 0 in dropped
        # the registered snapshot still reads its full pinned content
        assert spark.table("rs_vac").count() == 60
        assert versioned.versions(path) == [2]
    finally:
        spark.sql("DROP TABLE IF EXISTS rs_vac")


def test_unregister_snapshot_reclaims_links(spark, tmp_path):
    """unregister_snapshot_table drops the catalog table AND its
    hard-link dir (the bytes stop being pinned); a non-registered
    table's location is never deleted, and a missing name is a
    no-op."""
    path = _mk(spark, str(tmp_path / "t"), n=30)
    got = versioned.register_snapshot_table(spark, path, "rs_gone")
    assert os.path.isdir(got["location"])
    versioned.unregister_snapshot_table(spark, "rs_gone")
    assert not os.path.isdir(got["location"])
    assert not spark.catalog.tableExists("rs_gone")
    versioned.unregister_snapshot_table(spark, "rs_gone")  # no-op

    # a plain catalog table outside _registered keeps its data
    ext = str(tmp_path / "ext")
    spark.range(5).write.parquet(ext)
    spark.sql(f"CREATE TABLE rs_ext USING parquet LOCATION '{ext}'")
    try:
        versioned.unregister_snapshot_table(spark, "rs_ext")
        assert os.path.isdir(ext)  # dropped from catalog, data kept
        assert not spark.catalog.tableExists("rs_ext")
    finally:
        spark.sql("DROP TABLE IF EXISTS rs_ext")


def test_register_snapshot_zero_scan_jobs(spark, tmp_path):
    """r12 verdict item 1 — registration must cost ZERO Spark jobs:
    the catalog rowCount/sizeInBytes come from the manifest
    (table_statistics), not a full-scan ANALYZE. The status tracker's
    cumulative default-group job list must not grow across the
    registration, and the stats must still be the exact manifest
    numbers."""
    path = _mk(spark, str(tmp_path / "t"), n=500)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    got = versioned.register_snapshot_table(spark, path, "rs_zeroscan")
    after = set(tracker.getJobIdsForGroup(None))
    try:
        assert after == before, (
            f"registration launched Spark jobs: {sorted(after - before)}")
        st = versioned.table_statistics(path)
        stats_row = spark.sql("DESC EXTENDED rs_zeroscan") \
            .filter("col_name = 'Statistics'").collect()[0].data_type
        assert f"{st['row_count']} rows" in stats_row
        assert f"{st['size_in_bytes']} bytes" in stats_row
        # and the registered table really reads (this one runs a job)
        assert spark.table("rs_zeroscan").count() == 500
    finally:
        versioned.unregister_snapshot_table(spark, "rs_zeroscan")
    assert got["version"] == versioned.versions(path)[-1]


def test_refresh_snapshot_follows_head(spark, tmp_path):
    """refresh_snapshot_table advances a registered name to the source
    head: commit → refresh → catalog content AND stats advance; a
    refresh at head is a no-op; the superseded link dir is
    reclaimed."""
    path = _mk(spark, str(tmp_path / "t"), n=40)
    got0 = versioned.register_snapshot_table(spark, path, "rs_live")
    try:
        # no-op at head
        r = versioned.refresh_snapshot_table(spark, "rs_live")
        assert r["refreshed"] is False and r["version"] == got0["version"]

        # commit: catalog serves the stale pin until refreshed
        from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
            ensure_registered,
        )

        ensure_registered(spark)
        (spark.range(100, 110).selectExpr(
            "CAST(id AS INT) AS k", "CONCAT('v', id) AS v")
         .write.format("versioned").mode("append")
         .option("path", path).save())
        assert spark.table("rs_live").count() == 40  # documented stale
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        r2 = versioned.refresh_snapshot_table(spark, "rs_live")
        assert set(tracker.getJobIdsForGroup(None)) == before  # no scan
        assert r2["refreshed"] is True
        assert r2["version"] == versioned.versions(path)[-1]
        assert spark.table("rs_live").count() == 50
        stats_row = spark.sql("DESC EXTENDED rs_live") \
            .filter("col_name = 'Statistics'").collect()[0].data_type
        assert "50 rows" in stats_row                 # stats advanced
        assert not os.path.isdir(got0["location"])    # old links gone
        assert os.path.isdir(r2["location"])

        # a DML commit refreshes too (full-row DELETE rewrites files)
        versioned.delete_where(spark, path, "k < 20")
        r3 = versioned.refresh_snapshot_table(spark, "rs_live")
        assert r3["refreshed"] is True
        assert spark.table("rs_live").count() == 30
    finally:
        versioned.unregister_snapshot_table(spark, "rs_live")

    # refuses a table it didn't register
    ext = str(tmp_path / "ext")
    spark.range(5).write.parquet(ext)
    spark.sql(f"CREATE TABLE rs_plain USING parquet LOCATION '{ext}'")
    try:
        import pytest
        with pytest.raises(ValueError, match="not a registered"):
            versioned.refresh_snapshot_table(spark, "rs_plain")
    finally:
        spark.sql("DROP TABLE IF EXISTS rs_plain")


def test_unregister_and_refresh_sql_routes(spark, tmp_path):
    """UNREGISTER SNAPSHOT name / REFRESH SNAPSHOT name — the SQL
    spellings, each returning a one-row DataFrame."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)
    path = _mk(spark, str(tmp_path / "t"), n=25)
    vsql(spark, f"REGISTER SNAPSHOT versioned.`{path}` AS rs_sqlrt")
    (spark.range(99, 100).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v")
     .write.format("versioned").mode("append")
     .option("path", path).save())
    row = vsql(spark, "REFRESH SNAPSHOT rs_sqlrt").collect()[0]
    assert row.refreshed and row.version == versioned.versions(path)[-1]
    assert spark.table("rs_sqlrt").count() == 26
    loc = row.location
    row2 = vsql(spark, "UNREGISTER SNAPSHOT rs_sqlrt").collect()[0]
    assert row2.dropped
    assert not spark.catalog.tableExists("rs_sqlrt")
    assert not os.path.isdir(loc)
    # idempotent: a second unregister reports dropped = false
    assert not vsql(spark, "UNREGISTER SNAPSHOT rs_sqlrt") \
        .collect()[0].dropped
