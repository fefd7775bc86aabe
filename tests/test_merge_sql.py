"""SQL MERGE INTO surface (merge_sql.py) over versioned tables."""

from __future__ import annotations

import pytest

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import merge_into


def _base(spark, n=400, parts=4):
    return spark.range(n).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"
    ).repartitionByRange(parts, "k")


def test_merge_into_upsert_and_delete(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark), path)
    spark.createDataFrame(
        [(5, "upd5", False), (7, "ignored", True), (9000, "new", False)],
        "k INT, v STRING, del BOOLEAN",
    ).createOrReplaceTempView("merge_src")

    stats = merge_into(spark, """
        MERGE INTO versioned.`%s` AS t
        USING merge_src AS s
        ON t.k = s.k
        WHEN MATCHED AND s.del THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """ % path)
    assert stats["version"] == 1
    # the 9000 insert stretches the change span over every file, so
    # span pruning can't fire here — but the COW must still share the
    # untouched files rather than rewrite the table
    assert stats["files_shared"] >= 2
    assert stats["files_rewritten"] <= 2
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[5] == "upd5" and got[9000] == "new" and 7 not in got
    assert len(got) == 400 - 1 + 1
    # the delete flag column never leaks into the table
    assert "__merge_is_delete" not in versioned.read_version(spark, path).columns
    assert "del" not in versioned.read_version(spark, path).columns


def test_merge_into_subquery_source_no_delete_clause(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 100, 2), path)
    spark.createDataFrame([(1, "one"), (101, "hundred-one")],
                          "k INT, v STRING").createOrReplaceTempView("raw_src")
    merge_into(spark, """
        MERGE INTO versioned.`%s` t
        USING (SELECT k, UPPER(v) AS v FROM raw_src) s
        ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """ % path)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[1] == "ONE" and got[101] == "HUNDRED-ONE" and len(got) == 101


def test_merge_into_rejects_unsupported_shapes(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 10, 1), path)
    spark.createDataFrame([(1, "x", False)],
                          "k INT, v STRING, del BOOLEAN"
                          ).createOrReplaceTempView("ms")
    # non-equi / two-column ON
    with pytest.raises(ValueError, match="unsupported MERGE shape"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING ms s
            ON t.k < s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    # conditional UPDATE clauses (WHEN MATCHED AND ... THEN UPDATE)
    # remain unsupported (column-list SET itself became a supported
    # path in r6 — see test_merge_column_list_set_and_insert)
    with pytest.raises(ValueError, match="unsupported MERGE shape"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING ms s
            ON t.k = s.k
            WHEN MATCHED AND s.v = 'x' THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    # mismatched key columns on the two sides
    with pytest.raises(ValueError, match="SAME key column"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING ms s
            ON t.k = s.del
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    # DELETE condition referencing the target alias
    with pytest.raises(ValueError, match="source alias"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING ms s
            ON t.k = s.k
            WHEN MATCHED AND t.v = 'x' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    # nothing was committed by any rejected statement
    assert versioned.versions(path) == [0]


def test_merge_into_schema_evolution_forwarding(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 20, 1), path)
    spark.range(1).selectExpr(
        "CAST(3 AS INT) AS k", "CAST('three' AS STRING) AS v",
        "CAST(99 AS INT) AS score"
    ).createOrReplaceTempView("evo_src")
    stmt = f"""
        MERGE INTO versioned.`{path}` t USING evo_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_into(spark, stmt)
    merge_into(spark, stmt, evolve_schema=True)
    df = versioned.read_version(spark, path)
    assert "score" in df.columns
    rows = {r.k: r.score for r in df.collect()}
    assert rows[3] == 99 and rows[4] is None


def test_merge_into_insert_only(spark, tmp_path):
    """Insert-only MERGE (append-if-absent dedup): matched source rows
    are IGNORED, not updated."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 50, 2), path)
    spark.createDataFrame([(3, "CLOBBER"), (500, "new")],
                          "k INT, v STRING").createOrReplaceTempView("ins_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING ins_src s
        ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[3] == "v3"          # matched row untouched
    assert got[500] == "new"       # unmatched row inserted
    assert len(got) == 51


def test_merge_into_update_only(spark, tmp_path):
    """Update-only MERGE: unmatched source rows are IGNORED, not
    inserted."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 50, 2), path)
    spark.createDataFrame([(3, "upd3"), (500, "ghost")],
                          "k INT, v STRING").createOrReplaceTempView("upd_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING upd_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[3] == "upd3"
    assert 500 not in got
    assert len(got) == 50


def test_merge_into_delete_only(spark, tmp_path):
    """Delete-only MERGE (compliance purge shape): only matched rows
    satisfying the condition are removed; everything else — including
    unmatched source rows — is ignored."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 50, 2), path)
    spark.createDataFrame(
        [(3, None, True), (7, None, False), (500, None, True)],
        "k INT, v STRING, purge BOOLEAN",
    ).createOrReplaceTempView("del_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING del_src s
        ON t.k = s.k
        WHEN MATCHED AND s.purge THEN DELETE
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert 3 not in got and 7 in got and 500 not in got
    assert len(got) == 49


def test_merge_delete_condition_only_fires_for_matched(spark, tmp_path):
    """Delta semantics: WHEN MATCHED AND cond THEN DELETE applies to
    MATCHED rows only — an unmatched source row whose condition happens
    to be true still reaches INSERT *."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 20, 1), path)
    spark.createDataFrame(
        [(5, "gone", True), (900, "kept-insert", True)],
        "k INT, v STRING, tomb BOOLEAN",
    ).createOrReplaceTempView("tomb_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING tomb_src s
        ON t.k = s.k
        WHEN MATCHED AND s.tomb THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert 5 not in got                   # matched + tomb -> deleted
    assert got[900] == "kept-insert"      # unmatched + tomb -> inserted
    assert len(got) == 20


def test_merge_into_requires_some_clause(spark, tmp_path):
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 10, 1), path)
    spark.createDataFrame([(1, "x")], "k INT, v STRING"
                          ).createOrReplaceTempView("noop_src")
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING noop_src s
            ON t.k = s.k
        """)


def test_maintenance_sql_statements(spark, tmp_path):
    """RESTORE / VACUUM / OPTIMIZE / DESCRIBE HISTORY statements route
    onto the library maintenance ops, path-addressed like MERGE INTO."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import maintenance_sql

    path = str(tmp_path / "tbl")
    for n in (100, 120, 140):
        versioned.write_version(
            spark.range(n).selectExpr("id AS k", "CONCAT('v', id) AS v"),
            path,
        )
    hist = maintenance_sql(spark, f"DESCRIBE HISTORY versioned.`{path}`")
    assert hist.count() == 3
    v3 = maintenance_sql(
        spark, f"RESTORE TABLE versioned.`{path}` TO VERSION AS OF 0"
    )
    assert v3 == 3
    assert versioned.read_version(spark, path).count() == 100
    stats = maintenance_sql(spark, f"OPTIMIZE versioned.`{path}`")
    assert isinstance(stats, dict) and stats["version"] == 4
    dropped = maintenance_sql(
        spark, f"VACUUM versioned.`{path}` RETAIN 2 VERSIONS"
    )
    assert dropped == [0, 1, 2]
    assert versioned.read_version(spark, path).count() == 100
    import pytest as _pytest
    with _pytest.raises(ValueError):
        maintenance_sql(spark, "TRUNCATE TABLE versioned.`/x`")


def test_ctas_and_insert_into(spark, tmp_path):
    """CREATE TABLE AS commits v0; INSERT INTO fast-appends a version;
    CTAS refuses to clobber an existing table."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import (
        create_table_as,
        insert_into,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    try:
        spark.dataSource.register(VersionedDataSource)
    except Exception:
        pass
    path = str(tmp_path / "tbl")
    v0 = create_table_as(
        spark,
        f"CREATE TABLE versioned.`{path}` AS "
        "SELECT id AS k, CONCAT('v', id) AS v FROM range(100)",
    )
    assert v0 == 0
    insert_into(
        spark,
        f"INSERT INTO versioned.`{path}` "
        "SELECT id AS k, CONCAT('n', id) AS v FROM range(100, 120)",
    )
    assert versioned.versions(path) == [0, 1]
    assert versioned.read_version(spark, path).count() == 120
    m0 = versioned._load_manifest(path, 0)
    m1 = versioned._load_manifest(path, 1)
    assert set(m0["files"]) < set(m1["files"])  # fast append
    with pytest.raises(ValueError):
        create_table_as(
            spark,
            f"CREATE TABLE versioned.`{path}` AS SELECT 1 AS k, 'x' AS v",
        )


def test_delete_from_predicate_cow(spark, tmp_path):
    """DELETE FROM rewrites ONLY files holding matching rows; the rest
    are shared byte-identically, history stays time-travelable, and
    the stats index survives with new files re-indexed."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import delete_from

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark), path)
    stats = delete_from(
        spark, f"DELETE FROM versioned.`{path}` WHERE k >= 300"
    )
    # range-partitioned base: k>=300 fully covers one of 4 files, so
    # the whole-file metadata drop fires — nothing is rewritten
    assert stats["version"] == 1
    assert stats["files_dropped"] == 1 and stats["files_rewritten"] == 0
    assert stats["files_shared"] == 3
    got = versioned.read_version(spark, path)
    assert got.count() == 300 and got.agg({"k": "max"}).first()[0] == 299
    # time travel to v0 still sees all 400 rows
    assert versioned.read_version(spark, path, 0).count() == 400
    m0 = versioned._load_manifest(path, 0)
    m1 = versioned._load_manifest(path, 1)
    b0 = versioned._bounds_for(m0, "k")
    b1 = versioned._bounds_for(m1, "k")
    assert set(b1) == set(m1["files"])
    shared = set(m0["files"]) & set(m1["files"])
    assert len(shared) == 3
    for f in shared:  # untouched files keep their stats verbatim
        assert b1[f] == b0[f] is not None


def test_delete_from_null_predicate_keeps_rows(spark, tmp_path):
    """SQL WHERE semantics: only TRUE deletes — rows where the
    predicate evaluates NULL are kept."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.versioned import delete_where

    path = str(tmp_path / "tbl")
    versioned.write_version(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "k INT, v STRING"
        ),
        path,
    )
    delete_where(spark, path, "v = 'a'")  # NULL = 'a' is NULL -> kept
    got = {r.k for r in versioned.read_version(spark, path).collect()}
    assert got == {2, 3}


def test_delete_from_no_match_no_commit(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import delete_from

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 100, 2), path)
    stats = delete_from(
        spark, f"DELETE FROM versioned.`{path}` WHERE k > 10000"
    )
    assert stats["version"] is None and stats["files_rewritten"] == 0
    assert versioned.versions(path) == [0]


def test_update_where_simultaneous_and_typed(spark, tmp_path):
    """SET expressions all see the PRE-update row (a=b, b=a swaps) and
    results are cast back to the declared column types."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.versioned import update_where

    path = str(tmp_path / "tbl")
    versioned.write_version(
        spark.createDataFrame(
            [(1, 10, 20), (2, 30, 40)], "k INT, a INT, b INT"
        ),
        path,
    )
    update_where(spark, path, {"a": "b", "b": "a"}, "k = 1")
    got = {r.k: (r.a, r.b) for r in
           versioned.read_version(spark, path).collect()}
    assert got[1] == (20, 10) and got[2] == (30, 40)
    # 2.5 casts back to INT (schema never drifts through UPDATE)
    update_where(spark, path, {"a": "a + 2.5"}, "k = 2")
    tbl = versioned.read_version(spark, path)
    assert dict(tbl.dtypes)["a"] == "int"
    assert {r.k: r.a for r in tbl.collect()}[2] == 32


def test_update_sql_statement_and_sharing(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import update_table

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark), path)
    stats = update_table(
        spark,
        f"UPDATE versioned.`{path}` "
        "SET v = CONCAT(v, '!'), k = k WHERE k < 100;",
    )
    assert stats["files_rewritten"] == 1 and stats["files_shared"] == 3
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[5] == "v5!" and got[350] == "v350" and len(got) == 400
    # WHERE omitted -> every row (Delta semantics)
    update_table(spark, f"UPDATE versioned.`{path}` SET v = 'x'")
    vals = set(r.v for r in versioned.read_version(spark, path).collect())
    assert vals == {"x"}


def test_update_rejects_bad_shapes(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import (
        _split_assignments,
        delete_from,
        update_table,
    )

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 10, 1), path)
    with pytest.raises(ValueError, match="not in the table schema"):
        update_table(
            spark, f"UPDATE versioned.`{path}` SET nope = 1 WHERE k = 1"
        )
    with pytest.raises(ValueError, match="assigned twice"):
        update_table(
            spark, f"UPDATE versioned.`{path}` SET v = 'a', v = 'b'"
        )
    with pytest.raises(ValueError, match="expected UPDATE"):
        update_table(spark, "UPDATE elsewhere SET v = 1")
    with pytest.raises(ValueError, match="expected DELETE"):
        delete_from(spark, "DELETE FROM other WHERE 1=1")
    # top-level comma split respects parens and quoted strings
    assert _split_assignments(
        "a = greatest(1, 2), b = 'x,y', c = a + 1"
    ) == {"a": "greatest(1, 2)", "b": "'x,y'", "c": "a + 1"}


def test_unified_sql_router_end_to_end(spark, tmp_path):
    """pkg.merge_sql.sql() routes every statement class, and SELECT
    gains time travel: versioned refs (VERSION AS OF n) resolve to
    snapshot views, including a self-join of two versions of the same
    table — the ad-hoc diff every warehouse user eventually writes."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    try:
        spark.dataSource.register(VersionedDataSource)
    except Exception:
        pass
    path = str(tmp_path / "tbl")
    sql(spark, f"CREATE TABLE versioned.`{path}` AS "
               "SELECT id AS k, CAST(id * 10 AS BIGINT) AS v FROM range(50)")
    sql(spark, f"INSERT INTO versioned.`{path}` "
               "SELECT id AS k, CAST(id * 10 AS BIGINT) AS v "
               "FROM range(50, 60)")
    sql(spark, f"UPDATE versioned.`{path}` SET v = v + 1 WHERE k < 5")
    sql(spark, f"DELETE FROM versioned.`{path}` WHERE k >= 55")
    assert versioned.versions(path) == [0, 1, 2, 3]

    cur = sql(spark, f"SELECT COUNT(*) AS n, SUM(v) AS s "
                     f"FROM versioned.`{path}`").first()
    assert cur.n == 55 and cur.s == sum(i * 10 for i in range(55)) + 5

    # time-travel self-join: what changed between v0 and latest?
    diff = sql(spark, f"""
        SELECT a.k, a.v AS v0, b.v AS v_now
        FROM versioned.`{path}` VERSION AS OF 0 a
        JOIN versioned.`{path}` b ON a.k = b.k
        WHERE a.v <> b.v
    """).collect()
    assert sorted((r.k, r.v0, r.v_now) for r in diff) == [
        (i, i * 10, i * 10 + 1) for i in range(5)
    ]

    hist = sql(spark, f"DESCRIBE HISTORY versioned.`{path}`")
    assert hist.count() == 4

    with pytest.raises(ValueError, match="unsupported statement keyword"):
        sql(spark, "TRUNCATE TABLE versioned.`/x`")
    # plain SELECT with no versioned ref passes straight through
    assert sql(spark, "SELECT 1 AS one").first().one == 1


def test_update_where_split_ignores_nested_where(spark, tmp_path):
    """The SET/WHERE split is quote- and paren-aware: a WHERE inside a
    scalar subquery or a string literal belongs to the SET expression,
    not the statement."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import update_table

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 20, 1), path)
    update_table(spark, f"""
        UPDATE versioned.`{path}`
        SET v = (SELECT CONCAT('m', COUNT(*)) FROM range(7) WHERE id > 4)
        WHERE k = 3
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[3] == "m2" and got[4] == "v4"

    update_table(spark, f"""
        UPDATE versioned.`{path}` SET v = 'has WHERE inside' WHERE k = 5
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[5] == "has WHERE inside" and got[6] == "v6"


def test_router_rewrites_versioned_refs_in_dml_bodies(spark, tmp_path):
    """CTAS / INSERT INTO / MERGE-subquery bodies support versioned
    references with time travel — the snapshot-copy and backfill
    shapes."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    try:
        spark.dataSource.register(VersionedDataSource)
    except Exception:
        pass
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    sql(spark, f"CREATE TABLE versioned.`{a}` AS "
               "SELECT id AS k, CAST(id AS BIGINT) AS v FROM range(10)")
    sql(spark, f"DELETE FROM versioned.`{a}` WHERE k >= 5")
    # CTAS from a time-traveled snapshot of another versioned table
    sql(spark, f"CREATE TABLE versioned.`{b}` AS "
               f"SELECT * FROM versioned.`{a}` VERSION AS OF 0")
    assert sql(spark, f"SELECT COUNT(*) AS n FROM versioned.`{b}`"
               ).first().n == 10
    # INSERT INTO from the current snapshot of a
    sql(spark, f"INSERT INTO versioned.`{b}` "
               f"SELECT k + 100 AS k, v FROM versioned.`{a}`")
    assert sql(spark, f"SELECT COUNT(*) AS n FROM versioned.`{b}`"
               ).first().n == 15
    # MERGE with a versioned subquery source
    sql(spark, f"""
        MERGE INTO versioned.`{b}` t
        USING (SELECT k, v + 1000 AS v FROM versioned.`{a}`) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
    """)
    got = {r.k: r.v for r in
           sql(spark, f"SELECT * FROM versioned.`{b}`").collect()}
    assert got[3] == 1003 and got[103] == 3 and len(got) == 15
    # a string literal containing a versioned ref is data, not a ref
    r = sql(spark, "SELECT 'versioned.`/nope`' AS s").first()
    assert r.s == "versioned.`/nope`"


def test_shallow_clone_statement(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    sql(spark, f"CREATE TABLE versioned.`{src}` AS "
               "SELECT id AS k, CAST(id AS BIGINT) AS v FROM range(30)")
    sql(spark, f"DELETE FROM versioned.`{src}` WHERE k >= 20")
    sql(spark, f"CREATE TABLE versioned.`{dst}` "
               f"SHALLOW CLONE versioned.`{src}` VERSION AS OF 0")
    assert sql(spark, f"SELECT COUNT(*) AS n FROM versioned.`{dst}`"
               ).first().n == 30
    # post-clone DML through the router, source untouched
    sql(spark, f"UPDATE versioned.`{dst}` SET v = v + 1 WHERE k = 0")
    assert sql(spark, f"SELECT v FROM versioned.`{dst}` WHERE k = 0"
               ).first().v == 1
    assert sql(spark, f"SELECT v FROM versioned.`{src}` WHERE k = 0"
               ).first().v == 0


def test_toplevel_keyword_needs_no_trailing_space(spark, tmp_path):
    """r5 advice: `WHERE(k = 1)` — any non-identifier char terminates
    the keyword, so the WHERE clause must split off the SET text
    instead of raising 'bad SET assignment'."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import update_table

    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, 6, 1), path)
    update_table(spark,
                 f"UPDATE versioned.`{path}` SET v = 'hit' WHERE(k = 1)")
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert got[1] == "hit" and got[2] == "v2"


def test_versioned_ref_masking_skips_double_quotes_and_comments(spark):
    """r5 advice: Spark's default parser treats "..." as a string
    literal and -- / /* */ as comments; a versioned ref inside any of
    them is data, not a table reference — rewriting it would eagerly
    read_version a nonexistent path and abort a valid statement."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql

    r = sql(spark, 'SELECT "versioned.`/nope`" AS s').first()
    assert r.s == "versioned.`/nope`"
    r = sql(spark, "SELECT 1 AS n -- versioned.`/nope` VERSION AS OF 3\n"
                   "FROM range(1)").first()
    assert r.n == 1
    r = sql(spark, "SELECT /* versioned.`/nope` */ 2 AS n").first()
    assert r.n == 2
    # unterminated trailing comment does not crash the scanner
    r = sql(spark, "SELECT 3 AS n -- versioned.`/nope`").first()
    assert r.n == 3


def test_alter_table_constraint_statements(spark, tmp_path):
    """ALTER TABLE versioned.`/p` ADD CONSTRAINT ... CHECK (...) /
    DROP CONSTRAINT route through the unified router."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql

    path = str(tmp_path / "tbl")
    sql(spark, f"CREATE TABLE versioned.`{path}` AS "
               "SELECT id AS k, CAST(id AS BIGINT) AS v FROM range(10)")
    v = sql(spark, f"ALTER TABLE versioned.`{path}` "
                   "ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    assert v == 1
    with pytest.raises(versioned.ConstraintViolation):
        sql(spark, f"UPDATE versioned.`{path}` SET v = -1 WHERE k = 2")
    sql(spark, f"ALTER TABLE versioned.`{path}` DROP CONSTRAINT v_nonneg")
    sql(spark, f"UPDATE versioned.`{path}` SET v = -1 WHERE k = 2")
    assert sql(spark, f"SELECT v FROM versioned.`{path}` WHERE k = 2"
               ).first().v == -1


def test_merge_column_list_set_and_insert(spark, tmp_path):
    """Column-list MERGE shapes (the everyday Delta statement): SET
    col = expr over both aliases, INSERT (cols) VALUES (exprs) with
    NULL backfill for unlisted columns."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import merge_into, sql

    path = str(tmp_path / "tbl")
    sql(spark, f"CREATE TABLE versioned.`{path}` AS "
               "SELECT id AS k, CAST(id * 10 AS BIGINT) AS v, "
               "CAST('old' AS STRING) AS tag FROM range(6)")
    spark.createDataFrame(
        [(2, 100), (4, 200), (9, 900)], "k LONG, delta LONG"
    ).createOrReplaceTempView("chg_cl")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING chg_cl s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = t.v + s.delta, tag = 'upd'
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta * 2)
    """)
    got = {r.k: (r.v, r.tag) for r in
           sql(spark, f"SELECT * FROM versioned.`{path}`").collect()}
    assert got[2] == (120, "upd") and got[4] == (240, "upd")
    assert got[9] == (1800, None)          # unlisted column -> NULL
    assert got[1] == (10, "old")           # untouched row intact
    assert len(got) == 7

    # assigning the merge key is rejected; unknown columns rejected
    with pytest.raises(ValueError):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING chg_cl s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET k = s.k + 1
        """)
    with pytest.raises(ValueError):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` t USING chg_cl s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (nope) VALUES (s.k)
        """)


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE — the full-sync shape:
    target rows absent from the source are removed (optionally under
    a condition over the target row), composed with the other
    clauses."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import merge_into, sql

    path = str(tmp_path / "tbl")
    sql(spark, f"CREATE TABLE versioned.`{path}` AS "
               "SELECT id AS k, CAST(id * 10 AS BIGINT) AS v FROM range(6)")
    spark.createDataFrame(
        [(1, 111), (7, 777)], "k LONG, v LONG"
    ).createOrReplaceTempView("sync_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` t USING sync_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.k >= 3 THEN DELETE
    """)
    got = {r.k: r.v for r in
           sql(spark, f"SELECT * FROM versioned.`{path}`").collect()}
    # 1 updated, 7 inserted, 3/4/5 deleted (k>=3, no source), 0/2 kept
    assert got == {0: 0, 1: 111, 2: 20, 7: 777}


def test_merge_rejects_multi_match_source(spark, tmp_path):
    """Multiple source rows matching ONE target row raise (Delta's
    multiple-matches error) — the COW upsert would otherwise silently
    duplicate the key. Duplicate UNMATCHED keys under insert-only
    stay legal and insert multiple rows (also Delta semantics)."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, n=20), path)
    spark.createDataFrame(
        [(5, "a", False), (5, "b", False), (9000, "new", False)],
        "k INT, v STRING, del BOOLEAN",
    ).createOrReplaceTempView("dup_src")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` AS t USING dup_src AS s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` AS t USING dup_src AS s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v
        """)
    # duplicates confined to UNMATCHED keys: legal, both rows insert
    spark.createDataFrame(
        [(8000, "x"), (8000, "y")], "k INT, v STRING",
    ).createOrReplaceTempView("dup_unmatched")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` AS t USING dup_unmatched AS s
        ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert versioned.read_version(spark, path).filter("k = 8000").count() == 2


def test_merge_cdc_tombstone_plus_insert_same_key_is_legal(spark, tmp_path):
    """Code-review regression: the multi-match guard must be
    CLAUSE-AWARE — a CDC source carrying a tombstone AND a fresh row
    for the same matched key is legal when only the tombstone fires a
    matched clause (delete-only merge with insert for new keys)."""
    path = str(tmp_path / "tbl")
    versioned.write_version(_base(spark, n=20), path)
    spark.createDataFrame(
        [(5, "dead", True), (5, "ignored", False), (900, "new", False)],
        "k INT, v STRING, del BOOLEAN",
    ).createOrReplaceTempView("cdc_src")
    merge_into(spark, f"""
        MERGE INTO versioned.`{path}` AS t USING cdc_src AS s
        ON t.k = s.k
        WHEN MATCHED AND s.del THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: r.v for r in versioned.read_version(spark, path).collect()}
    assert 5 not in got and got[900] == "new"
    # but TWO tombstones for one matched key still raise
    spark.createDataFrame(
        [(6, "d1", True), (6, "d2", True)],
        "k INT, v STRING, del BOOLEAN",
    ).createOrReplaceTempView("cdc_dup")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(spark, f"""
            MERGE INTO versioned.`{path}` AS t USING cdc_dup AS s
            ON t.k = s.k
            WHEN MATCHED AND s.del THEN DELETE
        """)


def test_insert_replace_where_sql_route(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import merge_sql
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    spark.dataSource.register(VersionedDataSource)
    """INSERT INTO versioned.`/p` REPLACE WHERE <pred> <select> routes
    to versioned.replace_where: one atomic commit, region enforced."""
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(90).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id % 3 AS INT) AS day",
            "CONCAT('v', id) AS v"),
        path, partition_by=["day"])
    st = merge_sql.sql(
        spark,
        f"INSERT INTO versioned.`{path}` REPLACE WHERE day = 2 "
        "SELECT CAST(id AS INT) AS k, CAST(2 AS INT) AS day, "
        "CONCAT('r', id) AS v FROM range(5)")
    assert st["version"] == 1 and st["files_dropped"] >= 1
    got = versioned.read_version(spark, path)
    assert got.filter("day = 2").count() == 5
    assert got.filter("day <> 2").count() == 60
    # out-of-region SELECT refuses through the SQL route too
    import pytest as _pytest
    with _pytest.raises(ValueError, match="REPLACE WHERE"):
        merge_sql.sql(
            spark,
            f"INSERT INTO versioned.`{path}` REPLACE WHERE day = 2 "
            "SELECT CAST(1 AS INT) AS k, CAST(0 AS INT) AS day, "
            "'x' AS v")
    # plain INSERT INTO still appends
    merge_sql.sql(
        spark,
        f"INSERT INTO versioned.`{path}` "
        "SELECT CAST(900 AS INT) AS k, CAST(0 AS INT) AS day, "
        "'a' AS v")
    assert versioned.read_version(spark, path).count() == 66


def test_show_tblproperties_and_restore_timestamp(spark, tmp_path):
    """SHOW TBLPROPERTIES returns the property map as (key, value)
    rows; RESTORE TABLE ... TO TIMESTAMP AS OF resolves through the
    commit-time index (Delta's spelling)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql as vsql

    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(5).selectExpr("CAST(id AS INT) AS k"), path)
    assert vsql(spark, f"SHOW TBLPROPERTIES versioned.`{path}`") \
        .collect() == []
    vsql(spark, f"ALTER TABLE versioned.`{path}` "
                "SET TBLPROPERTIES ('cdf.enabled' = 'true')")
    rows = vsql(spark, f"SHOW TBLPROPERTIES versioned.`{path}`").collect()
    assert [(r.key, r.value) for r in rows] == [("cdf.enabled", "true")]

    # advance, then restore to the v0 commit instant by timestamp
    import datetime
    t0 = versioned._commit_ts(path, 0)
    versioned.write_version(
        spark.range(100, 103).selectExpr("CAST(id AS INT) AS k"), path)
    # nudge past v0's instant: isoformat truncates sub-microsecond
    ts = datetime.datetime.fromtimestamp(t0 + 0.01).isoformat()
    vsql(spark, f"RESTORE TABLE versioned.`{path}` "
                f"TO TIMESTAMP AS OF '{ts}'")
    assert versioned.read_version(spark, path).count() == 5


def test_insert_into_enforces_check_constraints(spark, tmp_path):
    """SQL INSERT INTO takes the library insert path: a CHECK
    constraint rejects a violating row and nothing commits, a valid
    row appends, and a SELECT whose schema does not fit the table
    fails with the Data Source writer's message."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.merge_sql import sql
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)
    path = str(tmp_path / "t")
    versioned.write_version(
        spark.range(3).selectExpr("CAST(id AS INT) AS k"), path)
    versioned.add_constraint(spark, path, "k_pos", "k >= 0")
    with pytest.raises(versioned.ConstraintViolation, match="k_pos"):
        versioned.write_version(
            spark.range(1).selectExpr("CAST(-5 AS INT) AS k"), path)
    n = len(versioned.versions(path))
    with pytest.raises(versioned.ConstraintViolation, match="k_pos"):
        sql(spark, f"INSERT INTO versioned.`{path}` SELECT -7 AS k")
    assert len(versioned.versions(path)) == n
    sql(spark, f"INSERT INTO versioned.`{path}` SELECT 7 AS k")
    assert sorted(r.k for r in versioned.read_version(spark, path)
                  .collect()) == [0, 1, 2, 7]
    with pytest.raises(ValueError, match="append schema does not match"):
        sql(spark, f"INSERT INTO versioned.`{path}` SELECT 'x' AS k")
