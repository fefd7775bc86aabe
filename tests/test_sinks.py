"""Sink round-trips + plan-shape guarantees (partition pruning on the
partitioned layout, exchange-free join on bucketed tables)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import sinks

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.mark.parametrize("fmt", sinks.FORMATS)
def test_roundtrip_formats(spark, tmp_path, docs, fmt):
    path = str(tmp_path / f"rt_{fmt}")
    sub = docs.select("doc_id", "lang", "n_chars")
    sub.write.mode("overwrite").format(fmt).option("header", "true").save(path)
    back = sinks.read_partitioned(
        spark, path, fmt=fmt, schema="doc_id LONG, lang STRING, n_chars LONG"
    )
    assert back.count() == sub.count()
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in sub.collect()
    )


def test_partitioned_write_prunes(spark, tmp_path, docs):
    path = str(tmp_path / "part_docs")
    sinks.write_partitioned(docs, path, ["lang"])
    back = sinks.read_partitioned(spark, path)
    got = back.filter(F.col("lang") == "de")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: only the lang=de directory is scanned.
    assert got.count() == docs.filter(F.col("lang") == "de").count()
    scan = [ln for ln in plan.split("\n") if "Scan" in ln]
    assert scan and "lang=de" not in plan.split("PartitionFilters")[0]


def test_bucketed_join_no_shuffle(spark, tmp_path, docs):
    # warehouse dir is static config — managed tables land in the
    # session default; dropped (files included) at the end.
    spark.sql("DROP TABLE IF EXISTS t_docs_a")
    spark.sql("DROP TABLE IF EXISTS t_docs_b")
    import shutil
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_docs_a", "t_docs_b"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    other = docs.select("doc_id", F.col("n_chars").alias("len2"))
    sinks.write_bucketed(docs.select("doc_id", "lang"), "t_docs_a", ["doc_id"], 4,
                         sort_cols=["doc_id"])
    sinks.write_bucketed(other, "t_docs_b", ["doc_id"], 4, sort_cols=["doc_id"])
    a = spark.table("t_docs_a")
    b = spark.table("t_docs_b")
    # merge hint: at test size the planner would broadcast (with its own
    # BroadcastExchange); the scale-relevant claim is that a sort-merge
    # join over co-bucketed tables needs NO shuffle exchange.
    joined = a.hint("merge").join(b, "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert joined.count() == docs.count()
    spark.sql("DROP TABLE t_docs_a")
    spark.sql("DROP TABLE t_docs_b")


def test_text_sink(spark, tmp_path, docs):
    path = str(tmp_path / "txt")
    sinks.write_text(docs.select(F.concat_ws("|", "doc_id", "lang").alias("line")),
                     "line", path)
    back = spark.read.text(path)
    assert back.count() == docs.count()


def test_roundtrip_avro(spark, tmp_path, docs):
    if not sinks.avro_available(spark):
        pytest.skip("spark-avro jar not on the classpath")
    path = str(tmp_path / "rt_avro")
    sub = docs.select("doc_id", "lang", "n_chars")
    sub.write.mode("overwrite").format("avro").save(path)
    back = spark.read.format("avro").load(path)
    assert back.count() == sub.count()


def test_schema_evolution_merge(spark, tmp_path):
    """Schema-on-read evolution: later files add a column; mergeSchema
    unifies, old rows surface NULLs — no rewrite of existing data."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id LONG, v STRING, score DOUBLE"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"id", "v", "score"}
    got = {r.id: r.score for r in back.collect()}
    assert got[1] is None and got[2] == 9.5


def test_compact_small_files(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import compact

    path = str(tmp_path / "frag")
    # 64 tiny files
    spark.range(0, 10_000).selectExpr("id", "id * 2 AS v").repartition(64) \
        .write.parquet(path)
    import os
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 32
    n_target = compact(spark, path, target_file_bytes=1 << 30)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after == n_target == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(v)").collect()[0][0] == 10_000 * 9_999


def test_compact_partitioned_only_touches_drifted_dirs(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import (
        compact_partitioned,
        read_partitioned,
    )

    out = str(tmp_path / "part_table")
    df = spark.range(2000).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS k", "id * 2 AS v"
    )
    # Write WITHOUT pre-shuffling so each partition dir gets many files.
    df.repartition(8).write.partitionBy("k").parquet(out)
    import os

    def n_files(d):
        return len([f for f in os.listdir(d)
                    if not f.startswith("_") and not f.startswith(".")])

    assert n_files(os.path.join(out, "k=0")) > 2
    before = spark.read.parquet(out).orderBy("id").collect()
    done = compact_partitioned(spark, out, min_files=2)
    assert set(done) == {"k=0", "k=1"}
    assert all(n == 1 for n in done.values())
    assert n_files(os.path.join(out, "k=0")) == 1
    after = spark.read.parquet(out).orderBy("id").collect()
    assert [r["id"] for r in after] == [r["id"] for r in before]
    # Second pass: nothing drifted, nothing rewritten.
    assert compact_partitioned(spark, out, min_files=2) == {}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a later writer adds a column; mergeSchema reads
    the union with nulls backfilled — the append-only evolution path a
    long-lived table needs (explicit option, since merging footers at
    every read is a planning cost you opt into)."""
    out = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(out)
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    ).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "v", "tag"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[2]["tag"] is None and rows[7]["tag"] == "7"
    # Without mergeSchema the footer actually sampled wins; with an
    # explicit schema the read is still total (missing column -> null).
    explicit = spark.read.schema("id LONG, v LONG, tag STRING").parquet(out)
    assert explicit.count() == 10


def test_write_quarantine_single_scan_split(spark, tmp_path):
    """Failing rows land in bad/ with the violated rule names, passing
    rows in good/; counts come from observe metrics; each side reads
    back partition-pruned."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import (
        read_quarantine,
        write_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (3, 7.0, None), (4, -1.0, None)],
        "id INT, amount DOUBLE, status STRING",
    )
    rules = {
        "amount_nonneg": "amount >= 0",
        "status_present": "status IS NOT NULL",
    }
    path = str(tmp_path / "q")
    counts = write_quarantine(df, rules, path)
    assert counts == {"n_good": 1, "n_bad": 3}
    good = read_quarantine(spark, path, "good")
    assert [r.id for r in good.collect()] == [1]
    assert "_violations" in good.columns  # NULL for good rows, kept for audit
    bad = {r.id: r["_violations"] for r in
           read_quarantine(spark, path, "bad").collect()}
    assert bad[2] == "amount_nonneg"
    assert bad[3] == "status_present"
    assert set(bad[4].split(",")) == {"amount_nonneg", "status_present"}
    # partition pruning: the good-side scan carries a PartitionFilters
    # clause on _bucket (same assertion style as
    # test_partitioned_write_prunes — inputFiles() reflects the
    # pre-pruning file index, so it can't be used here)
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    import pytest as _p
    with _p.raises(ValueError, match="good.*bad|bad.*good"):
        read_quarantine(spark, path, "ugly")


def test_quarantine_null_rule_is_violation_and_reserved_names_rejected(
        spark, tmp_path):
    """A rule evaluating to NULL must quarantine the row (the ~NULL
    trap), and caller columns colliding with bookkeeping names must be
    rejected instead of silently clobbered."""
    import pytest as _p

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import (
        read_quarantine,
        write_quarantine,
    )

    df = spark.createDataFrame([(1, None), (2, 5.0)],
                               "id INT, amount DOUBLE")
    counts = write_quarantine(df, {"amount_nonneg": "amount >= 0"},
                              str(tmp_path / "q"))
    assert counts == {"n_good": 1, "n_bad": 1}
    bad = read_quarantine(spark, str(tmp_path / "q"), "bad").collect()
    assert [r.id for r in bad] == [1]
    assert bad[0]["_violations"] == "amount_nonneg"
    clash = df.withColumnRenamed("amount", "_bucket")
    with _p.raises(ValueError, match="_bucket"):
        write_quarantine(clash, {"r": "id > 0"}, str(tmp_path / "q2"))
    # epoch hardcodes dynamic-partition overwrite; a conflicting mode
    # must be rejected, not silently ignored
    with _p.raises(ValueError, match="incompatible with epoch"):
        write_quarantine(df, {"r": "id > 0"}, str(tmp_path / "q3"),
                         mode="append", epoch=1)


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg-style partition-spec evolution: day-partitioned history
    stays in place when the spec widens to (day, region); the union
    read NULL-fills, and filters still prune — a new-key filter folds
    the old subtree out of the plan entirely."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import (
        read_partitioned_evolving,
        write_partitioned_evolving,
    )

    path = str(tmp_path / "t")
    old = spark.createDataFrame(
        [(1, 10, "x"), (2, 11, "y")], "id INT, day INT, payload STRING"
    )
    assert write_partitioned_evolving(old, path, ["day"]) == 0
    new = spark.createDataFrame(
        [(3, 12, "eu", "z"), (4, 12, "us", "w")],
        "id INT, day INT, region STRING, payload STRING",
    )
    assert write_partitioned_evolving(new, path, ["day", "region"]) == 1
    # appending with the current spec reuses it
    more = spark.createDataFrame(
        [(5, 13, "eu", "q")], "id INT, day INT, region STRING, payload STRING"
    )
    assert write_partitioned_evolving(more, path, ["day", "region"]) == 1

    df = read_partitioned_evolving(spark, path)
    got = {r.id: (r.day, r.region) for r in df.collect()}
    assert got == {1: (10, None), 2: (11, None), 3: (12, "eu"),
                   4: (12, "us"), 5: (13, "eu")}

    # filter on the NEW partition key: the old-spec union branch folds
    # to an empty relation (NULL = 'eu' is constant-false), so spec=0
    # files never enter the plan at all
    eu = df.filter("region = 'eu'")
    assert sorted(r.id for r in eu.collect()) == [3, 5]
    files = eu.inputFiles()
    assert files and all("/spec=1/" in f for f in files)
    # and within spec 1 the predicate reaches PartitionFilters
    plan = eu._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "region" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]

    # filter on the SHARED partition key prunes within both subtrees
    d12 = df.filter("day = 12")
    assert sorted(r.id for r in d12.collect()) == [3, 4]
    plan = d12._jdf.queryExecution().executedPlan().toString()
    parts = plan.split("PartitionFilters")[1:]
    assert len(parts) >= 2  # one pruned scan per spec subtree
    assert all("day" in p.split("]", 1)[0] for p in parts)


def test_concurrent_evolving_writers_keep_every_spec(tmp_path, monkeypatch):
    """Writers racing to register different specs each get their own
    id in ``_spec.json``: a lost entry would make
    read_partitioned_evolving skip that writer's ``spec=N`` subtree.
    Spark-free: only the spec registration runs."""
    import json
    import threading

    monkeypatch.setattr(sinks, "write_partitioned", lambda *a, **k: None)
    path = str(tmp_path / "t")
    n = 16
    barrier = threading.Barrier(n)
    ids: dict[int, int] = {}
    errors: list[BaseException] = []

    def _writer(i: int) -> None:
        try:
            barrier.wait()
            ids[i] = sinks.write_partitioned_evolving(None, path, [f"c{i}"])
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=_writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    with open(tmp_path / "t" / "_spec.json") as fh:
        specs = json.load(fh)
    assert len(specs) == n
    assert sorted(ids.values()) == list(range(n))
    assert all(specs[ids[i]] == [f"c{i}"] for i in range(n))


def test_fixed_width_round_trip(spark, tmp_path):
    """COBOL-layout fixed-width sink + source round-trip: numerics
    right-aligned, strings left-aligned, NULLs as all-spaces."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.fixedwidth import (
        read_fixed_width, write_fixed_width)

    df = spark.createDataFrame(
        [(1, "alpha", 12.5), (22, "b", None), (333, None, -4.25)],
        "k INT, name STRING, amt DOUBLE",
    )
    path = str(tmp_path / "fw")
    write_fixed_width(df, path, [("k", 6), ("name", 8), ("amt", 10)])
    # raw lines are exactly 24 chars, fields at fixed offsets
    lines = [r["value"] for r in spark.read.text(path).collect()]
    assert all(len(ln) == 24 for ln in lines)
    assert any(ln[:6] == "     1" and ln[6:14] == "alpha   " for ln in lines)
    back = read_fixed_width(
        spark, path, [("k", 6, "int"), ("name", 8, "string"),
                      ("amt", 10, "double")]
    )
    got = {tuple(r) for r in back.collect()}
    assert got == {(1, "alpha", 12.5), (22, "b", None), (333, None, -4.25)}


def test_fixed_width_overflow_raises(spark, tmp_path):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.fixedwidth import write_fixed_width

    df = spark.createDataFrame([("toolongvalue",)], "s STRING")
    with pytest.raises(Exception, match="fixed-width overflow"):
        write_fixed_width(df, str(tmp_path / "fw"), [("s", 4)])


def test_xml_round_trip(spark, tmp_path, docs):
    """XML source/sink (built into Spark 4 — no external jar): flat
    round-trip with a pinned schema, plus the reference's NESTED shape
    (players.white.user.name, etl/transform.py:60-75) through nested
    elements and a repeated-element array."""
    path = str(tmp_path / "rt_xml")
    sub = docs.select("doc_id", "lang", "n_chars")
    sinks.write_xml(sub, path)
    back = sinks.read_xml(
        spark, path, schema="doc_id LONG, lang STRING, n_chars LONG"
    )
    assert back.count() == sub.count()
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in sub.collect()
    )

    nested = spark.sql("""
        SELECT id AS game_id,
               named_struct('white', named_struct(
                   'user', named_struct('name', concat('p', id)),
                   'rating', CAST(1500 + id AS INT)
               )) AS players,
               array(concat('e', id), 'e4') AS moves
        FROM range(20)
    """)
    npath = str(tmp_path / "rt_xml_nested")
    sinks.write_xml(nested, npath, row_tag="game", root_tag="games")
    nback = sinks.read_xml(
        spark, npath, row_tag="game",
        schema=("game_id LONG, players STRUCT<white: STRUCT<"
                "user: STRUCT<name: STRING>, rating: INT>>, "
                "moves ARRAY<STRING>"),
    )
    got = {r.game_id: (r.players.white.user.name, r.players.white.rating,
                       list(r.moves))
           for r in nback.collect()}
    assert got[7] == ("p7", 1507, ["e7", "e4"])
    assert len(got) == 20


def test_xml_corrupt_record_routing(spark, tmp_path):
    """Malformed XML rows land in the corrupt-record column instead of
    failing the read — the same PERMISSIVE contract the ND-JSON source
    ships (sources/ndjson.py), on the second wire format."""
    d = tmp_path / "xmlsrc"
    d.mkdir()
    (d / "part.xml").write_text(
        "<rows>"
        "<row><doc_id>1</doc_id><lang>en</lang></row>"
        "<row><doc_id>not-a-number</doc_id><lang>de</lang></row>"
        "<row><doc_id>3</doc_id><lang>fr</lang></row>"
        "</rows>"
    )
    back = sinks.read_xml(
        spark, str(d),
        schema="doc_id LONG, lang STRING, _corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    rows = back.collect()
    good = {r.doc_id: r.lang for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {1: "en", 3: "fr"}
    assert len(bad) == 1 and "not-a-number" in bad[0]._corrupt_record


def test_bucketed_scd2_point_in_time_join_no_shuffle(spark):
    """The 100 TB serving shape for the point-in-time SCD2 lookup
    (r5 verdict #5): dim and fact bucketed+sorted on the customer key,
    so the recurring equi-key + interval-residual join plans with ZERO
    exchange — and returns exactly what the shuffle-join query entry
    returns."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.relational import (
        _scd2_report,
        temporal_scd2_join,
        temporal_scd2_join_bucketed,
    )
    from tests.conftest import SF_SMALL

    import shutil
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("scd2_pit_dim", "scd2_pit_fact"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    joined = temporal_scd2_join_bucketed(spark, SF_SMALL, n_buckets=4)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan

    got = {r.as_of_status: (r.n_lineitems, r.n_orders, str(r.sum_qty),
                            r.max_version)
           for r in _scd2_report(joined).collect()}
    want = {r.as_of_status: (r.n_lineitems, r.n_orders, str(r.sum_qty),
                             r.max_version)
            for r in temporal_scd2_join(spark, SF_SMALL).collect()}
    assert got == want and len(want) >= 2

    for t in ("scd2_pit_dim", "scd2_pit_fact"):
        spark.sql(f"DROP TABLE {t}")
