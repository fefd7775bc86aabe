"""Salted join / two-phase agg must be result-identical to the plain
formulations — salting is a physical rewrite, never a semantic one."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.skew import (
    salted_join,
    two_phase_agg,
    with_salt,
)

SF_DIR = "/root/testdata/sf0.001"


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_with_salt_deterministic_and_bounded(spark):
    df = spark.range(1000)
    s1 = with_salt(df, 8).collect()
    s2 = with_salt(df, 8).collect()
    assert s1 == s2
    vals = {r["__salt"] for r in s1}
    assert vals <= set(range(8)) and len(vals) > 1


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select("p_partkey", "p_brand")
    plain = li.join(p.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")
    salted = salted_join(
        li, p.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", n_salts=4
    )
    assert _sorted(plain.collect()) == _sorted(salted.select(*plain.columns).collect())


def test_two_phase_agg_matches_plain_agg(spark):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table

    ev = table(spark, SF_DIR, "events")
    plain = ev.groupBy("event_type").agg(
        F.sum("value").alias("total"),
        F.count("value").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    two = two_phase_agg(
        ev,
        ["event_type"],
        {"total": "sum(value)", "n": "count(value)", "lo": "min(value)", "hi": "max(value)"},
        n_salts=8,
    )
    got = {r["event_type"]: r for r in two.collect()}
    for r in plain.collect():
        g = got[r["event_type"]]
        assert (g["n"], g["lo"], g["hi"]) == (r["n"], r["lo"], r["hi"])
        assert abs(g["total"] - r["total"]) < 1e-6


def test_band_pairs_salted_identical_on_stuffed_bucket(spark):
    """The MinHash band join's hot-bucket salt is a physical rewrite:
    on a corpus with one STUFFED band bucket (300 docs sharing a band
    hash, far past the test threshold) plus scattered small buckets,
    the salted pair set must equal the plain join's exactly."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.dedup import _band_pairs

    bands = spark.range(0, 400).selectExpr(
        "id AS doc_id",
        "CAST(0 AS INT) AS band_idx",
        # docs 0..299 share one hot bucket; 300+ spread over tiny ones
        "CASE WHEN id < 300 THEN 'hot' ELSE concat('b', CAST(id % 350 AS STRING)) END AS band_hash",
    )
    plain = _sorted(_band_pairs(bands).collect())
    salted = _sorted(_band_pairs(bands, n_salts=8, hot=100).collect())
    assert salted == plain
    # the stuffed bucket alone contributes C(300,2) pairs
    assert len(plain) >= 300 * 299 // 2


def test_minhash_pairs_salted_identical_on_corpus(spark):
    """End-to-end: doc_minhash_pairs with the salt knob on returns the
    identical scored pair set on the real test corpus."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.dedup import doc_minhash_pairs

    plain_df = doc_minhash_pairs(spark, SF_DIR)
    # n_salts=4 routes through the sized/replicated join (buckets here
    # are all below the hot threshold, so g=1 — the degenerate path
    # must also be exact)
    salted_df = doc_minhash_pairs(spark, SF_DIR, n_salts=4)
    assert salted_df is not plain_df, "the salted pair table was not built"
    assert _sorted(salted_df.collect()) == _sorted(plain_df.collect())


def test_aqe_splits_skewed_join(spark):
    """Pathological key distribution (one key owns half the rows) must
    trigger AQE's skew-join split when broadcast is off — the runtime
    behavior the 100 TB design leans on — and stay result-correct."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # skewed means over 2x the median partition; with 2 shuffle
        # partitions (a 2-core session) the median is their mean, and
        # neither partition can be twice that
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k",
            "id AS v",
        )
        dim = spark.range(0, 1000).selectExpr("id AS k", "id * 10 AS attr")
        joined = fact.join(dim, "k")
        # collect on the join itself so ITS adaptive plan finalizes
        # (count() would execute a different plan object)
        rows = len(joined.collect())
        # key 0: 100k fact rows match dim k=0; odd ids < 1000: 500 more
        assert rows == 100_000 + 500
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not mark the skewed join"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------
# Stuffed-key scale proofs for the r6 heavy window operators: their
# shuffle keys (user_id, window-hash h) are exactly the keys a 100×
# corpus skews — one bot user, one boilerplate sentence. Property: the
# result stays EXACT (vs the DuckDB oracle on the same stuffed corpus)
# and the corpus is still scanned ONCE in the executed plan (the
# single-pass shape that holds at 100×; a skew-triggered replan that
# re-ran the window lineage would show extra scans).


def _assert_matches_oracle(sdf, key: str, view_dir: str):
    import __spark_entry__ as entrymod
    from tools.harness import compare, oracle_db

    with oracle_db(view_dir) as con:
        why = compare(con, key, entrymod.oracle_sql()[key], sdf.columns,
                      sdf.collect())
    assert why is None, why


def _scan_count(sdf, fragment: str) -> int:
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    return plan.count(fragment)


def _stuffed_dir(tmp_path, table_name: str, extra_select: str):
    """A tmp sf-dir whose ``table_name`` is the base sf0.001 table plus
    the stuffed rows (built in DuckDB so the parquet physical types —
    including events' TIMESTAMP_NS — stay identical to the base file);
    every other table symlinks to the base files."""
    import os

    import duckdb

    d = tmp_path / "sfstuffed"
    d.mkdir()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        if t != table_name:
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))
    duckdb.connect().execute(f"""
        COPY (
            SELECT * FROM '{SF_DIR}/{table_name}.parquet'
            UNION ALL BY NAME
            {extra_select}
        ) TO '{d}/{table_name}.parquet' (FORMAT parquet)
    """)
    return str(d)


def test_markov_attribution_exact_under_stuffed_user(spark, tmp_path):
    """ev_attribution_markov with ONE user owning 10^4 events (the bot
    that a 100× event log always contains): the per-user window shuffle
    concentrates on one key, but the fit stays exact vs the oracle and
    the corpus scans once."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.events import (
        ev_attribution_markov,
    )

    hot = """
        SELECT 5000000 + r AS event_id,
               TIMESTAMP '2024-01-01' + to_seconds(r) AS ts,
               CAST(1 AS BIGINT) AS user_id,
               ['page_view','click','search','add_to_cart',
                'page_view','click','checkout'][CAST(r % 7 AS INT) + 1]
                   AS event_type,
               CAST(r % 13 AS DOUBLE) AS value,
               '{}' AS props
        FROM range(10000) t(r)
    """
    d = _stuffed_dir(tmp_path, "events", hot)
    out = ev_attribution_markov(spark, d)
    assert _scan_count(out, "Scan parquet") <= 1  # single corpus pass
    _assert_matches_oracle(out, "ev_attribution_markov", d)


def test_substr_dup_exact_under_stuffed_sentence(spark, tmp_path):
    """doc_substr_dup with ONE boilerplate sentence shared by 10^4 docs
    (the cookie banner of a 100× crawl): the h-shuffle concentrates on
    one window hash, but per-doc duplication stays exact vs the oracle
    on the same corpus, still in one h-shuffle / one scan."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.dedup import (
        doc_substr_dup,
    )

    boiler = " ".join(f"boiler{i}" for i in range(8))  # SUBSTR_W tokens
    # 8 unique lead tokens + the shared 8-token boilerplate tail:
    # every doc contributes the SAME tail window hash
    hot = f"""
        SELECT 900000 + r AS doc_id,
               concat_ws(' ', 'u' || r, 'v' || r, 'w' || r, 'x' || r,
                         'y' || r, 'z' || r, 'q' || r, 'r' || r,
                         '{boiler}') AS text,
               'en' AS lang, 'stuffed' AS source,
               CAST(100 AS BIGINT) AS n_chars
        FROM range(10000) t(r)
    """
    d = _stuffed_dir(tmp_path, "documents", hot)
    out = doc_substr_dup(spark, d)
    assert _scan_count(out, "Scan parquet") <= 1
    # every stuffed doc must report its boilerplate window duplicated
    dup = {r.doc_id: r.n_dup_windows for r in out.collect()
           if r.doc_id >= 900000}
    assert len(dup) == 10_000 and all(v >= 1 for v in dup.values())
    _assert_matches_oracle(out, "doc_substr_dup", d)
