"""Per-suite invariants for the dedup operators (SURVEY §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import dedup as D
from tests.conftest import SF_SMALL


def test_exact_dedup_conserves_docs(spark):
    n_docs = table(spark, SF_SMALL, "documents").count()
    agg = D.doc_exact_dedup(spark, SF_SMALL).agg(
        F.sum("n_copies").alias("total"), F.count(F.lit(1)).alias("groups")
    ).first()
    assert agg["total"] == n_docs
    assert agg["groups"] <= n_docs


def test_minhash_est_jaccard_in_unit_interval(spark):
    out = D.doc_minhash_pairs(spark, SF_SMALL)
    assert out.filter((F.col("est_jaccard") < 0) | (F.col("est_jaccard") > 1)).count() == 0
    assert out.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_minhash64_is_subset_quality(spark):
    """8x8 banding demands ~0.77 Jaccard — every 64-perm candidate pair
    should also estimate high similarity (precision, not recall)."""
    wide = D.doc_minhash64_pairs(spark, SF_SMALL)
    assert wide.filter(F.col("est_jaccard") < 0.5).count() == 0


def test_simhash64_halves_are_32bit(spark):
    out = D.doc_simhash64(spark, SF_SMALL)
    bad = out.filter(
        (F.col("simhash_hi") < 0) | (F.col("simhash_hi") >= 2**32)
        | (F.col("simhash_lo") < 0) | (F.col("simhash_lo") >= 2**32)
    ).count()
    assert bad == 0


def test_cluster_ids_are_component_minimum(spark):
    cc = D.doc_dedup_clusters(spark, SF_SMALL)
    assert cc.filter(F.col("cluster_id") > F.col("doc_id")).count() == 0


def test_dedup_corpus_plus_dropped_equals_docs(spark):
    n_docs = table(spark, SF_SMALL, "documents").count()
    kept = D.doc_dedup_corpus(spark, SF_SMALL).count()
    dropped = (
        D.doc_dedup_clusters(spark, SF_SMALL)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .count()
    )
    assert kept + dropped == n_docs


# ------------------------------------------------- df-cap (hot shingles)
def _hot_shingle_dir(spark, tmp_path):
    """A corpus with a stuffed shingle: 300 docs share one boilerplate
    sentence (every boilerplate 3-gram has df=300 > NGRAM_DF_CAP), each
    doc otherwise unique; plus one genuine near-dup pair whose shared
    shingles are rare."""
    boiler = "all rights reserved by the example corporation of example city"
    rows = []
    for i in range(300):
        text = f"{boiler} unique token{i}a token{i}b token{i}c token{i}d"
        rows.append((i, text, "en", "web", len(text)))
    # Near-dup pair 1000/1001: same rare 12-word body, one-word tail
    # diff, same length (tails 'endx'/'endy') -> |n_chars| diff 0 <= 10.
    body = "quick zebra vaults over nine lazy marmots while rain falls softly"
    rows.append((1000, body + " endx", "en", "web", len(body) + 5))
    rows.append((1001, body + " endy", "en", "web", len(body) + 5))
    d = str(tmp_path / "hotcorpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def test_ngram_df_cap_bounds_join_volume(spark, tmp_path):
    """The postings feeding the self-join must never contain a shingle
    with df > NGRAM_DF_CAP: one hot shingle shared by k docs would emit
    k^2 join rows (the quadratic risk the cap exists to kill)."""
    d = _hot_shingle_dir(spark, tmp_path)
    docs = table(spark, d, "documents").withColumn("ws", F.split("text", " "))
    post = D._ngram_postings(docs)
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    stats = dfreq.agg(
        F.max("df").alias("max_df"),
        F.sum(F.col("df") * F.col("df")).alias("join_rows"),
        F.sum("df").alias("postings"),
    ).first()
    assert stats["max_df"] <= D.NGRAM_DF_CAP
    # Uncapped, the boilerplate shingles alone contribute >= 9 * 300^2
    # join rows; capped, total join volume is bounded by CAP * postings.
    assert stats["join_rows"] <= D.NGRAM_DF_CAP * stats["postings"]
    assert stats["join_rows"] < 9 * 300 * 300


def test_ngram_df_cap_keeps_true_pairs_and_matches_oracle(spark, tmp_path):
    """On the stuffed corpus the operator still finds the genuine
    near-dup pair, emits no boilerplate-driven pairs, and matches the
    df-cap-mirrored DuckDB oracle row-for-row."""
    from tools.harness import compare, oracle_db

    d = _hot_shingle_dir(spark, tmp_path)
    sdf = D.doc_ngram_jaccard(spark, d)
    srows = [tuple(r) for r in sdf.collect()]
    assert (1000, 1001) in {(a, b) for a, b, _ in srows}
    assert all(a >= 1000 for a, _, _ in srows)  # no boilerplate pairs

    with oracle_db(d, ("documents",)) as con:
        why = compare(con, "doc_ngram_jaccard", D.ORACLES["doc_ngram_jaccard"],
                      sdf.columns, srows)
    assert why is None, why


def test_incr_dedup_recurring_cost_is_corpus_free(spark):
    """r11 verdict item 1: the incremental dedup entries read the
    COMMITTED index (versioned tables, v0 corpus build + v1 new-batch
    fast-append) — their recurring plans scan documents.parquet exactly
    ONCE (the new batch's doc_id/source rows, filter pushed); corpus
    hashes and band keys come from the index, so the nightly cost is
    O(new batch · bands), corpus-text-free."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    hash_path, band_path = D._dedup_index_paths(spark, SF_SMALL)
    for p in (hash_path, band_path):
        # real versioned tables: v0 corpus build, v1 the fast-append —
        # and the append is load-bearing (batch keys are read back)
        assert len(versioned.versions(p)) == 2
        v0 = versioned.read_version(spark, p, 0).count()
        v1 = versioned.read_version(spark, p, 1).count()
        assert v1 > v0
        assert versioned.read_version(spark, p, 0) \
            .filter("doc_id % 10 >= 8").count() == 0

    for fn, marker in ((D.doc_incr_dedup, "dedup_hashes"),
                       (D.doc_incr_minhash, "dedup_bands")):
        df = fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("documents.parquet") == 1
        assert marker in plan  # corpus side reads the committed index
        assert df.count() > 0


def test_dedup_index_compaction_keeps_answers(spark):
    """The doc-side index maintenance loop (mirror of the IVF
    recluster): nightly fast-appends leave small files on the
    committed band index; optimize_incremental compacts ONLY the
    small-file debt as a new version, and the triage queries are
    answer-identical across the compaction commit (the index is
    content-addressed — layout is free to change)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    hash_path, band_path = D._dedup_index_paths(spark, SF_SMALL)
    before = {
        "dedup": sorted(tuple(r) for r in
                        D.doc_incr_dedup(spark, SF_SMALL).collect()),
        "minhash": sorted(tuple(r) for r in
                          D.doc_incr_minhash(spark, SF_SMALL).collect()),
    }
    for p in (hash_path, band_path):
        n0 = len(versioned.versions(p))
        stats = versioned.optimize_incremental(
            spark, p, min_file_bytes=10**9, target_files=4)
        assert len(versioned.versions(p)) == n0 + 1
        assert stats["files_compacted"] > 0  # the append debt existed
        # net layout shrink (or equal): new files replace the debt
        assert stats["files_total"] <= stats["files_compacted"] \
            + stats["files_shared"]
    after = {
        "dedup": sorted(tuple(r) for r in
                        D.doc_incr_dedup(spark, SF_SMALL).collect()),
        "minhash": sorted(tuple(r) for r in
                          D.doc_incr_minhash(spark, SF_SMALL).collect()),
    }
    assert before == after
