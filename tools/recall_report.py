"""Generate RECALL.md: measured recall@k of every ANN/quantized search
operator against its exact ground truth, at a given SF.

Ground truths (computed in DuckDB on the same parquet):
- cosine family (emb_lsh_ann, emb_ivf_ann, emb_kmeans_ivf): exact
  cosine top-k per query (emb_cosine_topk's own oracle).
- L2/ADC family (emb_pq_adc, emb_ivfpq_adc): exact L2 top-k per query.

Run: python tools/recall_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _topk_sets(rows) -> dict:
    out: dict = {}
    for q, c in rows:
        out.setdefault(q, set()).add(c)
    return out


def main() -> None:
    import duckdb

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import similarity as S

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("recall-report")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    exact_cos = _topk_sets(con.execute(f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {S.N_QUERIES}),
        c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= {S.N_QUERIES}),
        d AS (SELECT q_id, c_id,
                     list_sum(list_transform(range(1, len(qe) + 1),
                        i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * x)))
                        * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * x)))) AS sim
              FROM q CROSS JOIN c)
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
            FROM d) WHERE rk <= {S.TOP_K}
    """).fetchall())
    exact_l2 = _topk_sets(con.execute(f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {S.N_QUERIES}),
        c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= {S.N_QUERIES}),
        d AS (SELECT q_id, c_id,
                     list_sum(list_transform(range(1, len(qe) + 1),
                        i -> (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                           * (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))) AS l2
              FROM q CROSS JOIN c)
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY l2, c_id) AS rk
            FROM d) WHERE rk <= {S.TOP_K}
    """).fetchall())

    # (operator, truth, metric, k_returned) — lsh/ivf return top-3, the
    # ADC ops top-5; max attainable recall vs the top-5 truth is k/5.
    ops = [
        ("emb_lsh_ann", exact_cos, "cosine", 3),
        ("emb_ivf_ann", exact_cos, "cosine", 3),
        ("emb_kmeans_ivf", exact_cos, "cosine", 3),
        ("emb_pq_adc", exact_l2, "L2", 5),
        ("emb_ivfpq_adc", exact_l2, "L2", 5),
        # binary quantization: top-5 by Hamming over sign bits, and the
        # two-stage Hamming-20-shortlist → exact-cosine rerank
        ("emb_bq_hamming", exact_cos, "cosine", 5),
        ("emb_bq_rerank", exact_cos, "cosine", 5),
    ]
    lines = [
        "# ANN recall report (generated by tools/recall_report.py)\n",
        f"Recall of each approximate search operator's top-k against the exact",
        f"ground truth of its metric, at `{sf_dir}` "
        f"({S.N_QUERIES} queries; candidates found/expected counted over all queries).",
        "Uniform-random embeddings are the hardest case for every method —",
        "real (clustered) embeddings score far higher at the same settings.\n",
        "| operator | metric | returned k | hits | expected (top-5) | recall | max attainable |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for name, truth, metric, k in ops:
        got = {}
        for r in getattr(S, name)(spark, sf_dir).collect():
            got.setdefault(r["q_id"], set()).add(r["c_id"])
        hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        expected = sum(len(truth[q]) for q in truth)
        lines.append(
            f"| {name} | {metric} | {k} | {hits} | {expected} "
            f"| {hits / expected:.2f} | {min(k / 5, 1):.2f} |"
        )
    # ---- range search: LSH-pruned recall vs the exact threshold ----
    exact_rng = {(r["q_id"], r["c_id"])
                 for r in S.emb_range_search(spark, sf_dir).collect()}
    lsh_rng = {(r["q_id"], r["c_id"])
               for r in S.emb_lsh_range(spark, sf_dir).collect()}
    lines += [
        "\n## Range search (threshold τ = "
        f"{S.RANGE_TAU}, 2-bit multi-probe LSH)\n",
        "emb_lsh_range prunes to the probed buckets then applies the same",
        "exact-sim threshold, so its precision vs emb_range_search is 1.0 by",
        "construction; what the buckets cost is RECALL — pairs whose vectors",
        "straddle more than two hyperplanes are never scored.\n",
        "| operator | pairs ≥ τ | of exact | recall | precision |",
        "| --- | --- | --- | --- | --- |",
        f"| emb_range_search (exact) | {len(exact_rng)} | {len(exact_rng)} | 1.00 | 1.00 |",
        f"| emb_lsh_range | {len(lsh_rng)} | {len(lsh_rng & exact_rng)} "
        f"| {len(lsh_rng & exact_rng) / max(len(exact_rng), 1):.2f} "
        f"| {1.0 if lsh_rng <= exact_rng else len(lsh_rng & exact_rng) / len(lsh_rng):.2f} |",
    ]

    # ---- fingerprint width study: collision behavior at 16 vs 64 ----
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators import dedup as D

    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )

    def _one(sql: str):
        return con.execute(sql).fetchone()

    # SimHash: full-fingerprint collisions between docs with DIFFERENT
    # text (random collisions — the failure mode narrow widths hit).
    sh16 = _one(f"""
        WITH sh AS ({D.ORACLES['doc_simhash']})
        SELECT count(*) FROM sh a JOIN sh b
          ON a.simhash = b.simhash AND a.doc_id < b.doc_id
        JOIN documents da ON da.doc_id = a.doc_id
        JOIN documents db ON db.doc_id = b.doc_id
        WHERE da.text <> db.text
    """)[0]
    sh64 = _one(f"""
        WITH sh AS ({D.ORACLES['doc_simhash64']})
        SELECT count(*) FROM sh a JOIN sh b
          ON a.simhash_hi = b.simhash_hi AND a.simhash_lo = b.simhash_lo
         AND a.doc_id < b.doc_id
        JOIN documents da ON da.doc_id = a.doc_id
        JOIN documents db ON db.doc_id = b.doc_id
        WHERE da.text <> db.text
    """)[0]
    # MinHash/LSH: candidate volume and how many candidates survive the
    # 0.5-Jaccard estimate (precision of the band join).
    mh16 = _one(f"""
        WITH p AS ({D.ORACLES['doc_minhash_pairs']})
        SELECT count(*), sum(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END) FROM p
    """)
    mh64 = _one(f"""
        WITH p AS ({D.ORACLES['doc_minhash64_pairs']})
        SELECT count(*), sum(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END) FROM p
    """)
    # ---- PQ codebook training: seeded vs sample-trained distortion ----
    seeded = [float(r["distortion"])
              for r in S.emb_pq4_encode(spark, sf_dir).collect()]
    trained_rows = S.emb_pq_trained(spark, sf_dir).collect()
    per_vec: dict = {}
    for r in trained_rows:
        # dist_b moved to a 1e6 BIGINT grid in r4 — rescale back to the
        # unit scale emb_pq4_encode's distortion column reports
        per_vec[r["vec_id"]] = per_vec.get(r["vec_id"], 0.0) + r["dist_b"] / 1e6
    trained = list(per_vec.values())
    lines += [
        "\n## PQ codebook training\n",
        "Mean per-vector quantization distortion (L2², unit scale):",
        "seed-vector teaching codebook (emb_pq4_encode, 4 sub-spaces ×",
        "16 dims, K=16) vs the production-width sample-trained codebook",
        "(emb_pq_trained, 8 sub-spaces × 8 dims, K=64 after one Lloyd",
        "round) — the r6 widening compounds finer sub-spaces AND a",
        "trained, 4×-larger codebook.\n",
        "| codebook | mean distortion |",
        "| --- | --- |",
        f"| seeded 4×16 K=16 (emb_pq4_encode) | {sum(seeded) / len(seeded):.4f} |",
        f"| trained 8×8 K=64 (emb_pq_trained) | {sum(trained) / len(trained):.4f} |",
    ]

    lines += [
        "\n## Fingerprint widths (16 vs 64)\n",
        "SimHash collisions count full-fingerprint matches between docs with",
        "different text (pure hash collisions). MinHash precision = candidates",
        "surviving the 0.5 est-Jaccard cut / candidates emitted by the band join.\n",
        "| fingerprint | width | colliding non-dup pairs | candidates | ≥0.5 jaccard | precision |",
        "| --- | --- | --- | --- | --- | --- |",
        f"| doc_simhash | 16-bit | {sh16} | - | - | - |",
        f"| doc_simhash64 | 64-bit | {sh64} | - | - | - |",
        f"| doc_minhash_pairs | 16 perms (4×4) | - | {mh16[0]} | {mh16[1]} "
        f"| {(mh16[1] / mh16[0]) if mh16[0] else 1:.2f} |",
        f"| doc_minhash64_pairs | 64 perms (8×8) | - | {mh64[0]} | {mh64[1]} "
        f"| {(mh64[1] / mh64[0]) if mh64[0] else 1:.2f} |",
    ]
    # ---- SemDeDup blocking recall: near-twin pairs captured inside
    # clusters vs ALL near-twin pairs in the corpus ----
    sd = {r["vec_id"]: r["cluster"]
          for r in S.emb_semdedup(spark, sf_dir).collect()}
    all_pairs = con.execute(f"""
        WITH q AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   CAST(SUM(xa * xb) AS DOUBLE)
                   / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
                      * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS sim
            FROM (SELECT vec_id,
                         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                              AS BIGINT) AS xa,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings) a
            JOIN (SELECT vec_id,
                         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                              AS BIGINT) AS xb,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings) b
              ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY a.vec_id, b.vec_id
        )
        SELECT a_id, b_id FROM q WHERE sim >= {S.SEMDEDUP_THRESHOLD}
    """).fetchall()
    within = [1 for a, b in all_pairs
              if a in sd and b in sd and sd[a] == sd[b]]
    lines += [
        "\n## SemDeDup blocking recall\n",
        "emb_semdedup only compares vectors INSIDE a coarse cluster, so a",
        "near-twin pair split across two clusters is never seen — the price",
        "of Σ cluster² candidate volume. Recall here = near-twin pairs",
        f"(cosine ≥ {S.SEMDEDUP_THRESHOLD}) whose two vectors share a cluster,",
        "over ALL such pairs (brute force). Uniform-random vectors are the",
        "worst case; real clustered embeddings co-locate their twins far",
        "more often.\n",
        "| near-twin pairs (exact) | captured in-cluster | blocking recall |",
        "| --- | --- | --- |",
        f"| {len(all_pairs)} | {sum(within)} "
        f"| {sum(within) / max(len(all_pairs), 1):.2f} |",
    ]

    out = "\n".join(lines) + "\n"
    open(os.path.join(REPO, "RECALL.md"), "w").write(out)
    print(out)


if __name__ == "__main__":
    main()
