"""Deduplication for LLM training-data pipelines.

Four operators over ``documents``, in increasing fuzziness:

- exact (content-hash groupBy),
- MinHash signatures + LSH band join (near-dup candidate pairs),
- SimHash fingerprints (bit-vote hash, hamming-bucketable),
- blocked n-gram Jaccard (exact set similarity on candidate pairs).

Scale design (the whole point of MinHash/LSH at 100 TB):
- Pairing is NEVER all-pairs. MinHash candidates come from equality
  joins on band hashes — cost ∝ Σ bucket², bounded by band width.
  Jaccard candidates come from (length-bucket) blocking with the
  emit-two-buckets trick, so near-equal-length docs meet exactly.
- Signatures are one explode + one groupBy(doc_id) — a single shuffle
  of (doc, shingle) pairs; the 16 hash families are computed in one
  pass as 16 aggregate expressions (not 16 passes).
- All hashing is md5-based (functions/hashing.py) so the DuckDB oracle
  reproduces signatures bit-for-bit.

Reference had only whole-file newness tracking (etl/transform.py:24-34);
content-level dedup is the capability a training corpus actually needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.fixtures import scratch_dir, session_memo
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
    SPARK_HASH_SQL,
    STABLE_HASH_SQL,
    stable_hash64,
)

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SIMHASH_BITS = 16

# Production widths: 16-perm/16-bit settings over-collide on a real
# corpus (the r1 verdict's point); the *64 operators run the same
# md5-grid math at 64 permutations / 64 SimHash bits. Collision rates
# at both widths are measured in RECALL.md.
N_HASHES_W = 64
N_BANDS_W = 8
ROWS_PER_BAND_W = N_HASHES_W // N_BANDS_W
SIMHASH64_SEED = 64  # seeded hash family for SimHash bits 32..63

# Word 3-gram shingles, distinct, 1-based positions (identical in both
# engines; Spark uses element_at which is 1-based like DuckDB lists).
# The Spark side projects the word array once (column ``ws``) so the
# split isn't re-evaluated per lambda element.
# zip_with over three slices, not transform+element_at: Catalyst pushes
# inferred explode filters below the projection and inlines the split()
# inside the lambda, so a per-element element_at formulation re-splits
# the text per shingle — O(words²) per doc, a measured ~6× slowdown.
# The slice/zip_with form evaluates each slice once per doc.
_SHINGLES_WS = (
    "array_distinct(CASE WHEN size(ws) >= 3 THEN "
    "zip_with(zip_with(slice(ws, 1, size(ws) - 2), slice(ws, 2, size(ws) - 2), "
    "(x, y) -> concat(x, ' ', y)), slice(ws, 3, size(ws) - 2), "
    "(xy, z) -> concat(xy, ' ', z)) "
    "ELSE CAST(array() AS ARRAY<STRING>) END)"
)
_SHINGLES_DUCK = (
    "list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3 THEN "
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1] "
    "|| ' ' || string_split(text, ' ')[i + 2]) "
    "ELSE [] END)"
)


# ---------------------------------------------------------------- exact
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash text, keep the lowest doc_id per hash group.

    One shuffle on the 60-bit content hash; at 100 TB the shuffle rows
    are (hash, id) pairs, never the document bodies.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(stable_hash64("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -------------------------------------------------------------- minhash
#
# One md5 per shingle; the 16 hash families derive from it by universal
# hashing h_i = ((2i+1)·b + 1000003·i) mod P — 16 integer ops instead of
# 16 digests (the digest dominated the signature pass ~10×).
MH_PRIME = 1_000_000_007


def _family(i: int, base: str) -> str:
    return f"(({2 * i + 1} * {base} + {1000003 * i}) % {MH_PRIME})"


# Signature / pair / cluster tables are session memos
# (fixtures.session_memo, keyed on the session and every argument): the
# minhash-pairs, cluster, and corpus operators all derive from them,
# and a production pipeline materializes the signature table once and
# reuses it. Every memo is BOUNDED: persisted / localCheckpoint'd
# frames (both pin executor block storage) for old keys are released
# FIFO past the cap, so a session that touches many datasets can't pin
# unbounded executor storage.
@session_memo("minhash_signatures")
def _signatures(spark: SparkSession, sf_dir: str,
                n_hashes: int = N_HASHES) -> DataFrame:
    # spread(): the shingle explode + per-shingle md5 is the expensive
    # stage of the signature pass and it runs INSIDE the scan task —
    # a single-row-group file serializes it on one core (guide §2.5).
    # One narrow (doc_id, text) hash repartition fans it out; measured
    # 1.51 s → 0.73 s for the 64-perm signature pass at sf0.1.
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    docs = spread(
        spark, sf_dir, "documents",
        table(spark, sf_dir, "documents").select("doc_id", "text"),
    ).withColumn("ws", F.split("text", " "))
    exploded = docs.select(
        "doc_id", F.explode(F.expr(_SHINGLES_WS)).alias("shingle")
    ).select("doc_id", F.expr(f"{SPARK_HASH_SQL('shingle')} % {MH_PRIME}").alias("bm"))
    mins = [F.expr(f"min({_family(i, 'bm')})").alias(f"mh{i}") for i in range(n_hashes)]
    # Persist: the signatures feed the band explode AND both sides of
    # the candidate join. When the input was spread (local small-file
    # case only), COMPACT the signature table before persisting: the
    # heavy shingle/md5 pass already ran 32-way above, but the cached
    # result is consumed by MANY tiny downstream stages (band_sweep
    # reads it ~12×, dedup_report's audit 19 shuffles) and a
    # 32-partition cache multiplies every one of those stages' task
    # count — measured band_sweep 2.7 s → 9-18 s from exactly that
    # before this compaction. The extra exchange moves the few-MB
    # signature rows once; at production parallelism the gate is
    # false on both sides and the natural partitioning stands.
    sig = exploded.groupBy("doc_id").agg(*mins)
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import needs_spread

    if needs_spread(spark, sf_dir, "documents"):
        sig = sig.repartition(4, F.col("doc_id"))
    return sig.persist()


def _band_hash_expr(b: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    cols = ", ".join(
        f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
    )
    return f"md5(concat_ws(',', '{b}', {cols}))"


# Band-bucket size above which the salted band join spreads a bucket
# over several reducers. Candidate volume is Σ bucket² either way; the
# salt only changes WHERE the quadratic work runs — a bucket of k docs
# produces k²/2 join rows through ONE reducer unsalted, or spread over
# n_salts reducers salted. On a real skewed corpus (boilerplate docs
# sharing a band value) that single reducer is the straggler.
BAND_SALT_HOT = 1024


def _band_pairs(bands: DataFrame, n_salts: int = 1,
                hot: int = BAND_SALT_HOT) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing a band bucket.

    ``n_salts=1`` (default) is the plain equality self-join — one
    shuffle per side on the band key. ``n_salts>1`` enables the
    HOT-BUCKET SALT: bucket sizes are attached with a window count
    (same shuffle key the join needs anyway), buckets larger than
    ``hot`` get group count n_salts (others stay 1), the left side
    takes a DETERMINISTIC per-doc salt in [0, g) — xxhash64, never
    rand(): task retries must re-derive identical salts — and the
    right side replicates each row g ways. Every in-bucket pair meets
    exactly once (on the left doc's salt), so the result set is
    IDENTICAL to the plain join (property-tested, incl. a stuffed
    bucket), but a hot bucket's k² work fans out over n_salts
    reducers instead of serializing one.
    """
    if n_salts <= 1:
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    from pyspark.sql.window import Window

    sized = bands.withColumn(
        "_g",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash"))
            > hot,
            F.lit(n_salts),
        ).otherwise(F.lit(1)).cast("long"),
    )
    a = sized.select(
        "doc_id", "band_idx", "band_hash",
        F.pmod(F.xxhash64("doc_id"), F.col("_g")).alias("_s"),
    )
    b = sized.select(
        F.col("doc_id").alias("_doc_b"), "band_idx", "band_hash",
        F.explode(F.expr("sequence(CAST(0 AS BIGINT), _g - 1)")).alias("_s"),
    )
    return (
        a.join(b, ["band_idx", "band_hash", "_s"])
        .filter(F.col("doc_id") < F.col("_doc_b"))
        .select(F.col("doc_id").alias("doc_a"), F.col("_doc_b").alias("doc_b"))
        .distinct()
    )


@session_memo("minhash_pairs")
def doc_minhash_pairs(spark: SparkSession, sf_dir: str,
                      n_salts: int = 1) -> DataFrame:
    """MinHash/LSH near-duplicate candidate pairs with estimated
    Jaccard (fraction of agreeing signature components).

    16 hash families, 4 bands × 4 rows: pairs with true Jaccard ≥ ~0.9
    are found with probability ~1-(1-0.9⁴)⁴ ≈ 0.95; the band equality
    join replaces the O(n²) pairing entirely. The scored pair table is
    memoized+persisted per (session, sf_dir, n_salts): clusters and the
    dedup report reuse it instead of replaying the band join.
    ``n_salts>1`` turns on the hot-bucket salt (see ``_band_pairs``) —
    the knob to set on a corpus whose band buckets skew.
    """
    sig = _signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.expr(_band_hash_expr(b)).alias("band_hash"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_hash")
    pairs = _band_pairs(bands, n_salts)
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)])
    agree = " + ".join(f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES))
    # persist() = the local analog of materializing the scored pair
    # table (what a 100 TB dedup run does with a parquet write):
    # clusters + report reuse the cached blocks instead of replaying
    # the band join per consumer. persist, not localCheckpoint, so the
    # bounded cache's eviction actually frees the blocks promptly
    # (checkpoint storage is CacheManager-invisible — see
    # functions/caching.py); the lineage here is one join deep, so
    # truncation buys nothing.
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b",
                F.expr(f"({agree}) / CAST({N_HASHES} AS DOUBLE)")
                .alias("est_jaccard"))
        .persist()
    )


# ----------------------------------------------- wide (64-perm) minhash
def doc_minhash64_pairs(spark: SparkSession, sf_dir: str,
                        n_salts: int = 1) -> DataFrame:
    """64-permutation MinHash / LSH pairs — the production width.

    8 bands × 8 rows: the collision threshold moves to ~0.77 Jaccard
    with far sharper precision than the 16-perm setting (a random
    unrelated pair collides in a band with p ≈ j⁸ instead of j⁴), and
    est_jaccard is a 64-sample estimate (σ halves vs 16). Same single
    explode + one groupBy signature pass — the 64 families are still
    derived from ONE md5 per shingle by universal hashing, so the
    wider signature costs 48 extra integer mins, not 48 digests.
    ``n_salts>1`` turns on the hot-bucket salt (see ``_band_pairs``).
    """
    sig = _signatures(spark, sf_dir, n_hashes=N_HASHES_W)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.expr(_band_hash_expr(b, ROWS_PER_BAND_W)).alias("band_hash"),
                )
                for b in range(N_BANDS_W)
            ])
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_hash")
    pairs = _band_pairs(bands, n_salts)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES_W)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES_W)])
    agree = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES_W)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b",
                F.expr(f"({agree}) / CAST({N_HASHES_W} AS DOUBLE)")
                .alias("est_jaccard"))
    )


# -------------------------------------------------------------- simhash
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: each hash bit votes ±1 per token occurrence;
    the fingerprint packs the vote signs. Near-identical docs land at
    small hamming distance (bucket by fingerprint for grouping).
    """
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    docs = spread(spark, sf_dir, "documents",
                  table(spark, sf_dir, "documents").select("doc_id", "text"))
    h = SPARK_HASH_SQL("w")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("h", F.expr(h))
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    pack = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        tok.groupBy("doc_id").agg(*votes).select("doc_id", F.expr(pack).alias("simhash"))
    )


def doc_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash — the production width (a real corpus needs
    ≥64 bits before random fingerprint collisions stop dominating;
    RECALL.md measures the collision rates at both widths).

    Bits 0..31 vote from the base token hash, bits 32..63 from an
    independent seeded family; the fingerprint is emitted as two
    32-bit halves (simhash_hi, simhash_lo) so each half stays inside
    a signed BIGINT identically in Spark and DuckDB. Bucket joins key
    on the (hi, lo) pair. One explode + one groupBy, 64 vote
    aggregates in a single pass — same shape as the 16-bit variant.
    """
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    docs = spread(spark, sf_dir, "documents",
                  table(spark, sf_dir, "documents").select("doc_id", "text"))
    h_lo = SPARK_HASH_SQL("w")
    h_hi = SPARK_HASH_SQL("w", seed=SIMHASH64_SEED)
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", F.expr(h_lo).alias("hl"), F.expr(h_hi).alias("hh"))
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(hl, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"l{j}")
        for j in range(32)
    ] + [
        F.expr(
            f"sum(CASE WHEN (shiftright(hh, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"u{j}")
        for j in range(32)
    ]
    pack_lo = " + ".join(
        f"(CASE WHEN l{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    pack_hi = " + ".join(
        f"(CASE WHEN u{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return (
        tok.groupBy("doc_id")
        .agg(*votes)
        .select(
            "doc_id",
            F.expr(pack_hi).alias("simhash_hi"),
            F.expr(pack_lo).alias("simhash_lo"),
        )
    )


# ------------------------------------------------------- ngram jaccard
#
# Document-frequency cap: a shingle shared by k documents emits k² rows
# in the inverted-index self-join, so one hot shingle (boilerplate, a
# license header) is the only quadratic risk in this operator. Shingles
# with df > NGRAM_DF_CAP carry no dedup signal — a 3-gram present in
# hundreds of documents distinguishes nothing — so they are dropped
# from the postings BEFORE the join, bounding per-shingle join fanout
# at CAP² and total cost at CAP · |postings|. 128 is far above the max
# observed df on the test corpora (9 / 7 / 25 at sf0.001/0.01/0.1), so
# output is unchanged there; the cap is mirrored in the DuckDB oracle
# so capped semantics are themselves oracle-checked.
NGRAM_DF_CAP = 128


def _ngram_postings(docs: DataFrame, cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Df-capped shingle postings: (doc_id, n_chars, sz, s) with every
    shingle of document frequency > ``cap`` removed and ``sz`` = the
    doc's POST-cap shingle count (so Jaccard is computed over the
    capped sets in both engines).

    Two window passes over the postings — partitionBy(s) to attach df,
    partitionBy(doc_id) to recount sz — both plain shuffles with no
    driver collect and no broadcast-size assumption, so the same plan
    runs at any corpus size.
    """
    from pyspark.sql.window import Window

    ex0 = docs.select(
        "doc_id", "n_chars", F.explode(F.expr(_SHINGLES_WS)).alias("s")
    )
    kept = (
        ex0.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .filter(F.col("df") <= cap)
        .drop("df")
    )
    return kept.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


@session_memo("ngram_postings")
def _cached_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared df-capped postings over the spread corpus, persisted once
    per (session, sf_dir) and reused by every entry that joins on
    shingles (Jaccard, containment)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    docs = spread(spark, sf_dir, "documents").withColumn(
        "ws", F.split("text", " "))
    return _ngram_postings(docs).persist()


def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard: pairs within 10 chars of each
    other in length and Jaccard ≥ 0.5, over df-capped shingle sets.

    Inverted-index formulation: explode (doc, shingle), self-join on
    the shingle, and the per-pair intersection size IS the groupBy
    count — no candidate materialization, no per-pair array_intersect.
    Cost ∝ Σ shingle-frequency², bounded by the NGRAM_DF_CAP postings
    filter (see above). The length predicate is applied on the shingle
    join directly — equivalent to width-20 bucket blocking with
    emit-two-buckets, since an interval of length 10 spans at most two
    width-20 buckets.
    """
    # Persist the exploded postings: both join sides read it, and the
    # persist boundary stops Catalyst from pushing null-filters through
    # the Generate and re-evaluating the shingle transform per row (a
    # measured ~10× blowup without it). Memoized so repeated calls
    # reuse one persisted frame instead of pinning a fresh copy each
    # time. At production scale this is the materialized
    # postings/signature table.
    ex = _cached_postings(spark, sf_dir)
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_chars").alias("na"),
        F.col("sz").alias("sa_sz"),
        "s",
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_chars").alias("nb"),
        F.col("sz").alias("sb_sz"),
        "s",
    )
    return (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("na") - F.col("nb")) <= 10)
        )
        .groupBy("doc_a", "doc_b", "sa_sz", "sb_sz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("inter / (sa_sz + sb_sz - inter)").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ------------------------------------------------- dedup clusters (CC)
CLUSTER_MIN_JACCARD = 0.5


@session_memo("cc_labels")
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash candidate graph: every doc
    that shares a band-bucket pair with est_jaccard ≥ 0.5 is clustered;
    cluster_id = min doc_id in the component (the canonical keeper).

    Iterative min-label propagation: each round joins labels across the
    symmetric edge list and keeps the per-node min; converges in
    ≤ graph-diameter rounds. The driver only ever sees ONE scalar per
    round (the changed-label count) — labels themselves never collect.
    ``localCheckpoint`` truncates lineage so round N's plan doesn't
    replay rounds 1..N-1. At 100 TB scale the same loop runs with
    large-star/small-star contraction to bound rounds at O(log n);
    near-dup components are tiny (dup clusters), so diameter is small
    in practice.
    """
    pairs = (
        doc_minhash_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_MIN_JACCARD)
        .select("doc_a", "doc_b")
    )
    # localCheckpoint, not persist: every propagation round re-plans
    # edges' logical tree (persist only short-circuits execution), and
    # that tree embeds the MinHash subtree twice — truncating lineage
    # once here removes a flat per-round Catalyst cost (see
    # doc_pagerank).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    while True:
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "cluster_id")
        new_labels = (
            prop.union(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster_id", "old"), "doc_id"
            )
            .filter(F.col("cluster_id") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels


# ---------------------------------------------- end-to-end dedup corpus
def doc_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: every document except non-canonical
    members of a near-dup component (exact duplicates have identical
    signatures → identical band hashes, so they are always in the same
    component — exact dedup is subsumed).

    One anti-join of the full corpus against the CC labels. This is the
    op a training pipeline actually ships: upstream of tokenization,
    its output is the corpus. At 100 TB the labels table is tiny
    relative to the corpus (only docs with a near-dup edge appear), so
    the anti-join broadcasts.
    """
    docs = table(spark, sf_dir, "documents")
    drop = doc_dedup_clusters(spark, sf_dir).filter(
        F.col("doc_id") != F.col("cluster_id")
    )
    return docs.join(broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


QUERIES = {
    "doc_exact_dedup": doc_exact_dedup,
    "doc_minhash_pairs": doc_minhash_pairs,
    "doc_minhash64_pairs": doc_minhash64_pairs,
    "doc_simhash": doc_simhash,
    "doc_simhash64": doc_simhash64,
    "doc_ngram_jaccard": doc_ngram_jaccard,
    "doc_dedup_clusters": doc_dedup_clusters,
    "doc_dedup_corpus": doc_dedup_corpus,
}


def _duck_sig_cte(n_hashes: int = N_HASHES) -> str:
    mins = ",\n                   ".join(
        f"min({_family(i, 'bm')}) AS mh{i}" for i in range(n_hashes)
    )
    return f"""
        sh AS (
            SELECT doc_id, {STABLE_HASH_SQL('shingle')} % {MH_PRIME} AS bm
            FROM (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents)
        ),
        sig AS (
            SELECT doc_id, {mins}
            FROM sh GROUP BY doc_id
        )"""


def _duck_bands_cte(n_bands: int = N_BANDS,
                    rows_per_band: int = ROWS_PER_BAND) -> str:
    parts = []
    for b in range(n_bands):
        cols = " || ',' || ".join(
            f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band_idx, md5('{b}' || ',' || {cols}) AS band_hash FROM sig"
        )
    return "bands AS (\n            " + "\n            UNION ALL ".join(parts) + "\n        )"


_AGREE = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_SIMHASH_DH = STABLE_HASH_SQL("w")
_VOTES = ",\n                   ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(SIMHASH_BITS)
)
_PACK = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(SIMHASH_BITS)
)

# 64-bit SimHash oracle fragments (two independent 32-bit families).
_VOTES64 = ",\n                   ".join(
    [f"sum(CASE WHEN (hl >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS l{j}"
     for j in range(32)]
    + [f"sum(CASE WHEN (hh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS u{j}"
       for j in range(32)]
)
_PACK64_HI = " + ".join(
    f"(CASE WHEN u{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(32)
)
_PACK64_LO = " + ".join(
    f"(CASE WHEN l{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for j in range(32)
)

# Shared CTE chain: MinHash signatures → band candidates → thresholded
# symmetric edges (used by the cluster, corpus, and pagerank oracles).
_DUCK_EDGE_CTES = f"""{_duck_sig_cte()},
        {_duck_bands_cte()},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        ),
        good AS (
            SELECT doc_a, doc_b FROM cand
            JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
            WHERE ({_AGREE}) / {N_HASHES}.0 >= {CLUSTER_MIN_JACCARD}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM good
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM good
        )"""

# WITH-RECURSIVE extension: transitive reachability over the edges
# (used by the cluster and corpus oracles).
_DUCK_CC_CTES = f"""
        WITH RECURSIVE {_DUCK_EDGE_CTES},
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, root) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
        )"""

_JAC_DUCK = (
    "len(list_intersect(da.sh, db.sh)) / "
    "(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))"
)

ORACLES = {
    "doc_exact_dedup": f"""
        SELECT {STABLE_HASH_SQL('text')} AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY content_hash
    """,
    "doc_minhash_pairs": f"""
        WITH {_duck_sig_cte()},
        {_duck_bands_cte()},
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ({_AGREE}) / CAST({N_HASHES} AS DOUBLE) AS est_jaccard
        FROM pairs
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
    """,
    "doc_minhash64_pairs": f"""
        WITH {_duck_sig_cte(N_HASHES_W)},
        {_duck_bands_cte(N_BANDS_W, ROWS_PER_BAND_W)},
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
                            for i in range(N_HASHES_W))})
                   / CAST({N_HASHES_W} AS DOUBLE)
                   AS est_jaccard
        FROM pairs
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
    """,
    "doc_simhash": f"""
        WITH tok AS (
            SELECT doc_id, {_SIMHASH_DH} AS h
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        ),
        votes AS (
            SELECT doc_id,
                   {_VOTES}
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id, CAST({_PACK} AS BIGINT) AS simhash FROM votes
    """,
    "doc_simhash64": f"""
        WITH tok AS (
            SELECT doc_id,
                   {STABLE_HASH_SQL('w')} AS hl,
                   {STABLE_HASH_SQL('w', seed=SIMHASH64_SEED)} AS hh
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        ),
        votes AS (
            SELECT doc_id,
                   {_VOTES64}
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id,
               CAST({_PACK64_HI} AS BIGINT) AS simhash_hi,
               CAST({_PACK64_LO} AS BIGINT) AS simhash_lo
        FROM votes
    """,
    # Transitive closure via recursive CTE: min reachable id over the
    # symmetric edge list = component min (same graph as the Spark loop).
    "doc_dedup_clusters": f"""
        {_DUCK_CC_CTES}
        SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
    """,
    "doc_dedup_corpus": f"""
        {_DUCK_CC_CTES},
        cc AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id)
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
    """,
    # Df-cap mirrored: rebuild each doc's shingle list from postings
    # with df > NGRAM_DF_CAP removed, so both engines compute Jaccard
    # over the same capped sets.
    "doc_ngram_jaccard": f"""
        WITH d0 AS (
            SELECT doc_id, n_chars, {_SHINGLES_DUCK} AS sh
            FROM documents
        ),
        ex AS (SELECT doc_id, n_chars, unnest(sh) AS s FROM d0),
        kept AS (
            SELECT doc_id, n_chars, s FROM (
                SELECT doc_id, n_chars, s,
                       count(*) OVER (PARTITION BY s) AS df
                FROM ex
            ) WHERE df <= {NGRAM_DF_CAP}
        ),
        d AS (
            SELECT doc_id, any_value(n_chars) AS n_chars, list(s) AS sh,
                   any_value(n_chars) // 20 AS bkt
            FROM kept GROUP BY doc_id
        ),
        blocked AS (
            SELECT doc_id, n_chars, bkt AS jb FROM d
            UNION ALL
            SELECT doc_id, n_chars, bkt + 1 AS jb FROM d
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM blocked a
            JOIN blocked b ON a.jb = b.jb
                          AND a.doc_id < b.doc_id
                          AND abs(a.n_chars - b.n_chars) <= 10
        )
        SELECT doc_a, doc_b, {_JAC_DUCK} AS jaccard
        FROM pairs
        JOIN d da ON doc_a = da.doc_id
        JOIN d db ON doc_b = db.doc_id
        WHERE {_JAC_DUCK} >= 0.5
    """,
}


# ------------------------------------------------------------ pagerank
# PageRank over the MinHash similarity graph — the canonical iterative
# graph op, unrolled to 3 declarative power iterations (damping 0.85).
# Each iteration is one join (ranks → out-edges) + one partial-agg
# shuffle (contributions per dst); the edge list is persisted so the
# MinHash pipeline runs once, and at 100 TB each iteration would
# checkpoint to bound lineage. All rank mass lives on a 1e-12 integer
# grid, re-rounded identically each iteration — sums are exact and the
# fixed-point trajectory is bit-identical in the DuckDB oracle.
PR_ITERS = 3
_PR_TELEPORT = "CAST(ROUND(150000000000.0 / n, 0) AS BIGINT)"


def doc_pagerank(spark: SparkSession, sf_dir: str,
                 checkpoint_every: int = 4) -> DataFrame:
    pairs = (
        doc_minhash_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_MIN_JACCARD)
        .select("doc_a", "doc_b")
    )
    # localCheckpoint (not persist): edges is referenced by deg and by
    # every iteration, and each logical-plan REFERENCE duplicates the
    # whole upstream MinHash subtree — persist short-circuits execution
    # but Catalyst still re-optimizes the duplicated tree on every
    # action, a flat SF-independent driver cost that dominated this
    # operator. Truncating lineage makes each reference a leaf.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n_out"))
    cnt = deg.agg(F.count(F.lit(1)).alias("n"))
    nodes = deg.join(F.broadcast(cnt)).persist()
    ranks = nodes.select(
        F.col("src").alias("doc_id"),
        "n_out",
        "n",
        F.expr("CAST(ROUND(1e12 / n, 0) AS BIGINT)").alias("r"),
    )
    for i in range(PR_ITERS):
        contrib = (
            ranks.join(edges, ranks.doc_id == edges.src)
            .select("dst", F.expr("CAST(ROUND(r / n_out, 0) AS BIGINT)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.src == contrib.dst, "left")
            .select(
                F.col("src").alias("doc_id"),
                "n_out",
                "n",
                F.expr(
                    f"{_PR_TELEPORT} + CAST(ROUND(0.85 * COALESCE(s, 0), 0) AS BIGINT)"
                ).alias("r"),
            )
        )
        # Each rank frame feeds the next iteration exactly ONCE and
        # edges/nodes are persisted, so the un-truncated plan is a
        # LINEAR chain one job executes end-to-end — an eager
        # checkpoint per iteration only adds a fixed job-submission +
        # materialize cost (it doubled this operator's wall clock).
        # Deep iteration counts still truncate periodically so plan
        # depth stays bounded (the 100 TB pattern is the same cadence
        # against durable storage).
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < PR_ITERS:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "doc_id", F.col("r").alias("rank_micro"), F.expr("r / 1e12").alias("rank")
    )


QUERIES["doc_pagerank"] = doc_pagerank


def _pr_iter_cte(prev: str, it: str) -> str:
    return f"""
        {it} AS (
            SELECT d.src AS doc_id, d.n_out, c.n,
                   CAST(ROUND(150000000000.0 / c.n, 0) AS BIGINT)
                   + CAST(ROUND(0.85 * COALESCE(s.s, 0), 0) AS BIGINT) AS r
            FROM deg d CROSS JOIN cnt c
            LEFT JOIN (
                SELECT e.dst, SUM(CAST(ROUND(p.r / p.n_out, 0) AS BIGINT)) AS s
                FROM {prev} p JOIN edges e ON e.src = p.doc_id
                GROUP BY e.dst
            ) s ON s.dst = d.src
        )"""


ORACLES["doc_pagerank"] = f"""
    WITH {_DUCK_EDGE_CTES},
    deg AS (SELECT src, count(*) AS n_out FROM edges GROUP BY src),
    cnt AS (SELECT count(*) AS n FROM deg),
    it0 AS (
        SELECT src AS doc_id, n_out, n,
               CAST(ROUND(1e12 / n, 0) AS BIGINT) AS r
        FROM deg CROSS JOIN cnt
    ),{_pr_iter_cte("it0", "it1")},{_pr_iter_cte("it1", "it2")},{_pr_iter_cte("it2", "it3")}
    SELECT doc_id, r AS rank_micro, r / 1e12 AS rank FROM it3
"""


# ------------------------------------------- simhash hamming pairs
# Multi-probe SimHash near-dup pairs: each document emits its own
# fingerprint plus the 16 one-bit-flip variants (17 probe keys); an
# equality join of probes against exact fingerprints finds EXACTLY the
# pairs at hamming distance ≤ 1 — zero false candidates, unlike band
# blocking, whose candidate volume is Σ bucket² over a small band-value
# space (measured ~35× more join output on this corpus). lang is a
# second blocking key: token-level simhash across languages carries no
# near-dup signal. At 64-bit/hamming≤3 scale the same plan probes
# C(64,≤3) keys or composes with one band level — probe count trades
# against bucket selectivity.
SIMHASH_MAX_HAMMING = 1


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    sh = doc_simhash(spark, sf_dir).join(broadcast(docs), "doc_id").persist()
    flips = ", ".join(f"simhash ^ {1 << j}" for j in range(SIMHASH_BITS))
    probes = sh.select(
        "doc_id",
        "lang",
        F.explode(F.expr(f"array(simhash, {flips})")).alias("probe"),
    )
    a, b = probes.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.simhash"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


QUERIES["doc_simhash_pairs"] = doc_simhash_pairs

ORACLES["doc_simhash_pairs"] = f"""
    WITH tok AS (
        SELECT doc_id, {_SIMHASH_DH} AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    votes AS (
        SELECT doc_id, {_VOTES}
        FROM tok GROUP BY doc_id
    ),
    sh AS (
        SELECT v.doc_id, d.lang, {_PACK} AS simhash
        FROM votes v JOIN documents d ON v.doc_id = d.doc_id
    ),
    probes AS (
        SELECT doc_id, lang,
               unnest([simhash, xor(simhash, 1), xor(simhash, 2), xor(simhash, 4), xor(simhash, 8), xor(simhash, 16), xor(simhash, 32), xor(simhash, 64), xor(simhash, 128), xor(simhash, 256), xor(simhash, 512), xor(simhash, 1024), xor(simhash, 2048), xor(simhash, 4096), xor(simhash, 8192), xor(simhash, 16384), xor(simhash, 32768)]) AS probe
        FROM sh
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM probes a
    JOIN sh b ON a.probe = b.simhash AND a.lang = b.lang
             AND a.doc_id < b.doc_id
"""


# ------------------------------------------------------- dedup report
# One-row end-to-end dedup audit — the summary a curation run publishes
# before shipping a corpus: exact-dup volume, near-dup pair/cluster
# counts, and the final keep rate. Every input is one of the dedup
# operators above (memoized signatures/clusters do the heavy lifting
# once); the report itself is four one-row aggregates broadcast-joined
# together.
def doc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_docs = Σ n_copies over the exact-dedup groups, so the corpus is
    # scanned exactly once (by the hash groupBy); near-dup pairs and CC
    # labels come from the memoized persisted frames — the report adds
    # only three one-row aggregates on top of already-materialized work.
    exact = doc_exact_dedup(spark, sf_dir).agg(
        F.expr("CAST(SUM(n_copies) AS BIGINT)").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.expr("CAST(SUM(n_copies - 1) AS BIGINT)").alias("n_exact_dup_docs"),
    )
    pairs = (
        doc_minhash_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_MIN_JACCARD)
        .agg(F.count(F.lit(1)).alias("n_neardup_pairs"))
    )
    cc = doc_dedup_clusters(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_clustered_docs"),
        F.expr("CAST(count(DISTINCT cluster_id) AS BIGINT)").alias("n_clusters"),
    )
    return (
        exact.join(F.broadcast(pairs))
        .join(F.broadcast(cc))
        .select(
            "n_docs",
            "n_distinct_texts",
            "n_exact_dup_docs",
            "n_neardup_pairs",
            "n_clustered_docs",
            "n_clusters",
            F.expr(
                "CAST(n_docs - (n_clustered_docs - n_clusters) AS BIGINT)"
            ).alias("n_kept"),
            F.expr(
                "(n_docs - (n_clustered_docs - n_clusters)) / n_docs"
            ).alias("keep_rate"),
        )
    )


QUERIES["doc_dedup_report"] = doc_dedup_report

ORACLES["doc_dedup_report"] = f"""
    {_DUCK_CC_CTES},
    cc AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id),
    exact AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               count(*) AS n_distinct_texts,
               CAST(SUM(n - 1) AS BIGINT) AS n_exact_dup_docs
        FROM (SELECT count(*) AS n FROM documents
              GROUP BY {STABLE_HASH_SQL('text')})
    ),
    np AS (
        SELECT count(*) AS n_neardup_pairs FROM good
    ),
    ccagg AS (
        SELECT count(*) AS n_clustered_docs,
               CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
        FROM cc
    )
    SELECT n_docs, n_distinct_texts, n_exact_dup_docs, n_neardup_pairs,
           n_clustered_docs, n_clusters,
           CAST(n_docs - (n_clustered_docs - n_clusters) AS BIGINT) AS n_kept,
           (n_docs - (n_clustered_docs - n_clusters)) / CAST(n_docs AS DOUBLE)
               AS keep_rate
    FROM exact CROSS JOIN np CROSS JOIN ccagg
"""


# ------------------------------------------ LSH candidates + exact verify
#
# The two-stage production dedup: LSH proposes, exact Jaccard disposes.
# Stage 1 is the memoized band join (doc_minhash_pairs) — candidates
# bounded by Σ bucket². Stage 2 computes EXACT shingle Jaccard ONLY on
# those candidates: the per-doc shingle array joins in by doc key (two
# hash joins on a pair table that is tiny relative to the corpus), and
# the set intersection is row-local array math. This is the shape that
# makes exact verification affordable at 100 TB — all-pairs exact
# Jaccard is O(n²); candidate-only is O(|candidates|).
VERIFY_MIN_JACCARD = 0.5


def doc_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn("ws", F.split("text", " "))
    shingled = docs.select("doc_id", F.expr(_SHINGLES_WS).alias("sh"))
    cand = doc_minhash_pairs(spark, sf_dir)
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.expr("size(array_intersect(sha, shb))").alias("_i"),
            F.expr("size(sha)").alias("_na"),
            F.expr("size(shb)").alias("_nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.expr("_i / (_na + _nb - _i)").alias("exact_jaccard"),
            F.expr(f"_i / (_na + _nb - _i) >= {VERIFY_MIN_JACCARD}").alias("confirmed"),
        )
    )


QUERIES["doc_minhash_verified"] = doc_minhash_verified

ORACLES["doc_minhash_verified"] = f"""
    WITH {_duck_sig_cte()},
    {_duck_bands_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT doc_a, doc_b,
               ({_AGREE}) / CAST({N_HASHES} AS DOUBLE) AS est_jaccard
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
    ),
    d AS (SELECT doc_id, {_SHINGLES_DUCK} AS sh FROM documents)
    SELECT doc_a, doc_b, est_jaccard,
           len(list_intersect(da.sh, db.sh))
               / CAST(len(da.sh) + len(db.sh)
                      - len(list_intersect(da.sh, db.sh)) AS DOUBLE)
               AS exact_jaccard,
           len(list_intersect(da.sh, db.sh))
               / CAST(len(da.sh) + len(db.sh)
                      - len(list_intersect(da.sh, db.sh)) AS DOUBLE)
               >= {VERIFY_MIN_JACCARD} AS confirmed
    FROM est
    JOIN d da ON doc_a = da.doc_id
    JOIN d db ON doc_b = db.doc_id
"""


# ---------------------------------------- quality-aware keeper choice
#
# Production curation keeps the BEST document per near-dup cluster,
# not the lowest id: the keeper is the member with the highest quality
# score (doc_quality's composite, on the ppm integer grid the
# importance sampler already proved engine-identical), ties to the
# smaller doc_id. Composes the memoized CC labels with the row-local
# quality pass; the ranking window partitions by cluster_id — clusters
# are tiny (dup groups), so the sort never goes global.
def doc_dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.text import (
        doc_quality,
    )

    cc = doc_dedup_clusters(spark, sf_dir)
    q = doc_quality(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(FLOOR(quality_score * 1000000) AS BIGINT)").alias("q_ppm"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("q_ppm").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        cc.join(q, "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            "q_ppm",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            "n_members",
            F.col("q_ppm").alias("best_q_ppm"),
        )
    )


QUERIES["doc_dedup_best_quality"] = doc_dedup_best_quality


def _best_quality_oracle() -> str:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.text import (
        ORACLES as _TEXT_ORACLES,
    )

    return f"""
        {_DUCK_CC_CTES},
        cc AS (SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id),
        q AS (
            SELECT doc_id,
                   CAST(FLOOR(quality_score * 1000000) AS BIGINT) AS q_ppm
            FROM ({_TEXT_ORACLES["doc_quality"]})
        ),
        r AS (
            SELECT cc.cluster_id, cc.doc_id, q.q_ppm,
                   row_number() OVER (PARTITION BY cc.cluster_id
                                      ORDER BY q.q_ppm DESC, cc.doc_id) AS rn,
                   count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
            FROM cc JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS keep_id, n_members, q_ppm AS best_q_ppm
        FROM r WHERE rn = 1
    """


ORACLES["doc_dedup_best_quality"] = _best_quality_oracle()


# --------------------------------------- cross-source duplication map
# Which sources copy which: for every pair of sources sharing at least
# one byte-identical document, count the shared duplicate groups — the
# provenance readout a curation team uses to pick which feed to drop.
# Per content hash, the DISTINCT source set is aggregated first (groups
# are duplicate-cardinality small), then pairs explode WITHIN each
# group only — candidates ∝ Σ |sources-per-dup|², never corpus².
def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    groups = (
        docs.select(F.md5("text").alias("h"), "source")
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_shared_dups")
    )


QUERIES["doc_source_overlap"] = doc_source_overlap

ORACLES["doc_source_overlap"] = """
    WITH groups AS (
        SELECT md5(text) AS h, list_sort(list(DISTINCT source)) AS srcs
        FROM documents GROUP BY 1
        HAVING len(list(DISTINCT source)) >= 2
    ),
    pairs AS (
        SELECT a.s AS src_a, b.s AS src_b
        FROM (SELECT h, unnest(srcs) AS s FROM groups) a
        JOIN (SELECT h, unnest(srcs) AS s FROM groups) b
          ON a.h = b.h AND a.s < b.s
    )
    SELECT src_a, src_b, COUNT(*) AS n_shared_dups
    FROM pairs GROUP BY 1, 2
"""


# --------------------- triangle counting on the near-dup graph
#
# Classic distributed graph analytic over the MinHash candidate graph:
# per-document triangle participation (how many 3-cliques of mutual
# near-duplicates a doc sits in — dense dup neighborhoods are template
# farms / boilerplate mills, prime curation targets). The scalable
# shape: edges are kept canonically ordered (doc_a < doc_b, as the
# band join emits them), so each triangle (a<b<c) is enumerated
# exactly once by the two-hop chain e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) —
# join fan-out ∝ Σ deg², bounded because the LSH band join already
# bounds degrees; no global adjacency materialization. Edges are
# localCheckpointed once (same lineage-truncation lesson as
# doc_pagerank: three references to the MinHash subtree would
# re-optimize it three times).
def doc_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        doc_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint()
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


QUERIES["doc_dup_triangles"] = doc_dup_triangles

ORACLES["doc_dup_triangles"] = f"""
    WITH edges AS (
        SELECT DISTINCT doc_a, doc_b
        FROM ({ORACLES["doc_minhash_pairs"]}) mh
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM edges e1
        JOIN edges e2 ON e2.doc_a = e1.doc_b
        JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT doc_id, count(*) AS n_triangles
    FROM (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY doc_id
"""


# ------------------------------------- incremental corpus dedup
#
# The production dedup loop is INCREMENTAL: a new crawl batch arrives
# and must be deduped (a) against the already-curated corpus and
# (b) within itself — without ever re-shuffling the existing corpus.
# The existing side (doc_id % 10 < 8 here; the versioned-table latest
# snapshot in production) reduces to its DISTINCT content-hash set
# once; the new batch LEFT-joins that hash set (a semi-join shape:
# only the new batch carries payload through the shuffle) and
# first-occurrence-ranks itself within surviving hashes. Every new doc
# lands in exactly one triage class: dup_corpus (already curated),
# dup_batch (intra-batch duplicate, keep lowest doc_id), or unique.
# The content hash is the engine-portable md5-60 (functions/hashing.py)
# so the oracle reproduces the exact assignment. At 100 TB the corpus
# hash set is TB-scale but hash-partitioned and payload-free — the
# classic bloom-filter pre-pass (ev_bloom_new_users) slots in front of
# the semi-join to cut its shuffle by the true-new fraction.
# ------------- persisted dedup index + O(new-batch) maintenance
#
# The doc-side mirror of the similarity module's committed IVF index
# (emb_incr_ivf): a production curation pipeline hashes/shingles the
# corpus ONCE, commits the artifacts as versioned tables, and every
# nightly crawl batch only (a) semi-joins the committed index and
# (b) fast-appends its own keys — the corpus text is never re-scanned.
# The fixture commits two versioned tables per session:
#   - exact-hash index (doc_id, h)                — doc_incr_dedup
#   - LSH band-key index (band_idx, band_hash, doc_id), PARTITIONED BY
#     band_idx so a band probe is partition-pruned  — doc_incr_minhash
# v0 = the corpus build; v1 = the new batch's fast-append through the
# Data-Source writer (load-bearing: the queries read the batch's keys
# back from the committed table). The recurring queries' only
# documents.parquet scan is the new batch's (doc_id, source) rows for
# attribution — plan-asserted in tests/test_dedup.py.
@session_memo("dedup_index", prebuild=True)
def _dedup_index_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    hash_path = scratch_dir("dedup_hashes_")
    band_path = scratch_dir("dedup_bands_")

    hashes = table(spark, sf_dir, "documents").select(
        "doc_id", stable_hash64(F.col("text")).alias("h"))

    # the band table derives from the persisted signature memo
    bands = _signatures(spark, sf_dir).select(
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(_band_hash_expr(b)).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ])).alias("bd"),
        "doc_id",
    ).select("bd.band_idx", "bd.band_hash", "doc_id")
    # nightly increment: hash/shingle ONLY the new batch and
    # fast-append (v1) — the committed corpus rows untouched.
    # repartition(1) before the DS append: the writer emits one part
    # file per input partition, and the signature pass is now spread
    # over every core — without the compaction the tiny batch would
    # land as 32 near-empty files the recurring index reads then pay
    # for (guide §6 small files). repartition, not coalesce: coalesce
    # would collapse the upstream shingle work back to one task.
    ensure_registered(spark)

    # hash table and band table are INDEPENDENT (separate paths /
    # manifests; each thread runs its own table's write → append in
    # order) — overlap them so the band explode back-fills cores idled
    # by the hash table's commit bookkeeping (guide §2.6, the dv_orders
    # fixture's shape).
    import threading

    def _commit(df0, df1, path, **kw):
        # per-thread: Python-DS saves resolve through the JVM-thread-
        # local active session (see bench.py's stream threads)
        ensure_registered(spark)
        versioned.write_version(df0, path, **kw)
        (df1.repartition(1).write.format("versioned")
         .mode("append").option("path", path).save())

    errs: list[BaseException] = []

    def _run(fn, *a, **kw):
        try:
            fn(*a, **kw)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errs.append(exc)

    threads = [
        threading.Thread(target=_run, args=(
            _commit, hashes.filter("doc_id % 10 < 8"),
            hashes.filter("doc_id % 10 >= 8"), hash_path)),
        threading.Thread(target=_run, args=(
            _commit, bands.filter("doc_id % 10 < 8"),
            bands.filter("doc_id % 10 >= 8"), band_path),
            kwargs={"partition_by": ["band_idx"]}),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return hash_path, band_path


def doc_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup triage of a new batch against the COMMITTED hash
    index: the corpus side is the versioned index's v0 rows (never the
    corpus text), the batch side its fast-appended v1 rows — the only
    documents scan is the new batch's (doc_id, source), so the
    recurring cost is O(new batch) regardless of corpus size."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    hash_path, _ = _dedup_index_paths(spark, sf_dir)
    idx = versioned.read_version(spark, hash_path)
    existing = (
        idx.filter("doc_id % 10 < 8")
        .select("h").distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    new = idx.filter("doc_id % 10 >= 8")
    w = Window.partitionBy("h").orderBy("doc_id")
    triaged = (
        new.join(existing, "h", "left")
        .withColumn("rn", F.row_number().over(w))
        .selectExpr(
            "doc_id",
            "CASE WHEN in_corpus THEN 'dup_corpus' "
            "WHEN rn > 1 THEN 'dup_batch' ELSE 'unique' END AS status",
        )
    )
    base = (
        table(spark, sf_dir, "documents")
        .filter("doc_id % 10 >= 8")
        .select("doc_id", "source")
    )
    return base.join(triaged, "doc_id").groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


QUERIES["doc_incr_dedup"] = doc_incr_dedup

ORACLES["doc_incr_dedup"] = f"""
    WITH existing AS (
        SELECT DISTINCT {STABLE_HASH_SQL("text")} AS h
        FROM documents WHERE doc_id % 10 < 8
    ),
    new_batch AS (
        SELECT doc_id, source, {STABLE_HASH_SQL("text")} AS h
        FROM documents WHERE doc_id % 10 >= 8
    ),
    triaged AS (
        SELECT n.source,
               CASE WHEN e.h IS NOT NULL THEN 'dup_corpus'
                    WHEN row_number() OVER (PARTITION BY n.h
                                            ORDER BY n.doc_id) > 1
                    THEN 'dup_batch' ELSE 'unique' END AS status
        FROM new_batch n LEFT JOIN existing e ON n.h = e.h
    )
    SELECT source, status, count(*) AS n_docs
    FROM triaged GROUP BY source, status
"""


# --------------------------------- incremental MinHash near-dup triage
#
# The fuzzy stage of the incremental dedup loop (doc_incr_dedup is the
# exact stage): a new crawl batch is triaged against the curated
# corpus WITHOUT re-pairing the corpus against itself. The corpus side
# is the COMMITTED band-key index (_dedup_index_paths) collapsed to
# its DISTINCT bucket keys — the artifact a production pipeline keeps
# materialized between crawls; new docs that share any band bucket with the
# corpus are `near_corpus`, remaining new docs sharing a bucket among
# themselves are `near_batch`, the rest `clean`. No pair join at all —
# corpus hits are a semi-join on the band key and intra-batch hits a
# bucket-population window — so the incremental cost is
# O(new · bands), independent of corpus size per band lookup. Docs too
# short to shingle simply never collide (clean), matching the batch
# operators' convention.
def doc_incr_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup triage of a new batch against the COMMITTED band-key
    index (see _dedup_index_paths): corpus band keys come from the
    versioned index — distinct'd to the payload-free bucket-key set —
    and the batch's own keys from its fast-appended v1 rows, so no
    signature is recomputed and the corpus text is never re-scanned.
    The only documents.parquet read is the new batch's
    (doc_id, source) rows (plan-asserted)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    _, band_path = _dedup_index_paths(spark, sf_dir)
    idx = versioned.read_version(spark, band_path)
    new_b = idx.filter("doc_id % 10 >= 8")
    corp_b = (
        idx.filter("doc_id % 10 < 8")
        .select("band_idx", "band_hash")
        .distinct()
    )
    hit_corpus = (
        new_b.join(corp_b, ["band_idx", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hc", F.lit(True))
    )
    wb = Window.partitionBy("band_idx", "band_hash")
    hit_batch = (
        new_b.withColumn("nb", F.count(F.lit(1)).over(wb))
        .filter("nb >= 2")
        .select("doc_id")
        .distinct()
        .withColumn("hb", F.lit(True))
    )
    base = (
        table(spark, sf_dir, "documents")
        .filter("doc_id % 10 >= 8")
        .select("doc_id", "source")
    )
    return (
        base.join(hit_corpus, "doc_id", "left")
        .join(hit_batch, "doc_id", "left")
        .selectExpr(
            "source",
            "CASE WHEN hc THEN 'near_corpus' WHEN hb THEN 'near_batch' "
            "ELSE 'clean' END AS status",
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


QUERIES["doc_incr_minhash"] = doc_incr_minhash

ORACLES["doc_incr_minhash"] = f"""
    WITH {_duck_sig_cte()},
    {_duck_bands_cte()},
    corp AS (
        SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 10 < 8
    ),
    newb AS (SELECT * FROM bands WHERE doc_id % 10 >= 8),
    hitc AS (
        SELECT DISTINCT n.doc_id
        FROM newb n JOIN corp c USING (band_idx, band_hash)
    ),
    bucket AS (
        SELECT band_idx, band_hash FROM newb
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    hitb AS (
        SELECT DISTINCT n.doc_id
        FROM newb n JOIN bucket b USING (band_idx, band_hash)
    ),
    base AS (
        SELECT doc_id, source FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT source,
           CASE WHEN doc_id IN (SELECT doc_id FROM hitc) THEN 'near_corpus'
                WHEN doc_id IN (SELECT doc_id FROM hitb) THEN 'near_batch'
                ELSE 'clean' END AS status,
           count(*) AS n_docs
    FROM base GROUP BY 1, 2
"""


# -------------------------------------------- containment near-dup
#
# Containment — |A∩B| / min(|A|,|B|) — is the ASYMMETRIC near-dup
# measure Jaccard misses: a short document quoted whole inside a long
# one has tiny Jaccard (the union is huge) but containment ≈ 1. This
# is the doc-in-doc detector production corpus curation runs next to
# the symmetric Jaccard pass (doc_ngram_jaccard), and the reason it
# drops that entry's length-similarity blocking entirely: length
# disparity is exactly the signal here. Same df-capped inverted-index
# postings (shared through the session memo — the join cost story in
# doc_ngram_jaccard's docstring carries over: Σ df² bounded by the
# cap); the per-pair intersection IS the groupBy count. Both ratios
# are non-negative ppm grids (DIV↔// safe).
CONTAINMENT_PPM = 800000


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _cached_postings(spark, sf_dir)
    a = ex.select(F.col("doc_id").alias("doc_a"),
                  F.col("sz").alias("sa_sz"), "s")
    b = ex.select(F.col("doc_id").alias("doc_b"),
                  F.col("sz").alias("sb_sz"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sa_sz", "sb_sz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(inter AS BIGINT) AS inter",
            "CAST(least(sa_sz, sb_sz) AS BIGINT) AS min_sz",
            "inter * 1000000 DIV least(sa_sz, sb_sz) AS containment_ppm",
            "inter * 1000000 DIV (sa_sz + sb_sz - inter) AS jaccard_ppm",
        )
        .filter(F.col("containment_ppm") >= CONTAINMENT_PPM)
    )


QUERIES["doc_containment_pairs"] = doc_containment_pairs

ORACLES["doc_containment_pairs"] = f"""
    WITH d0 AS (
        SELECT doc_id, {_SHINGLES_DUCK} AS sh
        FROM documents
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM d0),
    kept AS (
        SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df
            FROM ex
        ) WHERE df <= {NGRAM_DF_CAP}
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           CAST(least(za.sz, zb.sz) AS BIGINT) AS min_sz,
           inter * 1000000 // least(za.sz, zb.sz) AS containment_ppm,
           inter * 1000000 // (za.sz + zb.sz - inter) AS jaccard_ppm
    FROM inter
    JOIN sz za ON doc_a = za.doc_id
    JOIN sz zb ON doc_b = zb.doc_id
    WHERE inter * 1000000 // least(za.sz, zb.sz) >= {CONTAINMENT_PPM}
"""


# --------------------------- exact-substring duplication (window level)
#
# The ExactSubstr statistic from "Deduplicating Training Data Makes
# Language Models Better" (Lee et al. 2021): a fixed-width token
# window is DUPLICATED when the identical window occurs at any other
# position in the corpus, and a document's health metric is the
# fraction of its windows that are duplicated — finer than
# doc_para_dedup (paragraph unit) and cross-document, unlike
# doc_repeated_ngrams (within-doc repetition). Width 8 here (the
# paper's 50 scaled to this corpus's ~25-word docs).
#
# Shape for 100 TB — and why this beats pairing: the statistic needs
# NO pair join at all. Window hashes group once (per-hash occurrence
# count), join back to the per-(doc, hash) table on the same key, and
# aggregate per doc — candidate volume is LINEAR in corpus tokens
# (two shuffles on the window hash), while any pair-based formulation
# is Σ df². Hot boilerplate hashes skew the count shuffle's reduce
# side only as single wide rows (a count, not a pair fanout).
SUBSTR_W = 8


def doc_substr_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    docs = spread(spark, sf_dir, "documents",
                  table(spark, sf_dir, "documents").select("doc_id", "text"))
    h = SPARK_HASH_SQL(f"concat_ws(' ', slice(ws, i, {SUBSTR_W}))")
    per_doc_hash = (
        docs.select("doc_id", F.expr("split(text, ' ')").alias("ws"))
        .filter(F.expr(f"size(ws) >= {SUBSTR_W}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, size(ws) - {SUBSTR_W} + 1), "
                       f"i -> {h})")
            ).alias("h"),
        )
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # per-hash corpus total as a WINDOW over the already-h-shuffled
    # table, not a groupBy + self-join: the join formulation planned
    # ZERO ReusedExchange under AQE, so the whole corpus windowing ran
    # twice (measured; Generate ×2 / scans ×2 in the executed plan) —
    # the window keeps one lineage and one shuffle on h
    totals_w = Window.partitionBy("h")
    return (
        per_doc_hash.withColumn("c", F.sum("k").over(totals_w))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_windows"),
            F.expr("SUM(CASE WHEN c >= 2 THEN k ELSE 0 END)")
            .alias("n_dup_windows"),
        )
        .selectExpr(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            "n_dup_windows * 1000000 DIV n_windows AS dup_ppm",
        )
    )


QUERIES["doc_substr_dup"] = doc_substr_dup

_SUBSTR_H = STABLE_HASH_SQL(f"array_to_string(ws[i:i+{SUBSTR_W - 1}], ' ')")
ORACLES["doc_substr_dup"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= {SUBSTR_W}
    ),
    pdh AS (
        SELECT doc_id, h, count(*) AS k
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(ws) - {SUBSTR_W} + 2),
                       i -> {_SUBSTR_H})) AS h
            FROM toks
        )
        GROUP BY doc_id, h
    ),
    totals AS (SELECT h, SUM(k) AS c FROM pdh GROUP BY h)
    SELECT doc_id, SUM(k) AS n_windows,
           SUM(CASE WHEN c >= 2 THEN k ELSE 0 END) AS n_dup_windows,
           SUM(CASE WHEN c >= 2 THEN k ELSE 0 END) * 1000000 // SUM(k)
               AS dup_ppm
    FROM pdh JOIN totals USING (h)
    GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# MinHash banding-parameter sweep — the tuning curve for the (bands ×
# rows) trade every LSH deployment sets ONCE for a 100 TB corpus:
# more bands → lower collision threshold (~(1/b)^(1/r)) → more
# candidates and recall, fewer bands → sharper precision. All three
# configs re-band the SAME 64-perm signature table (one shingle
# explode + one signature shuffle total); per config, the candidate
# count and how many candidates clear agree >= 48/64 (est Jaccard
# 0.75 — an INTEGER compare, no double threshold). The dedup sibling
# of emb_nprobe_sweep / emb_threshold_sweep.
_BAND_SWEEP = [(4, 16), (8, 8), (16, 4)]
_SWEEP_DUP_AGREE = 48


def doc_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    sig = _signatures(spark, sf_dir, n_hashes=N_HASHES_W)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh{i}").alias(f"a{i}")
                      for i in range(N_HASHES_W)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh{i}").alias(f"b{i}")
                      for i in range(N_HASHES_W)])
    agree = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES_W)
    )
    outs = []
    for nb, rpb in _BAND_SWEEP:
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.expr(_band_hash_expr(b, rpb)).alias("band_hash"),
                    )
                    for b in range(nb)
                ])
            ).alias("bd"),
        ).select("doc_id", "bd.band_idx", "bd.band_hash")
        scored = (
            _band_pairs(bands)
            .join(sa, "doc_a").join(sb, "doc_b")
            .selectExpr(f"({agree}) AS agree")
        )
        outs.append(
            scored.agg(
                F.expr("COUNT(*)").alias("n_candidates"),
                F.expr(f"SUM(CASE WHEN agree >= {_SWEEP_DUP_AGREE} "
                       "THEN 1 ELSE 0 END)").alias("n_dups"),
            ).selectExpr(
                f"CAST({nb} AS INT) AS bands",
                f"CAST({rpb} AS INT) AS rows_per_band",
                "n_candidates", "n_dups",
                # candidate-pair counts grow ∝ Σ bucket² — the ppm
                # product rides DECIMAL(38,0) (rule F)
                "CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(1000000 * CAST(n_dups AS DECIMAL(38,0)) "
                "DIV n_candidates AS BIGINT) END AS precision_ppm",
            )
        )
    return reduce(lambda x, y: x.unionByName(y), outs)


QUERIES["doc_minhash_band_sweep"] = doc_minhash_band_sweep


def _band_sweep_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES_W)
    )
    selects = []
    ctes = [_duck_sig_cte(N_HASHES_W)]
    for nb, rpb in _BAND_SWEEP:
        parts = []
        for b in range(nb):
            cols = " || ',' || ".join(
                f"mh{i}" for i in range(b * rpb, (b + 1) * rpb))
            parts.append(
                f"SELECT doc_id, {b} AS band_idx, "
                f"md5('{b}' || ',' || {cols}) AS band_hash FROM sig")
        ctes.append(
            f"bands_{nb} AS (\n            "
            + "\n            UNION ALL ".join(parts) + "\n        )")
        ctes.append(f"""pairs_{nb} AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_{nb} a
            JOIN bands_{nb} b ON a.band_idx = b.band_idx
                        AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        )""")
        ctes.append(f"""scored_{nb} AS (
            SELECT ({agree}) AS agree
            FROM pairs_{nb}
            JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
        )""")
        selects.append(f"""
        SELECT CAST({nb} AS INT) AS bands,
               CAST({rpb} AS INT) AS rows_per_band,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN agree >= {_SWEEP_DUP_AGREE}
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
               CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(1000000 * CAST(SUM(CASE WHEN agree >=
                   {_SWEEP_DUP_AGREE} THEN 1 ELSE 0 END) AS HUGEINT)
                   // COUNT(*) AS BIGINT) END AS precision_ppm
        FROM scored_{nb}""")
    return ("WITH " + ",\n        ".join(ctes)
            + "\n        UNION ALL ".join(selects))


ORACLES["doc_minhash_band_sweep"] = _band_sweep_oracle()
