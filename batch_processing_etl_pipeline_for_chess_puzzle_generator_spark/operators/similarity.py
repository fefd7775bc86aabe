"""Similarity search over the ``embeddings`` table (array<float>).

- emb_cosine_topk: brute-force cosine top-k — the correctness baseline.
  The query set is broadcast; the corpus is never replicated. Per-pair
  math is a zip_with/aggregate Catalyst expression (JVM codegen, no
  Python).
- emb_lsh_ann: sign-bit LSH — corpus and queries bucket on the sign
  pattern of the leading components; candidate generation is an
  equality join on the bucket id, pruning the cross product. This is
  the 100 TB path: bucket count grows with bits, cost ∝ Σ bucket².
- emb_label_centroids: per-label mean vector (posexplode → two-level
  agg), reported as centroid L2 norm.

Numeric determinism: components are quantized to 1e-6 integers, so all
dot products and norms are EXACT integer sums — order-independent
across partitionings and bit-identical to the DuckDB oracle. Cosine is
then a single double division of exact integers. (Float accumulation
would make top-k ranking engine- and partitioning-dependent.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.fixtures import scratch_dir, session_memo
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
    SPARK_HASH_SQL,
    STABLE_HASH_SQL,
)

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_BITS = 8

# Quantized (×1e6, rounded) integer components — exact arithmetic.
# Quantization happens ONCE per vector (column ``qa``/``ca``); per-pair
# work is a plain integer zip_with dot product.
_QUANT = (
    "transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)


def _qnorm(col: str) -> str:
    return (
        f"aggregate({col}, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
    )


# Norms are precomputed once per vector (columns qn/cn) — only the dot
# product is per-pair work.
_QDOT = (
    "aggregate(zip_with(qa, ca, (x, y) -> x * y), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_SIM = (
    f"CAST({_QDOT} AS DOUBLE) / "
    "(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))"
)


def _split(spark: SparkSession, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qe"),
            F.expr(_QUANT.format(col="embedding")).alias("qa"),
        )
        .withColumn("qn", F.expr(_qnorm("qa")))
    )
    # spread() the corpus side BEFORE the quantize/norm projections:
    # interpreted higher-order-function math (zip_with/aggregate gets
    # no codegen) is the cost of every scorer downstream, and a
    # single-row-group scan runs all of it on one core (guide §2.5).
    # The query side stays un-spread — it is broadcast by consumers.
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    c = (
        spread(spark, sf_dir, "embeddings",
               emb.filter(F.col("vec_id") >= N_QUERIES))
        .select(
            F.col("vec_id").alias("c_id"),
            "label",
            F.col("embedding").alias("ce"),
            F.expr(_QUANT.format(col="embedding")).alias("ca"),
        )
        .withColumn("cn", F.expr(_qnorm("ca")))
    )
    return q, c


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the full corpus; rank per query."""
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    scored = c.crossJoin(broadcast(q)).select(
        "q_id", "c_id", F.expr(_SIM).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "sim")
    )


def _bucket_expr(col: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN CAST(element_at({col}, {j + 1}) AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_BITS)
    )
    return f"CAST({bits} AS BIGINT)"


# Probe set: home bucket + every 1-bit and 2-bit flip (1 + 8 + 28 = 37
# probes over the 256-bucket space). Masks are distinct, so probed
# buckets are distinct and no (q, c) pair can repeat.
_LSH_PROBE_MASKS = (
    [0]
    + [1 << j for j in range(LSH_BITS)]
    + [(1 << i) | (1 << j)
       for i in range(LSH_BITS) for j in range(i + 1, LSH_BITS)]
)


def emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-bit LSH ANN: each query probes its own bucket
    plus every 1-bit and 2-bit flip neighbor (the vectors most likely
    to straddle one or two hyperplanes), then exact rerank within the
    probed buckets. Multi-probe is THE standard recall lever — measured
    0.02 (single probe) → 0.20 (1-bit) → higher at 2-bit here
    (RECALL.md) — at probe-count bucket lookups, not a wider bucket
    space. Corpus vectors still bucket exactly once (a probe is an
    equality join, so no dedup is needed: buckets partition the
    corpus); candidate volume is |probes|/2^bits of the corpus per
    query, a tunable constant."""
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    probes = ", ".join(f"bkt0 ^ {m}" for m in _LSH_PROBE_MASKS)
    qb = (
        q.withColumn("bkt0", F.expr(_bucket_expr("qe")))
        .select(
            "q_id", "qa", "qn",
            F.explode(F.expr(f"array({probes})")).alias("bkt"),
        )
    )
    cb = c.withColumn("bkt", F.expr(_bucket_expr("ce")))
    scored = cb.join(broadcast(qb), "bkt").select(
        "q_id", "c_id", F.expr(_SIM).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "rank", "sim")
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 norm. posexplode → exact integer component
    sums per (label, pos) → per-label norm. Two narrow shuffles; the
    second one is 10×64 rows regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("xi", F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
    per_pos = comp.groupBy("label", "pos").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_pos.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.expr(
                "sqrt(CAST(SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE))"
            ).alias("ssq_root"),
        )
        .select(
            "label",
            "n_vecs",
            F.expr("ssq_root / (1000000.0 * n_vecs)").alias("centroid_norm"),
        )
    )


QUERIES = {
    "emb_cosine_topk": emb_cosine_topk,
    "emb_lsh_ann": emb_lsh_ann,
    "emb_label_centroids": emb_label_centroids,
}

# DuckDB oracle: same quantization; exact integer sums via parallel
# unnest (order-independent because integer addition commutes exactly).
_DUCK_PAIRS = f"""
        q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
        c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= {N_QUERIES})"""

_DUCK_SCORE = """
        comp AS (
            SELECT q_id, c_id,
                   CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
                   CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
            FROM pairs
        ),
        scored AS (
            SELECT q_id, c_id,
                   CAST(sum(xq * xc) AS DOUBLE)
                   / (sqrt(CAST(sum(xq * xq) AS DOUBLE)) * sqrt(CAST(sum(xc * xc) AS DOUBLE)))
                       AS sim
            FROM comp GROUP BY q_id, c_id
        )"""

ORACLES = {
    "emb_cosine_topk": f"""
        WITH {_DUCK_PAIRS},
        pairs AS (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c),
        {_DUCK_SCORE}
        SELECT q_id, c_id, rank, sim FROM (
            SELECT q_id, c_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
            FROM scored
        )
        WHERE rank <= {TOP_K}
    """,
    "emb_lsh_ann": f"""
        WITH {_DUCK_PAIRS},
        qb0 AS (SELECT q_id, qe,
                      {" + ".join(f"(CASE WHEN CAST(qe[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                          AS bkt0 FROM q),
        qb AS (SELECT q_id, qe,
                      unnest([{", ".join(f"xor(bkt0, {m})" for m in _LSH_PROBE_MASKS)}]) AS bkt
               FROM qb0),
        cb AS (SELECT c_id, ce,
                      {" + ".join(f"(CASE WHEN CAST(ce[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                          AS bkt FROM c),
        pairs AS (SELECT q_id, qe, c_id, ce FROM qb JOIN cb USING (bkt)),
        {_DUCK_SCORE}
        SELECT q_id, c_id, rank, sim FROM (
            SELECT q_id, c_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
            FROM scored
        )
        WHERE rank <= 3
    """,
    "emb_label_centroids": """
        WITH comp AS (
            SELECT label, vec_id,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xi
            FROM embeddings
        ),
        per_pos AS (
            SELECT label, pos, CAST(sum(xi) AS BIGINT) AS s, count(*) AS n
            FROM comp GROUP BY label, pos
        )
        SELECT label,
               max(n) AS n_vecs,
               sqrt(CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE))
                   / (1000000.0 * max(n)) AS centroid_norm
        FROM per_pos GROUP BY label
    """,
}


# Embedding-cosine near-duplicate pairs, blocked by label (standing in
# for an IVF coarse-cluster id at scale: candidates only form inside a
# block, never across the full corpus).
NEARDUP_THRESHOLD = 0.4


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    emb = spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(_QUANT.format(col="embedding")).alias("qi"),
    ).withColumn("nrm", F.expr(_qnorm("qi"))).persist()
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("qi").alias("qa"),
        F.col("label").alias("blk"),
        F.col("nrm").alias("qn"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("qi").alias("ca"),
        F.col("label").alias("blk"),
        F.col("nrm").alias("cn"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= NEARDUP_THRESHOLD)
    )


# ------------------------------------------------------------- IVF ANN
#
# Inverted-file ANN: K deterministic seed vectors act as the coarse
# quantizer; every corpus vector is assigned to its nearest seed (the
# inverted lists), a query scores only the K seeds and probes the
# NPROBE best lists. Search cost drops from |C| to K + |C|·NPROBE/K
# per query; at 100 TB the assignment is a one-off write partitioned
# by cluster id, so a probe is a partition-pruned scan. (A trained
# k-means quantizer would cut list imbalance further; seeds-by-id keep
# the oracle replayable.)
IVF_K = 8
IVF_NPROBE = 3


def emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    seeds = c.filter(F.col("c_id") < N_QUERIES + IVF_K).select(
        F.col("c_id").alias("s_id"),
        F.col("ca").alias("qa"),
        F.col("cn").alias("qn"),
    )
    # Inverted lists: nearest seed per corpus vector (ties → lowest id).
    wa = Window.partitionBy("c_id").orderBy(F.col("sim").desc(), F.col("s_id"))
    assign = (
        c.crossJoin(broadcast(seeds))
        .select("c_id", "ca", "cn", "s_id", F.expr(_SIM).alias("sim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("c_id", "ca", "cn", F.col("s_id").alias("cluster"))
    )
    # Probe set: NPROBE nearest seeds per query (seeds take the corpus
    # column names here — they are the searched side of this pass).
    wp = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("s_id"))
    seeds_c = seeds.select(
        "s_id", F.col("qa").alias("ca"), F.col("qn").alias("cn")
    )
    probes = (
        q.crossJoin(broadcast(seeds_c))
        .select("q_id", "qa", "qn", "s_id", F.expr(_SIM).alias("sim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("q_id", "qa", "qn", F.col("s_id").alias("cluster"))
    )
    # Exact rerank inside the probed lists only.
    wf = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        assign.join(broadcast(probes), "cluster")
        .select("q_id", "c_id", F.expr(_SIM).alias("sim"))
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "rank", "sim")
    )


# --------------------------------------------------- k-means-trained IVF
#
# Lloyd-refined coarse quantizer, SAMPLE-TRAINED (the 100 TB shape):
# the quantizer never needs the whole corpus — KM_ROUNDS rounds of
# assign/update run on a deterministic hash-sample, then the full
# corpus is assigned exactly ONCE to the trained centroids before the
# usual IVF probe+rerank. The trained model (K centroids) travels as a
# single collected-array row broadcast to every task, so assignment and
# probing are row-local array expressions — zero hash shuffles; the
# only hash exchanges left are the per-round centroid updates and the
# final per-query rerank.
# Exactness trick: cosine to a centroid MEAN equals cosine to the
# centroid SUM (scale invariance), so centroids are integer component
# sums — every round is exact integer arithmetic, reproducible across
# engines, partitionings, and cluster sizes. The whole refinement is
# PLAN construction (a Python loop over DataFrame ops, zero driver
# actions): Catalyst sees one declarative plan with the rounds unrolled.
KM_ROUNDS = 2
#: train the quantizer on the ~1/KM_SAMPLE_MOD deterministic hash-sample
#: (at 100 TB you'd pick the modulus so the sample is ~1M vectors).
KM_SAMPLE_MOD = 4


def _cent_sim(q_arr: str, q_n: str, s_arr: str, s_n: str) -> str:
    return (
        f"CAST(aggregate(zip_with({q_arr}, {s_arr}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) "
        f"/ (sqrt(CAST({q_n} AS DOUBLE)) * sqrt(CAST({s_n} AS DOUBLE)))"
    )


def _model_scored(vec: str, norm: str) -> str:
    """Row-local scored-centroid structs against the broadcast model
    column ``cts`` (array<struct<cluster_id, sa, sn>>): the same
    exact-integer cosine as :func:`_cent_sim`, evaluated inside a
    ``transform`` lambda so no join/shuffle is involved. ``negid``
    makes struct-max/sort tie-break to the smallest cluster_id."""
    dot = (
        f"aggregate(zip_with({vec}, ct.sa, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    sim = (
        f"CAST({dot} AS DOUBLE) / "
        f"(sqrt(CAST({norm} AS DOUBLE)) * sqrt(CAST(ct.sn AS DOUBLE)))"
    )
    return (
        f"transform(cts, ct -> named_struct('sim', {sim}, "
        "'negid', -ct.cluster_id, 'cluster_id', ct.cluster_id))"
    )


def _as_model(cents: DataFrame) -> DataFrame:
    """Collapse the K-row centroid table into a one-row broadcastable
    model (array of centroid structs)."""
    return cents.agg(
        F.expr(
            "collect_list(named_struct('cluster_id', cluster_id, 'sa', sa, 'sn', sn))"
        ).alias("cts")
    )


_ASSIGN_EXPR = f"array_max({_model_scored('ca', 'cn')}).cluster_id"


def _kmeans_train(c: DataFrame, seeds: DataFrame) -> DataFrame:
    """KM_ROUNDS Lloyd rounds over the hash-sample of ``c`` from the
    ``seeds`` (cluster_id, sa, sn) centroids → trained centroids.
    Shared by emb_kmeans_ivf and the persisted-index fixture."""
    sample = c.filter(
        F.expr(
            SPARK_HASH_SQL("CONCAT('km:', CAST(c_id AS STRING))")
            + f" % {KM_SAMPLE_MOD} = 0"
        )
    )
    cents = seeds
    for _ in range(KM_ROUNDS):
        # Assignment is a map over the broadcast model (no shuffle);
        # the update is one groupBy with an order-independent
        # element-wise integer array sum (sample cluster sizes are
        # bounded by the sample, so collect_list per group is safe).
        asg = sample.crossJoin(broadcast(_as_model(cents))).select(
            "c_id", "ca", F.expr(_ASSIGN_EXPR).alias("cluster_id")
        )
        cents = (
            asg.groupBy("cluster_id")
            .agg(F.collect_list("ca").alias("cl"))
            .select(
                "cluster_id",
                # element_at is 1-based like slice ([] would be 0-based):
                # fold arrays 2..n onto array 1 with an element-wise add.
                F.expr(
                    "aggregate(slice(cl, 2, size(cl) - 1), element_at(cl, 1), "
                    "(acc, v) -> zip_with(acc, v, (a, b) -> a + b))"
                ).alias("sa"),
            )
            .withColumn("sn", F.expr(_qnorm("sa")))
        )
    return cents


def emb_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    c = c.persist()  # scanned for seeds/sample + the one assignment pass
    # Round-0 centroids: the seed vectors as (sum-array, norm).
    seeds = c.filter(F.col("c_id") < N_QUERIES + IVF_K).select(
        F.col("c_id").alias("cluster_id"),
        F.col("ca").alias("sa"),
        F.col("cn").alias("sn"),
    )
    cents = _kmeans_train(c, seeds)
    model = _as_model(cents)
    # Single full-corpus pass: map-side assignment to trained centroids.
    assign = c.crossJoin(broadcast(model)).select(
        "c_id", "ca", "cn", F.expr(_ASSIGN_EXPR).alias("cluster_id")
    )
    # Probing is row-local too: sort the K scored structs, keep NPROBE.
    probe_expr = (
        f"transform(slice(reverse(array_sort({_model_scored('qa', 'qn')})), "
        f"1, {IVF_NPROBE}), e -> e.cluster_id)"
    )
    probes = q.crossJoin(broadcast(model)).select(
        "q_id", "qa", "qn", F.explode(F.expr(probe_expr)).alias("cluster_id")
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        assign.join(broadcast(probes), "cluster_id")
        .select("q_id", "c_id", F.expr(_SIM).alias("sim"))
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "rank", "sim")
    )


QUERIES["emb_neardup_pairs"] = emb_neardup_pairs
QUERIES["emb_ivf_ann"] = emb_ivf_ann
QUERIES["emb_kmeans_ivf"] = emb_kmeans_ivf

# k-means IVF oracle: component-level integer arithmetic with the Lloyd
# rounds unrolled as chained CTEs (generated from the same KM_ROUNDS /
# KM_SAMPLE_MOD constants as the Spark plan, so the two can't drift).
# Training rounds see only the hash-sample (comps); the full corpus is
# assigned once to the trained centroids (asgf) before probe+rerank.
# _kmeans_cte_prefix generates the shared scaffolding (training +
# corpus assignment asgf + new-batch centroid scoring simp); the
# probe/rerank tail lives in _kmeans_oracle and the incremental
# SemDeDup tail in _incr_semdedup_oracle.
def _kmeans_cte_prefix(q_where: str, c_where: str, samp_where: str,
                       seed_where: str) -> tuple[str, int]:
    rounds = []
    prev_cent, prev_cn = "cent0", "cn0"
    for r in range(1, KM_ROUNDS + 1):
        rounds.append(f"""
        dot{r} AS (
            SELECT cc.c_id, ct.cluster_id, sum(cc.x * ct.s) AS d
            FROM comps cc JOIN {prev_cent} ct USING (pos)
            GROUP BY cc.c_id, ct.cluster_id
        ),
        sim{r} AS (
            SELECT d.c_id, d.cluster_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(ct.n2 AS DOUBLE))) AS sim
            FROM dot{r} d JOIN normc nc USING (c_id) JOIN {prev_cn} ct USING (cluster_id)
        ),
        asg{r} AS (
            SELECT c_id, cluster_id FROM (
                SELECT c_id, cluster_id,
                       row_number() OVER (PARTITION BY c_id ORDER BY sim DESC, cluster_id) AS rn
                FROM sim{r}
            ) WHERE rn = 1
        ),
        cent{r} AS (
            SELECT a.cluster_id, cc.pos, sum(cc.x) AS s
            FROM asg{r} a JOIN comps cc USING (c_id)
            GROUP BY a.cluster_id, cc.pos
        ),
        cn{r} AS (SELECT cluster_id, sum(s * s) AS n2 FROM cent{r} GROUP BY cluster_id)""")
        prev_cent, prev_cn = f"cent{r}", f"cn{r}"
    R = KM_ROUNDS
    samp_hash = STABLE_HASH_SQL("('km:' || CAST(c_id AS VARCHAR))")
    return f"""
        qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE {q_where}),
        cv AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE {c_where}),
        compc AS (
            SELECT c_id, unnest(range(1, len(ce) + 1)) AS pos,
                   CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS x
            FROM cv
        ),
        compq AS (
            SELECT q_id, unnest(range(1, len(qe) + 1)) AS pos,
                   CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS x
            FROM qv
        ),
        normc AS (SELECT c_id, sum(x * x) AS n2 FROM compc GROUP BY c_id),
        normq AS (SELECT q_id, sum(x * x) AS n2 FROM compq GROUP BY q_id),
        samp AS (SELECT c_id FROM cv
                 WHERE {samp_hash} % {KM_SAMPLE_MOD} = 0
                   AND ({samp_where})),
        comps AS (SELECT cc.* FROM compc cc JOIN samp USING (c_id)),
        cent0 AS (SELECT c_id AS cluster_id, pos, x AS s FROM compc
                  WHERE {seed_where}),
        cn0 AS (SELECT cluster_id, sum(s * s) AS n2 FROM cent0 GROUP BY cluster_id),
        {",".join(rounds)},
        dota AS (
            SELECT cc.c_id, ct.cluster_id, sum(cc.x * ct.s) AS d
            FROM compc cc JOIN cent{R} ct USING (pos)
            GROUP BY cc.c_id, ct.cluster_id
        ),
        sima AS (
            SELECT d.c_id, d.cluster_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(ct.n2 AS DOUBLE))) AS sim
            FROM dota d JOIN normc nc USING (c_id) JOIN cn{R} ct USING (cluster_id)
        ),
        asgf AS (
            SELECT c_id, cluster_id FROM (
                SELECT c_id, cluster_id,
                       row_number() OVER (PARTITION BY c_id ORDER BY sim DESC, cluster_id) AS rn
                FROM sima
            ) WHERE rn = 1
        ),
        dotp AS (
            SELECT cq.q_id, ct.cluster_id, sum(cq.x * ct.s) AS d
            FROM compq cq JOIN cent{R} ct USING (pos)
            GROUP BY cq.q_id, ct.cluster_id
        ),
        simp AS (
            SELECT d.q_id, d.cluster_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ct.n2 AS DOUBLE))) AS sim
            FROM dotp d JOIN normq nq USING (q_id) JOIN cn{R} ct USING (cluster_id)
        )""", R


def _kmeans_oracle(q_where: str = f"vec_id < {N_QUERIES}",
                   c_where: str = f"vec_id >= {N_QUERIES}",
                   samp_where: str = "TRUE",
                   seed_where: str = f"c_id < {N_QUERIES + IVF_K}",
                   exclude_self: bool = False) -> str:
    prefix, R = _kmeans_cte_prefix(q_where, c_where, samp_where,
                                   seed_where)
    return f"""
        WITH
        {prefix},
        probes AS (
            SELECT q_id, cluster_id FROM (
                SELECT q_id, cluster_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cluster_id) AS rn
                FROM simp
            ) WHERE rn <= {IVF_NPROBE}
        ),
        pairsf AS (
            SELECT p.q_id, a.c_id FROM probes p JOIN asgf a USING (cluster_id)
            {"WHERE a.c_id != p.q_id" if exclude_self else ""}
        ),
        dotf AS (
            SELECT pf.q_id, pf.c_id, sum(cq.x * cc.x) AS d
            FROM pairsf pf
            JOIN compq cq ON pf.q_id = cq.q_id
            JOIN compc cc ON pf.c_id = cc.c_id AND cq.pos = cc.pos
            GROUP BY pf.q_id, pf.c_id
        ),
        simf AS (
            SELECT d.q_id, d.c_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS sim
            FROM dotf d JOIN normq nq USING (q_id) JOIN normc nc USING (c_id)
        )
        SELECT q_id, c_id, rank, sim FROM (
            SELECT q_id, c_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
            FROM simf
        )
        WHERE rank <= 3
    """


ORACLES["emb_kmeans_ivf"] = _kmeans_oracle()


# IVF oracle: three scoring passes (assignment, probe, final) — each a
# renamed copy of the shared exact-integer scoring CTE.
_A_SCORE = (
    _DUCK_SCORE.replace("scored", "ascored").replace("comp", "acomp")
    .replace("pairs", "apairs").replace("q_id", "s_id").replace("qe", "se")
)
_P_SCORE = (
    _DUCK_SCORE.replace("scored", "pscored").replace("comp", "pcomp")
    .replace("pairs", "ppairs").replace("c_id", "s_id").replace("ce", "se")
)

ORACLES["emb_ivf_ann"] = f"""
    WITH {_DUCK_PAIRS},
    seeds AS (SELECT vec_id AS s_id, embedding AS se FROM embeddings
              WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + IVF_K}),
    apairs AS (SELECT s_id, se, c_id, ce FROM seeds CROSS JOIN c),
    {_A_SCORE},
    assign AS (
        SELECT c_id, s_id AS cluster FROM (
            SELECT c_id, s_id,
                   row_number() OVER (PARTITION BY c_id ORDER BY sim DESC, s_id) AS rn
            FROM ascored
        ) WHERE rn = 1
    ),
    ppairs AS (SELECT q_id, qe, s_id, se FROM q CROSS JOIN seeds),
    {_P_SCORE},
    probes AS (
        SELECT q_id, s_id AS cluster FROM (
            SELECT q_id, s_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, s_id) AS rn
            FROM pscored
        ) WHERE rn <= {IVF_NPROBE}
    ),
    pairs AS (
        SELECT p.q_id, q.qe, a.c_id, c.ce
        FROM probes p JOIN assign a USING (cluster)
        JOIN q ON p.q_id = q.q_id
        JOIN c ON a.c_id = c.c_id
    ),
    {_DUCK_SCORE}
    SELECT q_id, c_id, rank, sim FROM (
        SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
        FROM scored
    )
    WHERE rank <= 3
"""

ORACLES["emb_neardup_pairs"] = f"""
    WITH a AS (SELECT vec_id AS a_id, embedding AS qe, label AS blk FROM embeddings),
         b AS (SELECT vec_id AS b_id, embedding AS ce, label AS blk FROM embeddings),
         pairs AS (
            SELECT a_id, qe, b_id, ce FROM a JOIN b USING (blk) WHERE a_id < b_id
         ),
         {_DUCK_SCORE.replace("q_id", "a_id").replace("c_id", "b_id")}
    SELECT a_id, b_id, sim FROM scored WHERE sim >= {NEARDUP_THRESHOLD}
"""


# SQ8 scalar quantization — the compression stage of a vector store
# (FAISS SQ8 / Milvus SQ8 shape): symmetric int8 grid scaled to the
# corpus max |x|, plus per-vector reconstruction error. The scale factor
# is ONE tiny agg broadcast back over the corpus; code assignment and
# error are row-local transforms (zero extra shuffle — at 100 TB this is
# a pure scan-bandwidth pass, exactly how a production quantizer runs).
# Error math is on a 1e12 integer grid so the sum is order-independent
# and bit-identical in the DuckDB oracle.
_SQ_CODE = "CAST(GREATEST(-127.0, LEAST(127.0, ROUND(CAST({x} AS DOUBLE) * qscale, 0))) AS BIGINT)"
_SQ_E = f"(CAST({{x}} AS DOUBLE) - {_SQ_CODE} / qscale)"
_SQ_E2I = f"CAST(ROUND({_SQ_E} * {_SQ_E} * 1e12, 0) AS BIGINT)"


def emb_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    bounds = emb.agg(
        F.expr(
            "127.0 / CAST(MAX(GREATEST(abs(array_max(embedding)), "
            "abs(array_min(embedding)))) AS DOUBLE)"
        ).alias("qscale")
    )
    code = _SQ_CODE.format(x="x")
    return emb.join(F.broadcast(bounds)).select(
        "vec_id",
        "label",
        F.expr(f"array_min(transform(embedding, x -> {code}))").alias("code_min"),
        F.expr(f"array_max(transform(embedding, x -> {code}))").alias("code_max"),
        F.expr(
            f"CAST(size(filter(transform(embedding, x -> {code}), c -> c = 0)) AS BIGINT)"
        ).alias("n_zero"),
        F.expr(
            f"CAST(ROUND(aggregate(transform(embedding, x -> {_SQ_E2I.format(x='x')}), "
            "CAST(0 AS BIGINT), (a, v) -> a + v) / 1e6) AS BIGINT)"
        ).alias("sse"),
    )


QUERIES["emb_sq8_quantize"] = emb_sq8_quantize

_SQ_CODE_D = "CAST(GREATEST(-127.0, LEAST(127.0, ROUND(CAST(x AS DOUBLE) * qscale, 0))) AS BIGINT)"
_SQ_E_D = f"(CAST(x AS DOUBLE) - {_SQ_CODE_D} / qscale)"
ORACLES["emb_sq8_quantize"] = f"""
    WITH bounds AS (
        SELECT 127.0 / CAST(MAX(GREATEST(abs(list_max(embedding)),
                                         abs(list_min(embedding)))) AS DOUBLE) AS qscale
        FROM embeddings
    )
    SELECT vec_id, label,
           list_min(list_transform(embedding, x -> {_SQ_CODE_D})) AS code_min,
           list_max(list_transform(embedding, x -> {_SQ_CODE_D})) AS code_max,
           CAST(len(list_filter(list_transform(embedding, x -> {_SQ_CODE_D}),
                                c -> c = 0)) AS BIGINT) AS n_zero,
           CAST(ROUND(list_sum(list_transform(embedding,
               x -> CAST(ROUND({_SQ_E_D} * {_SQ_E_D} * 1e12, 0) AS BIGINT)))
               / 1e6) AS BIGINT) AS sse
    FROM embeddings CROSS JOIN bounds
"""


# Per-dimension corpus statistics — the whitening / normalization prep
# pass of an embedding pipeline. posexplode fans each vector into
# (dim, value) rows; the agg partial-combines map-side into exactly
# |dims| groups, so the shuffle is O(dims × partitions) no matter the
# corpus size. Means come from exact 1e-6-grid integer sums (see module
# docstring) so they are partition-order independent.
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select(
            F.expr("CAST(pos + 1 AS BIGINT)").alias("dim"),
            F.expr("CAST(x AS DOUBLE)").alias("x"),
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.expr(
                "SUM(CAST(round(x * 1000000, 0) AS BIGINT))"
            ).alias("sum_micro"),
        )
        .select(
            "dim",
            "n",
            "min_x",
            "max_x",
            F.expr("sum_micro / 1e6 / n").alias("mean_x"),
        )
    )


QUERIES["emb_dim_stats"] = emb_dim_stats

ORACLES["emb_dim_stats"] = """
    WITH vals AS (
        SELECT CAST(t.i AS BIGINT) AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    agg AS (
        SELECT dim, count(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
               SUM(CAST(round(x * 1000000, 0) AS BIGINT)) AS sum_micro
        FROM vals GROUP BY dim
    )
    SELECT dim, n, min_x, max_x, sum_micro / 1e6 / n AS mean_x FROM agg
"""


# PQ4 product quantization — FAISS-style PQ encode with 4 sub-spaces of
# 16 dims and a 16-entry codebook per sub-space (codebook = the seed
# vectors vec_id < 16, sliced per sub-space). The codebook is ONE tiny
# sorted-collect agg broadcast to every partition; encoding is then a
# row-local argmin over 4×16 exact integer L2² distances — zero corpus
# shuffle, pure scan bandwidth at 100 TB (the production PQ-encode
# shape). Ties break to the lowest code via first-position-of-min.
_PQ_M = 4       # sub-spaces
_PQ_DSUB = 16   # dims per sub-space
_PQ_K = 16      # codebook entries (seed vectors)


def _pq_q(e: str) -> str:
    return f"CAST(round(CAST({e} AS DOUBLE) * 1000000, 0) AS BIGINT)"


def emb_pq4_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Derives from the shared memoized dd table (see _pq_dd below for
    # the reshaped-codebook formulation and why it is persisted).
    dd = _pq_dd(spark, sf_dir)
    return dd.select(
        "vec_id",
        "label",
        *[
            F.expr(
                f"CAST(array_position(element_at(dd, {b + 1}), "
                f"array_min(element_at(dd, {b + 1}))) - 1 AS BIGINT)"
            ).alias(f"c{b}")
            for b in range(_PQ_M)
        ],
        F.expr(
            "aggregate(transform(dd, ds -> array_min(ds)), "
            "CAST(0 AS BIGINT), (a, v) -> a + v) / 1e12"
        ).alias("distortion"),
    )


QUERIES["emb_pq4_encode"] = emb_pq4_encode

_PQD_V = "CAST(round(CAST(embedding[b * 16 + i] AS DOUBLE) * 1000000, 0) AS BIGINT)"
_PQD_S = "CAST(round(CAST(s[b * 16 + i] AS DOUBLE) * 1000000, 0) AS BIGINT)"
ORACLES["emb_pq4_encode"] = f"""
    WITH cb AS (
        SELECT list(embedding ORDER BY vec_id) AS seeds
        FROM embeddings WHERE vec_id < {_PQ_K}
    ),
    dd AS (
        SELECT vec_id, label,
               list_transform(range(0, {_PQ_M}), b ->
                   list_transform(seeds, s ->
                       CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i ->
                           ({_PQD_V} - {_PQD_S}) * ({_PQD_V} - {_PQD_S})))
                       AS BIGINT))) AS d
        FROM embeddings CROSS JOIN cb
    )
    SELECT vec_id, label,
           CAST(list_position(d[1], list_min(d[1])) - 1 AS BIGINT) AS c0,
           CAST(list_position(d[2], list_min(d[2])) - 1 AS BIGINT) AS c1,
           CAST(list_position(d[3], list_min(d[3])) - 1 AS BIGINT) AS c2,
           CAST(list_position(d[4], list_min(d[4])) - 1 AS BIGINT) AS c3,
           CAST(list_sum(list_transform(d, ds -> list_min(ds))) AS BIGINT) / 1e12
               AS distortion
    FROM dd
"""


# Whitening transform — standardize each dimension to (x - μ)/σ using
# the corpus dim stats, reported as per-vector whitened norm and
# extreme-dimension count. The 64-row stats table collapses to ONE
# broadcast row (sorted collect), so the corpus pass stays row-local —
# zero shuffle, the same shape every feature-normalization pass has.
# σ comes from exact integer component sums (Σx, Σx² on the 1e-6 grid)
# so the stats are partition-order independent; the per-row double math
# then evaluates identically in both engines.
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select("pos", F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)").alias("q"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.expr("SUM(q * q)").alias("s2"),
        )
        .select(
            "pos",
            F.expr("s1 / 1e6 / n").alias("mu"),
            F.expr("sqrt(GREATEST(s2 / 1e12 / n - (s1 / 1e6 / n) * (s1 / 1e6 / n), 1e-12))").alias("sd"),
        )
    )
    packed = stats.agg(
        F.expr("transform(array_sort(collect_list(struct(pos, mu, sd))), p -> p.mu)").alias("mus"),
        F.expr("transform(array_sort(collect_list(struct(pos, mu, sd))), p -> p.sd)").alias("sds"),
    )
    wz = "zip_with(zip_with(embedding, mus, (x, m) -> CAST(x AS DOUBLE) - m), sds, (d, s) -> d / s)"
    return (
        emb.join(F.broadcast(packed))
        .select("vec_id", "label", F.expr(wz).alias("z"))
        .select(
            "vec_id",
            "label",
            F.expr(
                "sqrt(aggregate(z, CAST(0 AS DOUBLE), (a, v) -> a + v * v))"
            ).alias("white_norm"),
            F.expr("CAST(size(filter(z, v -> abs(v) > 2.0)) AS BIGINT)").alias("n_extreme"),
        )
    )


QUERIES["emb_whiten"] = emb_whiten

ORACLES["emb_whiten"] = """
    WITH vals AS (
        SELECT t.i AS pos,
               CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    stats AS (
        SELECT pos, count(*) AS n, SUM(q) AS s1, SUM(q * q) AS s2
        FROM vals GROUP BY pos
    ),
    ms AS (
        SELECT pos,
               s1 / 1e6 / n AS mu,
               sqrt(GREATEST(s2 / 1e12 / n - (s1 / 1e6 / n) * (s1 / 1e6 / n), 1e-12)) AS sd
        FROM stats
    ),
    packed AS (
        SELECT list(mu ORDER BY pos) AS mus, list(sd ORDER BY pos) AS sds FROM ms
    ),
    wh AS (
        SELECT vec_id, label,
               list_transform(range(1, len(embedding) + 1),
                   i -> (CAST(embedding[i] AS DOUBLE) - mus[i]) / sds[i]) AS z
        FROM embeddings CROSS JOIN packed
    )
    SELECT vec_id, label,
           sqrt(list_sum(list_transform(z, v -> v * v))) AS white_norm,
           CAST(len(list_filter(z, v -> abs(v) > 2.0)) AS BIGINT) AS n_extreme
    FROM wh
"""


# PQ ADC top-k search — the query stage of a PQ vector store. Each
# query builds its 4×16 lookup table (exact integer L2² between its
# sub-vectors and every codebook entry) ONCE against the broadcast
# codebook; corpus distance is then 4 table lookups per encoded vector
# (asymmetric distance computation, FAISS's ADC). The corpus side never
# touches raw query vectors — only its own PQ codes — which is exactly
# why PQ search scans compressed codes, not embeddings, at 100 TB.
# Note ADC ranks by the QUANTIZED distance: it approximates exact
# search (emb_cosine_topk is the recall baseline), and both engines
# compute the identical integer distances, so the ranking is stable.
def emb_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    dd = _pq_dd(spark, sf_dir)
    luts = dd.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("dd").alias("lut")
    )
    codes = dd.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        *[
            F.expr(
                f"array_position(element_at(dd, {b + 1}), "
                f"array_min(element_at(dd, {b + 1})))"
            ).alias(f"p{b}")
            for b in range(_PQ_M)
        ],
    )
    adc = " + ".join(
        f"element_at(element_at(lut, {b + 1}), CAST(p{b} AS INT))"
        for b in range(_PQ_M)
    )
    scored = codes.crossJoin(F.broadcast(luts)).select(
        "q_id", "c_id", F.expr(f"({adc}) / 1e12").alias("adc_dist")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist"), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "adc_dist")
    )


QUERIES["emb_pq_adc"] = emb_pq_adc

_PQD_Q = "CAST(round(CAST(q.embedding[b * 16 + i] AS DOUBLE) * 1000000, 0) AS BIGINT)"
ORACLES["emb_pq_adc"] = f"""
    WITH cb AS (
        SELECT list(embedding ORDER BY vec_id) AS seeds
        FROM embeddings WHERE vec_id < {_PQ_K}
    ),
    dd AS (
        SELECT vec_id,
               list_transform(range(0, {_PQ_M}), b ->
                   list_transform(seeds, s ->
                       CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i ->
                           ({_PQD_V} - {_PQD_S}) * ({_PQD_V} - {_PQD_S})))
                       AS BIGINT))) AS d
        FROM embeddings CROSS JOIN cb
        WHERE vec_id >= {N_QUERIES}
    ),
    codes AS (
        SELECT vec_id AS c_id,
               list_position(d[1], list_min(d[1])) AS p0,
               list_position(d[2], list_min(d[2])) AS p1,
               list_position(d[3], list_min(d[3])) AS p2,
               list_position(d[4], list_min(d[4])) AS p3
        FROM dd
    ),
    luts AS (
        SELECT q.vec_id AS q_id,
               list_transform(range(0, {_PQ_M}), b ->
                   list_transform(seeds, s ->
                       CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i ->
                           ({_PQD_Q} - {_PQD_S}) * ({_PQD_Q} - {_PQD_S})))
                       AS BIGINT))) AS lut
        FROM embeddings q CROSS JOIN cb
        WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q_id, c_id,
               (lut[1][p0] + lut[2][p1] + lut[3][p2] + lut[4][p3]) / 1e12 AS adc_dist
        FROM codes CROSS JOIN luts
    )
    SELECT q_id, c_id, rank, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_dist, c_id) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
"""


# IVF-PQ ADC search — the capstone ANN composition (FAISS IVFPQ shape):
# the 16 seed vectors serve BOTH as the coarse quantizer and as the
# per-subspace PQ codebook, so ONE per-vector distance matrix dd[b][j]
# yields the PQ codes (argmin per subspace) AND the coarse list
# (argmin over Σ_b dd[b][j]) in a single row-local pass. Queries probe
# their 2 nearest coarse lists; the candidate join is an EQUALITY join
# on list id (broadcast probe table), so each query scans ~2/16 of the
# corpus codes instead of all of them — the IVF pruning multiplies with
# PQ's compressed-scan economics at 100 TB (lists are partition dirs;
# a probe is a partition-pruned scan of codes).
IVFPQ_NPROBE = 2
_BIG = "CAST(8000000000000000000 AS BIGINT)"


@session_memo("pq_dd")
def _pq_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared dd pipeline: per vector, the 4×16 integer L2² matrix
    against the seed codebook (see the reshaping rationale below).
    Memoized per (session, sf_dir) like the MinHash signatures — the
    encode, ADC, and IVF-PQ operators all derive from this one table,
    exactly as a production store materializes codes once."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    # spread(): the per-vector 4×16 L2² HOF matrix below is interpreted
    # expression work inside the scan task — fan the single-row-group
    # local scan out before it (guide §2.5); the codebook branch reads
    # the same spread frame (16 seed rows, cost-free either way).
    emb = spread(spark, sf_dir, "embeddings")
    codebook = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .agg(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), b -> "
                "transform(array_sort(collect_list(struct(vec_id, embedding))), "
                f"s -> transform(slice(s.embedding, CAST(b * {_PQ_DSUB} + 1 AS INT), "
                f"{_PQ_DSUB}), x -> {_pq_q('x')})))"
            ).alias("cb")
        )
    )
    dists = (
        "zip_with(qsub, cb, (q, ss) -> transform(ss, s -> "
        "aggregate(zip_with(q, s, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)))"
    )
    return (
        emb.join(F.broadcast(codebook))
        .select(
            "vec_id",
            "label",
            "cb",
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), b -> "
                f"transform(slice(embedding, CAST(b * {_PQ_DSUB} + 1 AS INT), "
                f"{_PQ_DSUB}), x -> {_pq_q('x')}))"
            ).alias("qsub"),
        )
        .select("vec_id", "label", F.expr(dists).alias("dd"))
        # Materialized: corpus and probe branches both read dd, and the
        # downstream argmin projections reference it many times —
        # without a persist boundary Catalyst's projection collapse
        # re-evaluates the interpreted HOF pipeline per reference
        # (measured 21.9 s → 1.8 s at sf0.1). At production scale
        # dd/codes ARE a stored table.
        .persist()
    )


_TOTALS = (
    f"transform(sequence(1, {_PQ_K}), j -> "
    + " + ".join(f"element_at(element_at(dd, {b + 1}), CAST(j AS INT))" for b in range(_PQ_M))
    + ")"
)


def emb_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    dd = _pq_dd(spark, sf_dir)
    corpus = (
        dd.filter(F.col("vec_id") >= N_QUERIES)
        .select(
            F.col("vec_id").alias("c_id"),
            *[
                F.expr(
                    f"array_position(element_at(dd, {b + 1}), "
                    f"array_min(element_at(dd, {b + 1})))"
                ).alias(f"p{b}")
                for b in range(_PQ_M)
            ],
            F.expr(f"{_TOTALS}").alias("totals"),
        )
        .select(
            "c_id", "p0", "p1", "p2", "p3",
            F.expr("array_position(totals, array_min(totals))").alias("lst"),
        )
    )
    probes = (
        dd.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("dd").alias("lut"),
                F.expr(f"{_TOTALS}").alias("totals"))
        .select(
            "q_id", "lut", "totals",
            F.expr("array_position(totals, array_min(totals))").alias("pr1"),
        )
        .select(
            "q_id", "lut", "pr1",
            F.expr(
                "zip_with(totals, sequence(1, size(totals)), "
                f"(v, i) -> IF(i = pr1, {_BIG}, v))"
            ).alias("masked"),
        )
        .select(
            "q_id", "lut", "pr1",
            F.expr("array_position(masked, array_min(masked))").alias("pr2"),
        )
        .select("q_id", "lut", F.explode(F.expr("array(pr1, pr2)")).alias("lst"))
    )
    adc = " + ".join(
        f"element_at(element_at(lut, {b + 1}), CAST(p{b} AS INT))" for b in range(_PQ_M)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist"), F.col("c_id"))
    return (
        corpus.join(F.broadcast(probes), "lst")
        .select("q_id", "c_id", F.expr(f"({adc}) / 1e12").alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "adc_dist")
    )


QUERIES["emb_ivfpq_adc"] = emb_ivfpq_adc

_TOTALS_DUCK = "list_transform(range(1, 17), j -> d[1][j] + d[2][j] + d[3][j] + d[4][j])"
ORACLES["emb_ivfpq_adc"] = f"""
    WITH cb AS (
        SELECT list(embedding ORDER BY vec_id) AS seeds
        FROM embeddings WHERE vec_id < {_PQ_K}
    ),
    dd AS (
        SELECT vec_id,
               list_transform(range(0, {_PQ_M}), b ->
                   list_transform(seeds, s ->
                       CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i ->
                           ({_PQD_V} - {_PQD_S}) * ({_PQD_V} - {_PQD_S})))
                       AS BIGINT))) AS d
        FROM embeddings CROSS JOIN cb
    ),
    corpus AS (
        SELECT vec_id AS c_id,
               list_position(d[1], list_min(d[1])) AS p0,
               list_position(d[2], list_min(d[2])) AS p1,
               list_position(d[3], list_min(d[3])) AS p2,
               list_position(d[4], list_min(d[4])) AS p3,
               list_position({_TOTALS_DUCK}, list_min({_TOTALS_DUCK})) AS lst
        FROM dd WHERE vec_id >= {N_QUERIES}
    ),
    q1 AS (
        SELECT vec_id AS q_id, d AS lut,
               {_TOTALS_DUCK} AS totals,
               list_position({_TOTALS_DUCK}, list_min({_TOTALS_DUCK})) AS pr1
        FROM dd WHERE vec_id < {N_QUERIES}
    ),
    q2 AS (
        SELECT q_id, lut, pr1,
               list_transform(range(1, len(totals) + 1),
                   i -> CASE WHEN i = pr1
                             THEN {_BIG} ELSE totals[i] END) AS masked
        FROM q1
    ),
    probes AS (
        SELECT q_id, lut,
               unnest([pr1, list_position(masked, list_min(masked))]) AS lst
        FROM q2
    )
    SELECT q_id, c_id, rank, adc_dist FROM (
        SELECT s.q_id, s.c_id, s.adc_dist,
               CAST(row_number() OVER (PARTITION BY s.q_id
                                       ORDER BY s.adc_dist, s.c_id) AS BIGINT) AS rank
        FROM (
            SELECT p.q_id, c.c_id,
                   (p.lut[1][c.p0] + p.lut[2][c.p1]
                    + p.lut[3][c.p2] + p.lut[4][c.p3]) / 1e12 AS adc_dist
            FROM corpus c JOIN probes p ON c.lst = p.lst
        ) s
    )
    WHERE rank <= {TOP_K}
"""


# Per-label distance outliers — vectors far from their label centroid
# (z-score of exact integer L2² to the centroid SUM, scale-invariant).
# Centroid sums per (label, dim) come from one partial-aggregated
# shuffle; collapsed to one row per label and broadcast; per-vector
# distance is then row-local. Flags the mislabeled/corrupt vectors a
# curation pass quarantines.
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .withColumn("xi", F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy("label", "pos")
        .agg(F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s))), p -> p.s)"
            ).alias("cs"),
            F.max("n").alias("n_vecs"),
        )
    )
    # d2 = Σ (n·x_i − c_i)² on the integer grid: comparing n·x to the
    # centroid SUM avoids dividing the centroid (stays exact integer).
    d2 = (
        "aggregate(zip_with(transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * n_vecs), cs, "
        "(x, c) -> CAST(round((x - c) / 1e6, 0) AS BIGINT) "
        "* CAST(round((x - c) / 1e6, 0) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id", "label", F.expr(f"{d2}").alias("d2")
    )
    stats = scored.groupBy("label").agg(
        F.expr("SUM(d2)").alias("sum_d2"),
        F.expr("SUM(d2 * d2)").alias("sum_d2sq"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        scored.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            "label",
            F.expr(
                "(d2 - sum_d2 / n) / "
                "NULLIF(sqrt(GREATEST(sum_d2sq / n - (sum_d2 / n) * (sum_d2 / n), 0)), 0)"
            ).alias("z_score"),
        )
        .filter(F.expr("z_score > 1.5"))
    )


QUERIES["emb_outliers"] = emb_outliers

ORACLES["emb_outliers"] = """
    WITH comp AS (
        SELECT label, t.i AS pos,
               CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    per_pos AS (
        SELECT label, pos, SUM(xi) AS s, count(*) AS n
        FROM comp GROUP BY 1, 2
    ),
    cent AS (
        SELECT label, list(s ORDER BY pos) AS cs, MAX(n) AS n_vecs
        FROM per_pos GROUP BY label
    ),
    scored AS (
        SELECT vec_id, e.label,
               CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
                   CAST(round((CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                               AS BIGINT) * n_vecs - cs[i]) / 1e6, 0) AS BIGINT)
                   * CAST(round((CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                                 AS BIGINT) * n_vecs - cs[i]) / 1e6, 0) AS BIGINT)))
               AS BIGINT) AS d2
        FROM embeddings e JOIN cent c ON e.label = c.label
    ),
    stats AS (
        SELECT label, SUM(d2) AS sum_d2, SUM(d2 * d2) AS sum_d2sq, count(*) AS n
        FROM scored GROUP BY label
    )
    SELECT vec_id, s.label,
           (d2 - sum_d2 / CAST(n AS DOUBLE))
           / NULLIF(sqrt(GREATEST(sum_d2sq / CAST(n AS DOUBLE)
                         - (sum_d2 / CAST(n AS DOUBLE)) * (sum_d2 / CAST(n AS DOUBLE)),
                         0)), 0) AS z_score
    FROM scored s JOIN stats USING (label)
    WHERE z_score > 1.5
"""


# -------------------------------------------- Matryoshka prefix search
#
# MRL-style embeddings keep most of their signal in a prefix of the
# dimensions; searching at a truncated width is the standard cheap
# first stage. This operator measures exactly what truncation costs:
# per query, the overlap between exact top-K at full width and exact
# top-K at the PREFIX_DIM prefix. Same quantized-integer math as the
# rest of the family (order-independent, oracle-exact); the query side
# broadcasts, the corpus is scanned once.
PREFIX_DIM = 16


def emb_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    q = q.select(
        "q_id", "qa", "qn",
        F.expr(f"slice(qa, 1, {PREFIX_DIM})").alias("qp"),
    ).withColumn("qpn", F.expr(_qnorm("qp")))
    c = c.select(
        "c_id", "ca", "cn",
        F.expr(f"slice(ca, 1, {PREFIX_DIM})").alias("cp"),
    ).withColumn("cpn", F.expr(_qnorm("cp")))
    scored = c.crossJoin(broadcast(q)).select(
        "q_id", "c_id",
        F.expr(_SIM).alias("sim_full"),
        F.expr(
            "CAST(aggregate(zip_with(qp, cp, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / "
            "(sqrt(CAST(qpn AS DOUBLE)) * sqrt(CAST(cpn AS DOUBLE)))"
        ).alias("sim_prefix"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("sim_full").desc(), F.col("c_id"))
    wp = Window.partitionBy("q_id").orderBy(F.col("sim_prefix").desc(), F.col("c_id"))
    ranked = scored.select(
        "q_id", "c_id",
        F.row_number().over(wf).alias("rk_full"),
        F.row_number().over(wp).alias("rk_prefix"),
    )
    return ranked.groupBy("q_id").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN rk_full <= {TOP_K} AND rk_prefix <= {TOP_K} "
            "THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_overlap"),
        F.expr(f"CAST({TOP_K} AS BIGINT)").alias("k"),
    )


QUERIES["emb_matryoshka_overlap"] = emb_matryoshka_overlap

ORACLES["emb_matryoshka_overlap"] = f"""
    WITH qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                WHERE vec_id < {N_QUERIES}),
    cv AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
           WHERE vec_id >= {N_QUERIES}),
    compq AS (
        SELECT q_id, unnest(range(1, len(qe) + 1)) AS pos,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM qv
    ),
    compc AS (
        SELECT c_id, unnest(range(1, len(ce) + 1)) AS pos,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS x
        FROM cv
    ),
    nq AS (SELECT q_id, sum(x * x) AS n2 FROM compq GROUP BY q_id),
    nc AS (SELECT c_id, sum(x * x) AS n2 FROM compc GROUP BY c_id),
    nqp AS (SELECT q_id, sum(x * x) AS n2 FROM compq WHERE pos <= {PREFIX_DIM} GROUP BY q_id),
    ncp AS (SELECT c_id, sum(x * x) AS n2 FROM compc WHERE pos <= {PREFIX_DIM} GROUP BY c_id),
    dots AS (
        SELECT cq.q_id, cc.c_id,
               sum(cq.x * cc.x) AS d_full,
               sum(CASE WHEN cq.pos <= {PREFIX_DIM} THEN cq.x * cc.x ELSE 0 END) AS d_pre
        FROM compq cq JOIN compc cc USING (pos)
        GROUP BY cq.q_id, cc.c_id
    ),
    sims AS (
        SELECT d.q_id, d.c_id,
               CAST(d_full AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS sim_full,
               CAST(d_pre AS DOUBLE) / (sqrt(CAST(nqp.n2 AS DOUBLE)) * sqrt(CAST(ncp.n2 AS DOUBLE))) AS sim_prefix
        FROM dots d
        JOIN nq USING (q_id) JOIN nc USING (c_id)
        JOIN nqp USING (q_id) JOIN ncp USING (c_id)
    ),
    ranked AS (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim_full DESC, c_id) AS rk_full,
               row_number() OVER (PARTITION BY q_id ORDER BY sim_prefix DESC, c_id) AS rk_prefix
        FROM sims
    )
    SELECT q_id,
           CAST(SUM(CASE WHEN rk_full <= {TOP_K} AND rk_prefix <= {TOP_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST({TOP_K} AS BIGINT) AS k
    FROM ranked
    GROUP BY q_id
"""


# -------------------------------------------- sample-trained PQ encode
#
# PQ with TRAINED codebooks (vs emb_pq4_encode's seed-vector codebook):
# one Lloyd round per sub-space over a deterministic hash-sample, then
# a single full-corpus encode against the trained centroids — the same
# sample-train/assign-once shape as emb_kmeans_ivf, applied per
# sub-space. Distances to a centroid MEAN stay engine-exact: with
# A = Σx², B = Σx·s, C = Σs² (exact integer sums over the quantized
# grid) and n the cluster size, L2² = A − 2B/n + C/n²; the argmin drops
# the per-row constant A, and the double formula is written identically
# in Spark and DuckDB, so IEEE rounding is bit-equal. The centroid
# model (M×K sums + counts) is one collected row broadcast to every
# task — assignment never shuffles; only the per-(subspace, cluster)
# update aggregation does.
PQT_SAMPLE_MOD = 4  # train on the ~1/4 deterministic hash-sample

# r6 (r5 verdict #6): production-width trained codebook — 8 sub-spaces
# × 8 dims with K=64 entries each, vs the teaching-width 4×16/K=16 of
# the seeded pq4 family. Same one-Lloyd-round trainer and broadcast
# model; codes per vector grow 4→8 and the model row 64→512 centroids
# (still kilobytes — the broadcast stays trivially small at any corpus
# size). Seeds exist at every SF: min |embeddings| = 500 ≥ 64.
_PQT_M = 8
_PQT_DSUB = 8
_PQT_K = 64


def _pqt_subs(emb: DataFrame) -> DataFrame:
    """(vec_id, label, subs) with subs = M quantized integer subvectors."""
    return emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(sequence(0, {_PQT_M - 1}), b -> "
            f"transform(slice(embedding, CAST(b * {_PQT_DSUB} + 1 AS INT), "
            f"{_PQT_DSUB}), x -> {_pq_q('x')}))"
        ).alias("subs"),
    )


def _pqt_drel(sub: str) -> str:
    """Relative L2² to a centroid mean (per-row constant A = Σx²
    dropped): −2B/n + C/n² from exact integer B, C, n. C = Σs² is
    PRECOMPUTED per candidate in the model struct (ct.csq) — it is
    candidate-local, so computing it per (corpus row × candidate)
    wasted a third of the hot loop (the oracle always had it in its
    meta CTE; same exact integer → same double). The formula is
    written identically in the DuckDB oracle, so IEEE rounding is
    bit-equal."""
    return (
        f"CAST(aggregate(zip_with({sub}, ct.s, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (a, v) -> a + v) AS DOUBLE) "
        "* CAST(-2 AS DOUBLE) / CAST(ct.n AS DOUBLE) "
        "+ CAST(ct.csq AS DOUBLE) "
        "/ (CAST(ct.n AS DOUBLE) * CAST(ct.n AS DOUBLE))"
    )


_PQT_SUB = "element_at(subs, b + 1)"


def _pqt_assign_expr() -> str:
    """Per-row array of M winning cluster ids over the broadcast model
    column ``ctsb`` (array-of-arrays: candidates pre-grouped per
    sub-space, so the hot loop scans K candidates, never filters the
    full M*K list — measured 7.0 -> 2.5 s at 8x64 on sf0.1); ties
    break to the smallest cid via lexicographic struct min."""
    scored = (
        f"transform(element_at(ctsb, CAST(b + 1 AS INT)), ct -> "
        f"named_struct('d', {_pqt_drel(_PQT_SUB)}, 'cid', ct.cid))"
    )
    return (
        f"transform(sequence(0, {_PQT_M - 1}), b -> "
        f"array_min({scored}).cid)"
    )


def emb_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    emb = spread(spark, sf_dir, "embeddings")
    base = _pqt_subs(emb)
    sample = base.filter(
        F.expr(
            SPARK_HASH_SQL("CONCAT('pqt:', CAST(vec_id AS STRING))")
            + f" % {PQT_SAMPLE_MOD} = 0"
        )
    )
    # Round-0 centroids: sub-vectors of the seed rows, n = 1.
    cents0 = (
        base.filter(F.col("vec_id") < _PQT_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode("subs").alias("b", "s"),
        )
        .withColumn("n", F.lit(1).cast("long"))
        .withColumn("csq", F.expr(
            "aggregate(s, CAST(0 AS BIGINT), (a, v) -> a + v * v)"))
    )

    def as_model(c: DataFrame) -> DataFrame:
        return c.agg(
            F.expr("collect_list(named_struct('b', b, 'cid', cid, "
                   "'s', s, 'n', n, 'csq', csq))")
            .alias("cts")
        )

    # One Lloyd round on the sample: map-side assignment, one shuffle
    # for the (b, cid) centroid update.
    _by_b = (f"transform(sequence(0, {_PQT_M - 1}), "
             "b -> filter(cts, ct -> ct.b = b))")
    asg = sample.crossJoin(
        broadcast(as_model(cents0).select(F.expr(_by_b).alias("ctsb")))
    ).select(
        "vec_id",
        "subs",
        F.expr(_pqt_assign_expr()).alias("cids"),
    )
    cents1 = (
        asg.select(F.posexplode("subs").alias("b", "sub"), "cids")
        .select("b", F.expr("element_at(cids, b + 1)").alias("cid"), "sub")
        .groupBy("b", "cid")
        .agg(F.collect_list("sub").alias("cl"), F.count(F.lit(1)).alias("n"))
        .select(
            "b",
            "cid",
            F.expr(
                "aggregate(slice(cl, 2, size(cl) - 1), element_at(cl, 1), "
                "(acc, v) -> zip_with(acc, v, (a, b) -> a + b))"
            ).alias("s"),
            "n",
        )
        .withColumn("csq", F.expr(
            "aggregate(s, CAST(0 AS BIGINT), (a, v) -> a + v * v)"))
    )
    # Degenerate-corpus guard: on a corpus so small the deterministic
    # 1/PQT_SAMPLE_MOD hash-sample is EMPTY, the trained model collapses
    # to zero centroids (array_min over an empty candidate list → NULL
    # codes). Fall back to the round-0 seed codebook — mirrored in the
    # oracle — so the operator degrades to emb_pq4_encode semantics
    # instead of emitting NULL rows.
    model = (
        as_model(cents1)
        .crossJoin(as_model(cents0).withColumnRenamed("cts", "seed_cts"))
        .select(
            F.expr("CASE WHEN size(cts) > 0 THEN cts ELSE seed_cts END").alias("cts")
        )
        # the ONE model row is re-shaped per sub-space once, so the
        # per-corpus-row argmin indexes K candidates instead of
        # filtering the M*K list
        .select(F.expr(_by_b).alias("ctsb"))
    )
    # Full-corpus encode, LONG-FORM (vec_id, b, code, dist_b): one row
    # per sub-space keeps every emitted double a single-formula value
    # (a per-vector sum of 4 doubles would be association-order
    # sensitive across engines). The A = Σx² term is restored for the
    # reported distortion; the argmin itself never needed it.
    a_term = (
        f"aggregate({_PQT_SUB}, CAST(0 AS BIGINT), (a, v) -> a + v * v)"
    )
    win = (
        "array_min(transform(element_at(ctsb, CAST(b + 1 AS INT)), ct -> "
        f"named_struct('d', {_pqt_drel(_PQT_SUB)}, 'cid', ct.cid)))"
    )
    # the winner struct is materialized ONCE per (row, b) — naming it
    # 'w' and projecting after the explode avoids evaluating the
    # argmin twice (interpreted HOFs get no subexpression elimination)
    per_b = (
        f"transform(sequence(0, {_PQT_M - 1}), b -> named_struct("
        f"'b', CAST(b AS BIGINT), "
        f"'w', {win}, "
        f"'a', {a_term}))"
    )
    return (
        base.crossJoin(broadcast(model))
        .select("vec_id", "label", F.explode(F.expr(per_b)).alias("e"))
        .selectExpr(
            "vec_id", "label", "e.b",
            "e.w.cid AS code",
            "CAST(ROUND((CAST(e.a AS DOUBLE) + e.w.d) / 1e6) AS BIGINT) "
            "AS dist_b",
        )
    )


QUERIES["emb_pq_trained"] = emb_pq_trained


def _pqt_oracle() -> str:
    samp_hash = STABLE_HASH_SQL("('pqt:' || CAST(vec_id AS VARCHAR))")
    dform = (
        "CAST(bsum AS DOUBLE) * CAST(-2 AS DOUBLE) / CAST(n AS DOUBLE) "
        "+ CAST(csq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    )
    return f"""
        WITH comp AS (
            SELECT vec_id, label, b, i,
                   CAST(round(CAST(embedding[b * {_PQT_DSUB} + i] AS DOUBLE)
                              * 1000000, 0) AS BIGINT) AS x
            FROM embeddings,
                 unnest(range(0, {_PQT_M})) AS tb(b),
                 unnest(range(1, {_PQT_DSUB + 1})) AS ti(i)
        ),
        samp AS (SELECT vec_id FROM embeddings WHERE {samp_hash} % {PQT_SAMPLE_MOD} = 0),
        cent0 AS (
            SELECT vec_id AS cid, b, i, x AS s FROM comp WHERE vec_id < {_PQT_K}
        ),
        meta0 AS (
            SELECT cid, b, CAST(1 AS BIGINT) AS n, sum(s * s) AS csq
            FROM cent0 GROUP BY cid, b
        ),
        dot0 AS (
            SELECT c.vec_id, c.b, ct.cid, sum(c.x * ct.s) AS bsum
            FROM comp c
            JOIN samp USING (vec_id)
            JOIN cent0 ct ON c.b = ct.b AND c.i = ct.i
            GROUP BY c.vec_id, c.b, ct.cid
        ),
        d0 AS (
            SELECT vec_id, d.b, d.cid, {dform} AS d
            FROM dot0 d JOIN meta0 m ON d.b = m.b AND d.cid = m.cid
        ),
        asg AS (
            SELECT vec_id, b, cid FROM (
                SELECT vec_id, b, cid,
                       row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rn
                FROM d0
            ) WHERE rn = 1
        ),
        cent1 AS (
            SELECT a.b, a.cid, c.i, sum(c.x) AS s
            FROM asg a JOIN comp c ON a.vec_id = c.vec_id AND a.b = c.b
            GROUP BY a.b, a.cid, c.i
        ),
        meta1 AS (
            SELECT n1.b, n1.cid, n1.n, c1.csq
            FROM (SELECT b, cid, count(*) AS n FROM asg GROUP BY b, cid) n1
            JOIN (SELECT b, cid, sum(s * s) AS csq FROM cent1 GROUP BY b, cid) c1
              ON n1.b = c1.b AND n1.cid = c1.cid
        ),
        centf AS (
            SELECT b, cid, i, s FROM cent1
            UNION ALL
            SELECT b, cid, i, s FROM cent0
            WHERE NOT EXISTS (SELECT 1 FROM cent1)
        ),
        metaf AS (
            SELECT b, cid, n, csq FROM meta1
            UNION ALL
            SELECT b, cid, n, csq FROM meta0
            WHERE NOT EXISTS (SELECT 1 FROM meta1)
        ),
        dotf AS (
            SELECT c.vec_id, c.b, ct.cid, sum(c.x * ct.s) AS bsum
            FROM comp c JOIN centf ct ON c.b = ct.b AND c.i = ct.i
            GROUP BY c.vec_id, c.b, ct.cid
        ),
        df AS (
            SELECT vec_id, d.b, d.cid, {dform} AS d
            FROM dotf d JOIN metaf m ON d.b = m.b AND d.cid = m.cid
        ),
        av AS (SELECT vec_id, b, sum(x * x) AS a FROM comp GROUP BY vec_id, b),
        win AS (
            SELECT vec_id, b, cid, d FROM (
                SELECT vec_id, b, cid, d,
                       row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cid) AS rn
                FROM df
            ) WHERE rn = 1
        )
        SELECT w.vec_id, e.label, CAST(w.b AS BIGINT) AS b, w.cid AS code,
               CAST(ROUND((CAST(av.a AS DOUBLE) + w.d) / 1e6) AS BIGINT)
                   AS dist_b
        FROM win w
        JOIN av ON av.vec_id = w.vec_id AND av.b = w.b
        JOIN (SELECT vec_id, label FROM embeddings) e ON e.vec_id = w.vec_id
    """


ORACLES["emb_pq_trained"] = _pqt_oracle()


# --------------------------------------------------- cosine range search
#
# Threshold (range) search — "every corpus vector with cosine ≥ τ of
# the query", the retrieval mode dedup/link-prediction pipelines use
# when the neighbor COUNT is unknown a priori (top-k is wrong there:
# it truncates dense neighborhoods and pads sparse ones). Exact
# baseline shape: broadcast the small query set, scan the corpus once,
# keep pairs past the threshold — no per-query sort at all (cheaper
# than top-k: the window rank disappears). τ = 0.25 is ~2σ of the
# null cosine distribution at 64 dims. At 100 TB the same threshold
# drops into the LSH/IVF bucketed scans (emb_lsh_ann / emb_ivf_ann)
# as the rerank predicate; this operator is their exact-recall oracle.
RANGE_TAU = 0.25


def emb_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _split(spark, sf_dir)
    return (
        c.crossJoin(broadcast(q))
        .select("q_id", "c_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= RANGE_TAU)
    )


QUERIES["emb_range_search"] = emb_range_search

ORACLES["emb_range_search"] = f"""
    WITH {_DUCK_PAIRS},
    pairs AS (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c),
    {_DUCK_SCORE}
    SELECT q_id, c_id, sim FROM scored WHERE sim >= {RANGE_TAU}
"""


# The bucketed scale path for range search: multi-probe LSH prunes the
# corpus to the probed buckets (|probes|/2^bits of it per query), then
# the SAME τ threshold filters exact sims inside them — candidates
# that straddle >2 hyperplanes are missed, which is precisely what
# RECALL.md measures against emb_range_search's exact answer. Fully
# deterministic (bucketing + threshold), so the oracle is exact, not
# bounds-style.
def emb_lsh_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _split(spark, sf_dir)
    probes = ", ".join(f"bkt0 ^ {m}" for m in _LSH_PROBE_MASKS)
    qb = (
        q.withColumn("bkt0", F.expr(_bucket_expr("qe")))
        .select(
            "q_id", "qa", "qn",
            F.explode(F.expr(f"array({probes})")).alias("bkt"),
        )
    )
    cb = c.withColumn("bkt", F.expr(_bucket_expr("ce")))
    return (
        cb.join(broadcast(qb), "bkt")
        .select("q_id", "c_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= RANGE_TAU)
    )


QUERIES["emb_lsh_range"] = emb_lsh_range

ORACLES["emb_lsh_range"] = f"""
    WITH {_DUCK_PAIRS},
    qb0 AS (SELECT q_id, qe,
                  {" + ".join(f"(CASE WHEN CAST(qe[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt0 FROM q),
    qb AS (SELECT q_id, qe,
                  unnest([{", ".join(f"xor(bkt0, {m})" for m in _LSH_PROBE_MASKS)}]) AS bkt
           FROM qb0),
    cb AS (SELECT c_id, ce,
                  {" + ".join(f"(CASE WHEN CAST(ce[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt FROM c),
    pairs AS (SELECT q_id, qe, c_id, ce FROM qb JOIN cb USING (bkt)),
    {_DUCK_SCORE}
    SELECT q_id, c_id, sim FROM scored WHERE sim >= {RANGE_TAU}
"""


# --------------------------------------------- metadata-filtered top-k
#
# Pre-filtered vector search — "top-k among candidates whose metadata
# matches the query's" (the vector-DB filter clause). The filter IS the
# block: query and corpus join on the label equality BEFORE any
# scoring, so the scan prunes to the matching partition of the corpus
# instead of post-filtering a global top-k (which under-fills k when
# the filter is selective). Broadcast the query side; rank within
# (query, label). At 100 TB with a label-partitioned corpus layout the
# label predicate prunes at the file level before the scan.
def emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    scored = c.join(broadcast(q), c.label == q.q_label).select(
        "q_id", "c_id", "label", F.expr(_SIM).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "label", "c_id", "rank", "sim")
    )


QUERIES["emb_filtered_topk"] = emb_filtered_topk

ORACLES["emb_filtered_topk"] = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, label, embedding AS ce
          FROM embeddings WHERE vec_id >= {N_QUERIES}),
    pairs AS (SELECT q_id, qe, c_id, label, ce
              FROM q JOIN c ON c.label = q.q_label),
    comp AS (
        SELECT q_id, c_id, label,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
        FROM pairs
    ),
    scored AS (
        SELECT q_id, c_id, any_value(label) AS label,
               CAST(sum(xq * xc) AS DOUBLE)
               / (sqrt(CAST(sum(xq * xq) AS DOUBLE)) * sqrt(CAST(sum(xc * xc) AS DOUBLE)))
                   AS sim
        FROM comp GROUP BY q_id, c_id
    )
    SELECT q_id, label, c_id, rank, sim FROM (
        SELECT q_id, label, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
"""


# ------------------------------------------------ embedding drift watch
#
# Distribution-shift monitor for an embedding pipeline: split the
# corpus into a deterministic reference half and current half (md5
# hash of vec_id — in production these are yesterday's vs today's
# partitions), compare per-label centroids, and report the L2 shift.
# Component sums are exact integers on the 1e-6 quantization grid;
# each per-position MEAN DIFFERENCE is then re-rounded onto the same
# grid (one double formula, bit-identical across engines — the
# _pqt_drel precedent), so md is bounded by the grid range (~1e6)
# regardless of corpus size and Σmd² stays far inside BIGINT at ANY
# scale — no cross-multiplication that would overflow int64 once a
# label holds millions of vectors. The ≤1e-6-per-position
# re-quantization is noise for a drift monitor reporting 6dp.
# Per-(label, pos) partial aggregation: the corpus shuffles once as
# (label, pos, component) rows; the drift table is |labels| rows.
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    half = SPARK_HASH_SQL("CONCAT('drift:', CAST(vec_id AS STRING))")
    comp = emb.select(
        "label",
        F.expr(f"pmod({half}, 2) = 0").alias("is_ref"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label", "is_ref", "pos",
        F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("xi"),
    )
    per_pos = comp.groupBy("label", "pos").agg(
        F.expr("SUM(CASE WHEN is_ref THEN xi ELSE 0 END)").alias("s_ref"),
        F.expr("SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)").alias("n_ref"),
        F.expr("SUM(CASE WHEN NOT is_ref THEN xi ELSE 0 END)").alias("s_cur"),
        F.expr("SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)").alias("n_cur"),
    )
    # labels with an empty half have no centroid to compare (and the
    # division would NaN) — dropped, mirrored in the oracle
    md = ("CAST(ROUND(CAST(s_ref AS DOUBLE) / n_ref "
          "- CAST(s_cur AS DOUBLE) / n_cur, 0) AS BIGINT)")
    return (
        per_pos.filter("n_ref > 0 AND n_cur > 0")
        .groupBy("label")
        .agg(
            F.expr("CAST(MAX(n_ref) AS BIGINT)").alias("n_ref"),
            F.expr("CAST(MAX(n_cur) AS BIGINT)").alias("n_cur"),
            F.expr(f"SUM({md} * {md})").alias("ssq"),
        )
        .select(
            "label",
            "n_ref",
            "n_cur",
            # µ grid == sqrt(ssq) itself (ssq is on the 1e-6 component
            # grid); correctly-rounded sqrt + integer ROUND is
            # engine-stable, unlike a fractional ROUND of the quotient
            F.expr(
                "CAST(ROUND(sqrt(CAST(ssq AS DOUBLE))) AS BIGINT)"
            ).alias("centroid_shift"),
        )
    )


QUERIES["emb_centroid_drift"] = emb_centroid_drift

ORACLES["emb_centroid_drift"] = f"""
    WITH comp AS (
        SELECT label,
               {STABLE_HASH_SQL("('drift:' || CAST(vec_id AS VARCHAR))")} % 2 = 0
                   AS is_ref,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
                   AS xi
        FROM embeddings
    ),
    per_pos AS (
        SELECT label, pos,
               SUM(CASE WHEN is_ref THEN xi ELSE 0 END) AS s_ref,
               SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN NOT is_ref THEN xi ELSE 0 END) AS s_cur,
               SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
        FROM comp GROUP BY label, pos
    ),
    agg AS (
        SELECT label,
               CAST(MAX(n_ref) AS BIGINT) AS n_ref,
               CAST(MAX(n_cur) AS BIGINT) AS n_cur,
               SUM(CAST(ROUND(CAST(s_ref AS DOUBLE) / n_ref
                              - CAST(s_cur AS DOUBLE) / n_cur, 0) AS BIGINT)
                   * CAST(ROUND(CAST(s_ref AS DOUBLE) / n_ref
                                - CAST(s_cur AS DOUBLE) / n_cur, 0) AS BIGINT))
                   AS ssq
        FROM per_pos
        WHERE n_ref > 0 AND n_cur > 0
        GROUP BY label
    )
    SELECT label, n_ref, n_cur,
           CAST(ROUND(sqrt(CAST(ssq AS DOUBLE))) AS BIGINT) AS centroid_shift
    FROM agg
"""


# ------------------------------------------------------------ SemDeDup
#
# Semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication"): cluster the
# corpus with a coarse quantizer, then WITHIN each cluster drop every
# vector that has a higher-priority near-twin above a cosine threshold.
# Candidate volume is Σ cluster² — never the corpus cross product — and
# K GROWS WITH THE CORPUS: K = max(8, N div SEMDEDUP_CLUSTER_TARGET),
# computed driver-side from the persisted prep frame (one cheap count;
# the oracle mirrors it as a scalar subquery), so mean cluster size
# stays ~constant and
# the per-cluster quadratic is Σ cluster² ≈ N·target — linear in N —
# at every scale, enforced rather than documented. The keep rule
# (lowest vec_id wins) is a deterministic stand-in for SemDeDup's
# farthest-from-centroid keeper so the oracle can replay it. The
# cluster assignment is the same broadcast-seed scoring as emb_ivf_ann
# (similarity.py:310); generalizes the reference's exact duplicate
# drop (etl/transform.py:100 filters rows by a predicate) to
# embedding-space near-duplicates.
SEMDEDUP_K_MIN = 8
SEMDEDUP_CLUSTER_TARGET = 256  # ⟨cluster size⟩ the adaptive K aims at
SEMDEDUP_THRESHOLD = 0.35


def _semdedup(emb: DataFrame) -> DataFrame:
    """Core SemDeDup over a (vec_id, embedding) frame — separated from
    the registry wrapper so tests can drive it with a synthetic corpus
    large enough to engage the adaptive-K guard."""
    from pyspark.sql.window import Window

    emb = emb.select(
        "vec_id",
        F.expr(_QUANT.format(col="embedding")).alias("qi"),
    ).withColumn("nrm", F.expr(_qnorm("qi"))).persist()
    # K driver-side from the persisted frame (one cheap count): the
    # same max(8, N div 256) the SQL-expression form computed, but now
    # the salt fan-out below can be derived from it too.
    n_vecs = emb.count()
    k_seeds = max(SEMDEDUP_K_MIN, n_vecs // SEMDEDUP_CLUSTER_TARGET)
    seeds = (
        emb.filter(F.col("vec_id") < k_seeds)
        .select(
            F.col("vec_id").alias("s_id"),
            F.col("qi").alias("qa"),
            F.col("nrm").alias("qn"),
        )
    )
    # Coarse assignment: nearest seed (ties → lowest seed id); one
    # broadcast, no shuffle until the per-vector argmax window.
    # localCheckpoint: THREE consumers (both pair sides + the output
    # join) would each replay the K-way scoring crossJoin otherwise —
    # the contamination-style duplication, one materialization fixes.
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("s_id")
    )
    assign = (
        emb.withColumnRenamed("qi", "ca").withColumnRenamed("nrm", "cn")
        .crossJoin(broadcast(seeds))
        .select("vec_id", "ca", "cn", "s_id", F.expr(_SIM).alias("sim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "ca", "cn", F.col("s_id").alias("cluster"))
        .localCheckpoint()
    )
    # Within-cluster near-twins; the HIGHER id of each pair is the drop
    # candidate (lowest id in a dup set survives transitively: it has
    # no lower neighbor, and every other member has one — it).
    # SALTED cluster join (the _band_pairs trick, same result-identity
    # argument): with few clusters (K < cores — only ever a small
    # corpus; K grows with N) the per-pair interpreted sim math would
    # land on ≤ K post-shuffle partitions, and AQE would coalesce the
    # tiny local shuffle to ONE. The a-side takes a deterministic salt
    # in [0, g) (xxhash64, retry-stable), the b-side replicates g ways,
    # and the pinned repartition keys both sides (cluster, _s) so every
    # in-cluster pair meets exactly once while the quadratic work fans
    # over g·K reducers. At scale K ≥ cores ⇒ g = 1: plan shape is the
    # plain cluster join, no replication.
    par = emb.sparkSession.sparkContext.defaultParallelism
    g = max(1, par // max(int(k_seeds), 1))
    a = assign.select(
        F.col("vec_id").alias("a_id"),
        F.col("ca").alias("qa"),
        F.col("cn").alias("qn"),
        "cluster",
        F.pmod(F.xxhash64("vec_id"), F.lit(g)).alias("_s"),
    )
    b = assign.select(
        F.col("vec_id").alias("b_id"),
        F.col("ca"),
        F.col("cn"),
        "cluster",
        F.explode(F.expr(
            f"sequence(CAST(0 AS BIGINT), CAST({g - 1} AS BIGINT))"
        )).alias("_s"),
    )
    if g > 1:
        a = a.repartition(par, F.col("cluster"), F.col("_s"))
        b = b.repartition(par, F.col("cluster"), F.col("_s"))
    dups = (
        a.join(b, ["cluster", "_s"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    # spread() here, not inside _semdedup: the core is also driven by
    # tests with synthetic frames whose layout is theirs to choose.
    # NOTE (intentional, r13): _semdedup is EAGER at build time — it
    # runs the prep count (adaptive K) and the assignment
    # localCheckpoint when the DataFrame is CONSTRUCTED, so merely
    # explaining this entry's plan executes the clustering. That is
    # the deliberate trade from the r13 salted-join rewrite (K and the
    # salt fan-out must be known to shape the plan); plan-capture
    # tooling should expect it.
    return _semdedup(spread(
        spark, sf_dir, "embeddings",
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding")))


QUERIES["emb_semdedup"] = emb_semdedup

_SD_SCORE = (
    _DUCK_SCORE.replace("scored", "sdscored").replace("comp", "sdcomp")
    .replace("pairs", "sdpairs").replace("q_id", "a_id")
    .replace("c_id", "b_id")
)

ORACLES["emb_semdedup"] = f"""
    WITH v AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
    seeds AS (SELECT vec_id AS s_id, embedding AS se FROM embeddings
              WHERE vec_id < (SELECT GREATEST({SEMDEDUP_K_MIN},
                                             COUNT(*) // {SEMDEDUP_CLUSTER_TARGET})
                              FROM embeddings)),
    apairs AS (SELECT s_id, se, c_id, ce FROM seeds CROSS JOIN v),
    {_A_SCORE},
    assign AS (
        SELECT c_id, cluster, ce FROM (
            SELECT a.c_id, a.s_id AS cluster, v.ce,
                   row_number() OVER (PARTITION BY a.c_id
                                      ORDER BY a.sim DESC, a.s_id) AS rn
            FROM ascored a JOIN v USING (c_id)
        ) WHERE rn = 1
    ),
    sdpairs AS (
        SELECT a.c_id AS a_id, a.ce AS qe, b.c_id AS b_id, b.ce
        FROM assign a JOIN assign b USING (cluster)
        WHERE a.c_id < b.c_id
    ),
    {_SD_SCORE},
    dups AS (SELECT DISTINCT b_id FROM sdscored
             WHERE sim >= {SEMDEDUP_THRESHOLD})
    SELECT a.c_id AS vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           d.b_id IS NULL AS keep
    FROM assign a LEFT JOIN dups d ON a.c_id = d.b_id
"""


# ------------------------------------------ hybrid retrieval (RRF)
#
# Modern RAG retrieval: BM25 keyword search and exact-cosine vector
# search each produce a top-50 candidate list, fused by Reciprocal
# Rank Fusion (score = Σ 1/(60 + rank)) into the final top-10 — the
# standard hybrid-search recipe (Elastic/vector-DB default). The
# documents and embeddings tables are row-paired (doc_id == vec_id),
# so doc 0's embedding is the vector query while fixed terms are the
# keyword query. Scale shape: each side is rank-on-top-k — candidate
# generation prunes first (term postings / full cosine here, ANN
# buckets at 100 TB), the global sort only ever touches k rows, and
# the fuse is a k×k outer join of two tiny lists. BM25 doubles are
# rounded to 1e-9 before ranking so a last-ulp ln() difference between
# engines can't flip a rank.
RRF_K = 60
RRF_TOP = 50
HYBRID_TERMS = ("join", "merge", "shuffle")


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    terms_in = ", ".join(f"'{t}'" for t in HYBRID_TERMS)
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= N_QUERIES
    )
    words = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("dl"),
        F.explode(F.expr("split(text, ' ')")).alias("w"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("AVG(size(split(text, ' ')))").alias("avgdl"),
    )
    tf = (
        words.filter(F.expr(f"w IN ({terms_in})"))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf is already unique per (doc_id, w) — a plain count is the df
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    bm25 = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "ln((n_docs - df + 0.5) / (df + 0.5) + 1) * "
                "tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
            ).alias("part_score"),
        )
        .groupBy("doc_id")
        .agg(F.expr("CAST(ROUND(SUM(part_score) * 1e9) AS BIGINT)")
             .alias("text_score"))
    )
    wt = Window.orderBy(F.col("text_score").desc(), F.col("doc_id"))
    text_top = (
        bm25.orderBy(F.col("text_score").desc(), F.col("doc_id"))
        .limit(RRF_TOP)
        .withColumn("text_rank", F.row_number().over(wt).cast("long"))
        .select("doc_id", "text_rank")
    )
    q, c = _split(spark, sf_dir)
    q0 = q.filter(F.col("q_id") == 0).select("qa", "qn")
    vec_top = (
        c.crossJoin(broadcast(q0))
        .select(F.col("c_id").alias("doc_id"), F.expr(_SIM).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("doc_id"))
        .limit(RRF_TOP)
        .withColumn(
            "vec_rank",
            F.row_number().over(
                Window.orderBy(F.col("sim").desc(), F.col("doc_id"))
            ).cast("long"),
        )
        .select("doc_id", "vec_rank")
    )
    fused = (
        text_top.join(vec_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            "text_rank",
            "vec_rank",
            # CAST(1 AS DOUBLE): a 1.0 literal is DECIMAL in both
            # engines, and DECIMAL / BIGINT truncates scale in DuckDB
            F.expr(
                f"CAST(ROUND((COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + text_rank), 0.0) "
                f"+ COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + vec_rank), 0.0))"
                " * 1e9) AS BIGINT)"
            ).alias("rrf_score"),
        )
    )
    wf = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(wf).cast("long"))
    )


QUERIES["hybrid_search_rrf"] = hybrid_search_rrf

ORACLES["hybrid_search_rrf"] = f"""
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= {N_QUERIES}
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               AVG(len(string_split(text, ' '))) AS avgdl
        FROM docs
    ),
    words AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS w
        FROM docs
    ),
    tf AS (
        SELECT doc_id, dl, w, COUNT(*) AS tf
        FROM words
        WHERE w IN ({", ".join(f"'{t}'" for t in HYBRID_TERMS)})
        GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    bm25 AS (
        SELECT doc_id,
               CAST(ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * 2.2
                         / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) * 1e9)
                    AS BIGINT) AS text_score
        FROM tf JOIN dfreq USING (w) CROSS JOIN stats
        GROUP BY doc_id
    ),
    text_top AS (
        SELECT doc_id, CAST(row_number() OVER (
                   ORDER BY text_score DESC, doc_id) AS BIGINT) AS text_rank
        FROM bm25
        ORDER BY text_score DESC, doc_id LIMIT {RRF_TOP}
    ),
    q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    vpairs AS (
        SELECT 0 AS q_id, q0.qe, e.vec_id AS c_id, e.embedding AS ce
        FROM embeddings e CROSS JOIN q0 WHERE e.vec_id >= {N_QUERIES}
    ),
    vcomp AS (
        SELECT c_id,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
        FROM vpairs
    ),
    vscored AS (
        SELECT c_id,
               CAST(sum(xq * xc) AS DOUBLE)
               / (sqrt(CAST(sum(xq * xq) AS DOUBLE))
                  * sqrt(CAST(sum(xc * xc) AS DOUBLE))) AS sim
        FROM vcomp GROUP BY c_id
    ),
    vec_top AS (
        SELECT c_id AS doc_id, CAST(row_number() OVER (
                   ORDER BY sim DESC, c_id) AS BIGINT) AS vec_rank
        FROM vscored
        ORDER BY sim DESC, c_id LIMIT {RRF_TOP}
    ),
    fused AS (
        SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
               t.text_rank, v.vec_rank,
               CAST(ROUND((COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + t.text_rank), 0.0)
                     + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + v.vec_rank), 0.0))
                     * 1e9) AS BIGINT) AS rrf_score
        FROM text_top t FULL OUTER JOIN vec_top v ON t.doc_id = v.doc_id
    )
    SELECT doc_id, text_rank, vec_rank, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                AS BIGINT) AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


# ------------------------------------- binary quantization / hamming
# Sign-bit binary embeddings: 64 float dims pack into TWO 32-bit words
# (16 bytes/vector, a 16x memory cut vs float32), and similarity
# becomes popcount(xor) — the binary-quantization retrieval shape
# (cf. faiss IndexBinaryFlat). 32-bit words keep every shift positive
# in BOTH engines (a 1<<63 BIGINT sign bit is an overflow trap in
# DuckDB). All arithmetic is integer → the oracle is bit-exact by
# construction. At 100 TB the packed words are a narrow projected
# column scan; queries broadcast; the only shuffle is the per-query
# top-k window over candidates.
BQ_WORDS = 2
BQ_WORD_BITS = 32


def _bq_pack_expr(col: str, word: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN CAST(element_at({col}, {word * BQ_WORD_BITS + j + 1}) "
        f"AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(BQ_WORD_BITS)
    )
    return f"CAST({bits} AS BIGINT)"


_BQ_HAMMING = " + ".join(
    f"bit_count(qw{w} ^ cw{w})" for w in range(BQ_WORDS)
)


def _bq_split(spark: SparkSession, sf_dir: str):
    q, c = _split(spark, sf_dir)
    qb = q.select(
        "q_id", "qa", "qn",
        *[F.expr(_bq_pack_expr("qe", w)).alias(f"qw{w}")
          for w in range(BQ_WORDS)],
    )
    cb = c.select(
        "c_id", "ca", "cn",
        *[F.expr(_bq_pack_expr("ce", w)).alias(f"cw{w}")
          for w in range(BQ_WORDS)],
    )
    return qb, cb


def emb_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by Hamming distance over sign-bit packed embeddings."""
    from pyspark.sql.window import Window

    qb, cb = _bq_split(spark, sf_dir)
    scored = cb.crossJoin(broadcast(qb.select(
        "q_id", *[f"qw{w}" for w in range(BQ_WORDS)]
    ))).select(
        "q_id", "c_id",
        F.expr(f"CAST({_BQ_HAMMING} AS BIGINT)").alias("hamming"),
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "hamming")
    )


def emb_bq_rerank(spark: SparkSession, sf_dir: str,
                  shortlist: int = 20) -> DataFrame:
    """Two-stage retrieval: Hamming over packed sign bits prefilters a
    shortlist (cheap popcount scan), exact quantized cosine reranks
    ONLY the shortlist — the standard binary-quantization serving
    architecture (scan compressed codes, rerank a constant number of
    full vectors). Per-pair float work drops from |corpus| to
    ``shortlist`` per query."""
    from pyspark.sql.window import Window

    qb, cb = _bq_split(spark, sf_dir)
    coarse = cb.crossJoin(broadcast(qb)).select(
        "q_id", "c_id", "qa", "qn", "ca", "cn",
        F.expr(f"CAST({_BQ_HAMMING} AS BIGINT)").alias("hamming"),
    )
    wh = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    short = coarse.withColumn("h_rank", F.row_number().over(wh)).filter(
        F.col("h_rank") <= shortlist
    )
    ws = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        short.select("q_id", "c_id", "hamming", F.expr(_SIM).alias("sim"))
        .withColumn("rank", F.row_number().over(ws).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "rank", "hamming", "sim")
    )


QUERIES["emb_bq_hamming"] = emb_bq_hamming
QUERIES["emb_bq_rerank"] = emb_bq_rerank


def _duck_bq_pack(col: str, word: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN CAST({col}[{word * BQ_WORD_BITS + j + 1}] "
        f"AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(BQ_WORD_BITS)
    )
    return f"CAST({bits} AS BIGINT)"


_DUCK_BQ = f"""
    qb AS (SELECT vec_id AS q_id, embedding AS qe,
                  {_duck_bq_pack('embedding', 0)} AS qw0,
                  {_duck_bq_pack('embedding', 1)} AS qw1
           FROM embeddings WHERE vec_id < {N_QUERIES}),
    cb AS (SELECT vec_id AS c_id, embedding AS ce,
                  {_duck_bq_pack('embedding', 0)} AS cw0,
                  {_duck_bq_pack('embedding', 1)} AS cw1
           FROM embeddings WHERE vec_id >= {N_QUERIES}),
    hpairs AS (
        SELECT q_id, c_id, qe, ce,
               CAST(bit_count(xor(qw0, cw0))
                    + bit_count(xor(qw1, cw1)) AS BIGINT) AS hamming
        FROM qb CROSS JOIN cb
    )"""

ORACLES["emb_bq_hamming"] = f"""
    WITH {_DUCK_BQ}
    SELECT q_id, c_id, rank, hamming FROM (
        SELECT q_id, c_id, hamming,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY hamming, c_id) AS BIGINT) AS rank
        FROM hpairs
    ) WHERE rank <= {TOP_K}
"""

ORACLES["emb_bq_rerank"] = f"""
    WITH {_DUCK_BQ},
    short AS (
        SELECT q_id, c_id, qe, ce, hamming FROM (
            SELECT q_id, c_id, qe, ce, hamming,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY hamming, c_id) AS h_rank
            FROM hpairs
        ) WHERE h_rank <= 20
    ),
    comp AS (
        SELECT q_id, c_id, hamming,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
        FROM short
    ),
    scored AS (
        SELECT q_id, c_id, max(hamming) AS hamming,
               CAST(sum(xq * xc) AS DOUBLE)
               / (sqrt(CAST(sum(xq * xq) AS DOUBLE))
                  * sqrt(CAST(sum(xc * xc) AS DOUBLE))) AS sim
        FROM comp GROUP BY q_id, c_id
    )
    SELECT q_id, c_id, rank, hamming, sim FROM (
        SELECT q_id, c_id, hamming, sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, c_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
"""


# ---------------------------------------------- in-plan ANN recall gate
#
# Retrieval quality measured AS A QUERY: recall@3 of the multi-probe
# LSH shortlist against the exact brute-force top-3, per query vector.
# This is the observability primitive a 100 TB retrieval stack runs
# continuously (sampled queries → recall trend), expressed with the
# same registry operators it audits — both sides score on the identical
# integer-quantized grid, so the comparison is bit-deterministic and
# fully oracle-gated (RECALL.md holds the offline wide-sweep twin).
# Cost: the exact side IS brute force — at scale you run it over a
# sampled query set (N_QUERIES here), which is exactly this plan.
RECALL_K = 3


def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        emb_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= RECALL_K)
        .select("q_id", "c_id")
    )
    approx = emb_lsh_ann(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("m")
    )
    return (
        exact.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("m").alias("n_matched"),
        )
        .selectExpr(
            "q_id",
            "n_exact",
            "n_matched",
            "n_matched * 1000000 DIV n_exact AS recall_ppm",
        )
    )


QUERIES["emb_ann_recall"] = emb_ann_recall


def _duck_score_sfx(sfx: str, src: str) -> str:
    """The quantized-cosine scoring block with suffixed CTE names, so
    two scoring pipelines can coexist in one oracle."""
    return f"""
        comp{sfx} AS (
            SELECT q_id, c_id,
                   CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
                   CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
            FROM {src}
        ),
        scored{sfx} AS (
            SELECT q_id, c_id,
                   CAST(sum(xq * xc) AS DOUBLE)
                   / (sqrt(CAST(sum(xq * xq) AS DOUBLE)) * sqrt(CAST(sum(xc * xc) AS DOUBLE)))
                       AS sim
            FROM comp{sfx} GROUP BY q_id, c_id
        )"""


ORACLES["emb_ann_recall"] = f"""
    WITH {_DUCK_PAIRS},
    pairs_ex AS (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c),
    {_duck_score_sfx("_ex", "pairs_ex")},
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, c_id) AS r
            FROM scored_ex
        ) WHERE r <= {RECALL_K}
    ),
    qb0 AS (SELECT q_id, qe,
                  {" + ".join(f"(CASE WHEN CAST(qe[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt0 FROM q),
    qb AS (SELECT q_id, qe,
                  unnest([{", ".join(f"xor(bkt0, {m})" for m in _LSH_PROBE_MASKS)}]) AS bkt
           FROM qb0),
    cb AS (SELECT c_id, ce,
                  {" + ".join(f"(CASE WHEN CAST(ce[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt FROM c),
    pairs_ap AS (SELECT q_id, qe, c_id, ce FROM qb JOIN cb USING (bkt)),
    {_duck_score_sfx("_ap", "pairs_ap")},
    approx AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, c_id) AS r
            FROM scored_ap
        ) WHERE r <= {RECALL_K}
    )
    SELECT e.q_id, count(*) AS n_exact,
           count(a.c_id) AS n_matched,
           count(a.c_id) * 1000000 // count(*) AS recall_ppm
    FROM exact e LEFT JOIN approx a
      ON e.q_id = a.q_id AND e.c_id = a.c_id
    GROUP BY e.q_id
"""


# --------------------------------------- near-dup threshold sweep
#
# The threshold-selection evidence behind every near-dup/SemDeDup run:
# how many candidate pairs (and how many distinct documents) would a
# given cosine cutoff remove? The sweep scores the SAME label-blocked
# candidate pairs as emb_neardup_pairs ONCE (Σ block² candidates,
# never n²), then evaluates the whole threshold grid over the scored
# pairs by conditional aggregation — one pass, six answers, no
# re-scan per threshold. Counts are BIGINT; thresholds live on a ×100
# integer grid and the comparison constant t/100.0 is the identical
# double literal on both engines. At 100 TB you run this once on the
# blocked pairs and read off the cutoff that hits your dedup budget
# before committing to the full semdedup pass.
THRESH_GRID = (40, 50, 60, 70, 80, 90)


def emb_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    emb = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.expr(_QUANT.format(col="embedding")).alias("qi"),
        )
        .withColumn("nrm", F.expr(_qnorm("qi")))
    )
    # spread() the PROBE side: the blocked self-join broadcasts b, so
    # the quadratic per-pair _SIM HOF math runs in whatever stage
    # carries a — on the single-task local scan that was ONE core for
    # ~|label-block|² interpreted dot products (guide §2.5; the same
    # fan-out _split gives every other scorer).
    a_src = spread(
        spark, sf_dir, "embeddings",
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding"),
    ).select(
        "vec_id",
        "label",
        F.expr(_QUANT.format(col="embedding")).alias("qi"),
    ).withColumn("nrm", F.expr(_qnorm("qi")))
    a = a_src.select(
        F.col("vec_id").alias("a_id"),
        F.col("qi").alias("qa"),
        F.col("label").alias("blk"),
        F.col("nrm").alias("qn"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("qi").alias("ca"),
        F.col("label").alias("blk"),
        F.col("nrm").alias("cn"),
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.expr(_SIM).alias("sim"))
        .persist()
    )
    # Whole grid from ONE aggregation pass each — no grid×pairs fanout:
    # pair counts are 6 conditional sums over the scored pairs, and
    # "distinct docs at cutoff t" reduces to counting ids whose MAX
    # pair-sim clears t (max is order-insensitive, so this is exact),
    # over the |ids| table instead of 6× the exploded pair rows.
    pc = pairs.agg(*[
        F.expr(
            f"CAST(SUM(CASE WHEN sim >= {t} / 100.0 THEN 1 ELSE 0 END) "
            f"AS BIGINT)"
        ).alias(f"p{t}")
        for t in THRESH_GRID
    ])
    doc_max = (
        pairs.selectExpr("sim", "explode(array(a_id, b_id)) AS id")
        .groupBy("id")
        .agg(F.max("sim").alias("msim"))
    )
    nd = doc_max.agg(*[
        F.expr(
            f"CAST(SUM(CASE WHEN msim >= {t} / 100.0 THEN 1 ELSE 0 END) "
            f"AS BIGINT)"
        ).alias(f"d{t}")
        for t in THRESH_GRID
    ])
    stack = ", ".join(
        f"{t}, p{t}, d{t}" for t in THRESH_GRID
    )
    return pc.crossJoin(nd).selectExpr(
        f"stack({len(THRESH_GRID)}, {stack}) "
        "AS (threshold_x100, n_pairs, n_docs)"
    ).selectExpr(
        "CAST(threshold_x100 AS INT) AS threshold_x100",
        "n_pairs", "n_docs"
    )


QUERIES["emb_threshold_sweep"] = emb_threshold_sweep

ORACLES["emb_threshold_sweep"] = f"""
    WITH a AS (SELECT vec_id AS a_id, embedding AS qe, label AS blk
               FROM embeddings),
         b AS (SELECT vec_id AS b_id, embedding AS ce, label AS blk
               FROM embeddings),
         pairs AS (
            SELECT a_id, qe, b_id, ce FROM a JOIN b USING (blk)
            WHERE a_id < b_id
         ),
         {_DUCK_SCORE.replace("q_id", "a_id").replace("c_id", "b_id")},
    g AS (SELECT unnest([{', '.join(str(t) for t in THRESH_GRID)}]) AS t),
    pc AS (
        SELECT g.t,
               CAST(SUM(CASE WHEN s.sim >= g.t / 100.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pairs
        FROM g CROSS JOIN scored s GROUP BY g.t
    ),
    ids AS (
        SELECT sim, a_id AS id FROM scored
        UNION ALL
        SELECT sim, b_id AS id FROM scored
    ),
    nd AS (
        SELECT g.t,
               CAST(COUNT(DISTINCT CASE WHEN i.sim >= g.t / 100.0
                          THEN i.id END) AS BIGINT) AS n_docs
        FROM g CROSS JOIN ids i GROUP BY g.t
    )
    SELECT CAST(pc.t AS INT) AS threshold_x100, n_pairs, n_docs
    FROM pc JOIN nd ON pc.t = nd.t
"""


# ------------------------------------------- IVF nprobe tuning curve
#
# The other half of ANN parameter tuning (emb_threshold_sweep picks
# the dedup cutoff; this picks the probe budget): candidate recall@K
# as a function of NPROBE, measured in ONE pass. Assignment and probe
# ranking run once — probes keep their full seed ranking instead of
# cutting at a fixed NPROBE — and every ground-truth neighbor's
# "visible at probe rank pn" value answers the whole nprobe grid by
# conditional aggregation. Candidate recall (is the true neighbor's
# list probed at all) is the standard IVF tuning metric: rerank can't
# recover a neighbor whose list was never probed. Counts are BIGINT on
# the ppm grid. At 100 TB this is the offline evaluation you run on a
# query sample before fixing nprobe in the serving config.
def emb_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    seeds = c.filter(F.col("c_id") < N_QUERIES + IVF_K).select(
        F.col("c_id").alias("s_id"),
        F.col("ca").alias("qa"),
        F.col("cn").alias("qn"),
    )
    wa = Window.partitionBy("c_id").orderBy(F.col("sim").desc(), F.col("s_id"))
    assign = (
        c.crossJoin(broadcast(seeds))
        .select("c_id", "ca", "cn", "s_id", F.expr(_SIM).alias("sim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("c_id", F.col("s_id").alias("cluster"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("s_id"))
    seeds_c = seeds.select(
        "s_id", F.col("qa").alias("ca"), F.col("qn").alias("cn")
    )
    probes = (
        q.crossJoin(broadcast(seeds_c))
        .select("q_id", "qa", "qn", "s_id", F.expr(_SIM).alias("sim"))
        .select(
            "q_id",
            F.col("s_id").alias("cluster"),
            F.row_number().over(wp).alias("pn"),
        )
    )
    truth = (
        emb_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= RECALL_K)
        .select("q_id", "c_id")
    )
    vis = truth.join(assign, "c_id").join(
        broadcast(probes), ["q_id", "cluster"]
    )
    grid = spark.range(1).selectExpr(
        f"explode(sequence(1, {IVF_K})) AS nprobe"
    )
    return (
        F.broadcast(grid)
        .crossJoin(vis)
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.expr(
                "CAST(SUM(CASE WHEN pn <= nprobe THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("n_covered"),
        )
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_truth",
            "n_covered",
            F.expr("n_covered * 1000000 DIV n_truth").alias("recall_ppm"),
        )
    )


QUERIES["emb_nprobe_sweep"] = emb_nprobe_sweep

_EX_SCORE = (
    _DUCK_SCORE.replace("scored", "scored_ex").replace("comp", "comp_ex")
    .replace("pairs", "pairs_ex")
)

ORACLES["emb_nprobe_sweep"] = f"""
    WITH {_DUCK_PAIRS},
    pairs_ex AS (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c),
    {_EX_SCORE},
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, c_id) AS r
            FROM scored_ex
        ) WHERE r <= {RECALL_K}
    ),
    seeds AS (SELECT vec_id AS s_id, embedding AS se FROM embeddings
              WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + IVF_K}),
    apairs AS (SELECT s_id, se, c_id, ce FROM seeds CROSS JOIN c),
    {_A_SCORE},
    assign AS (
        SELECT c_id, s_id AS cluster FROM (
            SELECT c_id, s_id,
                   row_number() OVER (PARTITION BY c_id
                       ORDER BY sim DESC, s_id) AS rn
            FROM ascored
        ) WHERE rn = 1
    ),
    ppairs AS (SELECT q_id, qe, s_id, se FROM q CROSS JOIN seeds),
    {_P_SCORE},
    probes AS (
        SELECT q_id, s_id AS cluster,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, s_id) AS pn
        FROM pscored
    ),
    vis AS (
        SELECT e.q_id, p.pn
        FROM exact e
        JOIN assign a ON e.c_id = a.c_id
        JOIN probes p ON p.q_id = e.q_id AND p.cluster = a.cluster
    ),
    g AS (SELECT unnest(range(1, {IVF_K + 1})) AS nprobe)
    SELECT CAST(g.nprobe AS INT) AS nprobe,
           count(*) AS n_truth,
           CAST(SUM(CASE WHEN v.pn <= g.nprobe THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN v.pn <= g.nprobe THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS recall_ppm
    FROM g CROSS JOIN vis v GROUP BY g.nprobe
"""


# ------------------------------ MMR diversity reranking (retrieval)
#
# Maximal Marginal Relevance — the standard diversification pass a
# retrieval stack runs AFTER top-k: greedily pick results that are
# relevant to the query but dissimilar to what's already picked
# (score = λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s)). Greedy
# selection is inherently sequential, but the sequence length is the
# PICK COUNT, not the corpus: each step is one tiny join over the
# per-query shortlist, so the plan unrolls into PICKS-1 declarative
# stages — no driver loop over data, no UDF. The shortlist (80 rows
# here; k×|queries| in general) is localCheckpoint-ed once so the
# brute-force scoring plan runs exactly once, like the BPE trainer's
# vocab. All similarities ride the exact quantized-integer grid, so
# the greedy argmax path is bit-identical to the DuckDB oracle, which
# replays the same unrolled steps as generated CTEs.
MMR_SHORTLIST = 8
MMR_PICKS = 4
_MMR_LAMBDA = "0.7"  # same literal both engines → same double


def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    scored = c.crossJoin(broadcast(q)).select(
        "q_id", "c_id", F.expr(_SIM).alias("sim"), "ca", "cn"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_SHORTLIST)
        .localCheckpoint(eager=True)  # score the corpus exactly once
    )
    lhs = short.select(
        "q_id", F.col("c_id").alias("a_id"),
        F.col("ca").alias("qa"), F.col("cn").alias("qn"),
    )
    rhs = short.select("q_id", F.col("c_id").alias("b_id"), "ca", "cn")
    # Checkpointed like the shortlist: every greedy stage references
    # pairsim and the growing selected set, and without truncation the
    # FINAL plan re-plans those subtrees per stage (measured: 104
    # exchanges / 52 sort-merge joins for 80 rows). With it, each
    # stage is a handful of tiny jobs and the final plan is a union of
    # materialized frames.
    pairsim = (
        lhs.join(rhs, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("q_id", "a_id", "b_id", F.expr(_SIM).alias("sim_ab"))
        .localCheckpoint(eager=True)
    )
    selected = short.filter(F.col("rank") == 1).select(
        "q_id", "c_id", F.lit(1).cast("long").alias("pick")
    )
    for t in range(2, MMR_PICKS + 1):
        pen = (
            pairsim.join(
                selected.select("q_id", F.col("c_id").alias("b_id")),
                ["q_id", "b_id"],
            )
            .groupBy("q_id", F.col("a_id").alias("c_id"))
            .agg(F.max("sim_ab").alias("pen"))
        )
        step = (
            short.join(selected.select("q_id", "c_id"),
                       ["q_id", "c_id"], "left_anti")
            .join(pen, ["q_id", "c_id"])
            .withColumn(
                "mmr",
                F.expr(f"{_MMR_LAMBDA} * sim - (1 - {_MMR_LAMBDA}) * pen"),
            )
        )
        ws = Window.partitionBy("q_id").orderBy(
            F.col("mmr").desc(), F.col("c_id")
        )
        picked = (
            step.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("q_id", "c_id", F.lit(t).cast("long").alias("pick"))
            .localCheckpoint(eager=True)
        )
        selected = selected.unionByName(picked)
    return selected


QUERIES["emb_mmr_diversify"] = emb_mmr_diversify


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    ctes = [f"""
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
          WHERE vec_id >= {N_QUERIES}),
    comp AS (
        SELECT q_id, c_id,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
        FROM (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c)
    ),
    scored AS (
        SELECT q_id, c_id,
               CAST(sum(xq * xc) AS DOUBLE)
               / (sqrt(CAST(sum(xq * xq) AS DOUBLE))
                  * sqrt(CAST(sum(xc * xc) AS DOUBLE))) AS sim
        FROM comp GROUP BY q_id, c_id
    ),
    shortlist AS (
        SELECT q_id, c_id, sim, rank FROM (
            SELECT q_id, c_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, c_id) AS rank
            FROM scored
        ) WHERE rank <= {MMR_SHORTLIST}
    ),
    pair_comp AS (
        SELECT s1.q_id, s1.c_id AS a_id, s2.c_id AS b_id,
               CAST(round(CAST(unnest(v1.ce) AS DOUBLE) * 1000000) AS BIGINT) AS xa,
               CAST(round(CAST(unnest(v2.ce) AS DOUBLE) * 1000000) AS BIGINT) AS xb
        FROM shortlist s1
        JOIN shortlist s2 ON s1.q_id = s2.q_id AND s1.c_id <> s2.c_id
        JOIN c v1 ON v1.c_id = s1.c_id
        JOIN c v2 ON v2.c_id = s2.c_id
    ),
    pair_sim AS (
        SELECT q_id, a_id, b_id,
               CAST(sum(xa * xb) AS DOUBLE)
               / (sqrt(CAST(sum(xa * xa) AS DOUBLE))
                  * sqrt(CAST(sum(xb * xb) AS DOUBLE))) AS sim_ab
        FROM pair_comp GROUP BY 1, 2, 3
    ),
    selall1 AS (
        SELECT q_id, c_id, 1 AS pick FROM shortlist WHERE rank = 1
    )"""]
    for t in range(2, MMR_PICKS + 1):
        p = t - 1
        ctes.append(f"""
    pen{t} AS (
        SELECT ps.q_id, ps.a_id, MAX(ps.sim_ab) AS pen
        FROM pair_sim ps
        JOIN selall{p} s ON ps.q_id = s.q_id AND ps.b_id = s.c_id
        GROUP BY 1, 2
    )""")
        ctes.append(f"""
    pick{t} AS (
        SELECT q_id, c_id, {t} AS pick FROM (
            SELECT sh.q_id, sh.c_id,
                   row_number() OVER (
                       PARTITION BY sh.q_id
                       ORDER BY {lam} * sh.sim - (1 - {lam}) * pn.pen DESC,
                                sh.c_id) AS rn
            FROM shortlist sh
            JOIN pen{t} pn ON pn.q_id = sh.q_id AND pn.a_id = sh.c_id
            LEFT JOIN selall{p} s
              ON s.q_id = sh.q_id AND s.c_id = sh.c_id
            WHERE s.c_id IS NULL
        ) WHERE rn = 1
    )""")
        ctes.append(f"""
    selall{t} AS (
        SELECT * FROM selall{p} UNION ALL SELECT * FROM pick{t}
    )""")
    return ("WITH " + ",".join(ctes)
            + f"\n    SELECT q_id, c_id, CAST(pick AS BIGINT) AS pick"
              f" FROM selall{MMR_PICKS}")


ORACLES["emb_mmr_diversify"] = _mmr_oracle()


# --------------------------- nearest-centroid label confusion matrix
#
# Embedding-space label coherence, measured as the confusion matrix of
# the nearest-LABEL-centroid classifier — the sanity check you run
# before trusting labels for supervised filtering or a centroid
# router. Centroids are element-wise EXACT integer sums per label
# (cosine is scale-invariant, so the sum works as the mean); the
# assignment pass is one row-local argmax against the broadcast
# 10-centroid model — identical plan shape to the IVF assignment, one
# scan of the corpus, no shuffle beyond the tiny centroid agg. Ties
# break to the smallest label on both engines (_model_scored's negid
# ↔ ORDER BY sim DESC, cl ASC).
def emb_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, c = _split(spark, sf_dir)
    # Centroid components are the rounded MEAN, not the raw sum:
    # cosine is scale-invariant so either works semantically, but a
    # full-corpus per-label SUM grows with cluster size and its
    # squared norm overflows int64 near ~3000 members/label — the
    # mean stays on the vectors' own ±1e6 grid, so norms and dot
    # products are bounded exactly like the vector-vector case at ANY
    # corpus size. (The exact integer sum itself is int64-safe to
    # ~9e12 members; only the division's operand order matters for
    # determinism, and BIGINT→DOUBLE + ROUND round identically on
    # both engines.)
    cents = (
        c.select("label", F.posexplode("ca").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "label", "pos",
            "CAST(ROUND(CAST(sm AS DOUBLE) / n) AS BIGINT) AS s",
        )
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list("
            "named_struct('pos', pos, 's', s))), e -> e.s)"
        ).alias("sa"))
        .select(F.col("label").alias("cluster_id"), "sa")
        .withColumn("sn", F.expr(_qnorm("sa")))
    )
    assign = c.crossJoin(broadcast(_as_model(cents))).select(
        "label",
        F.expr(
            f"array_max({_model_scored('ca', 'cn')}).cluster_id"
        ).alias("pred_label"),
    )
    return assign.groupBy(
        F.col("label").cast("long").alias("label"),
        F.col("pred_label").cast("long").alias("pred_label"),
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_vecs"))


QUERIES["emb_centroid_confusion"] = emb_centroid_confusion

ORACLES["emb_centroid_confusion"] = f"""
    WITH v AS (
        SELECT vec_id AS c_id, label, embedding AS ce FROM embeddings
        WHERE vec_id >= {N_QUERIES}
    ),
    comp AS (
        SELECT c_id, label,
               unnest(range(1, len(ce) + 1)) AS pos,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT)
                   AS x
        FROM v
    ),
    nrm AS (SELECT c_id, sum(x * x) AS n2 FROM comp GROUP BY 1),
    cent AS (
        SELECT label AS cl, pos,
               CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS s
        FROM comp GROUP BY 1, 2
    ),
    cn AS (SELECT cl, sum(s * s) AS n2 FROM cent GROUP BY 1),
    dots AS (
        SELECT c.c_id, ct.cl, sum(c.x * ct.s) AS d
        FROM comp c JOIN cent ct USING (pos) GROUP BY 1, 2
    ),
    sims AS (
        SELECT d.c_id, d.cl,
               CAST(d.d AS DOUBLE)
               / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))
                   AS sim
        FROM dots d JOIN nrm n USING (c_id) JOIN cn ON cn.cl = d.cl
    ),
    pred AS (
        SELECT c_id, cl FROM (
            SELECT c_id, cl,
                   row_number() OVER (PARTITION BY c_id
                                      ORDER BY sim DESC, cl) AS rn
            FROM sims
        ) WHERE rn = 1
    )
    SELECT CAST(v.label AS BIGINT) AS label,
           CAST(p.cl AS BIGINT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM v JOIN pred p USING (c_id)
    GROUP BY 1, 2
"""


# ----------------------------- incremental ANN (new-batch triage)
#
# The vector side of the incremental-ingest loop (doc_incr_dedup /
# doc_incr_minhash are the text side): a NEW embedding batch
# (vec_id % 10 >= 8, the house batch convention) is triaged against
# the committed corpus index — each new vector probes its own LSH
# bucket plus the 1-bit flips and exact-reranks ONLY inside those
# buckets. The corpus is never re-paired with itself and never fans
# out probes: at scale its bucket assignment is the persisted index
# (bucket = partition key), so each probe is a pruned partition read
# and the recurring cost is |new| · probes · bucket-size — the
# corpus-size-independent nightly increment a production ANN runs.
def emb_incr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = table(spark, sf_dir, "embeddings")
    new = (
        emb.filter("vec_id % 10 >= 8")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.expr(_QUANT.format(col="embedding")).alias("qa"),
        )
        .withColumn("qn", F.expr(_qnorm("qa")))
        .withColumn("bkt0", F.expr(_bucket_expr("qe")))
    )
    probes = ", ".join(
        ["bkt0"] + [f"bkt0 ^ {1 << j}" for j in range(LSH_BITS)]
    )
    new_p = new.select(
        "q_id", "qa", "qn",
        F.explode(F.expr(f"array({probes})")).alias("bkt"),
    )
    corpus = (
        emb.filter("vec_id % 10 < 8")
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("ce"),
            F.expr(_QUANT.format(col="embedding")).alias("ca"),
        )
        .withColumn("cn", F.expr(_qnorm("ca")))
        .withColumn("bkt", F.expr(_bucket_expr("ce")))
    )
    scored = corpus.join(broadcast(new_p), "bkt").select(
        "q_id", "c_id", F.expr(_SIM).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "rank", "sim")
    )


QUERIES["emb_incr_ann"] = emb_incr_ann

ORACLES["emb_incr_ann"] = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id % 10 >= 8),
    c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
          WHERE vec_id % 10 < 8),
    qb0 AS (SELECT q_id, qe,
                  {" + ".join(f"(CASE WHEN CAST(qe[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt0 FROM q),
    qb AS (SELECT q_id, qe,
                  unnest([bkt0{"".join(f", xor(bkt0, {1 << j})" for j in range(LSH_BITS))}]) AS bkt
           FROM qb0),
    cb AS (SELECT c_id, ce,
                  {" + ".join(f"(CASE WHEN CAST(ce[{j + 1}] AS DOUBLE) > 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS))}
                      AS bkt FROM c),
    pairs AS (SELECT q_id, qe, c_id, ce FROM qb JOIN cb USING (bkt)),
    {_DUCK_SCORE}
    SELECT q_id, c_id, rank, sim FROM (
        SELECT q_id, c_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
                   AS rank
        FROM scored
    )
    WHERE rank <= 3
"""


# ----------------- persisted IVF index + O(new-batch) maintenance
#
# emb_kmeans_ivf trains and assigns IN-QUERY; a production vector
# store trains ONCE, commits the index, and every nightly batch only
# (a) probes the committed index and (b) fast-appends its own
# assignments — the vector-side medallion loop, matching the
# doc_incr_* discipline. The fixture commits two versioned tables per
# session: centroids (K rows) and assignments PARTITIONED BY
# cluster_id (so a probe is a partition-pruned read at scale), then
# appends the new batch's assignments through the Data-Source writer
# (the committed fast-append path). The query never touches corpus
# embeddings: its only embeddings.parquet scan is the new batch —
# recurring cost O(new * K + new * probes * bucket), corpus-free
# (plan-asserted in tests/test_similarity.py).
@session_memo("ivf_index", prebuild=True)
def _ivf_index_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    cent_path = scratch_dir("ivf_centroids_")
    asg_path = scratch_dir("ivf_assign_")
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    # spread(): quantize + every Lloyd-round HOF scoring pass runs over
    # this frame; fan the single-task local scan out first (§2.5).
    emb = spread(spark, sf_dir, "embeddings",
                 table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))

    def prep(df):
        return (
            df.select(
                F.col("vec_id").alias("c_id"),
                F.expr(_QUANT.format(col="embedding")).alias("ca"),
            )
            .withColumn("cn", F.expr(_qnorm("ca")))
        )

    corpus = prep(emb.filter("vec_id % 10 < 8")).persist()
    seeds = corpus.filter(F.col("c_id") < IVF_K).select(
        F.col("c_id").alias("cluster_id"),
        F.col("ca").alias("sa"),
        F.col("cn").alias("sn"),
    )
    cents = _kmeans_train(corpus, seeds)
    versioned.write_version(
        cents.select("cluster_id", "sa", "sn"), cent_path)
    model = _as_model(versioned.read_version(spark, cent_path)
                      .select("cluster_id", "sa", "sn"))
    assign = corpus.crossJoin(broadcast(model)).select(
        F.expr(_ASSIGN_EXPR).alias("cluster_id"), "c_id", "ca", "cn",
    )
    versioned.write_version(assign, asg_path,
                            partition_by=["cluster_id"])
    # nightly increment: assign ONLY the new batch against the
    # committed centroids and fast-append (v1) — corpus untouched
    ensure_registered(spark)
    newa = prep(emb.filter("vec_id % 10 >= 8")) \
        .crossJoin(broadcast(model)).select(
            F.expr(_ASSIGN_EXPR).alias("cluster_id"), "c_id", "ca", "cn",
        )
    # repartition(1) before the DS append — one part file per input
    # partition otherwise turns the spread batch into 32 near-empty
    # committed files (see dedup._dedup_index_paths)
    (newa.repartition(1).write.format("versioned").mode("append")
     .option("path", asg_path).save())
    corpus.unpersist()
    return cent_path, asg_path


def ivf_query_topk(spark: SparkSession, cent_path: str, asg_path: str,
                   q: DataFrame, k: int = 3,
                   nprobe: int = IVF_NPROBE) -> DataFrame:
    """Top-k ANN over a COMMITTED IVF index for queries ``q``
    (q_id, qa, qn): probe the ``nprobe`` nearest committed centroids
    (broadcast model) and exact-rerank inside the probed clusters of
    the partition-laid assignment table. Self-matches excluded. Shared
    by the emb_incr_ivf registry entry and the index-maintenance
    before/after equivalence test."""
    from pyspark.sql.window import Window

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    model = _as_model(
        versioned.read_version(spark, cent_path)
        .select("cluster_id", "sa", "sn"))
    probe_expr = (
        f"transform(slice(reverse(array_sort({_model_scored('qa', 'qn')})), "
        f"1, {nprobe}), e -> e.cluster_id)"
    )
    probes = q.crossJoin(broadcast(model)).select(
        "q_id", "qa", "qn",
        F.explode(F.expr(probe_expr)).alias("cluster_id"),
    )
    # stats_hint=False: read_version's manifest-stats broadcast hint
    # sees a dim-sized assignment table and flips the probe join's
    # build side — the planner then BROADCASTS committed and streams
    # the tiny probes frame, so every candidate's per-pair _SIM dot
    # product (|q| × nprobe × bucket — the whole cost of this query)
    # runs in probes' single task (measured 2.5-3.1 s vs 0.3-0.6 s
    # at sf0.1). The probes side below is the deliberate broadcast.
    committed = versioned.read_version(spark, asg_path, stats_hint=False)
    # The probe join streams the committed side, so the candidate sim
    # math runs in the stage that carries the committed scan. The
    # local index commits as a handful of small files (~9 tasks); fan
    # it out to the cores first, same gate as catalog.spread() —
    # identity on any production-parallel index layout (guide §2.5).
    n = spark.sparkContext.defaultParallelism
    if committed.rdd.getNumPartitions() * 2 < n:
        committed = committed.repartition(n, F.col("c_id"))
    wf = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("c_id"))
    return (
        committed.join(broadcast(probes), "cluster_id")
        .filter("c_id != q_id")
        .select("q_id", "c_id", F.expr(_SIM).alias("sim"))
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


def emb_incr_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the COMMITTED IVF index: new-batch queries probe the
    versioned centroid table (broadcast via its manifest stats) and
    rerank inside probed clusters of the versioned assignment table —
    which includes the batch's own fast-appended assignments (v1), so
    the append is load-bearing. Self-matches excluded. The plan's only
    embeddings scan is the new batch."""
    cent_path, asg_path = _ivf_index_paths(spark, sf_dir)
    q = (
        table(spark, sf_dir, "embeddings")
        .filter("vec_id % 10 >= 8")
        .select(
            F.col("vec_id").alias("q_id"),
            F.expr(_QUANT.format(col="embedding")).alias("qa"),
        )
        .withColumn("qn", F.expr(_qnorm("qa")))
    )
    return ivf_query_topk(spark, cent_path, asg_path, q)


QUERIES["emb_incr_ivf"] = emb_incr_ivf

# replay: train on the corpus hash-sample, assign EVERY committed
# vector (corpus + appended batch) to the trained centroids, probe the
# new-batch queries, exclude self-matches
ORACLES["emb_incr_ivf"] = _kmeans_oracle(
    q_where="vec_id % 10 >= 8",
    c_where="TRUE",
    samp_where="c_id % 10 < 8",
    seed_where=f"c_id < {IVF_K}",
    exclude_self=True,
)


def _incr_semdedup_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The new batch assigned against the committed centroids — the
    ONE embeddings scan of the incremental SemDeDup plan (broadcast
    model, row-local argmax). Separate so the plan test can assert the
    single-scan shape before the operator materializes it."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    cent_path, _ = _ivf_index_paths(spark, sf_dir)
    model = _as_model(
        versioned.read_version(spark, cent_path)
        .select("cluster_id", "sa", "sn"))
    new = (
        table(spark, sf_dir, "embeddings")
        .filter("vec_id % 10 >= 8")
        .select(
            F.col("vec_id").alias("n_id"),
            F.expr(_QUANT.format(col="embedding")).alias("ca"),
        )
        .withColumn("cn", F.expr(_qnorm("ca")))
    )
    return new.crossJoin(broadcast(model)).select(
        "n_id", "ca", "cn", F.expr(_ASSIGN_EXPR).alias("cluster_id"))


def emb_incr_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup over the COMMITTED IVF index: triage a new
    embeddings batch against the persisted corpus without ever
    re-pairing the corpus (emb_semdedup re-clusters everything per
    run — this is its recurring-cost twin, the composition the r12
    pieces were built for). The batch is assigned to the committed
    centroids (broadcast model, row-local argmax), then
    near-twin-checked ONLY within its assigned cluster: against the
    corpus assignments committed at index build (version 0 — the
    pre-append snapshot, partition-laid by cluster_id, so the lookup
    is a partition-pruned index read at scale) and against lower-id
    vectors of the same batch. Keep rule mirrors emb_semdedup: a new
    vector is dropped when any committed vector, or any earlier batch
    vector, in its cluster is >= SEMDEDUP_THRESHOLD similar — and the
    keepers are exactly the rows a nightly job fast-appends (streaming
    twin: maintain_semdedup_corpus). Recurring cost O(batch·K +
    batch·cluster-slice); the corpus embeddings table is never
    scanned (plan-asserted in tests/test_similarity.py: the
    assignment pass reads embeddings exactly once, is materialized by
    localCheckpoint, and the triage plan contains ZERO embeddings
    scans)."""
    cent_path, asg_path = _ivf_index_paths(spark, sf_dir)
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    # O(batch) rows, consumed three times (corpus check, intra-batch
    # check, output) — eagerly materialized so the triage plan is
    # embeddings-free by construction, not by cache-print accounting
    assigned = _incr_semdedup_assigned(spark, sf_dir).localCheckpoint()
    corpus = versioned.read_version(spark, asg_path, 0) \
        .select("cluster_id", "ca", "cn")
    probe = assigned.select(
        "n_id", "cluster_id",
        F.col("ca").alias("qa"), F.col("cn").alias("qn"))
    nc = (
        corpus.join(probe, "cluster_id")
        .select("n_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
        .select("n_id")
    )
    earlier = assigned.select(
        F.col("n_id").alias("m_id"), "cluster_id",
        F.col("ca").alias("qa"), F.col("cn").alias("qn"))
    nn = (
        assigned.join(earlier, "cluster_id")
        .filter(F.col("m_id") < F.col("n_id"))
        .select("n_id", F.expr(_SIM).alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
        .select("n_id")
    )
    dups = nc.union(nn).distinct().withColumn("dropped", F.lit(True))
    return (
        assigned.join(dups, "n_id", "left")
        .select(
            F.col("n_id").alias("vec_id"),
            F.col("cluster_id").cast("long").alias("cluster"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


QUERIES["emb_incr_semdedup"] = emb_incr_semdedup


def _incr_semdedup_oracle() -> str:
    """Replay: train k-means on the corpus hash-sample (the committed
    centroids), assign corpus (= index v0) and the new batch, then the
    cluster-blocked near-twin drop — new-vs-corpus plus
    new-vs-earlier-new, threshold SEMDEDUP_THRESHOLD."""
    prefix, _ = _kmeans_cte_prefix(
        q_where="vec_id % 10 >= 8",
        c_where="vec_id % 10 < 8",
        samp_where="TRUE",
        seed_where=f"c_id < {IVF_K}",
    )
    return f"""
        WITH
        {prefix},
        asgn AS (
            SELECT q_id, cluster_id FROM (
                SELECT q_id, cluster_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cluster_id) AS rn
                FROM simp
            ) WHERE rn = 1
        ),
        pnc AS (
            SELECT n.q_id, a.c_id FROM asgn n JOIN asgf a USING (cluster_id)
        ),
        dnc AS (
            SELECT p.q_id, p.c_id, sum(cq.x * cc.x) AS d
            FROM pnc p
            JOIN compq cq ON p.q_id = cq.q_id
            JOIN compc cc ON p.c_id = cc.c_id AND cq.pos = cc.pos
            GROUP BY p.q_id, p.c_id
        ),
        snc AS (
            SELECT d.q_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS sim
            FROM dnc d JOIN normq nq USING (q_id) JOIN normc nc USING (c_id)
        ),
        pnn AS (
            SELECT a.q_id AS m_id, b.q_id AS n_id
            FROM asgn a JOIN asgn b USING (cluster_id)
            WHERE a.q_id < b.q_id
        ),
        dnn AS (
            SELECT p.n_id, p.m_id, sum(ca.x * cb.x) AS d
            FROM pnn p
            JOIN compq ca ON p.m_id = ca.q_id
            JOIN compq cb ON p.n_id = cb.q_id AND ca.pos = cb.pos
            GROUP BY p.n_id, p.m_id
        ),
        snn AS (
            SELECT d.n_id AS q_id,
                   CAST(d.d AS DOUBLE)
                   / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS sim
            FROM dnn d
            JOIN normq na ON d.m_id = na.q_id
            JOIN normq nb ON d.n_id = nb.q_id
        ),
        dups AS (
            SELECT q_id FROM snc WHERE sim >= {SEMDEDUP_THRESHOLD}
            UNION
            SELECT q_id FROM snn WHERE sim >= {SEMDEDUP_THRESHOLD}
        )
        SELECT n.q_id AS vec_id, CAST(n.cluster_id AS BIGINT) AS cluster,
               d.q_id IS NULL AS keep
        FROM asgn n LEFT JOIN dups d USING (q_id)
    """


ORACLES["emb_incr_semdedup"] = _incr_semdedup_oracle()


# ------------------- IVF index-health maintenance (vector OPTIMIZE)
#
# Fast-appended batches skew committed cluster sizes (a batch from a
# new data region lands whole in its single nearest cluster), and a
# skewed index degrades probe cost: a probe into the hot cluster
# reranks a corpus-sized bucket. This is the vector-index analog of
# the table layer's OPTIMIZE bin-packing — measure the imbalance dial
# off the COMMITTED assignments, and when it passes the threshold,
# re-train from the committed centroids over the committed vectors
# (the index stores ca/cn, so no raw-embeddings scan) and rewrite BOTH
# index tables as new versions. Readers are never wrong mid-flight:
# each query reads one consistent snapshot, old versions stay
# time-travelable, and a recluster changes only WHICH buckets a probe
# visits — the exact rerank inside probed clusters keeps answers
# equivalent (asserted before/after in tests/test_similarity.py).

#: recluster when k·Σn²/t² exceeds this (1,000,000 = perfectly
#: balanced cluster sizes — emb_ivf_build_stats's imbalance_ppm dial)
IVF_REBALANCE_PPM = 1_200_000


def ivf_index_imbalance(spark: SparkSession, asg_path: str) -> int:
    """Imbalance factor k·Σn²/t² in ppm of the COMMITTED assignment
    table (1,000,000 = perfectly balanced): the expected relative
    rerank cost of a random-vector probe vs a balanced index. One
    cluster_id-only scan of the index (column-pruned), never the
    corpus."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    sizes = (
        versioned.read_version(spark, asg_path, stats_hint=False)
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    )
    row = sizes.agg(
        F.expr("SUM(CAST(n AS DECIMAL(38,0)) * n)").alias("ss"),
        F.expr("SUM(n)").alias("t"),
        F.expr("COUNT(*)").alias("k"),
    ).collect()[0]
    return int(int(row.k) * int(row.ss) * 1_000_000
               // (int(row.t) * int(row.t)))


def maintain_ivf_index(spark: SparkSession, cent_path: str, asg_path: str,
                       threshold_ppm: int = IVF_REBALANCE_PPM) -> dict:
    """Recluster-when-drifted commit on a persisted IVF index: when
    the committed assignments' imbalance passes ``threshold_ppm``,
    re-train k-means seeded from the CURRENT centroids over the
    committed vectors and rewrite centroids + assignments as new
    versions (partition-laid by cluster as ever). Below threshold it
    is a metadata-only no-op. Returns the maintenance report; the
    caller (a nightly job) runs it after each batch append."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    before = ivf_index_imbalance(spark, asg_path)
    if before <= threshold_ppm:
        return {"reclustered": False, "imbalance_before_ppm": before,
                "imbalance_after_ppm": before}
    committed = (
        versioned.read_version(spark, asg_path, stats_hint=False)
        .select("c_id", "ca", "cn")
        .persist()
    )
    seeds = (
        versioned.read_version(spark, cent_path, stats_hint=False)
        .select("cluster_id", "sa", "sn")
    )
    cents = _kmeans_train(committed, seeds)
    versioned.write_version(cents.select("cluster_id", "sa", "sn"),
                            cent_path)
    model = _as_model(
        versioned.read_version(spark, cent_path)
        .select("cluster_id", "sa", "sn"))
    assign = committed.crossJoin(broadcast(model)).select(
        F.expr(_ASSIGN_EXPR).alias("cluster_id"), "c_id", "ca", "cn",
    )
    versioned.write_version(assign, asg_path, partition_by=["cluster_id"])
    committed.unpersist()
    after = ivf_index_imbalance(spark, asg_path)
    return {"reclustered": True, "imbalance_before_ppm": before,
            "imbalance_after_ppm": after}


# ---------------------- contrastive mining: hard negatives / positives
#
# The training-data miner for embedding models (in-batch negatives are
# too easy; hard negatives drive contrastive learning — e.g. the ANCE
# / SimCSE recipes): for each anchor (the query split), the corpus
# vector most similar with a DIFFERENT label (hardest negative), the
# least similar with the SAME label (hardest positive), and the
# training margin between them. One broadcast of the anchor set, one
# corpus scan, one per-anchor max/min conditional aggregate — the
# exact brute-force shape of emb_cosine_topk; at 100 TB the LSH/IVF
# bucketed scans (emb_lsh_ann / emb_ivf_ann) supply the candidates
# and this aggregate runs per bucket. Ties break to the smallest
# corpus id via lexicographic struct extremes; sims land on the house
# ppm BIGINT grid (ROUND of the identical-formula double).
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _split(spark, sf_dir)
    scored = c.join(broadcast(q), F.lit(True)).select(
        "q_id", "q_label", "c_id", "label",
        F.expr(f"CAST(ROUND(({_SIM}) * 1e6) AS BIGINT)").alias("sim_ppm"),
    )
    return scored.groupBy("q_id", "q_label").agg(
        F.expr(
            "MAX(CASE WHEN label != q_label THEN "
            "named_struct('s', sim_ppm, 'neg', -c_id) END).s"
        ).alias("hard_neg_sim_ppm"),
        F.expr(
            "-MAX(CASE WHEN label != q_label THEN "
            "named_struct('s', sim_ppm, 'neg', -c_id) END).neg"
        ).alias("hard_neg_id"),
        F.expr(
            "MIN(CASE WHEN label = q_label THEN "
            "named_struct('s', sim_ppm, 'id', c_id) END).s"
        ).alias("hard_pos_sim_ppm"),
        F.expr(
            "MIN(CASE WHEN label = q_label THEN "
            "named_struct('s', sim_ppm, 'id', c_id) END).id"
        ).alias("hard_pos_id"),
    ).selectExpr(
        "q_id", "q_label", "hard_neg_id", "hard_neg_sim_ppm",
        "hard_pos_id", "hard_pos_sim_ppm",
        "hard_pos_sim_ppm - hard_neg_sim_ppm AS margin_ppm",
    )


QUERIES["emb_hard_negatives"] = emb_hard_negatives

ORACLES["emb_hard_negatives"] = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, label, embedding AS ce
          FROM embeddings WHERE vec_id >= {N_QUERIES}),
    pairs AS (SELECT q_id, q_label, qe, c_id, label, ce
              FROM q CROSS JOIN c),
    comp AS (
        SELECT q_id, q_label, c_id, label,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT) AS xc
        FROM pairs
    ),
    scored AS (
        SELECT q_id, q_label, c_id, label,
               CAST(ROUND(CAST(sum(xq * xc) AS DOUBLE)
                    / (sqrt(CAST(sum(xq * xq) AS DOUBLE))
                       * sqrt(CAST(sum(xc * xc) AS DOUBLE))) * 1e6)
                   AS BIGINT) AS sim_ppm
        FROM comp GROUP BY q_id, q_label, c_id, label
    )
    SELECT q_id, q_label,
           -MAX(CASE WHEN label != q_label THEN
               struct_pack(s := sim_ppm, neg := -c_id) END).neg
               AS hard_neg_id,
           MAX(CASE WHEN label != q_label THEN
               struct_pack(s := sim_ppm, neg := -c_id) END).s
               AS hard_neg_sim_ppm,
           MIN(CASE WHEN label = q_label THEN
               struct_pack(s := sim_ppm, id := c_id) END).id
               AS hard_pos_id,
           MIN(CASE WHEN label = q_label THEN
               struct_pack(s := sim_ppm, id := c_id) END).s
               AS hard_pos_sim_ppm,
           MIN(CASE WHEN label = q_label THEN
               struct_pack(s := sim_ppm, id := c_id) END).s
           - MAX(CASE WHEN label != q_label THEN
               struct_pack(s := sim_ppm, neg := -c_id) END).s AS margin_ppm
    FROM scored GROUP BY q_id, q_label
"""


# -------------------------- retrieval rank-quality eval (MRR)
#
# The rank-quality probe next to emb_ann_recall's set-overlap gate:
# for each query, the EXACT cosine top-1 neighbor is the relevant
# item, and the ANN under test (the multi-probe LSH path) is scored
# by the reciprocal of the rank at which it surfaces that item
# (0 when missed) — Mean Reciprocal Rank, the eval RAG retrieval
# actually reports. nDCG is deliberately NOT used: its log2 weights
# are engine-libm territory, while reciprocal ranks are exact
# rationals of integer ranks (identical double division both sides,
# ppm grid out). Plan shape: both rankings reuse the existing
# brute-force/LSH operators' shapes; the join is per-query on ≤ k
# rows.
def emb_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    # exact top-1 per query (the relevant item)
    exact = c.crossJoin(broadcast(q.select("q_id", "qa", "qn"))).select(
        "q_id", "c_id", F.expr(_SIM).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    truth = (
        exact.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("q_id", F.col("c_id").alias("relevant_id"))
    )
    ann = emb_lsh_ann(spark, sf_dir).select("q_id", "c_id", "rank")
    hit = ann.join(
        truth,
        (ann.q_id == truth.q_id) & (ann.c_id == truth.relevant_id),
    ).select(truth.q_id, "relevant_id", F.col("rank").alias("found_rank"))
    return (
        truth.join(hit, ["q_id", "relevant_id"], "left")
        .selectExpr(
            "q_id",
            "relevant_id",
            "found_rank",
            # reciprocal rank on the ppm grid; miss = 0
            "COALESCE(CAST(ROUND(1e6 / CAST(found_rank AS DOUBLE)) "
            "AS BIGINT), 0) AS rr_ppm",
        )
    )


QUERIES["emb_mrr_eval"] = emb_mrr_eval

ORACLES["emb_mrr_eval"] = f"""
    WITH {_DUCK_PAIRS},
    pairs AS (SELECT q_id, qe, c_id, ce FROM q CROSS JOIN c),
    {_DUCK_SCORE},
    truth AS (
        SELECT q_id, c_id AS relevant_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY sim DESC, c_id) AS rk
            FROM scored
        ) WHERE rk = 1
    ),
    ann AS ({ORACLES['emb_lsh_ann']}),
    hit AS (
        SELECT t.q_id, t.relevant_id, a.rank AS found_rank
        FROM truth t JOIN ann a
          ON a.q_id = t.q_id AND a.c_id = t.relevant_id
    )
    SELECT t.q_id, t.relevant_id, h.found_rank,
           COALESCE(CAST(ROUND(1e6 / CAST(h.found_rank AS DOUBLE))
               AS BIGINT), 0) AS rr_ppm
    FROM truth t LEFT JOIN hit h USING (q_id, relevant_id)
"""


# --------------------------------------------------------------------------
# Retrieval-confidence audit: the cosine margin between each query's
# top-1 and top-2 neighbors, plus whether top-1 agrees with the query's
# label. A thin margin means the ANN index (or a quantized variant)
# will flip that query's answer first — this is the per-query
# confidence dial next to the corpus-level recall gates
# (emb_ann_recall / emb_mrr_eval). Same exactness discipline as every
# emb_* entry: sims come from exact integer dot products and norms, so
# both engines derive bit-identical doubles and the margin subtraction
# is deterministic.
def emb_knn_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    scored = c.crossJoin(broadcast(q)).select(
        "q_id", "q_label", "c_id", "label",
        F.expr(_SIM).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(),
                                           F.col("c_id"))
    top2 = scored.withColumn(
        "rank", F.row_number().over(w)).filter(F.col("rank") <= 2)
    return (
        top2.groupBy("q_id")
        .agg(
            F.expr("MAX(CASE WHEN rank = 1 THEN c_id END)")
            .alias("top1_id"),
            F.expr("MAX(CASE WHEN rank = 2 THEN c_id END)")
            .alias("top2_id"),
            F.expr("MAX(CASE WHEN rank = 1 THEN sim END)").alias("s1"),
            F.expr("MAX(CASE WHEN rank = 2 THEN sim END)").alias("s2"),
            F.expr("MAX(CASE WHEN rank = 1 THEN "
                   "CAST(label = q_label AS INT) END)")
            .alias("top1_label_match"),
        )
        .selectExpr("q_id", "top1_id", "top2_id",
                    "s1 - s2 AS margin", "top1_label_match")
    )


QUERIES["emb_knn_margin"] = emb_knn_margin

ORACLES["emb_knn_margin"] = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, label, embedding AS ce
          FROM embeddings WHERE vec_id >= {N_QUERIES}),
    pairs AS (SELECT q_id, q_label, qe, c_id, label, ce
              FROM q CROSS JOIN c),
    comp AS (
        SELECT q_id, q_label, c_id, label,
               CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000000) AS BIGINT)
                   AS xq,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT)
                   AS xc
        FROM pairs
    ),
    scored AS (
        SELECT q_id, q_label, c_id, label,
               CAST(sum(xq * xc) AS DOUBLE)
               / (sqrt(CAST(sum(xq * xq) AS DOUBLE))
                  * sqrt(CAST(sum(xc * xc) AS DOUBLE))) AS sim
        FROM comp GROUP BY q_id, q_label, c_id, label
    ),
    ranked AS (
        SELECT q_id, q_label, c_id, label, sim,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, c_id) AS rank
        FROM scored
    )
    SELECT q_id,
           MAX(CASE WHEN rank = 1 THEN c_id END) AS top1_id,
           MAX(CASE WHEN rank = 2 THEN c_id END) AS top2_id,
           MAX(CASE WHEN rank = 1 THEN sim END)
               - MAX(CASE WHEN rank = 2 THEN sim END) AS margin,
           MAX(CASE WHEN rank = 1 THEN
               CAST(label = q_label AS INT) END) AS top1_label_match
    FROM ranked
    WHERE rank <= 2
    GROUP BY q_id
"""


# --------------------------------------------------------------------------
# IVF build-quality stats — the cluster-balance dial an ANN operator
# reads BEFORE shipping an index: probe cost is driven by the largest
# inverted lists, and a skewed assignment quietly turns nprobe=3 into
# a near-full scan. Per cluster: size + exact size share; plus the
# imbalance factor K·Σs²/(Σs)² on the ppm grid (1e6 = perfectly
# balanced, Faiss's imbalance_factor), identical on every row like
# KS's n_a/n_b. Same seed assignment as emb_ivf_ann (one broadcast
# cross-score + per-vector top-1); share and imbalance products on
# DECIMAL(38,0)/HUGEINT (rule F: list sizes are corpus-proportional).
def emb_ivf_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q, c = _split(spark, sf_dir)
    seeds = c.filter(F.col("c_id") < N_QUERIES + IVF_K).select(
        F.col("c_id").alias("s_id"),
        F.col("ca").alias("qa"),
        F.col("cn").alias("qn"),
    )
    wa = Window.partitionBy("c_id").orderBy(F.col("sim").desc(), F.col("s_id"))
    assign = (
        c.crossJoin(broadcast(seeds))
        .select("c_id", "s_id", F.expr(_SIM).alias("sim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("c_id", F.col("s_id").alias("cluster"))
    )
    sizes = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"))
    tot = sizes.agg(
        F.expr("SUM(n_vectors)").alias("t"),
        F.expr("COUNT(*)").alias("k"),
        F.expr("SUM(CAST(n_vectors AS DECIMAL(38,0)) * n_vectors)")
        .alias("ss"),
    )
    return sizes.crossJoin(broadcast(tot)).selectExpr(
        "cluster", "n_vectors",
        "CAST(1000000 * CAST(n_vectors AS DECIMAL(38,0)) DIV t "
        "AS BIGINT) AS share_ppm",
        "CAST(1000000 * k * ss DIV (CAST(t AS DECIMAL(38,0)) * t) "
        "AS BIGINT) AS imbalance_ppm",
    )


QUERIES["emb_ivf_build_stats"] = emb_ivf_build_stats

ORACLES["emb_ivf_build_stats"] = f"""
    WITH {_DUCK_PAIRS},
    seeds AS (SELECT vec_id AS s_id, embedding AS se FROM embeddings
              WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + IVF_K}),
    apairs AS (SELECT s_id, se, c_id, ce FROM seeds CROSS JOIN c),
    {_A_SCORE},
    assign AS (
        SELECT c_id, s_id AS cluster FROM (
            SELECT c_id, s_id,
                   row_number() OVER (PARTITION BY c_id
                       ORDER BY sim DESC, s_id) AS rn
            FROM ascored
        ) WHERE rn = 1
    ),
    sizes AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM assign GROUP BY cluster
    ),
    tot AS (
        SELECT CAST(SUM(n_vectors) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(n_vectors AS HUGEINT) * n_vectors) AS ss
        FROM sizes
    )
    SELECT cluster, n_vectors,
           CAST(1000000 * CAST(n_vectors AS HUGEINT) // t AS BIGINT)
               AS share_ppm,
           CAST(1000000 * k * ss // (CAST(t AS HUGEINT) * t) AS BIGINT)
               AS imbalance_ppm
    FROM sizes CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Simplified silhouette per label — the clustering-quality score that
# tells a curation pipeline whether its label (or kmeans) partition is
# real structure or noise: per vector, a = squared distance to its OWN
# label centroid, b = min squared distance to any OTHER centroid,
# s = (b - a) / max(a, b) on the ppm grid (the centroid-based
# "simplified silhouette" — O(n·K), never the O(n²) pairwise form).
# Centroids are the rounded integer means (the emb_centroid_confusion
# grid discipline), so every squared distance is an exact BIGINT
# (diff ≤ 4e6, squared ≤ 1.6e13, ×64 dims ≤ 1.1e15) and the ppm
# projection widens to DECIMAL(38,0) before its ×1e6 (rule F). The
# division is sign-split so Spark's truncating DIV and DuckDB's
# flooring // never see a negative dividend. One small centroid
# build + one broadcast-model pass over the corpus: no shuffle
# scales with n·K.
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, c = _split(spark, sf_dir)
    cents = (
        c.select("label", F.posexplode("ca").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "label", "pos",
            "CAST(ROUND(CAST(sm AS DOUBLE) / n) AS BIGINT) AS s",
        )
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list("
            "named_struct('pos', pos, 's', s))), e -> e.s)"
        ).alias("sa"))
        .select(F.col("label").alias("cl"), "sa")
    )
    model = cents.agg(F.expr(
        "collect_list(named_struct('cl', cl, 'sa', sa))").alias("cts"))
    d2 = (
        "aggregate(zip_with(ca, ct.sa, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = c.crossJoin(broadcast(model)).select(
        "c_id", "label",
        F.expr(
            f"filter(transform(cts, ct -> named_struct('cl', ct.cl, "
            f"'d2', {d2})), e -> e.cl = label)[0].d2"
        ).alias("a"),
        F.expr(
            f"array_min(transform(filter(cts, ct -> ct.cl != label), "
            f"ct -> {d2}))"
        ).alias("b"),
    )
    sil = scored.selectExpr(
        "label",
        "CASE WHEN b >= a THEN "
        "CAST((CAST(b AS DECIMAL(38,0)) - a) * 1000000 "
        "DIV GREATEST(CAST(a AS DECIMAL(38,0)), b, "
        "CAST(1 AS DECIMAL(38,0))) AS BIGINT) "
        "ELSE -CAST((CAST(a AS DECIMAL(38,0)) - b) * 1000000 "
        "DIV GREATEST(CAST(a AS DECIMAL(38,0)), b, "
        "CAST(1 AS DECIMAL(38,0))) AS BIGINT) END AS s_ppm",
    )
    return sil.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_vecs"),
        F.expr("CAST(SUM(s_ppm) AS BIGINT)").alias("sum_sil_ppm"),
        F.expr(
            "CAST(SUM(IF(s_ppm < 0, 1, 0)) AS BIGINT)"
        ).alias("n_misplaced"),
    )


QUERIES["emb_silhouette"] = emb_silhouette

ORACLES["emb_silhouette"] = f"""
    WITH v AS (
        SELECT vec_id AS c_id, label, embedding AS ce FROM embeddings
        WHERE vec_id >= {N_QUERIES}
    ),
    comp AS (
        SELECT c_id, label,
               unnest(range(1, len(ce) + 1)) AS pos,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT)
                   AS x
        FROM v
    ),
    cent AS (
        SELECT label AS cl, pos,
               CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)
                   AS s
        FROM comp GROUP BY 1, 2
    ),
    dists AS (
        SELECT comp.c_id, comp.label, cent.cl,
               sum((comp.x - cent.s) * (comp.x - cent.s)) AS d2
        FROM comp JOIN cent ON comp.pos = cent.pos
        GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT c_id, label,
               max(CASE WHEN cl = label THEN d2 END) AS a,
               min(CASE WHEN cl <> label THEN d2 END) AS b
        FROM dists GROUP BY 1, 2
    ),
    sil AS (
        SELECT label,
               CASE WHEN b >= a THEN
                 CAST((CAST(b AS HUGEINT) - a) * 1000000
                     // GREATEST(CAST(a AS HUGEINT), b, 1) AS BIGINT)
               ELSE
                 -CAST((CAST(a AS HUGEINT) - b) * 1000000
                     // GREATEST(CAST(a AS HUGEINT), b, 1) AS BIGINT)
               END AS s_ppm
        FROM ab
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(s_ppm) AS BIGINT) AS sum_sil_ppm,
           CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_misplaced
    FROM sil GROUP BY 1
"""


# --------------------------------------------------------------------------
# Top principal component by power iteration — expressed DECLARATIVELY
# (no driver-side linear algebra, no UDF): the dominant direction of
# the embedding cloud, the first thing a whitening/compression pass
# needs. Exact and engine-identical at every step: the centered
# cross-moment matrix C_ij = n·Σx_i x_j − Σx_i·Σx_j is computed from
# the 1e6-grid integers on DECIMAL(38,0)/HUGEINT, rescaled once to the
# ppm grid (sign-split max-abs division), and THREE power iterations
# v ← C·v unroll as joins of the 64×64 moment table against the
# 64-row vector — each a broadcast join + tiny agg, no data-sized
# shuffle after the one O(n·d²) moment pass (the honest cost of exact
# covariance; a production run samples rows first, the moments are
# mergeable). The sign convention pins the max-|loading| dimension
# positive (ties to the smallest pos), so both engines emit the same
# vector, not v vs −v.
#: the O(n·d²) moment pass is the ONLY data-sized job in either PCA
#: entry — memoize its d²-row checkpointed result per (session,
#: sf_dir) so emb_pca_top1 and emb_pca_topk share one pass (production
#: materializes the moment table once; the bench fixture ledger books
#: the build under "pca_moments")
@session_memo("pca_moments", prebuild=True)
def _pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ppm-grid covariance moment table (d² rows,
    localCheckpoint-pinned) — shared by emb_pca_top1 and the
    deflation-based emb_pca_topk."""
    _, c = _split(spark, sf_dir)
    # n = COUNT(DISTINCT corpus id) — computed from the RAW vec_id
    # projection, not the quantized frame: the quantize transform is
    # the expensive part of every corpus scan, and n needs none of it
    # (identical value: c_id is vec_id filtered to the corpus side).
    n_tot = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= N_QUERIES)
        .agg(F.expr("COUNT(DISTINCT vec_id)").alias("n"))
    )
    # moments are generated BATCH-LOCALLY (upper triangle per Arrow
    # batch via one integer X·Xᵀ — no self-join, no per-element
    # interpreted lambda): the r13 form exploded d(d+1)/2 structs per
    # vector through a nested ``transform`` (interpreted HOF — 2080
    # struct allocations per row), which was the whole cost of the
    # moment pass. Handing each Arrow batch to numpy (guide §4.2)
    # computes the identical per-batch partial in one native matmul;
    # the shuffle still carries O(batches·d²) rows. The lower triangle
    # is mirrored afterwards — C is symmetric.
    # EXACTNESS: components are grid-bounded at ±~2e6, so x_i·x_j ≤
    # ~4.4e12 and a ≤10k-row Arrow batch's partial sum ≤ ~4.4e16 —
    # inside int64 at ANY corpus size (partials are emitted PER BATCH,
    # never accumulated across batches, so the bound cannot grow with
    # partition size); only the cross-BATCH sum needs DECIMAL(38,0),
    # same as the cross-ROW sum before. Integer addition is
    # associative, so batch-partial grouping changes nothing.
    # The SAME pass also emits each batch's per-dimension column sums
    # as (i=pos, j=-1, p=Σx) rows — Σx per batch ≤ 2e10, and the
    # downstream SUM over batch partials equals the old per-row SUM(x)
    # exactly — so the quantize transform runs ONCE per corpus scan
    # instead of separately for the moment pass and the sums pass.
    def _moment_partials(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            col = b.column(0)
            n = len(col)
            if n == 0:
                continue
            if col.null_count:
                raise ValueError("NULL quantized vector in moment pass")
            lens = col.value_lengths().to_numpy(zero_copy_only=False)
            if (lens != lens[0]).any():
                raise ValueError("ragged embedding dims in moment pass")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            x = np.ascontiguousarray(
                flat.reshape(n, lens[0]).astype(np.int64, copy=False))
            d = x.shape[1]
            m = x.T @ x  # exact int64 (bounds above)
            iu, ju = np.triu_indices(d)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate([iu, np.arange(d)])
                          .astype(np.int64)),
                 pa.array(np.concatenate([ju, np.full(d, -1)])
                          .astype(np.int64)),
                 pa.array(np.concatenate([m[iu, ju], x.sum(axis=0)]))],
                names=["i", "j", "p"],
            )

    # one corpus pass total: the (d²/2 + d)-row partials are pinned
    # once (they feed both the moment aggregate and the sums), then
    # split by the j = -1 marker
    part = (
        c.select("ca")  # project first: opaque fn defeats pruning (§4)
        .mapInArrow(_moment_partials, schema="i long, j long, p long")
        .localCheckpoint(eager=True)
    )
    upper = (
        part.filter("j >= 0")
        .groupBy("i", "j")
        .agg(F.expr("SUM(CAST(p AS DECIMAL(38,0)))").alias("sxx"))
    )
    sums = (
        part.filter("j = -1")
        .groupBy("i")
        .agg(F.expr("SUM(p)").alias("sx"))
        .selectExpr("CAST(i AS INT) AS pos", "sx")
    )
    xmom = upper.unionByName(
        upper.filter("i != j").selectExpr("j AS i", "i AS j", "sxx"))
    craw = (
        xmom.join(broadcast(sums.selectExpr("pos AS i", "sx AS sxi")),
                  "i")
        .join(broadcast(sums.selectExpr("pos AS j", "sx AS sxj")), "j")
        .crossJoin(broadcast(n_tot))
        .selectExpr(
            "i", "j",
            "CAST(n AS DECIMAL(38,0)) * sxx "
            "- CAST(sxi AS DECIMAL(38,0)) * sxj AS cr",
        )
    )
    cmax = craw.groupBy().agg(
        F.expr("GREATEST(MAX(ABS(cr)), CAST(1 AS DECIMAL(38,0)))")
        .alias("cm"))
    # localCheckpoint truncates the logical plan at the d²-row moment
    # table: WITHOUT it every iteration's lineage (and each of the
    # cmax/wmax scalar joins) re-evaluates the whole O(n·d²) moment
    # pass — the executed plan ballooned to ~300 scans of the corpus
    # (the doc_pagerank r4 lesson; persist() leaves Catalyst
    # re-optimizing the duplicated subtree per reference per action)
    return craw.crossJoin(broadcast(cmax)).selectExpr(
        "i", "j",
        "CASE WHEN cr >= 0 THEN CAST(cr * 1000000 DIV cm AS BIGINT) "
        "ELSE -CAST((-cr) * 1000000 DIV cm AS BIGINT) END AS cv",
    ).localCheckpoint(eager=True)


def _pca_v0(cov: DataFrame) -> DataFrame:
    """All-ones ppm start vector, derived from the CHECKPOINTED moment
    table's position set (d rows) — not from the corpus, so building
    v0 costs no data scan."""
    return cov.selectExpr("i AS pos").distinct().selectExpr(
        "pos", "CAST(1000000 AS BIGINT) AS vv")


def _pca_power(cov: DataFrame, v: DataFrame, steps: int = 3) -> DataFrame:
    """``steps`` power-iteration steps over the pinned moment table:
    each w = C·v is a broadcast join over d rows, rescaled to the ppm
    grid and localCheckpoint-pinned so the next step (and the scalar
    max join inside it) runs once."""
    for _ in range(steps):
        w = (
            cov.join(broadcast(v.selectExpr("pos AS j", "vv")), "j")
            .groupBy("i")
            .agg(F.expr(
                "SUM(CAST(cv AS DECIMAL(38,0)) * vv)").alias("wr"))
        )
        wmax = w.groupBy().agg(
            F.expr("GREATEST(MAX(ABS(wr)), CAST(1 AS DECIMAL(38,0)))")
            .alias("wm"))
        v = w.crossJoin(broadcast(wmax)).selectExpr(
            "i AS pos",
            "CASE WHEN wr >= 0 THEN "
            "CAST(wr * 1000000 DIV wm AS BIGINT) "
            "ELSE -CAST((-wr) * 1000000 DIV wm AS BIGINT) END AS vv",
        ).localCheckpoint(eager=True)  # d rows: each step runs once
    return v


def _pca_signed(v: DataFrame) -> DataFrame:
    """Canonical sign: the largest-|loading| position reads positive."""
    sign = v.orderBy(F.abs(F.col("vv")).desc(), F.col("pos")).limit(1) \
        .selectExpr("IF(vv >= 0, 1, -1) AS sg")
    return (
        v.crossJoin(broadcast(sign))
        .selectExpr("CAST(pos AS BIGINT) AS pos",
                    "CAST(vv * sg AS BIGINT) AS loading_ppm")
    )


def emb_pca_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov = _pca_cov(spark, sf_dir)
    return _pca_signed(_pca_power(cov, _pca_v0(cov)))


QUERIES["emb_pca_top1"] = emb_pca_top1


def _pca_deflate(cov: DataFrame, v: DataFrame) -> DataFrame:
    """Hotelling deflation ON THE INTEGER GRID: C' = C − λ·v̂v̂ᵀ with
    λ = vᵀCv / vᵀv, i.e. cv' = cv − (numer·vᵢ·vⱼ) / denom² where
    numer = Σᵢⱼ vᵢ·cvᵢⱼ·vⱼ and denom = Σᵢ vᵢ². All bounds are
    corpus-size-INDEPENDENT (both grids are ppm-normalized):
    |numer| ≤ d²·10¹⁸ ≈ 4·10²¹ at d=64, numer·vᵢ·vⱼ ≤ 4·10³³ and
    denom² ≤ 4·10²⁷ — inside DECIMAL(38,0) at any corpus size (the
    lint-rule-F analysis; no BIGINT product chain). Division is
    sign-split so Spark's truncating DIV matches DuckDB's floor."""
    vi = v.selectExpr("pos AS i", "vv AS vvi")
    vj = v.selectExpr("pos AS j", "vv AS vvj")
    lam = (
        cov.join(broadcast(vi), "i").join(broadcast(vj), "j")
        .groupBy()
        .agg(F.expr("SUM(CAST(cv AS DECIMAL(38,0)) * vvi * vvj)")
             .alias("numer"))
        .crossJoin(broadcast(
            v.groupBy().agg(
                F.expr("SUM(CAST(vv AS DECIMAL(38,0)) * vv)")
                .alias("denom"))))
    )
    return (
        cov.join(broadcast(vi), "i").join(broadcast(vj), "j")
        .crossJoin(broadcast(lam))
        .selectExpr(
            "i", "j",
            "CAST(cv - (CASE WHEN numer * vvi * vvj >= 0 THEN "
            "(numer * vvi * vvj) DIV (denom * denom) "
            "ELSE -((-(numer * vvi * vvj)) DIV (denom * denom)) END) "
            "AS BIGINT) AS cv",
        )
        .localCheckpoint(eager=True)  # d² rows; pin for the next power
    )


def emb_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components by POWER ITERATION + DEFLATION —
    still zero driver-side linear algebra: one O(n·d²) moment pass
    (shared with emb_pca_top1's formulation), then every step is a
    broadcast join over ≤ d² rows. Component 2 runs the identical
    power loop on the deflated moment table C − λ₁v₁v₁ᵀ (Hotelling),
    the textbook recipe PCA-reduced SemDeDup builds on. The oracle
    replays the same unrolled integer-grid steps."""
    cov = _pca_cov(spark, sf_dir)
    v0 = _pca_v0(cov)
    v1 = _pca_power(cov, v0)
    cov2 = _pca_deflate(cov, v1)
    v2 = _pca_power(cov2, v0)
    out1 = _pca_signed(v1).selectExpr(
        "CAST(1 AS BIGINT) AS component", "pos", "loading_ppm")
    out2 = _pca_signed(v2).selectExpr(
        "CAST(2 AS BIGINT) AS component", "pos", "loading_ppm")
    return out1.unionByName(out2)


QUERIES["emb_pca_topk"] = emb_pca_topk

def _pca_common_sql(mat: str = "") -> str:
    """Shared emb_pca_top1/emb_pca_topk oracle prefix: components →
    integer grid → moment pass → normalized covariance (through the
    ``cov`` CTE). ``mat="MATERIALIZED "`` pins each CTE once — DuckDB
    inlines plain CTEs per-reference (view semantics), which re-opens
    the parquet and re-runs the heavy moment pass for a consumer like
    the topk oracle that references ``cov`` many times. Emitted HERE,
    in the template, so no post-hoc string surgery can misfire on a
    future ``AS (`` that isn't a CTE definition."""
    return f"""
    WITH v AS {mat}(
        SELECT vec_id AS c_id, embedding AS ce FROM embeddings
        WHERE vec_id >= {N_QUERIES}
    ),
    comp AS {mat}(
        SELECT c_id,
               unnest(range(1, len(ce) + 1)) - 1 AS pos,
               CAST(round(CAST(unnest(ce) AS DOUBLE) * 1000000) AS BIGINT)
                   AS x
        FROM v
    ),
    n_tot AS {mat}(SELECT count(DISTINCT c_id) AS n FROM comp),
    sums AS {mat}(SELECT pos, sum(x) AS sx FROM comp GROUP BY pos),
    xmom AS {mat}(
        SELECT a.pos AS i, b.pos AS j,
               sum(CAST(a.x AS HUGEINT) * b.x) AS sxx
        FROM comp a JOIN comp b USING (c_id)
        GROUP BY 1, 2
    ),
    craw AS {mat}(
        SELECT i, j,
               CAST(n AS HUGEINT) * sxx
                   - CAST(si.sx AS HUGEINT) * sj.sx AS cr
        FROM xmom
        JOIN sums si ON si.pos = i
        JOIN sums sj ON sj.pos = j
        CROSS JOIN n_tot
    ),
    cmax AS {mat}(
        SELECT GREATEST(MAX(ABS(cr)), CAST(1 AS HUGEINT)) AS cm
        FROM craw),
    cov AS {mat}(
        SELECT i, j,
               CASE WHEN cr >= 0 THEN
                   CAST(cr * 1000000 // cm AS BIGINT)
               ELSE -CAST((-cr) * 1000000 // cm AS BIGINT) END AS cv
        FROM craw CROSS JOIN cmax
    )"""


ORACLES["emb_pca_top1"] = _pca_common_sql() + """,
    v0 AS (SELECT pos, CAST(1000000 AS BIGINT) AS vv FROM sums),
    w1 AS (
        SELECT i, sum(CAST(cv AS HUGEINT) * vv) AS wr
        FROM cov JOIN v0 ON v0.pos = cov.j GROUP BY i),
    m1 AS (SELECT GREATEST(MAX(ABS(wr)), CAST(1 AS HUGEINT)) AS wm
           FROM w1),
    v1 AS (
        SELECT i AS pos,
               CASE WHEN wr >= 0 THEN
                   CAST(wr * 1000000 // wm AS BIGINT)
               ELSE -CAST((-wr) * 1000000 // wm AS BIGINT) END AS vv
        FROM w1 CROSS JOIN m1),
    w2 AS (
        SELECT i, sum(CAST(cv AS HUGEINT) * vv) AS wr
        FROM cov JOIN v1 ON v1.pos = cov.j GROUP BY i),
    m2 AS (SELECT GREATEST(MAX(ABS(wr)), CAST(1 AS HUGEINT)) AS wm
           FROM w2),
    v2 AS (
        SELECT i AS pos,
               CASE WHEN wr >= 0 THEN
                   CAST(wr * 1000000 // wm AS BIGINT)
               ELSE -CAST((-wr) * 1000000 // wm AS BIGINT) END AS vv
        FROM w2 CROSS JOIN m2),
    w3 AS (
        SELECT i, sum(CAST(cv AS HUGEINT) * vv) AS wr
        FROM cov JOIN v2 ON v2.pos = cov.j GROUP BY i),
    m3 AS (SELECT GREATEST(MAX(ABS(wr)), CAST(1 AS HUGEINT)) AS wm
           FROM w3),
    v3 AS (
        SELECT i AS pos,
               CASE WHEN wr >= 0 THEN
                   CAST(wr * 1000000 // wm AS BIGINT)
               ELSE -CAST((-wr) * 1000000 // wm AS BIGINT) END AS vv
        FROM w3 CROSS JOIN m3),
    sg AS (
        SELECT CASE WHEN vv >= 0 THEN 1 ELSE -1 END AS sg
        FROM v3 ORDER BY ABS(vv) DESC, pos LIMIT 1)
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(vv * sg AS BIGINT) AS loading_ppm
    FROM v3 CROSS JOIN sg
"""


def _pca_power_sql(cov: str, v0: str, prefix: str, steps: int = 3,
                   mat: str = ""):
    """DuckDB CTE chain replaying _pca_power's unrolled integer-grid
    steps over the ``cov`` CTE; returns (ctes, final_v_name).
    ``mat="MATERIALIZED "`` is emitted in the template (see
    _pca_common_sql)."""
    ctes, prev = [], v0
    for s in range(1, steps + 1):
        ctes.append(f"""{prefix}w{s} AS {mat}(
        SELECT i, sum(CAST(cv AS HUGEINT) * vv) AS wr
        FROM {cov} JOIN {prev} ON {prev}.pos = {cov}.j GROUP BY i)""")
        ctes.append(f"""{prefix}m{s} AS {mat}(
        SELECT GREATEST(MAX(ABS(wr)), CAST(1 AS HUGEINT)) AS wm
        FROM {prefix}w{s})""")
        ctes.append(f"""{prefix}v{s} AS {mat}(
        SELECT i AS pos,
               CASE WHEN wr >= 0 THEN CAST(wr * 1000000 // wm AS BIGINT)
               ELSE -CAST((-wr) * 1000000 // wm AS BIGINT) END AS vv
        FROM {prefix}w{s} CROSS JOIN {prefix}m{s})""")
        prev = f"{prefix}v{s}"
    return ctes, prev


def _pca_topk_oracle() -> str:
    # shared prefix: identical to the top1 oracle through cov, with
    # every CTE pinned MATERIALIZED at the template level
    head = _pca_common_sql(mat="MATERIALIZED ")
    a_ctes, a_v = _pca_power_sql("cov", "v0", "a_", mat="MATERIALIZED ")
    b_ctes, b_v = _pca_power_sql("cov2", "v0", "b_", mat="MATERIALIZED ")
    parts = [head, """,
    v0 AS MATERIALIZED (
        SELECT pos, CAST(1000000 AS BIGINT) AS vv FROM sums)"""]
    parts += [",\n    " + c for c in a_ctes]
    parts.append(f""",
    lam AS MATERIALIZED (
        SELECT SUM(CAST(cv AS HUGEINT) * vi.vv * vj.vv) AS numer,
               (SELECT SUM(CAST(vv AS HUGEINT) * vv) FROM {a_v})
                   AS denom
        FROM cov
        JOIN {a_v} vi ON vi.pos = cov.i
        JOIN {a_v} vj ON vj.pos = cov.j),
    cov2 AS MATERIALIZED (
        SELECT i, j,
               CAST(cv - (CASE WHEN numer * vi.vv * vj.vv >= 0 THEN
                   (numer * vi.vv * vj.vv) // (denom * denom)
               ELSE -((-(numer * vi.vv * vj.vv)) // (denom * denom))
               END) AS BIGINT) AS cv
        FROM cov
        JOIN {a_v} vi ON vi.pos = cov.i
        JOIN {a_v} vj ON vj.pos = cov.j
        CROSS JOIN lam)""")
    parts += [",\n    " + c for c in b_ctes]
    parts.append(f""",
    a_sg AS MATERIALIZED (
        SELECT CASE WHEN vv >= 0 THEN 1 ELSE -1 END AS sg
        FROM {a_v} ORDER BY ABS(vv) DESC, pos LIMIT 1),
    b_sg AS MATERIALIZED (
        SELECT CASE WHEN vv >= 0 THEN 1 ELSE -1 END AS sg
        FROM {b_v} ORDER BY ABS(vv) DESC, pos LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS component, CAST(pos AS BIGINT) AS pos,
           CAST(vv * sg AS BIGINT) AS loading_ppm
    FROM {a_v} CROSS JOIN a_sg
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS component, CAST(pos AS BIGINT) AS pos,
           CAST(vv * sg AS BIGINT) AS loading_ppm
    FROM {b_v} CROSS JOIN b_sg""")
    return "".join(parts)


ORACLES["emb_pca_topk"] = _pca_topk_oracle()
