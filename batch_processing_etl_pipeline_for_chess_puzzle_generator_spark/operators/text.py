"""Text analysis for LLM training-data pipelines.

Language ID (stopword profile), quality scoring, token counting
(whitespace + BPE-ish subword estimate), and positional rolling-hash
fingerprinting — all as pure Catalyst expressions over the ``documents``
table. Higher-order functions (transform/aggregate/filter) keep the
per-document math row-local: NO shuffle at all for any of these — they
scale linearly with scan bandwidth, which is exactly what you want for
a 100 TB corpus pass.

Determinism: token counts are integers; ratios are single double
divisions of exact integers; the fingerprint is modular integer
arithmetic — every output is bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.fixtures import session_memo
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
    SPARK_HASH_SQL,
    STABLE_HASH_SQL,
)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

_WORDS = "split(text, ' ')"
_WORDS_DUCK = "string_split(text, ' ')"


def _docs_spread(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """documents projected to ``cols`` and fanned out to the session's
    cores when the scan would otherwise be one task (catalog.spread —
    identity on any production-parallel table). The per-document
    higher-order-function work in this module (n-gram transforms,
    bigram profiles, per-token filters) is interpreted expression math
    that runs INSIDE the scan task, so a single-row-group local file
    serializes it on one core (guide §2.5); the exchange this inserts
    moves only the projected narrow columns."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    return spread(spark, sf_dir, "documents",
                  table(spark, sf_dir, "documents").select(*cols))


# Stopword-profile language ID: a document whose stopword mass clears
# the threshold is classed 'en'. (A real system uses per-language
# profiles; the *shape* — row-local token scan, no shuffle — is the
# production shape.)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(size(filter({_WORDS}, w -> w IN ({_STOP_IN}))) AS BIGINT)").alias("n_stop"),
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_words"),
        F.expr(
            f"CASE WHEN size(filter({_WORDS}, w -> w IN ({_STOP_IN}))) / size({_WORDS}) >= 0.05 "
            "THEN 'en' ELSE 'other' END"
        ).alias("predicted_lang"),
    )


# Quality scoring: repetition, word-length, and stopword-load signals
# folded into one [0,1] score.
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_words = f"size({_WORDS})"
    n_distinct = f"size(array_distinct({_WORDS}))"
    n_stop = f"size(filter({_WORDS}, w -> w IN ({_STOP_IN})))"
    dup_ratio = f"(1.0 - {n_distinct} / {n_words})"
    avg_word_len = f"((n_chars - {n_words} + 1) / {n_words})"
    stop_ratio = f"({n_stop} / {n_words})"
    score = (
        f"(1.0 - {dup_ratio}) * 0.6 + least({avg_word_len} / 10.0, 1.0) * 0.2 "
        f"+ (1.0 - least({stop_ratio} * 5.0, 1.0)) * 0.2"
    )
    return docs.select(
        "doc_id",
        F.expr(f"CAST({n_words} AS BIGINT)").alias("n_words"),
        F.expr(f"CAST({n_distinct} AS BIGINT)").alias("n_distinct_words"),
        F.expr(dup_ratio).alias("dup_ratio"),
        F.expr(avg_word_len).alias("avg_word_len"),
        F.expr(stop_ratio).alias("stop_ratio"),
        F.expr(score).alias("quality_score"),
    )


# Token counting: whitespace tokens + a BPE-ish subword estimate
# (≈ one subword per 4 chars of each word, the usual byte-level BPE
# rule of thumb).
def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"aggregate({_WORDS}, CAST(0 AS BIGINT), "
            "(acc, w) -> acc + ((length(w) + 3) DIV 4))"
        ).alias("n_subtokens"),
    )


# Positional polynomial fingerprint: Σ (h(w_i) mod 1000003) · i,
# reduced mod 2^31-1. Order-sensitive (unlike a bag-of-words hash),
# pure integer math, zero shuffle.
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = SPARK_HASH_SQL("w")
    return docs.select(
        "doc_id",
        F.expr(
            f"aggregate(zip_with({_WORDS}, sequence(1, size({_WORDS})), "
            f"(w, i) -> ({h} % 1000003) * CAST(i AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) % 2147483647"
        ).alias("fingerprint"),
    )


QUERIES = {
    "doc_langid": doc_langid,
    "doc_quality": doc_quality,
    "doc_tokens": doc_tokens,
    "doc_fingerprint": doc_fingerprint,
}

_DH = STABLE_HASH_SQL("w")

ORACLES = {
    "doc_langid": f"""
        SELECT doc_id, lang,
               CAST(len(list_filter({_WORDS_DUCK}, w -> w IN ({_STOP_IN}))) AS BIGINT) AS n_stop,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_words,
               CASE WHEN len(list_filter({_WORDS_DUCK}, w -> w IN ({_STOP_IN})))
                         / len({_WORDS_DUCK}) >= 0.05
                    THEN 'en' ELSE 'other' END AS predicted_lang
        FROM documents
    """,
    "doc_quality": f"""
        SELECT doc_id,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_words,
               CAST(len(list_distinct({_WORDS_DUCK})) AS BIGINT) AS n_distinct_words,
               (1.0 - len(list_distinct({_WORDS_DUCK})) / len({_WORDS_DUCK})) AS dup_ratio,
               ((n_chars - len({_WORDS_DUCK}) + 1) / len({_WORDS_DUCK})) AS avg_word_len,
               (len(list_filter({_WORDS_DUCK}, w -> w IN ({_STOP_IN}))) / len({_WORDS_DUCK}))
                   AS stop_ratio,
               (1.0 - (1.0 - len(list_distinct({_WORDS_DUCK})) / len({_WORDS_DUCK}))) * 0.6
                 + least(((n_chars - len({_WORDS_DUCK}) + 1) / len({_WORDS_DUCK})) / 10.0, 1.0) * 0.2
                 + (1.0 - least((len(list_filter({_WORDS_DUCK}, w -> w IN ({_STOP_IN})))
                                 / len({_WORDS_DUCK})) * 5.0, 1.0)) * 0.2
                   AS quality_score
        FROM documents
    """,
    "doc_tokens": f"""
        SELECT doc_id,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform({_WORDS_DUCK},
                                            w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subtokens
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               CAST(sum(({_DH} % 1000003) * i) % 2147483647 AS BIGINT) AS fingerprint
        FROM (
            SELECT doc_id,
                   unnest({_WORDS_DUCK}) AS w,
                   unnest(range(1, len({_WORDS_DUCK}) + 1)) AS i
            FROM documents
        )
        GROUP BY doc_id
    """,
}


# Corpus vocabulary: top-50 tokens by frequency — the vocab-building
# pass of a tokenizer pipeline. explode → count is map-side combined;
# only (token, count) rows shuffle.
def doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(50)
    )


# Deterministic stratified sample: ~10% per document, selected by a
# stable content-independent hash of the id — reproducible across runs,
# engines, and cluster sizes (never rand()).
def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = SPARK_HASH_SQL("CAST(doc_id AS STRING)")
    return docs.filter(F.expr(f"{bucket} % 100 < 10")).select(
        "doc_id", "lang", "source"
    )


# PII-scrub + normalization: lowercase, collapse whitespace, redact
# emails/URLs. Row-local regex work — a pure scan-bandwidth pass, the
# cleaning stage that precedes tokenization in a corpus pipeline.
# (Patterns are deliberately RE2-safe so Spark's Java regex and the
# DuckDB oracle's RE2 agree.)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"


def doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    norm = (
        f"trim(regexp_replace(regexp_replace(regexp_replace(lower(text), "
        f"'{_URL_RE}', '<url>'), '{_EMAIL_RE}', '<email>'), ' +', ' '))"
    )
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size(regexp_extract_all(text, '{_EMAIL_RE}', 0)) AS BIGINT)").alias("n_emails"),
        F.expr(f"CAST(size(regexp_extract_all(text, '{_URL_RE}', 0)) AS BIGINT)").alias("n_urls"),
        F.expr(f"length({norm})").alias("norm_len"),
        F.expr(f"md5({norm})").alias("norm_hash"),
    )


# TF-IDF top-3 terms per document. Two aggregations over the exploded
# postings (term-frequency per doc, document-frequency per term) plus a
# broadcast scalar N; smooth idf = ln((N+1)/(df+1)) + 1. Scores are
# ROUNDed to 6dp — tf/df/N are integers, so both engines compute ln of
# the same rational and agree to far more than 6 places; ranking uses
# the raw score with a token tiebreak.
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df as a window count over tf keeps the whole query ONE lineage:
    # the corpus is scanned and exploded exactly once (a tf/df self-join
    # would re-scan — branch-specific column pruning defeats Spark's
    # exchange reuse). tf rows per token ≡ distinct docs containing it.
    w_tok = Window.partitionBy("token")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_tok))
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.expr("tf * (ln((n_docs + 1) / (df + 1.0)) + 1)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "rank",
                F.expr("CAST(ROUND(score * 1e6) AS BIGINT)").alias("tfidf"))
    )


# Bigram language-model counts: corpus-wide top-20 bigrams with the
# conditional probability p(w2|w1) = c(w1,w2) / c(w1·). Adjacent pairs
# come from zip_with over two slices of the token array (row-local, no
# per-element split() re-evaluation — see the shingle invariant); two
# partial-aggregated shuffles (bigram counts, unigram context counts)
# and a broadcast-sized join on w1. Probabilities are ratios of exact
# integers rounded to 6dp, so both engines agree bit-for-bit.
def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.expr(
                f"zip_with(slice({_WORDS}, 1, size({_WORDS}) - 1), "
                f"slice({_WORDS}, 2, size({_WORDS}) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg_cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    # Context counts as a window sum over bg_cnt (Σ cnt per w1 == w1's
    # pair occurrences) — single lineage, corpus exploded once, no
    # self-join recompute.
    ctx = F.sum("cnt").over(Window.partitionBy("w1"))
    # Global top-20 via orderBy+limit = TakeOrdered (per-partition heaps,
    # driver merge of 20-row heads) — never a single-partition window over
    # the full bigram table. The rank window then runs on 20 rows only.
    topk = (
        bg_cnt.withColumn(
            "prob", F.round(F.col("cnt") / ctx * 1e6).cast("long")
        )
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("w1"), F.col("w2"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "w1", "w2", "cnt", "prob")
    )


# Bigram-LM document scoring — the KenLM-style quality filter of LLM
# data pipelines: score each doc by its mean negative log-probability under
# the corpus's own bigram model. Fully self-contained single lineage:
# model counts come from two window functions over the exploded pairs
# (no join, corpus scanned once); per-pair log-probs are quantized to an
# integer 1e-9 grid BEFORE the per-doc sum, so the aggregate is exact
# integer math — order-independent across partitions and bit-identical
# to the oracle (a raw double sum would be partition-order dependent).
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _docs_spread(spark, sf_dir, "doc_id", "text")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"zip_with(slice({_WORDS}, 1, size({_WORDS}) - 1), "
                f"slice({_WORDS}, 2, size({_WORDS}) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    scored = (
        pairs.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2")))
        .withColumn("ctx", F.count(F.lit(1)).over(Window.partitionBy("w1")))
        .withColumn(
            "lp_int",
            F.expr("CAST(ROUND(ln(cnt / ctx) * 1e9, 0) AS BIGINT)"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        # µ-nats grid: lp_int is already exact; one integer division
        # chain, no fractional ROUND of a double
        F.expr("CAST(ROUND(-SUM(lp_int) / COUNT(*) / 1e3) AS BIGINT)")
        .alias("avg_neg_logp"),
    )


QUERIES["doc_vocab_topk"] = doc_vocab_topk
QUERIES["doc_sample_stratified"] = doc_sample_stratified
QUERIES["doc_normalize"] = doc_normalize
QUERIES["doc_tfidf_topk"] = doc_tfidf_topk
QUERIES["doc_bigram_lm"] = doc_bigram_lm
QUERIES["doc_lm_score"] = doc_lm_score

ORACLES["doc_lm_score"] = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest({_WORDS_DUCK}) AS w,
               generate_subscripts({_WORDS_DUCK}, 1) AS i
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM tok
    ),
    scored AS (
        SELECT doc_id,
               CAST(ROUND(ln(
                   count(*) OVER (PARTITION BY w1, w2)
                   / CAST(count(*) OVER (PARTITION BY w1) AS DOUBLE)
               ) * 1e9, 0) AS BIGINT) AS lp_int
        FROM pairs WHERE w2 IS NOT NULL
    )
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(ROUND(-SUM(lp_int) / count(*) / 1e3) AS BIGINT)
               AS avg_neg_logp
    FROM scored GROUP BY doc_id
"""

ORACLES["doc_bigram_lm"] = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest({_WORDS_DUCK}) AS w,
               generate_subscripts({_WORDS_DUCK}, 1) AS i
        FROM documents
    ),
    pairs AS (
        SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM tok
    ),
    bg AS (SELECT w1, w2, count(*) AS cnt FROM pairs
           WHERE w2 IS NOT NULL GROUP BY w1, w2),
    ctx AS (SELECT w1, count(*) AS ctx FROM pairs
            WHERE w2 IS NOT NULL GROUP BY w1)
    SELECT row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rank,
           w1, w2, cnt,
           CAST(ROUND(cnt / CAST(ctx AS DOUBLE) * 1e6) AS BIGINT) AS prob
    FROM bg JOIN ctx USING (w1)
    ORDER BY cnt DESC, w1, w2 LIMIT 20
"""

ORACLES["doc_tfidf_topk"] = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, token,
               tf * (ln((n_docs + 1) / (df + 1.0)) + 1) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, rank,
           CAST(ROUND(score * 1e6) AS BIGINT) AS tfidf FROM (
        SELECT doc_id, token, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
        FROM scored
    )
    WHERE rank <= 3
"""

ORACLES["doc_normalize"] = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT) AS n_urls,
           CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
               '{_URL_RE}', '<url>', 'g'), '{_EMAIL_RE}', '<email>', 'g'),
               ' +', ' ', 'g'))) AS INTEGER) AS norm_len,
           md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
               '{_URL_RE}', '<url>', 'g'), '{_EMAIL_RE}', '<email>', 'g'),
               ' +', ' ', 'g'))) AS norm_hash
    FROM documents
"""

ORACLES["doc_vocab_topk"] = """
    SELECT token, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
"""
ORACLES["doc_sample_stratified"] = f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {STABLE_HASH_SQL("CAST(doc_id AS VARCHAR)")} % 100 < 10
"""


# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS algorithm): hash every k-gram (k=3 words), then keep the minimum
# hash of each sliding window of w=4 k-grams. Guarantees any shared run
# of ≥ w+k-1 words produces a shared fingerprint, with ~2/(w+1) of
# hashes kept. Entirely row-local higher-order-function math — ZERO
# shuffle for the fingerprinting itself; the output is the per-doc
# fingerprint-set digest. Docs shorter than k words have no k-grams and
# are filtered (both engines).
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = SPARK_HASH_SQL("concat_ws(' ', slice(ws, i, 3))")
    kgrams = f"transform(sequence(1, size(ws) - 2), i -> {h})"
    wins = (
        "transform(sequence(1, GREATEST(size(kg) - 3, 1)), "
        "j -> array_min(slice(kg, j, 4)))"
    )
    return (
        docs.select("doc_id", F.expr(f"{_WORDS}").alias("ws"))
        .filter(F.expr("size(ws) >= 3"))
        .select("doc_id", F.expr(kgrams).alias("kg"))
        .select(
            "doc_id",
            F.expr("CAST(size(kg) AS BIGINT)").alias("n_kgrams"),
            F.expr(f"array_sort(array_distinct({wins}))").alias("fps"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            F.expr("CAST(size(fps) AS BIGINT)").alias("n_fps"),
            F.expr(
                "md5(concat_ws(',', transform(fps, x -> CAST(x AS STRING))))"
            ).alias("fp_digest"),
        )
    )


QUERIES["doc_winnowing"] = doc_winnowing

_WIN_H = STABLE_HASH_SQL("array_to_string(ws[i:i+2], ' ')")
ORACLES["doc_winnowing"] = f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 3
    ),
    kg AS (
        SELECT doc_id,
               list_transform(range(1, len(ws) - 1), i -> {_WIN_H}) AS kg
        FROM toks
    ),
    fp AS (
        SELECT doc_id, CAST(len(kg) AS BIGINT) AS n_kgrams,
               list_sort(list_distinct(list_transform(
                   range(1, GREATEST(len(kg) - 3, 1) + 1),
                   j -> list_min(kg[j:j+3])))) AS fps
        FROM kg
    )
    SELECT doc_id, n_kgrams, CAST(len(fps) AS BIGINT) AS n_fps,
           md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')) AS fp_digest
    FROM fp
"""


# Gopher-style quality filters (Rae et al. 2021 §A1.1 shape): word
# count bounds, mean word length, stopword load, and top-bigram
# repetition coverage. All row-local higher-order-function math — zero
# shuffle; the pass is pure scan bandwidth at 100 TB. The repetition
# signal (share of bigrams taken by the most frequent bigram) is the
# quadratic-per-doc variant, bounded by the document length cap.
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir, "doc_id", "n_chars", "text")
    bg = (
        "transform(sequence(1, size(ws) - 1), "
        "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
    )
    top_bg = "array_max(transform(array_distinct(bg), b -> size(filter(bg, x -> x = b))))"
    return (
        docs.select("doc_id", "n_chars", F.expr(_WORDS).alias("ws"))
        .filter(F.expr("size(ws) >= 2"))
        .select("doc_id", "n_chars", "ws", F.expr(bg).alias("bg"))
        .select(
            "doc_id",
            F.expr("CAST(size(ws) AS BIGINT)").alias("n_words"),
            F.expr("(n_chars - size(ws) + 1) / size(ws)").alias("mean_word_len"),
            F.expr(
                f"size(filter(ws, w -> w IN ({_STOP_IN}))) / size(ws)"
            ).alias("frac_stop"),
            F.expr(f"CAST({top_bg} AS BIGINT)").alias("top_bigram_n"),
            F.expr(f"{top_bg} / size(bg)").alias("top_bigram_frac"),
        )
        .select(
            "*",
            F.expr(
                "n_words >= 10 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0 "
                "AND top_bigram_frac < 0.18"
            ).alias("keep"),
        )
    )


QUERIES["doc_gopher_quality"] = doc_gopher_quality

_BG_DUCK = "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])"
_TOP_BG_DUCK = (
    "list_max(list_transform(list_distinct(bg), "
    "b -> len(list_filter(bg, x -> x = b))))"
)
ORACLES["doc_gopher_quality"] = f"""
    WITH toks AS (
        SELECT doc_id, n_chars, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 2
    ),
    bgs AS (SELECT doc_id, n_chars, ws, {_BG_DUCK} AS bg FROM toks),
    feats AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               (n_chars - len(ws) + 1) / CAST(len(ws) AS DOUBLE) AS mean_word_len,
               len(list_filter(ws, w -> w IN ({_STOP_IN})))
                   / CAST(len(ws) AS DOUBLE) AS frac_stop,
               CAST({_TOP_BG_DUCK} AS BIGINT) AS top_bigram_n,
               {_TOP_BG_DUCK} / CAST(len(bg) AS DOUBLE) AS top_bigram_frac
        FROM bgs
    )
    SELECT *,
           (n_words >= 10 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
            AND top_bigram_frac < 0.18) AS keep
    FROM feats
"""


# Data-mixture report — the per-(source, lang) corpus composition table
# every training-data pipeline publishes before sampling weights are
# chosen. One partial-aggregated shuffle to |source×lang| groups plus a
# one-row total broadcast back for the share columns.
def doc_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("total_chars"),
        F.expr(f"CAST(SUM(size({_WORDS})) AS BIGINT)").alias("total_tokens"),
    )
    tot = per.agg(
        F.expr("CAST(SUM(n_docs) AS BIGINT)").alias("corpus_docs"),
        F.expr("CAST(SUM(total_tokens) AS BIGINT)").alias("corpus_tokens"),
    )
    return per.join(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.expr("total_tokens / n_docs").alias("mean_tokens"),
        F.expr("n_docs / corpus_docs").alias("doc_share"),
        F.expr("total_tokens / corpus_tokens").alias("token_share"),
    )


# Benchmark-contamination check — the decontamination pass run before
# training: flag documents sharing 5-gram shingles with a held-out eval
# set (deterministically chosen here as doc_id % 97 == 0). The eval
# shingle set is ONE tiny agg collapsed to a single sorted array and
# broadcast; the corpus-side overlap is then a row-local
# array_intersect — ZERO shuffle over the corpus, the exact shape a
# 100 TB decontamination pass needs (eval sets are always small).
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir, "doc_id", "text")
    h = SPARK_HASH_SQL("concat_ws(' ', slice(ws, i, 5))")
    grams = f"array_distinct(transform(sequence(1, size(ws) - 4), i -> {h}))"
    # localCheckpoint: a MATERIALIZATION boundary under the explode —
    # without it Catalyst inlines the gram transform (250k md5s) into
    # every consumer expression through the Generate (size(hs) AND the
    # explode arg AND the eval branch re-derive it: measured 2.6 s for
    # the bare explode vs 0.06 s past a boundary — the same
    # CollapseProject duplication _cached_postings documents). Per-call
    # checkpoint, not a session cache: every invocation recomputes from
    # the parquet inputs.
    with_h = (
        docs.select("doc_id", F.expr(_WORDS).alias("ws"))
        .filter(F.expr("size(ws) >= 5"))
        .select("doc_id", F.expr(grams).alias("hs"))
        .localCheckpoint()
    )
    eval_tbl = (
        with_h.filter(F.expr("doc_id % 97 = 0"))
        .select(F.explode("hs").alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # Membership as a BROADCAST HASH-JOIN PROBE over the exploded
    # grams, not a per-row array_intersect against the whole eval
    # array: ArrayIntersect is an interpreted expression that rebuilds
    # the eval-side hash set PER ROW (|eval| work × every document),
    # where the join probes a codegen'd broadcast hash relation once
    # per gram (guide §4.1 — prefer codegen'd relational operators
    # over interpreted collection expressions). hs is array_distinct
    # and eval_tbl is distinct, so matched-gram count == intersection
    # size; every kept doc has size(ws) >= 5, hence >= 1 gram, so no
    # doc drops out of the explode. Measured 4.0 s → 0.8 s at sf0.1.
    return (
        with_h.select(
            "doc_id",
            F.expr("CAST(size(hs) AS BIGINT)").alias("n_ngrams"),
            F.explode("hs").alias("h"),
        )
        .join(F.broadcast(eval_tbl), "h", "left")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.expr("CAST(COUNT(_hit) AS BIGINT)").alias("n_overlap"))
        .select(
            "doc_id",
            "n_ngrams",
            "n_overlap",
            F.expr("n_overlap / n_ngrams").alias("overlap_frac"),
            F.expr("n_overlap / n_ngrams > 0.1").alias("contaminated"),
        )
    )


QUERIES["doc_mixture_report"] = doc_mixture_report
QUERIES["doc_contamination"] = doc_contamination

ORACLES["doc_mixture_report"] = f"""
    WITH per AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len({_WORDS_DUCK})) AS BIGINT) AS total_tokens
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS corpus_docs,
               CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens
        FROM per
    )
    SELECT source, lang, n_docs, total_chars, total_tokens,
           total_tokens / CAST(n_docs AS DOUBLE) AS mean_tokens,
           n_docs / CAST(corpus_docs AS DOUBLE) AS doc_share,
           total_tokens / CAST(corpus_tokens AS DOUBLE) AS token_share
    FROM per CROSS JOIN tot
"""

_GRAM_H_DUCK = STABLE_HASH_SQL("array_to_string(ws[i:i+4], ' ')")
ORACLES["doc_contamination"] = f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 5
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws) - 3),
                                            i -> {_GRAM_H_DUCK})) AS hs
        FROM toks
    ),
    ev AS (
        SELECT list_sort(list_distinct(flatten(list(hs)))) AS eval_hashes
        FROM grams WHERE doc_id % 97 = 0
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_ngrams,
           CAST(len(list_intersect(hs, eval_hashes)) AS BIGINT) AS n_overlap,
           len(list_intersect(hs, eval_hashes)) / CAST(len(hs) AS DOUBLE) AS overlap_frac,
           len(list_intersect(hs, eval_hashes)) / CAST(len(hs) AS DOUBLE) > 0.1 AS contaminated
    FROM grams CROSS JOIN ev
"""


# Concat-and-chunk sequence packing — the GPT-style pretraining pack:
# documents are concatenated in a deterministic order within each
# source shard and sliced into fixed 512-token chunks; each doc lands
# at (chunk_id, offset). One window cumsum per source shard — in
# production each shard packs independently (the partition key IS the
# shard), so the sort never goes global.
PACK_CHUNK = 512


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cum = (
        "SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_tokens"),
        )
        .select("doc_id", "source", "n_tokens", F.expr(f"{cum} - n_tokens").alias("start_tok"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"CAST(FLOOR(start_tok / {PACK_CHUNK}) AS BIGINT)").alias("chunk_id"),
            F.expr(f"start_tok % {PACK_CHUNK}").alias("chunk_offset"),
            F.expr(
                f"FLOOR((start_tok + n_tokens - 1) / {PACK_CHUNK}) != "
                f"FLOOR(start_tok / {PACK_CHUNK})"
            ).alias("spans_chunks"),
        )
    )


# Deterministic mixture resampling — rebalance the corpus so every
# source contributes ~the same doc count: rate_s = min_count / count_s,
# applied as a stable-hash threshold (reproducible, no RNG state, no
# shuffle over the corpus — the rates table is a tiny broadcast).
def doc_resample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    rates = counts.join(
        F.broadcast(counts.agg(F.expr("CAST(MIN(n_src) AS BIGINT)").alias("n_min")))
    ).select(
        "source",
        F.expr("CAST(FLOOR(n_min / n_src * 1000000) AS BIGINT)").alias("keep_ppm"),
    )
    h = SPARK_HASH_SQL("CONCAT('rs:', CAST(doc_id AS STRING))")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(F.expr(f"pmod({h}, 1000000) < keep_ppm"))
        .select("doc_id", "source", "lang", "keep_ppm")
    )


QUERIES["doc_pack_sequences"] = doc_pack_sequences
QUERIES["doc_resample_mixture"] = doc_resample_mixture

ORACLES["doc_pack_sequences"] = f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    pos AS (
        -- CAST: DuckDB windowed SUM(BIGINT) yields HUGEINT; keep BIGINT
        -- so chunk_offset matches Spark's type in the driver's hasher.
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS BIGINT) AS start_tok
        FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(start_tok / {PACK_CHUNK}) AS BIGINT) AS chunk_id,
           start_tok % {PACK_CHUNK} AS chunk_offset,
           FLOOR((start_tok + n_tokens - 1) / {PACK_CHUNK})
               != FLOOR(start_tok / {PACK_CHUNK}) AS spans_chunks
    FROM pos
"""

_RS_H = STABLE_HASH_SQL("('rs:' || CAST(doc_id AS VARCHAR))")
ORACLES["doc_resample_mixture"] = f"""
    WITH counts AS (
        SELECT source, count(*) AS n_src FROM documents GROUP BY source
    ),
    rates AS (
        SELECT source,
               CAST(FLOOR((SELECT CAST(MIN(n_src) AS BIGINT) FROM counts)
                          / CAST(n_src AS DOUBLE) * 1000000) AS BIGINT) AS keep_ppm
        FROM counts
    )
    SELECT doc_id, d.source, lang, keep_ppm
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_RS_H} % 1000000 < keep_ppm
"""


# Per-source token-length deciles — grouped percentiles for corpus
# length profiling (truncation/packing budgets are set per source). One
# |sources|-group agg computes the whole decile vector per group; the
# explode back to long form is row-local. No global sort, no ntile.
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.expr(f"size({_WORDS})").alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "percentile(n_tokens, array(0.1, 0.2, 0.3, 0.4, 0.5, "
                "0.6, 0.7, 0.8, 0.9))"
            ).alias("qs"),
        )
        .select(
            "source",
            "n_docs",
            F.posexplode("qs").alias("pos", "bound"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("CAST(pos + 1 AS BIGINT)").alias("decile"),
            F.expr("CAST(ROUND(bound * 1e6) AS BIGINT)").alias("bound"),
        )
    )


QUERIES["doc_length_deciles"] = doc_length_deciles

ORACLES["doc_length_deciles"] = f"""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               quantile_cont(len({_WORDS_DUCK}),
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM documents GROUP BY source
    )
    SELECT source, n_docs,
           CAST(t.i AS BIGINT) AS decile,
           CAST(ROUND(qs[t.i] * 1e6) AS BIGINT) AS bound
    FROM per, UNNEST(range(1, 10)) AS t(i)
"""


# The RUNNABLE 100 TB twin of doc_length_deciles: the per-source
# decile vector from approx_percentile in the same grouped single-agg
# plan — the swap the exact operator documents. Statistical oracle
# gate (the events.py approx-twin pattern): each sketch decile must
# land inside the exact p±0.02 quantile bracket (rank error at
# accuracy=10000 is ≤ n/10000, far inside ±0.02·n); sources with
# fewer than 100 docs are accepted outright, since a real data value
# on a handful of rows can legitimately sit outside an interpolated
# bracket. The per-decile boolean reaches the value hash.
def doc_length_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.events import (
        APPROX_MIN_N,
    )

    docs = table(spark, sf_dir, "documents")
    ps = [p / 10 for p in range(1, 10)]
    brackets = ", ".join(f"{max(p - 0.02, 0.0)}, {min(p + 0.02, 1.0)}" for p in ps)
    agged = (
        docs.select("source", F.expr(f"size({_WORDS})").alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "approx_percentile(n_tokens, array("
                + ", ".join(str(p) for p in ps)
                + "), 10000)"
            ).alias("ap"),
            F.expr(f"percentile(n_tokens, array({brackets}))").alias("ex"),
        )
    )
    return (
        agged.select(
            "source",
            "n_docs",
            F.posexplode("ap").alias("pos", "v"),
            "ex",
        )
        .select(
            "source",
            "n_docs",
            F.expr("CAST(pos + 1 AS BIGINT)").alias("decile"),
            F.expr(
                f"n_docs < {APPROX_MIN_N} OR "
                "(v >= ex[pos * 2] AND v <= ex[pos * 2 + 1])"
            ).alias("decile_ok"),
        )
    )


QUERIES["doc_length_deciles_approx"] = doc_length_deciles_approx

ORACLES["doc_length_deciles_approx"] = """
    SELECT source, count(*) AS n_docs,
           CAST(t.i AS BIGINT) AS decile,
           TRUE AS decile_ok
    FROM documents, UNNEST(range(1, 10)) AS t(i)
    GROUP BY source, t.i
"""


# N-gram novelty — per document, the share of its distinct 3-gram
# shingles never seen in any EARLIER document (doc_id order = ingestion
# order). The corpus-wide diversity/memorization curve every data-mix
# decision consults. Two shuffles: first-occurrence per shingle hash
# (min doc_id), then the per-doc novelty agg — both partial-aggregated;
# the join back rides the same shingle-hash partitioning.
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir, "doc_id", "text")
    h = SPARK_HASH_SQL("concat_ws(' ', slice(ws, i, 3))")
    grams = f"array_distinct(transform(sequence(1, size(ws) - 2), i -> {h}))"
    ex = (
        docs.select("doc_id", F.expr(_WORDS).alias("ws"))
        .filter(F.expr("size(ws) >= 3"))
        .select("doc_id", F.explode(F.expr(grams)).alias("g"))
        # materialization boundary: the first-doc aggregate AND the
        # join-back both consume ex — without it each branch re-runs
        # the gram md5 transform (the doc_contamination duplication,
        # same fix). Per-call checkpoint, no session cache.
        .localCheckpoint()
    )
    first = ex.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.expr(
                "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("n_novel / n_grams").alias("novelty"),
        )
    )


QUERIES["doc_ngram_novelty"] = doc_ngram_novelty

_NOV_H = STABLE_HASH_SQL("array_to_string(ws[i:i+2], ' ')")
ORACLES["doc_ngram_novelty"] = f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 3
    ),
    ex AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                                                   i -> {_NOV_H}))) AS g
        FROM toks
    ),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS novelty
    FROM ex JOIN first USING (g)
    GROUP BY doc_id
"""


# ------------------------------------------------- train/val/test split
#
# Deterministic hash split — the op every training pipeline runs before
# anything else. Assignment is pure arithmetic on doc_id (no RNG state,
# no shuffle beyond the summary agg), so it is stable across reruns,
# engines, and cluster sizes — the property that matters when the split
# must not leak between training jobs.
# The ONE split definition: doc_split_leakage audits the same split
# this operator assigns, so both read this expression — a ratio or
# salt change can't desynchronize them.
_SPLIT_H = SPARK_HASH_SQL("CONCAT('split:', CAST(doc_id AS STRING))")
_SPLIT_CASE = (
    f"CASE WHEN pmod({_SPLIT_H}, 10) < 8 THEN 'train' "
    f"WHEN pmod({_SPLIT_H}, 10) = 8 THEN 'val' ELSE 'test' END"
)


def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", F.expr(_SPLIT_CASE).alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("n_chars"),
        )
    )


# --------------------------------------------------------- Zipf fitness
#
# Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over the
# top-100 words. Natural text sits near -1; the slope is a cheap
# distribution-shift / quality signal per source. Determinism: ln
# values are quantized to a 1e-6 integer grid so all OLS component sums
# are exact integer arithmetic (same trick as stat_sales_corr); the
# final slope is one double division, rounded.
ZIPF_TOP = 100


def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.expr(_WORDS)).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("w"))
    top = (
        wc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= ZIPF_TOP)
        .select(
            "source",
            F.expr("CAST(round(ln(rk) * 1000000) AS BIGINT)").alias("x"),
            F.expr("CAST(round(ln(n) * 1000000) AS BIGINT)").alias("y"),
        )
    )
    return top.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.expr(
            "CAST(ROUND(CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) "
            "AS DOUBLE) / "
            "CAST(count(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) "
            "* 1e6) AS BIGINT)"
        ).alias("zipf_slope"),
    )


QUERIES["doc_train_split"] = doc_train_split
QUERIES["doc_zipf_slope"] = doc_zipf_slope

_SPLIT_H_DUCK = STABLE_HASH_SQL("('split:' || CAST(doc_id AS VARCHAR))")

ORACLES["doc_train_split"] = f"""
    SELECT source,
           CASE WHEN {_SPLIT_H_DUCK} % 10 < 8 THEN 'train'
                WHEN {_SPLIT_H_DUCK} % 10 = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1, 2
"""

ORACLES["doc_zipf_slope"] = f"""
    WITH wc AS (
        SELECT source, w, count(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    ),
    top AS (
        SELECT source,
               CAST(round(ln(rk) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(n) * 1000000) AS BIGINT) AS y
        FROM (
            SELECT source, n,
                   row_number() OVER (PARTITION BY source ORDER BY n DESC, w) AS rk
            FROM wc
        )
        WHERE rk <= {ZIPF_TOP}
    )
    SELECT source,
           count(*) AS n_words,
           CAST(ROUND(CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
                 / CAST(count(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                 * 1e6) AS BIGINT) AS zipf_slope
    FROM top
    GROUP BY source
"""


# --------------------------------------------------------- OOV coverage
#
# Out-of-vocabulary rate against the corpus top-K vocabulary — the
# coverage check a tokenizer pipeline runs before freezing its vocab.
# Two passes: the vocab build (explode → count → top-K, tiny result)
# broadcasts back over a second scan; per-doc OOV is then a row-local
# filter against the broadcast set. At 100 TB both passes are pure
# scan-bandwidth; only (token, count) rows ever shuffle.
OOV_VOCAB_K = 50


def doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vocab = doc_vocab_topk(spark, sf_dir).select(
        F.expr("collect_list(token)").alias("vocab")
    )
    return (
        docs.join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"CAST(size(filter({_WORDS}, w -> NOT array_contains(vocab, w))) AS BIGINT)"
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov / CAST(n_tokens AS DOUBLE)").alias("oov_rate"),
        )
    )


QUERIES["doc_oov_rate"] = doc_oov_rate

ORACLES["doc_oov_rate"] = f"""
    WITH vocab AS (
        SELECT token
        FROM (SELECT unnest({_WORDS_DUCK}) AS token FROM documents)
        GROUP BY token
        ORDER BY count(*) DESC, token
        LIMIT {OOV_VOCAB_K}
    ),
    v AS (SELECT list(token) AS vs FROM vocab)
    SELECT doc_id,
           CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({_WORDS_DUCK}, w -> NOT list_contains(vs, w))) AS BIGINT) AS n_oov,
           len(list_filter({_WORDS_DUCK}, w -> NOT list_contains(vs, w)))
               / CAST(len({_WORDS_DUCK}) AS DOUBLE) AS oov_rate
    FROM documents, v
"""


# ---------------------------------------------- importance sampling
#
# Quality-weighted corpus thinning: keep each document with probability
# = its quality score, decided by the deterministic id-hash against a
# per-doc threshold (score × 1e6 ppm). High-quality docs survive at
# ~their score rate, junk is dropped proportionally — the second
# curation axis next to doc_resample_mixture's source balancing, and
# like it: no RNG state, reproducible across engines and reruns, pure
# row-local math.
def doc_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = doc_quality(spark, sf_dir).select("doc_id", "quality_score")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    h = SPARK_HASH_SQL("CONCAT('is:', CAST(doc_id AS STRING))")
    return (
        docs.join(q, "doc_id")
        .withColumn(
            "keep_ppm",
            F.expr("CAST(FLOOR(quality_score * 1000000) AS BIGINT)"),
        )
        .filter(F.expr(f"pmod({h}, 1000000) < keep_ppm"))
        .select("doc_id", "source", "lang", "keep_ppm")
    )


QUERIES["doc_importance_sample"] = doc_importance_sample

ORACLES["doc_importance_sample"] = f"""
    WITH q AS ({ORACLES["doc_quality"]})
    SELECT d.doc_id AS doc_id, d.source, d.lang,
           CAST(FLOOR(q.quality_score * 1000000) AS BIGINT) AS keep_ppm
    FROM documents d JOIN q ON d.doc_id = q.doc_id
    WHERE {STABLE_HASH_SQL("('is:' || CAST(d.doc_id AS VARCHAR))")} % 1000000
          < CAST(FLOOR(q.quality_score * 1000000) AS BIGINT)
"""


# ------------------------------------------------ BPE-ish pre-tokenizer
#
# GPT-2-style regex pre-tokenization count: runs of letters, runs of
# digits, and runs of punctuation (each with an optional leading
# space) are the units a byte-level BPE merges within — their count is
# the standard pre-tokenizer token estimate, a tighter bound than the
# whitespace count in doc_tokens. ASCII classes keep the pattern
# dialect-identical between Spark (Java regex) and DuckDB (RE2).
# Row-local regex scan: zero shuffle, scan-bandwidth-bound.
BPE_PRETOKEN_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def doc_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = f"size(regexp_extract_all(text, '{BPE_PRETOKEN_RE}', 0))"
    return docs.select(
        "doc_id",
        F.expr(f"CAST({n} AS BIGINT)").alias("n_pretokens"),
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_ws_tokens"),
        F.expr(
            f"CASE WHEN size({_WORDS}) > 0 "
            f"THEN {n} / CAST(size({_WORDS}) AS DOUBLE) ELSE NULL END"
        ).alias("pretokens_per_word"),
    )


QUERIES["doc_bpe_pretokens"] = doc_bpe_pretokens

ORACLES["doc_bpe_pretokens"] = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS BIGINT)
               AS n_pretokens,
           CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_ws_tokens,
           CASE WHEN len({_WORDS_DUCK}) > 0
                THEN len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}'))
                     / CAST(len({_WORDS_DUCK}) AS DOUBLE)
                ELSE NULL END AS pretokens_per_word
    FROM documents
"""


# ------------------------------------------- n-gram language ID variant
#
# Character-trigram profile language ID (next to doc_langid's stopword
# profile): score = fraction of the document's char trigrams found in
# a fixed English trigram profile. Real systems learn per-language
# profiles; the fixed profile keeps the oracle exact while the shape —
# row-local trigram fanout + membership against a broadcast-literal
# set, zero shuffle — is the production shape.
EN_TRIGRAMS = (
    "the", "he ", " th", "ing", "ng ", "er ", " an", "and", "nd ",
    " a ", "ed ", " to", "to ", " of", "of ", " in", "in ", "ion",
    "ent", "at ",
)
_TRI_IN = ", ".join(f"'{t}'" for t in EN_TRIGRAMS)
LANGID_NGRAM_MIN = 0.04


def doc_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir, "doc_id", "lang", "text")
    tris = (
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
    )
    hits = f"size(filter({tris}, t -> t IN ({_TRI_IN})))"
    return docs.filter(F.expr("length(text) >= 3")).select(
        "doc_id",
        "lang",
        F.expr(f"CAST(length(text) - 2 AS BIGINT)").alias("n_trigrams"),
        F.expr(f"CAST({hits} AS BIGINT)").alias("n_profile_hits"),
        F.expr(
            f"CASE WHEN {hits} / CAST(length(text) - 2 AS DOUBLE) "
            f">= {LANGID_NGRAM_MIN} THEN 'en' ELSE 'other' END"
        ).alias("predicted_lang"),
    )


QUERIES["doc_langid_ngram"] = doc_langid_ngram

ORACLES["doc_langid_ngram"] = f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(length(text) - 2 AS BIGINT) AS n_trigrams,
               CAST(len(list_filter(
                   list_transform(range(1, length(text) - 1),
                                  i -> substring(text, CAST(i AS INTEGER), 3)),
                   t -> t IN ({_TRI_IN}))) AS BIGINT) AS n_profile_hits
        FROM documents
        WHERE length(text) >= 3
    )
    SELECT doc_id, lang, n_trigrams, n_profile_hits,
           CASE WHEN n_profile_hits / CAST(n_trigrams AS DOUBLE)
                >= {LANGID_NGRAM_MIN} THEN 'en' ELSE 'other' END AS predicted_lang
    FROM t
"""


# ------------------------------------------------ cross-split leakage
#
# Train→test 5-gram leakage report: for every TEST-split document, the
# share of its distinct 5-gram shingles that also occur anywhere in the
# TRAIN split (the deterministic hash split of doc_train_split). This
# is the decontamination check run the other way around — and unlike
# doc_contamination, whose eval-shingle set is tiny and broadcasts, the
# train-gram set here is CORPUS-SIZED, so the membership test must be a
# DISTRIBUTED join: distinct train grams (one partial-agg shuffle on
# the gram hash) left-joined to the test side's exploded grams on the
# same key — co-partitioned, no broadcast, no collect. Three shuffles
# total at any corpus size; shuffle rows are (hash, id) pairs only.
@session_memo("leakage_postings")
def _leakage_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, split, gram-hash) postings, memoized per
    (session, sf_dir): the train-distinct branch and the test branch
    both read them (one tokenize + 5-gram md5 pass instead of two), and
    repeated calls reuse one persisted frame instead of pinning a fresh
    copy each time. At production scale this is the materialized
    gram-postings table."""
    docs = _docs_spread(spark, sf_dir, "doc_id", "text")
    h = SPARK_HASH_SQL("concat_ws(' ', slice(ws, i, 5))")
    grams = f"array_distinct(transform(sequence(1, size(ws) - 4), i -> {h}))"
    return (
        docs.select("doc_id", F.expr(_WORDS).alias("ws"))
        .filter(F.expr("size(ws) >= 5"))
        .select("doc_id", F.expr(_SPLIT_CASE).alias("split"),
                F.explode(F.expr(grams)).alias("g"))
        .persist()
    )


def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _leakage_postings(spark, sf_dir)
    train_grams = (
        ex.filter(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ex.filter(F.col("split") == "test")
        .join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.expr("CAST(SUM(COALESCE(_hit, 0)) AS BIGINT)").alias("n_leaked"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_leaked",
            F.expr("n_leaked / n_ngrams").alias("leak_frac"),
        )
    )


QUERIES["doc_split_leakage"] = doc_split_leakage

_LEAK_H_DUCK = STABLE_HASH_SQL("array_to_string(ws[i:i+4], ' ')")
ORACLES["doc_split_leakage"] = f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 5
    ),
    ex AS (
        SELECT doc_id,
               CASE WHEN {_SPLIT_H_DUCK} % 10 < 8 THEN 'train'
                    WHEN {_SPLIT_H_DUCK} % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split,
               unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                                                   i -> {_LEAK_H_DUCK}))) AS g
        FROM toks
    ),
    tg AS (SELECT DISTINCT g FROM ex WHERE split = 'train')
    SELECT e.doc_id,
           count(*) AS n_ngrams,
           CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked,
           SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS leak_frac
    FROM ex e LEFT JOIN tg ON e.g = tg.g
    WHERE e.split = 'test'
    GROUP BY e.doc_id
"""


# ------------------------------------------------- token-mixture drift
#
# Per-source token-distribution drift: total-variation distance between
# each source's token frequencies and the whole corpus's, over the
# corpus top-50 vocabulary — the text-side twin of
# emb_centroid_drift's monitor. Every frequency lives on an integer
# ppm grid (floor(count·1e6 / total)), so the half-L1 sum is exact
# integer arithmetic in both engines. The (source × vocab) grid is
# built explicitly so tokens ABSENT from a source still contribute
# their corpus mass (dropping them understates drift). Plan: one
# token-count shuffle (the vocab pass), one (source, token) count
# shuffle; the grid/join work is |sources|·50 rows — broadcast scale.
def doc_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vocab = doc_vocab_topk(spark, sf_dir).select("token", "freq")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("token"))
    in_vocab = tok.join(F.broadcast(vocab.select("token")), "token")
    src_counts = in_vocab.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Sources come from the DOCUMENTS table, not from the in-vocab
    # counts: a source sharing NO tokens with the corpus vocabulary —
    # the maximally drifted case a monitor exists to catch — would
    # otherwise vanish from the report instead of scoring tv ≈ 0.5.
    src_tot = (
        docs.select("source").distinct()
        .join(
            src_counts.groupBy("source").agg(
                F.expr("CAST(SUM(cnt) AS BIGINT)").alias("_st")
            ),
            "source",
            "left",
        )
        .select("source", F.expr("COALESCE(_st, CAST(0 AS BIGINT))").alias("src_total"))
    )
    corpus_tot = vocab.agg(F.expr("CAST(SUM(freq) AS BIGINT)").alias("all_total"))
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(src_counts, ["source", "token"], "left")
        .join(F.broadcast(corpus_tot))
        .select(
            "source",
            "src_total",
            # token counts are data-proportional — the ×1e6 products
            # ride DECIMAL(38,0), and the floor is exact integer DIV
            # (identical to FLOOR(a/b) for non-negative operands, with
            # no double-rounding boundary between the engines; rule F)
            F.expr(
                "abs(CASE WHEN src_total = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(CAST(COALESCE(cnt, 0) AS DECIMAL(38,0))"
                " * 1000000 DIV src_total AS BIGINT) END"
                " - CAST(CAST(freq AS DECIMAL(38,0)) * 1000000 "
                "DIV all_total AS BIGINT))"
            ).alias("adiff"),
        )
    )
    return grid.groupBy("source").agg(
        F.expr("CAST(MAX(src_total) AS BIGINT)").alias("n_vocab_tokens"),
        F.expr("CAST(SUM(adiff) DIV 2 AS BIGINT)").alias("tv_ppm"),
    )


QUERIES["doc_token_drift"] = doc_token_drift

ORACLES["doc_token_drift"] = """
    WITH vocab2 AS (
        SELECT token, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
        ORDER BY freq DESC, token
        LIMIT 50
    ),
    tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    src_counts AS (
        SELECT source, token, count(*) AS cnt
        FROM tok JOIN vocab2 USING (token)
        GROUP BY source, token
    ),
    src_tot AS (
        SELECT d.source, CAST(COALESCE(t._st, 0) AS BIGINT) AS src_total
        FROM (SELECT DISTINCT source FROM documents) d
        LEFT JOIN (SELECT source, SUM(cnt) AS _st
                   FROM src_counts GROUP BY source) t
          ON t.source = d.source
    ),
    corpus_tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS all_total FROM vocab2),
    grid AS (
        SELECT st.source, st.src_total,
               abs(CASE WHEN st.src_total = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(CAST(COALESCE(sc.cnt, 0) AS HUGEINT)
                       * 1000000 // st.src_total AS BIGINT) END
                   - CAST(CAST(v.freq AS HUGEINT) * 1000000
                       // ct.all_total AS BIGINT)) AS adiff
        FROM src_tot st
        CROSS JOIN vocab2 v
        LEFT JOIN src_counts sc ON sc.source = st.source AND sc.token = v.token
        CROSS JOIN corpus_tot ct
    )
    SELECT source,
           CAST(MAX(src_total) AS BIGINT) AS n_vocab_tokens,
           CAST(SUM(adiff) // 2 AS BIGINT) AS tv_ppm
    FROM grid GROUP BY source
"""


# ----------------------------------------------------- sliding chunking
#
# RAG / context-window chunking: split every document into overlapping
# fixed-width windows (chunk CHUNK_SIZE chars, stride CHUNK_STRIDE —
# the overlap keeps sentences that straddle a boundary retrievable from
# both sides). The chunk grid is a row-local ``sequence`` + posexplode
# (a generator, not a join), so the operator is a pure map with fanout
# ≈ n_chars/stride per doc — scan-bandwidth-bound at any corpus size,
# and the natural upstream of doc_pack_sequences (text.py:674) and the
# embedding pipeline. Each chunk carries an md5 so the oracle checks
# CONTENT, not just geometry.
CHUNK_SIZE = 120
CHUNK_STRIDE = 80


def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # the CASE guards empty documents: sequence(0, -1, +stride) is an
    # illegal-bounds error in Spark (the oracle's generate_series is
    # simply empty), and an empty doc should yield zero chunks
    starts = (
        "CASE WHEN length(text) > 0 "
        f"THEN sequence(0, length(text) - 1, {CHUNK_STRIDE}) "
        "ELSE array() END"
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.posexplode(F.expr(starts)).alias("chunk_id", "chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.expr(
                f"CAST(length(substring(text, chunk_start + 1, {CHUNK_SIZE})) AS BIGINT)"
            ).alias("chunk_len"),
            F.expr(
                f"md5(substring(text, chunk_start + 1, {CHUNK_SIZE}))"
            ).alias("chunk_md5"),
        )
    )


QUERIES["doc_chunk_sliding"] = doc_chunk_sliding

ORACLES["doc_chunk_sliding"] = f"""
    WITH starts AS (
        SELECT doc_id, text,
               unnest(generate_series(0, length(text) - 1, {CHUNK_STRIDE}))
                   AS chunk_start
        FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                - 1 AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(length(substr(text, chunk_start + 1, {CHUNK_SIZE})) AS BIGINT)
               AS chunk_len,
           md5(substr(text, chunk_start + 1, {CHUNK_SIZE})) AS chunk_md5
    FROM starts
"""


# ------------------------------------------- repeated-span boilerplate
#
# Cross-document repeated n-gram report — the distributed stand-in for
# suffix-array substring dedup (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"): a word 5-gram appearing
# in ≥ REPEAT_MIN_DF distinct documents is boilerplate (license
# headers, navigation chrome) that inflates memorization. The plan is
# explode → one two-level agg (map-side combine makes the shuffle
# carry only distinct (gram, doc) partials), so candidate volume is
# the corpus token count, never a pairwise join — this is the REPORT
# side; feeding it back as a removal filter is a broadcast semi-join
# of the flagged grams, same shape as doc_contamination (text.py:583).
REPEAT_NGRAM_N = 5
REPEAT_MIN_DF = 2


def doc_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir, "doc_id", "text")
    # the CASE guards short documents: sequence(1, 0) DESCENDS in
    # Spark (default step -1, yielding [1, 0] and an illegal
    # slice(ws, 0, n)) where the oracle's generate_series(1, 0) is
    # empty — a < N-word doc must emit zero grams
    grams = (
        f"CASE WHEN size({_WORDS}) >= {REPEAT_NGRAM_N} "
        f"THEN transform(sequence(1, size({_WORDS}) - {REPEAT_NGRAM_N - 1}), "
        f"i -> concat_ws(' ', slice({_WORDS}, i, {REPEAT_NGRAM_N}))) "
        "ELSE array() END"
    )
    return (
        docs.select("doc_id", F.explode(F.expr(grams)).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("df") >= REPEAT_MIN_DF)
    )


QUERIES["doc_repeated_ngrams"] = doc_repeated_ngrams

ORACLES["doc_repeated_ngrams"] = f"""
    WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents),
    g AS (SELECT doc_id,
                 array_to_string(list_slice(ws, i, i + {REPEAT_NGRAM_N - 1}), ' ')
                     AS gram
          FROM w, LATERAL unnest(
              generate_series(1, len(ws) - {REPEAT_NGRAM_N - 1})) AS t(i))
    SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           COUNT(*) AS n_occurrences
    FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {REPEAT_MIN_DF}
"""


# --------------------------------------------------- BPE pair counting
#
# The inner loop of BPE tokenizer training: count adjacent CHARACTER
# pairs inside every pretoken across the corpus and surface the top
# merge candidates. One explode chain (pretokens → char pairs, both
# row-local generators) into a two-level agg; the pair space is ≤
# alphabet², so the shuffle after map-side combine is tiny no matter
# the corpus size — the 100 TB cost is the scan, which is optimal. A
# full BPE train iterates this: apply the best merge, recount —
# each round is this same plan over the rewritten symbol stream.
BPE_TOP_PAIRS = 20


def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    pretokens = f"regexp_extract_all(text, '{BPE_PRETOKEN_RE}', 0)"
    # the CASE guards 1-char pretokens: sequence(1, 0) descends to
    # [1, 0] and substring tolerates start 0, so without it every
    # single-char token would emit two phantom self-pairs the oracle
    # (whose generate_series(1, 0) is empty) never counts
    pairs = (
        "CASE WHEN length(t) >= 2 "
        "THEN transform(sequence(1, length(t) - 1), "
        "i -> substring(t, i, 2)) "
        "ELSE array() END"
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        docs.select(F.explode(F.expr(pretokens)).alias("t"))
        .select(F.explode(F.expr(pairs)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP_PAIRS)
        .select("pair", "n",
                F.row_number().over(w).cast("long").alias("rank"))
    )


QUERIES["doc_bpe_pair_counts"] = doc_bpe_pair_counts

ORACLES["doc_bpe_pair_counts"] = f"""
    WITH pt AS (
        SELECT unnest(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS t
        FROM documents
    ),
    pr AS (
        SELECT substr(t, i, 2) AS pair
        FROM pt, LATERAL unnest(generate_series(1, length(t) - 1)) AS u(i)
    )
    SELECT pair, COUNT(*) AS n,
           CAST(row_number() OVER (ORDER BY COUNT(*) DESC, pair) AS BIGINT)
               AS rank
    FROM pr GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOP_PAIRS}
"""


# ---------------------------------------------- CCNet quality buckets
#
# CCNet-style (Wenzek et al. 2020) perplexity bucketing: score every
# document with the corpus-self-trained bigram LM (doc_lm_score,
# text.py:294), cut the score distribution at terciles, and report the
# head / middle / tail partitions — the standard "keep head+middle,
# drop tail" curation gate. The two cut points are ONE exact-percentile
# aggregate broadcast back over the scored table (same shape as
# stats_equidepth_hist, relational.py:1183 — no global sort, no ntile
# over the corpus; at 100 TB swap approx_percentile into the identical
# plan). Bucketing itself is a row-local CASE.
def doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = doc_lm_score(spark, sf_dir).join(docs, "doc_id")
    cuts = scored.agg(
        F.expr(
            "percentile(avg_neg_logp, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))"
        ).alias("c")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            F.expr(
                "CASE WHEN avg_neg_logp <= c[0] THEN 'head' "
                "WHEN avg_neg_logp <= c[1] THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("bucket"),
            "avg_neg_logp",
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(ROUND(AVG(avg_neg_logp)) AS BIGINT)")
            .alias("avg_score"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


QUERIES["doc_ccnet_buckets"] = doc_ccnet_buckets

_LM_SCORED_DUCK = """
    tok AS (
        SELECT doc_id,
               unnest({words}) AS w,
               generate_subscripts({words}, 1) AS i
        FROM documents
    ),
    bpairs AS (
        SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM tok
    ),
    lp AS (
        SELECT doc_id,
               CAST(ROUND(ln(
                   count(*) OVER (PARTITION BY w1, w2)
                   / CAST(count(*) OVER (PARTITION BY w1) AS DOUBLE)
               ) * 1e9, 0) AS BIGINT) AS lp_int
        FROM bpairs WHERE w2 IS NOT NULL
    ),
    lm_scored AS (
        SELECT doc_id,
               CAST(ROUND(-SUM(lp_int) / count(*) / 1e3) AS BIGINT)
                   AS avg_neg_logp
        FROM lp GROUP BY doc_id
    )"""

ORACLES["doc_ccnet_buckets"] = f"""
    WITH {_LM_SCORED_DUCK.format(words=_WORDS_DUCK)},
    scored AS (
        SELECT s.doc_id, s.avg_neg_logp, d.n_chars
        FROM lm_scored s JOIN documents d USING (doc_id)
    ),
    cuts AS (
        SELECT quantile_cont(avg_neg_logp, CAST(1 AS DOUBLE)/3) AS c1,
               quantile_cont(avg_neg_logp, CAST(2 AS DOUBLE)/3) AS c2
        FROM scored
    )
    SELECT CASE WHEN avg_neg_logp <= c1 THEN 'head'
                WHEN avg_neg_logp <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(ROUND(AVG(avg_neg_logp)) AS BIGINT) AS avg_score,
           SUM(n_chars) AS total_chars
    FROM scored CROSS JOIN cuts
    GROUP BY 1
"""


# ------------------------------------------- composed curation gate
#
# The decision a real training-data pipeline actually ships: one
# keep/drop verdict per document with the FIRST failing reason, layering
# (1) exact dedup (md5 keeper, lowest doc_id wins), (2) Gopher quality
# filters (doc_gopher_quality, text.py), (3) CCNet perplexity tail
# (doc_ccnet_buckets' top tercile). Each signal is the same
# plan as its standalone operator — one md5 groupBy, row-local quality
# math, the bigram-LM windows + one broadcast cut point — joined on
# doc_id; ordering of reasons is fixed so the verdict is deterministic.
# Short docs (< 10 words) fail the Gopher gate before the perplexity
# check, so the LM score's ≥ 2-word domain never leaves a NULL verdict.
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    keeper = (
        docs.groupBy(F.expr("md5(text)").alias("h"))
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    hashed = docs.withColumn("h", F.expr("md5(text)")).join(keeper, "h")
    gq = doc_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    scored = doc_lm_score(spark, sf_dir).select("doc_id", "avg_neg_logp")
    cut = scored.agg(
        F.expr(
            "percentile(avg_neg_logp, CAST(2 AS DOUBLE)/3)"
        ).alias("c2")
    )
    return (
        hashed.join(gq, "doc_id", "left")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN doc_id != keeper_id THEN 'exact_dup' "
                "WHEN gopher_keep IS NULL OR NOT gopher_keep THEN 'gopher' "
                "WHEN avg_neg_logp > c2 THEN 'perplexity' "
                "ELSE NULL END"
            ).alias("reason"),
        )
        .select("doc_id", F.expr("reason IS NULL").alias("keep"), "reason")
    )


QUERIES["doc_curation_pipeline"] = doc_curation_pipeline

ORACLES["doc_curation_pipeline"] = f"""
    WITH {_LM_SCORED_DUCK.format(words=_WORDS_DUCK)},
    keeper AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keeper_id
        FROM documents GROUP BY 1
    ),
    toks AS (
        SELECT doc_id, n_chars, {_WORDS_DUCK} AS ws FROM documents
        WHERE len({_WORDS_DUCK}) >= 2
    ),
    bgs AS (SELECT doc_id, n_chars, ws, {_BG_DUCK} AS bg FROM toks),
    gq AS (
        SELECT doc_id,
               (CAST(len(ws) AS BIGINT) >= 10
                AND (n_chars - len(ws) + 1) / CAST(len(ws) AS DOUBLE)
                    BETWEEN 2.0 AND 12.0
                AND {_TOP_BG_DUCK} / CAST(len(bg) AS DOUBLE) < 0.18)
                   AS gopher_keep
        FROM bgs
    ),
    cut AS (
        SELECT quantile_cont(avg_neg_logp, CAST(2 AS DOUBLE)/3) AS c2
        FROM lm_scored
    ),
    verdict AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id != k.keeper_id THEN 'exact_dup'
                    WHEN g.gopher_keep IS NULL OR NOT g.gopher_keep
                        THEN 'gopher'
                    WHEN s.avg_neg_logp > c.c2 THEN 'perplexity'
                    ELSE NULL END AS reason
        FROM documents d
        JOIN keeper k ON md5(d.text) = k.h
        LEFT JOIN gq g ON g.doc_id = d.doc_id
        LEFT JOIN lm_scored s ON s.doc_id = d.doc_id
        CROSS JOIN cut c
    )
    SELECT doc_id, reason IS NULL AS keep, reason FROM verdict
"""


# ----------------------------------------------- inverted-index build
#
# The index-construction half of search (hybrid_search_rrf consumes
# such an index at query time): per term, the document-frequency,
# total occurrences, and an md5 digest of the full postings list
# (doc_id:positions, ordered) — digesting lets the oracle verify the
# COMPLETE postings content without shipping megabyte lists through
# the compare. The plan is one explode with positions (posexplode —
# row-local), a (term, doc) partial agg, then a per-term agg whose
# shuffle carries one row per (term, doc); report the top-100 terms by
# df. At 100 TB the term-sharded SHUFFLE is the real index build —
# but the in-memory digest (collect_list of one term's postings on
# its reducer) must become a partitionBy(term-bucket) disk write
# there: a stopword's postings are GBs, and no single-reducer list
# should hold them. The digest exists here as the oracle's
# full-content evidence, not as the production sink.
INDEX_TOP_TERMS = 100


def doc_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id",
            F.posexplode(F.expr(_WORDS)).alias("pos", "term"),
        )
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.expr("concat_ws(',', sort_array(collect_list(pos)))")
            .alias("positions"),
        )
    )
    per_term = per_doc.groupBy("term").agg(
        # per_doc is unique per (term, doc_id) — plain count IS the df
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("n_occurrences"),
        F.expr(
            "md5(concat_ws(';', transform("
            "array_sort(collect_list(struct(doc_id, positions))), "
            "e -> concat(CAST(e.doc_id AS STRING), ':', e.positions))))"
        ).alias("postings_md5"),
    )
    w = Window.orderBy(F.col("df").desc(), F.col("term"))
    return (
        per_term.orderBy(F.col("df").desc(), F.col("term"))
        .limit(INDEX_TOP_TERMS)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


QUERIES["doc_index_postings"] = doc_index_postings

ORACLES["doc_index_postings"] = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest({_WORDS_DUCK}) AS term,
               generate_subscripts({_WORDS_DUCK}, 1) - 1 AS pos
        FROM documents
    ),
    per_doc AS (
        SELECT term, doc_id, COUNT(*) AS tf,
               string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
                   AS positions
        FROM tok GROUP BY 1, 2
    ),
    per_term AS (
        SELECT term,
               COUNT(DISTINCT doc_id) AS df,
               SUM(tf) AS n_occurrences,
               md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || positions,
                              ';' ORDER BY doc_id)) AS postings_md5
        FROM per_doc GROUP BY 1
    )
    SELECT term, df, n_occurrences, postings_md5,
           CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT)
               AS rank
    FROM per_term ORDER BY df DESC, term LIMIT {INDEX_TOP_TERMS}
"""


# -------------------------------------------- vocabulary growth curve
#
# Heaps'-law evidence for tokenizer planning: how fast does NEW
# vocabulary appear as the corpus grows? Each term's first occurrence
# is min(doc_id) (one agg — no cumulative distinct over the corpus,
# which would be a running set); bucketing first occurrences into ten
# equal doc_id-range slices gives new-terms-per-slice and the
# cumulative vocabulary curve (a 10-row running sum — window over the
# bucket table, not the corpus).
def doc_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    firsts = (
        docs.select("doc_id", F.explode(F.expr(_WORDS)).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    bucketed = (
        firsts.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                "least(9, CAST(floor((first_doc - lo) * 10.0 / (hi - lo + 1)) "
                "AS BIGINT))"
            ).alias("decile"),
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.select(
        "decile",
        "new_terms",
        F.sum("new_terms").over(w).alias("cum_vocab"),
    )


QUERIES["doc_vocab_growth"] = doc_vocab_growth

ORACLES["doc_vocab_growth"] = f"""
    WITH firsts AS (
        SELECT w, MIN(doc_id) AS first_doc FROM (
            SELECT doc_id, unnest({_WORDS_DUCK}) AS w FROM documents
        ) GROUP BY 1
    ),
    bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    bucketed AS (
        SELECT LEAST(9, CAST(floor((first_doc - lo) * 10.0 / (hi - lo + 1))
                             AS BIGINT)) AS decile,
               COUNT(*) AS new_terms
        FROM firsts CROSS JOIN bounds
        GROUP BY 1
    )
    SELECT decile, new_terms,
           SUM(new_terms) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
    FROM bucketed
"""


# ------------------------------------- paragraph-level exact dedup
# Sub-document deduplication (the C4 / RefinedWeb curation step):
# repeated PARAGRAPHS are removed corpus-wide, keeping the first
# occurrence in (doc_id, position) order, and each document is
# re-assembled from its surviving paragraphs. Paragraphs here are
# fixed 20-word groups (the synthetic corpus has no newlines — the
# grouping expression is the only corpus-specific piece). The plan is
# the at-scale shape: one explode, ONE shuffle keyed on the paragraph
# hash (groups are tiny — duplicate cardinality), and a per-doc
# re-assembly agg; no self-join, no global sort. The rebuilt text is
# verified by digest so the oracle checks full content without
# shipping documents through the compare.
PARA_WORDS = 20


def doc_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    paras = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size({_WORDS}) > 0 THEN "
                f"transform(sequence(0, (size({_WORDS}) - 1) DIV {PARA_WORDS}), "
                f"p -> array_join(slice({_WORDS}, p * {PARA_WORDS} + 1, "
                f"{PARA_WORDS}), ' ')) "
                "ELSE array() END"
            )
        ).alias("para_idx", "para"),
    ).select("doc_id", F.col("para_idx").cast("long").alias("para_idx"), "para")
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "para_idx")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.expr("CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_dup_paras"),
        F.expr(
            "md5(COALESCE(array_join(transform(array_sort("
            "collect_list(CASE WHEN rn = 1 THEN struct(para_idx, para) END)), "
            "s -> s.para), ' '), ''))"
        ).alias("kept_md5"),
    )


QUERIES["doc_para_dedup"] = doc_para_dedup

ORACLES["doc_para_dedup"] = f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents
    ),
    paras AS (
        SELECT doc_id, CAST(p AS BIGINT) AS para_idx,
               array_to_string(ws[p * {PARA_WORDS} + 1 : p * {PARA_WORDS}
                               + {PARA_WORDS}], ' ') AS para
        FROM (
            SELECT doc_id, ws,
                   unnest(generate_series(0, (len(ws) - 1) // {PARA_WORDS}))
                       AS p
            FROM w WHERE len(ws) > 0
        )
    ),
    ranked AS (
        SELECT doc_id, para_idx, para,
               row_number() OVER (PARTITION BY md5(para)
                                  ORDER BY doc_id, para_idx) AS rn
        FROM paras
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paras,
           md5(COALESCE(string_agg(para, ' ' ORDER BY para_idx)
                        FILTER (WHERE rn = 1), '')) AS kept_md5
    FROM ranked GROUP BY doc_id
"""


# ------------------------------ per-source frequency caps (curation)
#
# Domain/source frequency capping — the curation step that stops one
# crawl domain from dominating a training mix (C4/RefinedWeb cap
# documents per registered domain). Keep the first CAP docs per
# (source, lang) in deterministic doc_id order and report what the cap
# keeps vs drops, per group. One window over the group key (row_number
# is integer-exact on every engine), then a single groupBy — two
# shuffles on the same key, and AQE coalesces them.
#
# 100 TB note: a hot domain makes its window partition hot. The cap
# still computes — WindowExec spills — but the scalable variant
# pre-prunes with a per-partition sort-limit (top-CAP per domain per
# input partition, then a final window over ≤ CAP × #partitions rows
# per domain). The semantics gate here is the plain window; swap the
# pre-prune in when domains exceed executor memory.
SOURCE_CAP = 8


def doc_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") <= SOURCE_CAP).cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("rn") <= SOURCE_CAP, F.col("n_chars"))
                  .otherwise(F.lit(0))).alias("chars_kept"),
            F.sum(F.when(F.col("rn") > SOURCE_CAP, F.col("n_chars"))
                  .otherwise(F.lit(0))).alias("chars_dropped"),
        )
    )


QUERIES["doc_source_caps"] = doc_source_caps

ORACLES["doc_source_caps"] = f"""
    WITH ranked AS (
        SELECT source, lang, n_chars,
               row_number() OVER (PARTITION BY source, lang
                                  ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept,
           CAST(SUM(CASE WHEN rn > {SOURCE_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped
    FROM ranked GROUP BY source, lang
"""


# --------------------------------- blocklist filtering (C4-style)
#
# Bad-word/blocklist document filtering (C4 dropped any page with a
# "dirty word" hit; RefinedWeb filters on hit *ratios*). Per doc, count
# blocklist hits over the shared whitespace tokenization and flag docs
# whose hit ratio crosses 1/BLOCK_DIV — the threshold compare is
# integer cross-multiplied (n_bad * BLOCK_DIV >= n_words), so no
# doubles anywhere. Row-local HOF math (zero shuffle before the final
# per-source rollup); at 100 TB a longer blocklist becomes a broadcast
# map-side semi-match over the same plan shape.
_BLOCKLIST = ("hash", "merge", "dup")
BLOCK_DIV = 12


def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bl = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    return (
        docs.select(
            "source",
            F.expr(f"size(filter({_WORDS}, w -> w IN ({bl})))").alias("n_bad"),
            F.expr(f"size({_WORDS})").alias("n_words"),
        )
        .select(
            "source", "n_bad",
            (F.col("n_bad") * BLOCK_DIV >= F.col("n_words")).alias("flagged"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bad").cast("long").alias("total_hits"),
            F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
            F.sum((~F.col("flagged")).cast("long")).alias("n_kept"),
        )
    )


QUERIES["doc_blocklist_filter"] = doc_blocklist_filter

ORACLES["doc_blocklist_filter"] = f"""
    WITH t AS (
        SELECT source,
               len(list_filter({_WORDS_DUCK},
                   x -> x IN ({', '.join(f"'{w}'" for w in _BLOCKLIST)})))
                   AS n_bad,
               len({_WORDS_DUCK}) AS n_words
        FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(SUM(n_bad) AS BIGINT) AS total_hits,
           CAST(SUM(CASE WHEN n_bad * {BLOCK_DIV} >= n_words
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN n_bad * {BLOCK_DIV} >= n_words
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM t GROUP BY source
"""


# ----------------------------------------- training-shard manifest
#
# Shard planner for a training run: every document is assigned to one
# of 16 shards by the engine-portable content-address hash
# (functions/hashing.py — NOT Spark-private hash(), so the assignment
# is reproducible by any engine downstream, including the dataloader
# that reads the shards back). The manifest reports per-shard doc and
# whitespace-token totals plus each shard's token share on the ppm
# grid — the balance evidence that the hash really levels the shards
# (greedy bin-packing is unnecessary when the key is uniform). One
# groupBy on a 16-value key; the one-row corpus total broadcasts onto
# the 16-row result. At 100 TB this is the plan for
# `df.write.partitionBy("shard")`: each shard lands as one directory
# the trainer streams independently.
def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import stable_hash64

    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        (stable_hash64(F.expr("CAST(doc_id AS STRING)")) % 16).alias(
            "shard"
        ),
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("toks"),
    )
    agg = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(SUM(toks) AS BIGINT)").alias("shard_tokens"),
        F.expr("CAST(MIN(toks) AS BIGINT)").alias("min_doc_tokens"),
        F.expr("CAST(MAX(toks) AS BIGINT)").alias("max_doc_tokens"),
    )
    total = agg.agg(F.expr("CAST(SUM(shard_tokens) AS BIGINT)").alias("t"))
    return agg.join(F.broadcast(total)).select(
        "shard",
        "n_docs",
        "shard_tokens",
        "min_doc_tokens",
        "max_doc_tokens",
        # shard token mass is data-proportional — DECIMAL(38,0) grid
        F.expr("CAST(CAST(shard_tokens AS DECIMAL(38,0)) * 1000000 "
               "DIV t AS BIGINT)").alias("token_share_ppm"),
    )


QUERIES["doc_shard_manifest"] = doc_shard_manifest

ORACLES["doc_shard_manifest"] = f"""
    WITH t AS (
        SELECT {STABLE_HASH_SQL("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
               len({_WORDS_DUCK}) AS toks
        FROM documents
    ),
    agg AS (
        SELECT shard, count(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS shard_tokens,
               CAST(MIN(toks) AS BIGINT) AS min_doc_tokens,
               CAST(MAX(toks) AS BIGINT) AS max_doc_tokens
        FROM t GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS t FROM agg)
    SELECT shard, n_docs, shard_tokens, min_doc_tokens, max_doc_tokens,
           CAST(CAST(shard_tokens AS HUGEINT) * 1000000 // t
               AS BIGINT) AS token_share_ppm
    FROM agg CROSS JOIN tot
"""


# ------------------------------------------ regex redaction audit
#
# In-place pattern redaction with an audit trail — the PII-scrub
# shape (emails/phones/SSNs in production; here a term list over the
# synthetic corpus so the patterns actually fire). Unlike
# doc_blocklist_filter (which DROPS whole documents) this measures
# what in-place regexp_replace would remove: per (source, pattern) the
# docs touched, match occurrences, and characters redacted. The regex
# subset is chosen to mean the same thing in Java regex (Spark,
# JVM-side codegen — no Python in the loop) and RE2 (DuckDB/warehouse
# engines): literal alternation + \\b word boundaries only. One
# narrow shuffle on the (source, pattern) key; the per-doc pass is
# row-local scan math, so at 100 TB this is scan-bandwidth-bound like
# every other per-doc pass.
_REDACT_PATTERNS = [
    ("term_the", r"\bthe\b"),
    ("term_speed", r"\b(fast|slow)\b"),
    ("term_data", r"\bdata\b"),
]


def doc_redact_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cols = []
    stack_args = []
    for i, (name, pat) in enumerate(_REDACT_PATTERNS):
        # Spark's SQL parser processes backslash escapes inside string
        # literals (DuckDB's does not), so the Spark-side literal needs
        # its backslashes doubled for both engines to see the same regex.
        spat = pat.replace("\\", "\\\\")
        cols.append(
            F.expr(
                f"CAST(size(regexp_extract_all(text, '{spat}', 0)) AS BIGINT)"
            ).alias(f"m{i}")
        )
        cols.append(
            F.expr(
                f"CAST(length(text) - length(regexp_replace(text, '{spat}', "
                f"'')) AS BIGINT)"
            ).alias(f"c{i}")
        )
        stack_args.append(f"'{name}', m{i}, c{i}")
    long = docs.select("source", *cols).selectExpr(
        "source",
        f"stack({len(_REDACT_PATTERNS)}, {', '.join(stack_args)}) "
        "AS (pattern, n_matches, chars_redacted)",
    )
    return long.groupBy("source", "pattern").agg(
        F.expr(
            "CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("docs_matched"),
        F.expr("CAST(SUM(n_matches) AS BIGINT)").alias("n_matches"),
        F.expr("CAST(SUM(chars_redacted) AS BIGINT)").alias(
            "chars_redacted"
        ),
    )


QUERIES["doc_redact_patterns"] = doc_redact_patterns

_REDACT_ORACLE_ARMS = "\n        UNION ALL\n".join(
    f"""
        SELECT source, '{name}' AS pattern,
               len(regexp_extract_all(text, '{pat}')) AS n_matches,
               length(text) - length(regexp_replace(text, '{pat}', '', 'g'))
                   AS chars_redacted
        FROM documents"""
    for name, pat in _REDACT_PATTERNS
)

ORACLES["doc_redact_patterns"] = f"""
    WITH long AS ({_REDACT_ORACLE_ARMS}
    )
    SELECT source, pattern,
           CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_matched,
           CAST(SUM(n_matches) AS BIGINT) AS n_matches,
           CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted
    FROM long GROUP BY source, pattern
"""


# ------------------------------- hashed linear classifier (fasttext shape)
#
# Quality/domain classifiers in production data pipelines (fasttext,
# DSIR-style importance models) are linear models over HASHED token
# features: no vocabulary table ships to executors at all — the
# feature index IS the hash, so scoring is a row-local fold over the
# token list, zero shuffle, zero broadcast. The 100 TB shape is
# scan-bandwidth-bound like every per-doc pass. Here the weight table
# is a deterministic function of the bucket hash ((h % 2001) - 1000
# centi-units — a stand-in for trained weights with the same plumbing);
# swapping in real weights means one broadcast map lookup instead of
# the modular expression, same plan. All-integer outputs; the class
# decision is a sign test, so no negative integer division anywhere
# (Spark DIV truncates toward zero, DuckDB // floors — they disagree
# on negatives, so the lint-clean formulation avoids dividing).
def doc_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = SPARK_HASH_SQL("w")
    weight = f"(({h} % 2001) - 1000)"
    return (
        docs.select(
            "lang",
            "source",
            F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"aggregate({_WORDS}, CAST(0 AS BIGINT), "
                f"(acc, w) -> acc + {weight})"
            ).alias("w_centi"),
        )
        .withColumn(
            "predicted",
            F.expr("CASE WHEN w_centi >= 0 THEN 'keep' ELSE 'drop' END"),
        )
        .groupBy("lang", "predicted")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("sum_tokens"),
            F.expr("CAST(SUM(w_centi) AS BIGINT)").alias("sum_weight_centi"),
            F.expr(
                "CAST(COUNT(DISTINCT source) AS BIGINT)"
            ).alias("n_sources"),
        )
    )


QUERIES["doc_hash_classifier"] = doc_hash_classifier

_CLS_DH = STABLE_HASH_SQL("w")

ORACLES["doc_hash_classifier"] = f"""
    WITH scored AS (
        SELECT lang, source,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform({_WORDS_DUCK},
                    w -> (({_CLS_DH} % 2001) - 1000))) AS BIGINT) AS w_centi
        FROM documents
    )
    SELECT lang,
           CASE WHEN w_centi >= 0 THEN 'keep' ELSE 'drop' END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(w_centi) AS BIGINT) AS sum_weight_centi,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM scored GROUP BY 1, 2
"""


# ------------------------------------------ distributed BPE trainer
#
# True byte-pair-encoding TRAINING (doc_bpe_pair_counts is one round
# of pair statistics; this runs the full greedy loop): K rounds of
# (count adjacent symbol pairs weighted by word frequency) → (merge
# the argmax pair everywhere, greedy left-to-right). The working set
# after the first shuffle is the DISTINCT-WORD frequency table — the
# classic trainer trick that makes corpus size irrelevant (100 TB of
# text with a 10M-word vocab trains on 10M rows; each round is one
# map-side-combined agg + a row-local fold). The only driver traffic
# is ONE (pair, freq) scalar per round — the same O(rounds) pattern
# as doc_pagerank's convergence probe. The greedy fold needs no
# "just-merged" flag: a merged token equals the pair's LEFT symbol
# only if the right symbol were empty, so a plain last-element check
# is exactly greedy semantics (property-tested in tests).
#
# Determinism: pair frequencies are exact BIGINTs; the argmax
# tiebreak is (freq DESC, left ASC, right ASC); the oracle replays
# the identical K rounds as generated CTE blocks, so both engines
# walk the same merge path or the value hash fails.
_BPE_ROUNDS = 6

_BPE_CHARS = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
_BPE_CHARS_DUCK = "list_transform(range(1, length(w) + 1), i -> w[i])"


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, freq, syms) distinct-word table — the trainer working set."""
    docs = table(spark, sf_dir, "documents")
    # The distinct-word table is orders of magnitude smaller than the
    # corpus (31 words here; ~10M at web scale). Pack it into few
    # partitions so the 6 training rounds schedule O(1) tasks each
    # instead of shuffle.partitions empties — at a 10M-word vocab
    # you'd size this to ~64MB partitions instead of 1.
    return (
        docs.select(F.explode(F.expr(_WORDS)).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
        .select("w", F.expr(_BPE_CHARS).alias("syms"), "freq")
        .coalesce(1)
    )


def _bpe_run_rounds(words: DataFrame, rounds: int):
    """The greedy training loop shared by doc_bpe_train (which reports
    the merge table) and doc_bpe_encode (which uses the final symbol
    lists). Returns (fully-merged words, merge list)."""
    # Materialize the vocab ONCE before round 1: otherwise the round-1
    # argmax and the round-1 merge each rescan the corpus (the only
    # O(corpus) work in the loop — everything after is O(vocab)).
    words = words.localCheckpoint(eager=True)
    merges = []
    for rnd in range(1, rounds + 1):
        best = (
            words.filter(F.expr("size(syms) >= 2"))
            .select(
                "freq",
                F.expr(
                    "explode(transform(sequence(1, size(syms) - 1), "
                    "j -> struct(element_at(syms, CAST(j AS INT)) AS l, "
                    "element_at(syms, CAST(j + 1 AS INT)) AS r)))"
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("f"))
            .orderBy(F.col("f").desc(), "l", "r")
            .first()
        )
        if best is None:
            break
        l, r = best["l"], best["r"]
        merges.append((rnd, l, r, l + r, int(best["f"])))
        def _esc(x: str) -> str:
            # backslash first, then quote: Spark's parser processes
            # both inside single-quoted literals
            return x.replace("\\", "\\\\").replace("'", "\\'")

        le, re, me = _esc(l), _esc(r), _esc(l + r)
        words = words.select(
            "w",
            F.expr(
                "aggregate(syms, CAST(array() AS ARRAY<STRING>), "
                "(acc, x) -> CASE WHEN try_element_at(acc, -1) = "
                f"'{le}' AND x = '{re}' THEN "
                "concat(slice(acc, 1, size(acc) - 1), "
                f"array('{me}')) ELSE concat(acc, array(x)) END)"
            ).alias("syms"),
            "freq",
        ).localCheckpoint(eager=True)  # truncate the per-round lineage
    return words, merges


def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    _, merges = _bpe_run_rounds(_bpe_vocab(spark, sf_dir), _BPE_ROUNDS)
    schema = T.StructType([
        T.StructField("round", T.LongType()),
        T.StructField("left_sym", T.StringType()),
        T.StructField("right_sym", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("pair_freq", T.LongType()),
    ])
    return spark.createDataFrame(merges, schema)


QUERIES["doc_bpe_train"] = doc_bpe_train


def _bpe_oracle(rounds: int) -> str:
    ctes = [f"""
    r0_words AS (
        SELECT w, {_BPE_CHARS_DUCK} AS syms, freq FROM (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest({_WORDS_DUCK}) AS w FROM documents
            ) GROUP BY w
        )
    )"""]
    finals = []
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""
    r{i}_pairs AS (
        SELECT pr.l AS l, pr.r AS r, CAST(SUM(freq) AS BIGINT) AS f
        FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(syms)),
                          j -> {{'l': syms[j], 'r': syms[j + 1]}})) AS pr
            FROM r{p}_words WHERE len(syms) >= 2
        ) GROUP BY 1, 2
    )""")
        ctes.append(f"""
    r{i}_best AS (
        SELECT l, r, f FROM r{i}_pairs ORDER BY f DESC, l, r LIMIT 1
    )""")
        ctes.append(f"""
    r{i}_words AS (
        -- LEFT JOIN ON true, not CROSS JOIN: when a round finds no
        -- pairs (r{i}_best empty) the vocabulary must CARRY FORWARD
        -- unchanged — the Spark loop breaks and keeps its words; a
        -- cross join would erase them and doc_bpe_encode would
        -- diverge on a fully-merged corpus.
        SELECT w.w,
               CASE WHEN b.l IS NULL THEN w.syms
                    ELSE list_reduce(
                        list_transform(w.syms, s -> [s]),
                        (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                                    THEN list_concat(acc[1:-2], [b.l || b.r])
                                    ELSE list_concat(acc, x) END)
               END AS syms,
               w.freq
        FROM r{p}_words w LEFT JOIN r{i}_best b ON true
    )""")
        finals.append(
            f"SELECT CAST({i} AS BIGINT) AS round, l AS left_sym, "
            f"r AS right_sym, l || r AS merged, f AS pair_freq "
            f"FROM r{i}_best"
        )
    return ("WITH " + ",".join(ctes) + "\n    "
            + "\n    UNION ALL ".join(finals))


ORACLES["doc_bpe_train"] = _bpe_oracle(_BPE_ROUNDS)


# BPE ENCODE — the trainer's sibling: apply the learned merges to the
# corpus and report the token economics per language. The encode join
# is corpus-side words → fully-merged vocabulary (tiny here, so it
# broadcasts; at a 10M-word vocab it's a plain shuffled equi-join —
# either way the per-word encode work happened ONCE per DISTINCT word
# in the trainer, never per occurrence, which is the whole point).
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    final_words, _ = _bpe_run_rounds(_bpe_vocab(spark, sf_dir), _BPE_ROUNDS)
    vocab = final_words.select(
        "w", F.expr("CAST(size(syms) AS BIGINT)").alias("n_bpe")
    )
    corpus = docs.select("lang", F.explode(F.expr(_WORDS)).alias("w"))
    return (
        corpus.join(F.broadcast(vocab), "w")
        .groupBy("lang")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_words"),
            F.expr("CAST(SUM(length(w)) AS BIGINT)").alias("n_chars"),
            F.expr("CAST(SUM(n_bpe) AS BIGINT)").alias("n_bpe_tokens"),
        )
    )


QUERIES["doc_bpe_encode"] = doc_bpe_encode


def _bpe_encode_oracle(rounds: int) -> str:
    chain = ORACLES["doc_bpe_train"]
    # reuse the train oracle's CTE chain verbatim, swap the final select
    chain = chain[: chain.index("\n    SELECT CAST(1 AS BIGINT)")]
    return chain + f"""
    , enc AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_bpe
              FROM r{rounds}_words),
    corpus AS (SELECT lang, unnest({_WORDS_DUCK}) AS w FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
    FROM corpus JOIN enc USING (w)
    GROUP BY lang
"""


ORACLES["doc_bpe_encode"] = _bpe_encode_oracle(_BPE_ROUNDS)


# --------------------------------------------------------------------------
# Per-source lexical diversity: type-token ratio + hapax-legomena rate
# — the corpus-health dials next to doc_zipf_slope (a crawler stuck in
# boilerplate drives TTR down; OCR noise drives hapax up). The working
# set after the first shuffle is (source, word) DISTINCT pairs — the
# same bounded vocabulary discipline as the BPE trainer — and every
# ratio is exact integer ppm.
def doc_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.expr(_WORDS)).alias("w"))
        .filter("w <> ''")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.expr("SUM(c)").alias("n_words"),
            F.expr("COUNT(*)").alias("n_distinct"),
            F.expr("SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)")
            .alias("n_hapax"),
        )
        .selectExpr(
            "source", "n_words", "n_distinct", "n_hapax",
            "CAST(1000000 * n_distinct DIV n_words AS BIGINT) AS ttr_ppm",
            "CAST(1000000 * n_hapax DIV n_distinct AS BIGINT) "
            "AS hapax_ppm",
        )
    )


QUERIES["doc_ttr_hapax"] = doc_ttr_hapax

ORACLES["doc_ttr_hapax"] = f"""
    WITH wc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, unnest({_WORDS_DUCK}) AS w FROM documents)
        WHERE w <> ''
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(1000000 * COUNT(*) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST(1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               // COUNT(*) AS BIGINT) AS hapax_ppm
    FROM wc
    GROUP BY source
"""


# --------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies table — the smoothing statistic
# under every classical LM (Katz backoff) and the standard unseen-mass
# estimator for corpus coverage: N_r = #distinct words seen exactly r
# times, GT-adjusted count r* = (r+1)·N_{r+1}/N_r on the ppm grid
# (integer-exact; 0 where N_{r+1} is empty). The lowest row IS the
# Good-Turing estimate of unseen-word mass. Two bounded shuffles
# (words → word counts → counts-of-counts) + a lead window over the
# tiny r table; the 20 SMALLEST frequencies present are reported (the
# head is where smoothing matters; a fixed r <= K filter can be empty
# when the synthetic vocabulary is dense).
def doc_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.expr(_WORDS)).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    nr = wc.groupBy("r").agg(F.expr("COUNT(*)").alias("n_r"))
    w = "ORDER BY r"
    return (
        nr.selectExpr(
            "r", "n_r",
            f"LEAD(r) OVER ({w}) AS r_next",
            f"LEAD(n_r) OVER ({w}) AS n_next",
        )
        .selectExpr(
            "r", "n_r",
            "CASE WHEN r_next = r + 1 THEN "
            "CAST(1000000 * (CAST(r AS DECIMAL(38,0)) + 1) * n_next "
            "DIV n_r AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END AS r_star_ppm",
            f"ROW_NUMBER() OVER ({w}) AS rk",
        )
        .filter("rk <= 20")
        .drop("rk")
    )


QUERIES["doc_good_turing"] = doc_good_turing

ORACLES["doc_good_turing"] = f"""
    WITH wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS r
        FROM (SELECT unnest({_WORDS_DUCK}) AS w FROM documents)
        WHERE w <> ''
        GROUP BY w
    ),
    nr AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY r
    ),
    led AS (
        SELECT r, n_r,
               LEAD(r) OVER (ORDER BY r) AS r_next,
               LEAD(n_r) OVER (ORDER BY r) AS n_next
        FROM nr
    )
    SELECT r, n_r,
           CASE WHEN r_next = r + 1 THEN
               CAST(1000000 * (CAST(r AS HUGEINT) + 1) * n_next
                   // n_r AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS r_star_ppm
    FROM (SELECT led.*, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM led)
    WHERE rk <= 20
"""


# --------------------------------------------------------------------------
# Gini coefficient of per-document token counts WITHIN each source —
# the inequality dial a mixture curator reads next to
# doc_length_deciles' quantiles: a source whose token mass concentrates
# in a few giant documents (high Gini) skews any doc-level sampling
# scheme and needs doc-level caps before mixing. Same exact formulation
# as orders_gini_by_nation — per-source windows (no global sort),
# G = (2·Σ i·x − (n+1)·Σx) / (n·Σx) with Σ i·x and the ppm product on
# DECIMAL(38,0)/HUGEINT (rule F: Σ i·x grows ∝ docs², past 2⁶³ at
# corpus scale). Whitespace tokenization is the house grid
# (doc_tokens, text.py).
def doc_token_gini_by_source(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = docs.selectExpr(
        "source", "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x",
    )
    ranked = counts.selectExpr(
        "source", "x",
        "ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY x, doc_id) AS i",
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.expr("COUNT(*)").alias("n_docs"),
            F.expr("SUM(x)").alias("total_tokens"),
            F.expr("SUM(CAST(i AS DECIMAL(38,0)) * x)").alias("ix"),
        )
        .selectExpr(
            "source", "n_docs", "total_tokens",
            "CAST((2 * ix - (CAST(n_docs AS DECIMAL(38,0)) + 1) "
            "* total_tokens) * 1000000 "
            "DIV (CAST(n_docs AS DECIMAL(38,0)) * total_tokens) "
            "AS BIGINT) AS gini_ppm",
        )
    )


QUERIES["doc_token_gini_by_source"] = doc_token_gini_by_source

ORACLES["doc_token_gini_by_source"] = """
    WITH counts AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents
    ),
    ranked AS (
        SELECT source, x,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY x, doc_id) AS i
        FROM counts
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(x) AS BIGINT) AS total_tokens,
           CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                   - (CAST(COUNT(*) AS HUGEINT) + 1) * SUM(x)) * 1000000
               // (CAST(COUNT(*) AS HUGEINT) * SUM(x))
               AS BIGINT) AS gini_ppm
    FROM ranked
    GROUP BY source
"""


# --------------------------------------------------------------------------
# Per-source character-class composition — the printable-composition
# audit a curation pipeline runs before any model-based quality
# scoring: per source, exact ppm of letters / digits / whitespace /
# other across the corpus bytes, plus the digit-heavy doc count (the
# Gopher-style ">20% digits" reject list applied at source
# granularity). Class counts come from length-minus-stripped
# (regexp_replace with an explicit global flag on the DuckDB side),
# so both engines count the same codepoints; sums widen to
# DECIMAL(38,0)/HUGEINT before the ×1e6 because a 100 TB source holds
# ~1e14 chars (rule F). One partial-agg shuffle on the tiny source
# key.
def doc_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
        F.expr(
            "CAST(length(text) - length(regexp_replace(text, "
            "'[A-Za-z]', '')) AS BIGINT)"
        ).alias("letters"),
        F.expr(
            "CAST(length(text) - length(regexp_replace(text, "
            "'[0-9]', '')) AS BIGINT)"
        ).alias("digits"),
        F.expr(
            "CAST(length(text) - length(regexp_replace(text, "
            "'[ \\t\\n]', '')) AS BIGINT)"
        ).alias("spaces"),
    )
    return (
        per.withColumn(
            "digit_heavy",
            F.expr("IF(digits * 5 > chars, 1, 0)"),
        )
        .groupBy("source")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(chars) AS BIGINT)").alias("n_chars"),
            F.expr("CAST(SUM(digit_heavy) AS BIGINT)").alias(
                "n_digit_heavy"),
            F.expr(
                "CAST(SUM(CAST(letters AS DECIMAL(38,0))) * 1000000 "
                "DIV SUM(CAST(chars AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("letter_ppm"),
            F.expr(
                "CAST(SUM(CAST(digits AS DECIMAL(38,0))) * 1000000 "
                "DIV SUM(CAST(chars AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("digit_ppm"),
            F.expr(
                "CAST(SUM(CAST(spaces AS DECIMAL(38,0))) * 1000000 "
                "DIV SUM(CAST(chars AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("space_ppm"),
        )
    )


QUERIES["doc_charclass_profile"] = doc_charclass_profile

ORACLES["doc_charclass_profile"] = """
    WITH per AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(length(text) - length(regexp_replace(text,
                   '[A-Za-z]', '', 'g')) AS BIGINT) AS letters,
               CAST(length(text) - length(regexp_replace(text,
                   '[0-9]', '', 'g')) AS BIGINT) AS digits,
               CAST(length(text) - length(regexp_replace(text,
                   '[ \t\n]', '', 'g')) AS BIGINT) AS spaces
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           CAST(sum(CASE WHEN digits * 5 > chars THEN 1 ELSE 0 END)
               AS BIGINT) AS n_digit_heavy,
           CAST(sum(CAST(letters AS HUGEINT)) * 1000000
               // sum(CAST(chars AS HUGEINT)) AS BIGINT) AS letter_ppm,
           CAST(sum(CAST(digits AS HUGEINT)) * 1000000
               // sum(CAST(chars AS HUGEINT)) AS BIGINT) AS digit_ppm,
           CAST(sum(CAST(spaces AS HUGEINT)) * 1000000
               // sum(CAST(chars AS HUGEINT)) AS BIGINT) AS space_ppm
    FROM per GROUP BY source
"""


# --------------------------------------------------------------------------
# RAKE keyphrase extraction — the classic stopword-delimited phrase
# scorer (Rose et al. 2010): token runs between stopwords become
# candidate phrases, each word scores degree/frequency over the
# phrase table (degree = Σ lengths of phrases containing the word —
# co-occurrence credit; frequency = occurrence count), and a phrase
# scores the sum of its words' scores on the exact ppm grid. Output:
# the top-3 phrases per source. The phrase split is a per-doc window
# (running stopword count segments each token stream — one shuffle on
# doc_id, Spark's hash partitioning, no O(n²) per-doc lambda), the
# scoring joins are on the WORD working set (bounded by vocabulary,
# the BPE-trainer discipline), and the final top-k is a window over
# per-source phrase aggregates. Degree ≤ 4·freq (phrases cap at 4
# tokens), so degree·1e6 stays far under 2^63 at any corpus size —
# but both factors widen anyway (rule F).
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.posexplode(F.expr(_WORDS))
        .alias("pos", "w")
    ).withColumn("is_stop", F.expr(f"IF(w IN ({_STOP_IN}), 1, 0)"))
    seg = toks.withColumn(
        "seg",
        F.expr(
            "SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    ).filter("is_stop = 0 AND w != ''")
    phrases = (
        seg.groupBy("doc_id", "source", "seg")
        .agg(F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "named_struct('pos', pos, 'w', w))), e -> e.w))"
        ).alias("phrase"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("plen"))
        .filter("plen <= 4")
    )
    words = phrases.select(
        "plen", F.explode(F.expr("split(phrase, ' ')")).alias("w"))
    scores = words.groupBy("w").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("freq"),
        F.expr("CAST(SUM(plen) AS BIGINT)").alias("degree"),
    ).selectExpr(
        "w",
        "CAST(CAST(degree AS DECIMAL(38,0)) * 1000000 "
        "DIV freq AS BIGINT) AS wscore",
    )
    pw = phrases.select(
        "source", "phrase",
        F.explode(F.expr("split(phrase, ' ')")).alias("w"))
    pscore = (
        pw.join(scores, "w")
        .groupBy("source", "phrase")
        .agg(F.expr("CAST(SUM(wscore) AS BIGINT)").alias("pscore_sum"))
    )
    # pscore_sum counts each occurrence of the phrase once per member
    # word — normalize to the per-occurrence score by the occurrence
    # count so repeated phrases don't multiply their own score
    occ = phrases.groupBy("source", "phrase").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_occ"))
    ranked = (
        pscore.join(occ, ["source", "phrase"])
        .selectExpr(
            "source", "phrase", "n_occ",
            "CAST(pscore_sum DIV n_occ AS BIGINT) AS score_ppm",
        )
        .withColumn(
            "rk",
            F.expr(
                "ROW_NUMBER() OVER (PARTITION BY source "
                "ORDER BY score_ppm DESC, phrase)"
            ),
        )
        .filter("rk <= 3")
        .select("source", F.col("rk").cast("long").alias("rk"),
                "phrase", "n_occ", "score_ppm")
    )
    return ranked


QUERIES["doc_rake_keyphrases"] = doc_rake_keyphrases

ORACLES["doc_rake_keyphrases"] = f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    seg AS (
        SELECT doc_id, source, w, pos,
               SUM(CASE WHEN w IN ({_STOP_IN}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS seg,
               CASE WHEN w IN ({_STOP_IN}) THEN 1 ELSE 0 END AS is_stop
        FROM toks
    ),
    phrases AS (
        SELECT doc_id, source, seg,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS plen
        FROM seg WHERE is_stop = 0 AND w <> ''
        GROUP BY doc_id, source, seg
        HAVING count(*) <= 4
    ),
    words AS (
        SELECT plen, unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    scores AS (
        SELECT w,
               CAST(CAST(sum(plen) AS HUGEINT) * 1000000
                   // count(*) AS BIGINT) AS wscore
        FROM words GROUP BY w
    ),
    pw AS (
        SELECT source, phrase,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    pscore AS (
        SELECT source, phrase,
               CAST(sum(wscore) AS BIGINT) AS pscore_sum
        FROM pw JOIN scores USING (w)
        GROUP BY source, phrase
    ),
    occ AS (
        SELECT source, phrase, CAST(count(*) AS BIGINT) AS n_occ
        FROM phrases GROUP BY source, phrase
    ),
    ranked AS (
        SELECT source, phrase, n_occ,
               CAST(pscore_sum // n_occ AS BIGINT) AS score_ppm
        FROM pscore JOIN occ USING (source, phrase)
    )
    SELECT source, CAST(rk AS BIGINT) AS rk, phrase, n_occ, score_ppm
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY score_ppm DESC, phrase) AS rk
        FROM ranked
    ) WHERE rk <= 3
"""


# --------------------- cross-source distribution drift (Jensen-Shannon)
#
# Corpus-mixture monitoring: the pairwise Jensen-Shannon divergence
# between the unigram distributions of every source pair — THE
# standard drift dial for "did crawl batch N change the language
# distribution" / "how far is source A's text from source B's". JS =
# Σ_w [p/2·ln(2p/(p+q)) + q/2·ln(2q/(p+q))]; words present in only
# one source contribute (mass·ln 2)/2, folded in CLOSED FORM from the
# unshared mass (1 − shared), so the join is an INNER join on the
# shared vocabulary — never a full-outer over the union. One shuffle
# of (source, word) counts (the distinct working set, same scale story
# as doc_vocab_topk); the pair join fans each word row out only to the
# pairs that share it. Determinism is the zipf/bigram-LM discipline:
# every ln term is ROW-LOCAL double math rounded onto the 1e9 integer
# grid (per-word p, q are exact rationals cast to double), and all
# CROSS-ROW sums are integer — accumulation order can't move a bit on
# either engine. Log-sum inequality makes every per-word term ≥ 0, so
# the final DIV grid-drop is //-safe. Bounded in [0, ln 2]; ppm out.
def doc_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("source").agg(F.expr("SUM(n)").alias("tot"))
    a = counts.join(broadcast(totals), "source").selectExpr(
        "source AS sa", "w", "CAST(n AS DOUBLE) / tot AS p")
    b = counts.join(broadcast(totals), "source").selectExpr(
        "source AS sb", "w", "CAST(n AS DOUBLE) / tot AS q")
    shared = (
        a.join(b, "w")
        .filter("sa < sb")
        .selectExpr(
            "sa", "sb",
            "CAST(ROUND((p / 2 * ln(2 * p / (p + q)) "
            "+ q / 2 * ln(2 * q / (p + q))) * 1e9) AS BIGINT) AS t_e9",
            "CAST(ROUND(p * 1e9) AS BIGINT) AS p_e9",
            "CAST(ROUND(q * 1e9) AS BIGINT) AS q_e9",
        )
        .groupBy("sa", "sb")
        .agg(
            F.expr("SUM(t_e9)").alias("js_e9"),
            F.expr("SUM(p_e9)").alias("sp_e9"),
            F.expr("SUM(q_e9)").alias("sq_e9"),
        )
    )
    return shared.selectExpr(
        "sa AS source_a", "sb AS source_b",
        "CAST((js_e9 + CAST(ROUND(ln(2) / 2 "
        "* (2000000000 - sp_e9 - sq_e9)) AS BIGINT)) DIV 1000 "
        "AS BIGINT) AS js_ppm",
    )


QUERIES["doc_source_js_divergence"] = doc_source_js_divergence

ORACLES["doc_source_js_divergence"] = """
    WITH counts AS (
        SELECT source, w, COUNT(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    totals AS (SELECT source, SUM(n) AS tot FROM counts GROUP BY 1),
    dist AS (
        SELECT c.source, w, CAST(n AS DOUBLE) / tot AS p
        FROM counts c JOIN totals USING (source)
    ),
    terms AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(ROUND((a.p / 2 * ln(2 * a.p / (a.p + b.p))
                    + b.p / 2 * ln(2 * b.p / (a.p + b.p))) * 1e9)
                    AS BIGINT) AS t_e9,
               CAST(ROUND(a.p * 1e9) AS BIGINT) AS p_e9,
               CAST(ROUND(b.p * 1e9) AS BIGINT) AS q_e9
        FROM dist a JOIN dist b USING (w)
        WHERE a.source < b.source
    ),
    shared AS (
        SELECT sa, sb, SUM(t_e9) AS js_e9,
               SUM(p_e9) AS sp_e9, SUM(q_e9) AS sq_e9
        FROM terms GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST((js_e9 + CAST(ROUND(ln(2) / 2
                * (2000000000 - sp_e9 - sq_e9)) AS BIGINT)) // 1000
                AS BIGINT) AS js_ppm
    FROM shared
"""


# ---------------------- per-source length-distribution fit (lognormal)
#
# Corpus QA's distribution fit: document lengths are classically
# lognormal, and the method-of-moments fit of ln(length) per source —
# μ and σ² — is the compact dial mixture planners track across crawls
# (a new batch with the same mean but doubled σ² is a different
# corpus). Row-local ln on the 1e6 integer grid (the house
# determinism discipline), then variance from exact integer sums:
# var = (n·Σx² − (Σx)²) / n² — every product on DECIMAL(38,0)
# (x ≤ ~21e6 for any document, x² ≤ 4.4e14, ×n ≤ 1e13 rows → ≤ 4e27).
def doc_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    x = (
        docs.filter("length(text) > 0")
        .selectExpr(
            "source",
            "CAST(ROUND(ln(length(text)) * 1000000) AS BIGINT) AS x",
        )
    )
    return (
        x.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(CAST(x AS DECIMAL(38,0)))").alias("sx"),
            F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        )
        .selectExpr(
            "source", "n_docs",
            "CAST(sx DIV n_docs AS BIGINT) AS mu_ln_e6",
            # e12 variance grid: (n·Σx² − (Σx)²) / n², already ×1e12
            # from the squared e6 terms
            "CAST((n_docs * sxx - sx * sx) DIV "
            "(CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT) "
            "AS var_ln_e12",
        )
    )


QUERIES["doc_length_lognormal_fit"] = doc_length_lognormal_fit

ORACLES["doc_length_lognormal_fit"] = """
    WITH x AS (
        SELECT source,
               CAST(ROUND(ln(length(text)) * 1000000) AS BIGINT) AS x
        FROM documents WHERE length(text) > 0
    ),
    agg AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM x GROUP BY 1
    )
    SELECT source, n_docs,
           CAST(sx // n_docs AS BIGINT) AS mu_ln_e6,
           CAST((n_docs * sxx - sx * sx) //
                (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
               AS var_ln_e12
    FROM agg
"""


# ------------------------- PMI phrase/co-occurrence mining (top vocab)
#
# Pointwise mutual information of word PAIRS at document level — the
# collocation/phrase-mining classic (and the embedding-era relative:
# PMI matrices are what SVD word vectors factor). Pairing is bounded
# BY CONSTRUCTION: only the top-64 corpus words pair (the broadcast
# vocabulary), so the per-document fan-out is ≤ C(64,2) regardless of
# corpus size — one doc_id-co-partitioned self-join, one pair shuffle.
# PMI = ln(df_ab·N / (df_a·df_b)) with the ln row-local on the e6 grid
# (zipf discipline); df floors keep rare-pair noise out. Distinct from
# doc_bigram_lm (ADJACENT-bigram conditional LM) — this is unordered
# whole-document co-occurrence.
PMI_VOCAB = 64
PMI_MIN_BOTH = 5


def doc_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("array_distinct(split(text, ' '))")).alias("w"),
    )
    vocab = (
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "w").limit(PMI_VOCAB)
    )
    filt = toks.join(broadcast(vocab), "w")
    a = filt.selectExpr("doc_id", "w AS word_a", "df AS dfa")
    b = filt.selectExpr("doc_id", "w AS word_b", "df AS dfb")
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        a.join(b, "doc_id")
        .filter("word_a < word_b")
        .groupBy("word_a", "word_b", "dfa", "dfb")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(f"n_both >= {PMI_MIN_BOTH}")
        .crossJoin(broadcast(nd))
        .selectExpr(
            "word_a", "word_b", "n_both",
            "CAST(ROUND(ln(CAST(n_both AS DOUBLE) * n_docs "
            "/ (CAST(dfa AS DOUBLE) * dfb)) * 1000000) AS BIGINT) "
            "AS pmi_e6",
        )
        .orderBy(F.col("pmi_e6").desc(), "word_a", "word_b")
        .limit(20)
    )


QUERIES["doc_pmi_pairs"] = doc_pmi_pairs

ORACLES["doc_pmi_pairs"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w, COUNT(*) AS df FROM toks GROUP BY 1
        ORDER BY df DESC, w LIMIT {PMI_VOCAB}
    ),
    filt AS (SELECT doc_id, t.w, df FROM toks t JOIN vocab USING (w)),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    pairs AS (
        SELECT a.w AS word_a, b.w AS word_b, a.df AS dfa, b.df AS dfb,
               COUNT(*) AS n_both
        FROM filt a JOIN filt b USING (doc_id)
        WHERE a.w < b.w
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) >= {PMI_MIN_BOTH}
    )
    SELECT word_a, word_b, n_both,
           CAST(ROUND(ln(CAST(n_both AS DOUBLE) * n_docs
                / (CAST(dfa AS DOUBLE) * dfb)) * 1000000) AS BIGINT)
               AS pmi_e6
    FROM pairs CROSS JOIN nd
    ORDER BY pmi_e6 DESC, word_a, word_b
    LIMIT 20
"""


# ------------- weighted sampling WITHOUT replacement (A-ES top-k)
#
# Efraimidis–Spirakis reservoir sampling: key = u^(1/w) per item, take
# the top-k keys — THE distributed algorithm for an EXACT-size,
# weight-proportional sample without replacement (corpus subsampling
# by quality at a fixed token budget), as opposed to
# doc_importance_sample's Bernoulli thinning (random size, with
# independent draws). Rank by the monotone transform ln(u)/w — one
# row-local double (md5-derived u, the house grid discipline: ROUND
# onto e6 BEFORE the window), then a PARTITIONED top-k window per
# source (never a global sort). No division of integer negatives
# anywhere (the DIV/// trap): the sort key stays a rounded BIGINT.
AES_K = 50


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    q = doc_quality(spark, sf_dir).select("doc_id", "quality_score")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    h = SPARK_HASH_SQL("CONCAT('aes:', CAST(doc_id AS STRING))")
    keyed = (
        docs.join(q, "doc_id")
        .selectExpr(
            "doc_id", "source",
            "GREATEST(CAST(FLOOR(quality_score * 1000000) AS BIGINT), 1) "
            "AS w_ppm",
            f"CAST(ROUND(ln((pmod({h}, 1000000) + 1) / 1000000.0) "
            "/ (GREATEST(CAST(FLOOR(quality_score * 1000000) AS BIGINT), 1) "
            "/ 1000000.0) * 1000000) AS BIGINT) AS key_e6",
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("key_e6").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(f"rank <= {AES_K}")
        .select("source", "rank", "doc_id", "w_ppm", "key_e6")
    )


QUERIES["doc_weighted_sample"] = doc_weighted_sample

ORACLES["doc_weighted_sample"] = f"""
    WITH q AS ({{Q_QUALITY}}),
    keyed AS (
        SELECT d.doc_id, d.source,
               GREATEST(CAST(FLOOR(q.quality_score * 1000000) AS BIGINT),
                        1) AS w_ppm,
               CAST(ROUND(ln(({STABLE_HASH_SQL("('aes:' || CAST(d.doc_id AS VARCHAR))")} % 1000000 + 1)
                    / 1000000.0)
                    / (GREATEST(CAST(FLOOR(q.quality_score * 1000000)
                                     AS BIGINT), 1) / 1000000.0)
                    * 1000000) AS BIGINT) AS key_e6
        FROM documents d JOIN q ON d.doc_id = q.doc_id
    )
    SELECT source, rank, doc_id, w_ppm, key_e6
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY key_e6 DESC, doc_id) AS rank
        FROM keyed
    ) WHERE rank <= {AES_K}
""".replace("{Q_QUALITY}", ORACLES["doc_quality"])


# ---------------------------------- per-doc unigram entropy (nats)
#
# Lexical-diversity EVENNESS — the distributional complement of
# doc_ttr_hapax's richness ratios (TTR counts how many types; entropy
# measures how evenly they're used — a doc repeating one word 1000×
# and a doc cycling 10 words 100× each have very different Shannon
# entropy at similar length) and of doc_zipf_slope's global fit. A
# curation pipeline thresholds on this to drop degenerate/boilerplate
# docs. Per doc H = ln(n) − Σ c·ln(c)/n over its word counts — one
# tokenize shuffle keyed (doc_id, word) with map-side combine, then a
# per-doc reduce; per-source rollup is exact-integer. Determinism: the
# log-grid discipline (round each group-local ln(c) onto the 1e9 grid
# BEFORE the cross-group integer sum; c·ln-grid ≤ doc-local tokens ×
# 14×1e9 ≈ 1e16 < 2^62), and the final H is one row-local double
# formula over exact ints, identical in the oracle, exposed ×1e6.
# Per-source mean via exact integer division, never a double sum.
def doc_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", "source",
                    F.explode(F.expr(_WORDS)).alias("w"))
        .filter("w <> ''")
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = (
        wc.groupBy("doc_id", "source")
        .agg(
            F.expr("SUM(c)").alias("n"),
            F.expr("SUM(c * CAST(ROUND(ln(c) * 1000000000) AS BIGINT))")
            .alias("s"),
        )
        .selectExpr(
            "source",
            "CAST(ROUND((ln(n) - s / (n * 1e9)) * 1000000) AS BIGINT) "
            "AS h_e6",
        )
    )
    return per_doc.groupBy("source").agg(
        F.expr("COUNT(*)").alias("n_docs"),
        F.expr("CAST(SUM(h_e6) DIV COUNT(*) AS BIGINT)")
        .alias("mean_entropy_e6"),
        F.expr("MAX(h_e6)").alias("max_entropy_e6"),
        F.expr("MIN(h_e6)").alias("min_entropy_e6"),
    )


QUERIES["doc_word_entropy"] = doc_word_entropy

ORACLES["doc_word_entropy"] = f"""
    WITH wc AS (
        SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, source, unnest({_WORDS_DUCK}) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY 1, 2, 3
    ),
    per_doc AS (
        SELECT source,
               CAST(ROUND((ln(SUM(c)) -
                    SUM(c * CAST(ROUND(ln(c) * 1000000000) AS BIGINT))
                    / (SUM(c) * 1e9)) * 1000000) AS BIGINT) AS h_e6
        FROM wc GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(h_e6) // COUNT(*) AS BIGINT) AS mean_entropy_e6,
           MAX(h_e6) AS max_entropy_e6,
           MIN(h_e6) AS min_entropy_e6
    FROM per_doc
    GROUP BY source
"""
