"""Property-based invariants (hypothesis): the skew rewrites must be
result-identical to their plain formulations on ARBITRARY data, not
just the fixtures — salting is physical, never semantic."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.skew import (
    salted_join,
    two_phase_agg,
)

rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
    min_size=1,
    max_size=50,
)

_SETTINGS = dict(
    max_examples=8,  # each example runs real Spark jobs
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(data=rows)
@settings(**_SETTINGS)
def test_two_phase_agg_equals_plain(spark, data):
    df = spark.createDataFrame(data, "k INT, v INT")
    plain = {
        r["k"]: (r["s"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count("v").alias("n"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    two = {
        r["k"]: (r["s"], r["n"], r["lo"], r["hi"])
        for r in two_phase_agg(
            df, ["k"], {"s": "sum(v)", "n": "count(v)", "lo": "min(v)", "hi": "max(v)"},
            n_salts=4,
        ).collect()
    }
    assert plain == two


@given(facts=rows, dim=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 9)),
                                min_size=0, max_size=10, unique_by=lambda t: t[0]))
@settings(**_SETTINGS)
def test_salted_join_equals_plain(spark, facts, dim):
    f = spark.createDataFrame(facts, "k INT, v INT")
    d = spark.createDataFrame(dim, "k INT, attr INT") if dim else \
        spark.createDataFrame([], "k INT, attr INT")
    plain = sorted(tuple(r) for r in f.join(d, "k").collect())
    salted = sorted(
        tuple(r) for r in salted_join(f, d, "k", n_salts=3).select("k", "v", "attr").collect()
    )
    assert plain == salted


@given(
    assignments=st.lists(
        # (doc, bucket): many docs may share one bucket — hypothesis is
        # free to stuff a single bucket, the skew case the salt exists
        # for.
        st.tuples(st.integers(0, 40), st.integers(0, 3)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n_salts=st.integers(2, 5),
)
@settings(**_SETTINGS)
def test_band_pairs_salted_equals_plain(spark, assignments, n_salts):
    """The MinHash band join's hot-bucket salt must be result-identical
    to the plain self-join on ARBITRARY bucket assignments — including
    buckets holding most of the corpus (hot=2 forces nearly every
    bucket through the salted branch)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.dedup import _band_pairs

    bands = spark.createDataFrame(
        [(d, 0, f"b{b}") for d, b in assignments],
        "doc_id LONG, band_idx INT, band_hash STRING",
    )
    plain = sorted(tuple(r) for r in _band_pairs(bands).collect())
    salted = sorted(
        tuple(r)
        for r in _band_pairs(bands, n_salts=n_salts, hot=2).collect()
    )
    assert plain == salted


@given(
    history=st.lists(
        st.lists(st.tuples(st.integers(0, 20), st.text("ab", max_size=3)),
                 min_size=0, max_size=6, unique_by=lambda t: t[0]),
        min_size=1,
        max_size=3,
    )
)
@settings(**_SETTINGS)
def test_versioned_round_trip_arbitrary_history(spark, tmp_path_factory, history):
    """Every committed version must read back exactly as written, for
    ARBITRARY version contents (including empty versions), and the
    latest read must equal the last commit."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = str(tmp_path_factory.mktemp("vprop") / "tbl")
    for rows in history:
        df = (spark.createDataFrame(rows, "k INT, v STRING") if rows
              else spark.createDataFrame([], "k INT, v STRING"))
        versioned.write_version(df, path)
    assert versioned.versions(path) == list(range(len(history)))
    for v, rows in enumerate(history):
        got = sorted(tuple(r) for r in
                     versioned.read_version(spark, path, v).collect())
        assert got == sorted(rows)
    latest = sorted(tuple(r) for r in
                    versioned.read_version(spark, path).collect())
    assert latest == sorted(history[-1])


def test_pagerank_conserves_mass(spark):
    """Total rank stays ~1 (on the 1e12 grid): teleport + damped mass
    must re-sum to the node count × 1e12 within per-node rounding (±1
    per rounding site per iteration)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.dedup import PR_ITERS, doc_pagerank

    rows = doc_pagerank(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    total = sum(r["rank_micro"] for r in rows)
    # ranks are normalized to sum 1 (1e12 on the grid): teleport mass
    # 0.15 + damped mass 0.85·S has fixed point S = 1e12. Rounding
    # drifts ≤ ~1 per rounding site (teleport + damped sum per node,
    # one per edge contribution) per iteration.
    tolerance = 3 * n * (PR_ITERS + 1)
    assert abs(total - 10**12) <= tolerance


def test_exp_smoothing_bounds(spark):
    """EWMA output must lie within [min, max] of the daily series —
    the fold can't overshoot its inputs."""
    import duckdb
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.events import ev_exp_smoothing

    sf = "/root/testdata/sf0.001"
    out = {r["event_type"]: r["smoothed"] for r in ev_exp_smoothing(spark, sf).collect()}
    con = duckdb.connect()
    daily = con.execute(f"""
        SELECT event_type,
               MIN(v) AS lo, MAX(v) AS hi
        FROM (SELECT event_type,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
              FROM '{sf}/events.parquet'
              GROUP BY event_type, date_trunc('day', ts))
        GROUP BY event_type
    """).fetchall()
    for et, lo, hi in daily:
        assert lo - 1e-6 <= out[et] <= hi + 1e-6, et


def test_pq_adc_recall_against_exact(spark):
    """ADC search over 4×16 PQ codes must keep reasonable recall@5
    against exact L2 search — quantized distances approximate, they
    don't scramble. (Threshold is loose: 16-dim sub-spaces with a
    16-seed codebook is a toy configuration.)"""
    import duckdb
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.similarity import emb_pq_adc

    sf = "/root/testdata/sf0.001"
    adc = {}
    for r in emb_pq_adc(spark, sf).collect():
        adc.setdefault(r["q_id"], set()).add(r["c_id"])
    exact = {}
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                   FROM '{sf}/embeddings.parquet' WHERE vec_id < 10),
        c AS (SELECT vec_id AS c_id, embedding AS ce
              FROM '{sf}/embeddings.parquet' WHERE vec_id >= 10),
        d AS (SELECT q_id, c_id,
                     list_sum(list_transform(range(1, len(qe) + 1),
                        i -> (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                           * (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))) AS l2
              FROM q CROSS JOIN c)
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY l2, c_id) AS rk
            FROM d) WHERE rk <= 5
    """).fetchall()
    for q_id, c_id in rows:
        exact.setdefault(q_id, set()).add(c_id)
    hits = sum(len(adc[q] & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    # Uniform-random vectors are PQ's worst case (nothing to cluster):
    # measured recall@5 here is ~0.2 vs ~0.0025 for random guessing
    # (5/1990 per slot). The bar asserts the codes carry strong signal
    # without over-fitting to one fixture.
    assert hits / total >= 0.1, f"ADC recall@5 collapsed: {hits}/{total}"


# ---- multimodal codecs: decode(encode(x)) == x on arbitrary params ----
# Pure-Python roundtrips (no Spark jobs) — cheap enough for many
# examples; these lock the byte-level contracts the mm_* oracles
# assume (stride handling, chunk layout, frame slicing).

@given(
    width=st.integers(1, 64),
    height=st.integers(1, 48),
    value=st.integers(0, 255),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(width, height, value):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    w, h, mean = decode_bmp(encode_bmp(width, height, value))
    assert (w, h, mean) == (width, height, float(value))


@given(
    n_samples=st.integers(1, 512),
    amplitude=st.integers(-32768, 32767),
    rate=st.integers(1000, 96000),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(n_samples, amplitude, rate):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    got = decode_wav(encode_wav(n_samples, amplitude, rate))
    assert got == (rate, 1, n_samples, amplitude)


@given(
    frames=st.lists(st.integers(0, 255), min_size=1, max_size=12),
    every_n=st.integers(1, 5),
    dims=st.tuples(st.integers(1, 16), st.integers(1, 16)),
)
@settings(max_examples=60, deadline=None)
def test_rawv_sampling_property(frames, every_n, dims):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.multimodal import (
        decode_rawv,
        encode_rawv,
    )

    w, h = dims
    out = decode_rawv(encode_rawv(w, h, frames), every_n)
    assert [src for src, _ in out] == list(range(0, len(frames), every_n))
    for src, payload in out:
        assert len(payload) == w * h * 3
        assert set(payload) == {frames[src]}


@given(
    width=st.integers(1, 32),
    height=st.integers(1, 32),
    value=st.integers(0, 255),
    out_dims=st.tuples(st.integers(1, 24), st.integers(1, 24)),
)
@settings(max_examples=40, deadline=None)
def test_bmp_resize_property(width, height, value, out_dims):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_image_batch,
    )

    ow, oh = out_dims
    resized = resize_image_batch(encode_bmp(width, height, value), ow, oh)
    assert decode_bmp(resized) == (ow, oh, float(value))


# ------------------------- versioned COW merge ≡ relational MERGE


@given(
    base=st.lists(st.tuples(st.integers(0, 40), st.text("ab", max_size=3)),
                  min_size=1, max_size=40, unique_by=lambda t: t[0]),
    changes=st.lists(
        st.tuples(st.integers(0, 50), st.text("cd", max_size=3),
                  st.booleans()),
        min_size=1, max_size=15, unique_by=lambda t: t[0]),
    parts=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_cow_merge_equals_relational_merge(spark, tmp_path_factory,
                                           base, changes, parts):
    """For ARBITRARY base tables, change batches (upserts + deletes,
    keys inside and outside the base), and file layouts, the
    copy-on-write merge must read back exactly anti-join ∪ upserts —
    file sharing and stat pruning are physical, never semantic."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = str(tmp_path_factory.mktemp("cowprop") / "tbl")
    bdf = spark.createDataFrame(base, "k INT, v STRING") \
        .repartitionByRange(parts, "k")
    versioned.write_version(bdf, path)
    cdf = spark.createDataFrame(changes, "k INT, v STRING, is_delete BOOLEAN")
    versioned.merge_version_cow(spark, path, cdf, "k")
    got = sorted((r.k, r.v) for r in
                 versioned.read_version(spark, path, 1).collect())
    ch = {k: (v, d) for k, v, d in changes}
    want = sorted(
        [(k, v) for k, v in base if k not in ch]
        + [(k, v) for k, (v, d) in ch.items() if not d]
    )
    assert got == want
    # parent snapshot untouched by the merge
    v0 = sorted((r.k, r.v) for r in
                versioned.read_version(spark, path, 0).collect())
    assert v0 == sorted(base)


# --------------------------- sliding-chunk geometry invariants


@given(
    lengths=st.lists(st.integers(0, 400), min_size=1, max_size=12),
)
@settings(**_SETTINGS)
def test_chunk_sliding_geometry(spark, tmp_path_factory, lengths):
    """For ARBITRARY document lengths (including empty), the chunk grid
    must tile the text: starts at stride intervals from 0, every char
    covered, every chunk non-empty and within bounds, zero chunks for
    empty text."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        doc_chunk_sliding,
    )

    sf_dir = str(tmp_path_factory.mktemp("chunks") / "sf")
    rows = [(i, "x" * n, "en", "t", n) for i, n in enumerate(lengths)]
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = doc_chunk_sliding(spark, sf_dir).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r.chunk_id)
        if n == 0:
            assert chunks == []
            continue
        import math
        assert len(chunks) == math.ceil(n / CHUNK_STRIDE)
        for j, c in enumerate(chunks):
            assert c.chunk_start == j * CHUNK_STRIDE
            assert 1 <= c.chunk_len <= CHUNK_SIZE
            assert c.chunk_start + c.chunk_len <= n
        # full coverage: consecutive starts differ by stride < size
        assert chunks[-1].chunk_start + chunks[-1].chunk_len == n


# ---------------------------- binary-quantization packing invariants
_vec64 = st.lists(
    st.floats(min_value=-2.0, max_value=2.0,
              allow_nan=False, allow_infinity=False),
    min_size=64, max_size=64,
)


@given(va=_vec64, vb=_vec64)
@settings(**_SETTINGS)
def test_bq_pack_hamming_equals_sign_disagreements(spark, va, vb):
    """The packed-word popcount(xor) Hamming must equal the number of
    dimensions whose sign bits (> 0) disagree — for ARBITRARY vectors,
    including zeros and equal components; and self-distance is 0."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.similarity import (
        BQ_WORDS,
        _BQ_HAMMING,
        _bq_pack_expr,
    )

    df = spark.createDataFrame(
        [(va, vb)], "qe ARRAY<DOUBLE>, ce ARRAY<DOUBLE>"
    ).select(
        *[F.expr(_bq_pack_expr("qe", w)).alias(f"qw{w}")
          for w in range(BQ_WORDS)],
        *[F.expr(_bq_pack_expr("ce", w)).alias(f"cw{w}")
          for w in range(BQ_WORDS)],
        *[F.expr(_bq_pack_expr("qe", w)).alias(f"sw{w}")
          for w in range(BQ_WORDS)],
    )
    got = df.select(
        F.expr(f"CAST({_BQ_HAMMING} AS BIGINT)").alias("h"),
        F.expr("CAST(" + " + ".join(
            f"bit_count(qw{w} ^ sw{w})" for w in range(BQ_WORDS)
        ) + " AS BIGINT)").alias("self_h"),
    ).collect()[0]
    expected = sum((a > 0) != (b > 0) for a, b in zip(va, vb))
    assert got["h"] == expected
    assert got["self_h"] == 0


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=37),
                   min_size=1, max_size=5),
    tiles=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_integer_band_formula_equals_spark_ntile(spark, sizes, tiles):
    """The engine-robustness rewrite (w_customer_value_bands /
    w_order_stats) replaced ntile() with the SQL-standard formula as
    integer CASE math. Property: for arbitrary partition sizes and tile
    counts, the formula reproduces Spark's own ntile() bit-for-bit —
    the rewrite changed the oracle's engine-dependence, not the
    semantics."""
    rows = [(g, i) for g, n in enumerate(sizes) for i in range(n)]
    df = spark.createDataFrame(rows, "g INT, i INT")
    got = df.selectExpr(
        "g", "i",
        f"ntile({tiles}) OVER (PARTITION BY g ORDER BY i) AS want",
        "CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY i) AS BIGINT) AS rn",
        "COUNT(*) OVER (PARTITION BY g) AS n",
    ).selectExpr(
        "want",
        f"CAST(CASE WHEN rn <= (n % {tiles}) * (n DIV {tiles} + 1) "
        f"THEN (rn - 1) DIV (n DIV {tiles} + 1) + 1 "
        f"ELSE (n % {tiles}) + (rn - 1 - (n % {tiles}) * (n DIV {tiles} + 1)) "
        f"DIV (n DIV {tiles}) + 1 END AS INT) AS got",
    ).collect()
    assert all(r.want == r.got for r in got)


# ---------------------------------------------------------------------------
# House middle-row rank selection (the engine-proof percentile pattern
# used by orders_median_by_priority / ev_late_arrival_audit /
# join_key_skew_profile / ev_rolling_median_7d): the value at
# row_number == ceil(q·n) in ascending order IS the inverted-CDF
# q-quantile. Pin the integer formulas to numpy's definition so any
# future re-derivation drift fails here, not at the driver.
@given(
    vals=st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=400),
    q_pct=st.sampled_from([50, 95, 99]),
)
@settings(max_examples=200, deadline=None)
def test_rank_selection_is_inverted_cdf(vals, q_pct):
    import numpy as np

    n = len(vals)
    s = sorted(vals)
    # the integer-only rank formulas as written in the SQL
    if q_pct == 50:
        rn = (n + 1) // 2            # lower median: ceil(0.5*n)
    else:
        rn = (q_pct * n + 99) // 100  # ceil(q_pct*n/100)
    got = s[rn - 1]
    want = np.percentile(np.array(vals), q_pct, method="inverted_cdf")
    assert got == want


@given(
    vals=st.lists(st.integers(0, 10**6), min_size=1, max_size=300),
)
@settings(max_examples=100, deadline=None)
def test_rank_selection_formulas_are_valid_rows(vals):
    """Every grid rank lands on a real 1..n row for any n ≥ 1 (the
    guard that makes the filter `rn = <formula>` total, so a group can
    never silently vanish from a percentile report)."""
    n = len(vals)
    for f in ((n + 1) // 2, (95 * n + 99) // 100, (99 * n + 99) // 100):
        assert 1 <= f <= n


@given(
    syms=st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]),
                  min_size=1, max_size=12),
    pair=st.tuples(st.sampled_from(["a", "b", "c", "ab"]),
                   st.sampled_from(["a", "b", "c", "bc"])),
)
@settings(max_examples=200, deadline=None)
def test_bpe_fold_equals_greedy_scan(syms, pair):
    """doc_bpe_train's merge fold (text.py) claims a plain
    last-element check IS greedy left-to-right BPE merging — no
    'just-merged' flag needed, because a merged token can only equal
    the pair's left symbol if the right symbol were empty. Verify the
    fold against an index-walking greedy reference on arbitrary
    symbol sequences, including multi-char symbols and overlapping
    pairs (aaa + (a,a) → [aa, a])."""
    a, b = pair
    merged = a + b

    def greedy(s):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    def fold(s):
        acc = []
        for x in s:
            if acc and acc[-1] == a and x == b:
                acc[-1] = merged
            else:
                acc.append(x)
        return acc

    assert fold(syms) == greedy(syms)


# ---------------- predicate DML (DELETE/UPDATE) ≡ relational reference


@given(
    base=st.lists(st.tuples(st.integers(0, 60), st.integers(-50, 50)),
                  min_size=1, max_size=40, unique_by=lambda t: t[0]),
    threshold=st.integers(-60, 60),
    add=st.integers(-5, 5),
    parts=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_predicate_dml_equals_relational(spark, tmp_path_factory,
                                         base, threshold, add, parts):
    """For arbitrary tables, layouts, and predicates: DELETE reads
    back exactly the anti-filter, UPDATE exactly the CASE projection,
    with all pre-DML snapshots untouched — the touched-file rewrite is
    physical, never semantic. Also pins the no-match no-commit rule."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = str(tmp_path_factory.mktemp("dmlprop") / "tbl")
    bdf = spark.createDataFrame(base, "k INT, v INT") \
        .repartitionByRange(parts, "k")
    versioned.write_version(bdf, path)

    stats = versioned.delete_where(spark, path, f"v < {threshold}")
    want_del = sorted((k, v) for k, v in base if not (v < threshold))
    if stats["version"] is None:  # nothing matched → no commit
        assert want_del == sorted(base)
        assert versioned.versions(path) == [0]
    else:
        got = sorted((r.k, r.v) for r in
                     versioned.read_version(spark, path).collect())
        assert got == want_del

    ustats = versioned.update_where(
        spark, path, {"v": f"v + {add}"}, f"k % 3 = 0"
    )
    want_upd = sorted(
        (k, v + add if k % 3 == 0 else v) for k, v in want_del
    )
    if ustats["version"] is None:
        assert not any(k % 3 == 0 for k, _ in want_del)
    else:
        got = sorted((r.k, r.v) for r in
                     versioned.read_version(spark, path).collect())
        assert got == want_upd
    # version 0 is immutable through both statements
    assert sorted((r.k, r.v) for r in
                  versioned.read_version(spark, path, 0).collect()) \
        == sorted(base)


# ---------------------------------------------------------------------------
# Mann-Whitney U histogram derivation (stat_orders_mannwhitney): the
# ×2-grid U computed from per-distinct-value group counts + a
# cumulative count must equal the brute-force pairwise definition
# 2·#{(a,b): a>b} + #{(a,b): a=b} for ANY data — pin the derivation so
# a future re-derivation drift fails here, not at the driver.
@given(
    a=st.lists(st.integers(0, 30), min_size=1, max_size=60),
    b=st.lists(st.integers(0, 30), min_size=1, max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_mwu_histogram_formula_equals_pairwise(a, b):
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    # the SQL shape: per distinct v ascending, 2·na(v)·cumB(<v) + na·nb
    u_x2_hist, cumb = 0, 0
    for v in sorted(set(ca) | set(cb)):
        u_x2_hist += 2 * ca[v] * cumb + ca[v] * cb[v]
        cumb += cb[v]
    u_x2_brute = sum(2 if x > y else (1 if x == y else 0)
                     for x in a for y in b)
    assert u_x2_hist == u_x2_brute
    # and the tie term the variance uses is Σ(t³−t) over pooled counts
    tie = sum((ca[v] + cb[v]) ** 3 - (ca[v] + cb[v])
              for v in set(ca) | set(cb))
    assert tie >= 0


# Markov removal-effect fold (ev_attribution_markov): the synchronized
# integer power iteration must (a) conserve-or-lose mass (DIV only
# truncates, never creates), (b) absorb everything into {conv, null}
# given enough steps on an absorbing chain, and (c) drop conversion
# when a channel is removed — on arbitrary small chains.
@given(
    seed=st.integers(0, 10**6),
)
@settings(max_examples=50, deadline=None)
def test_markov_fold_invariants(seed):
    import random

    rng = random.Random(seed)
    # random 7-state ppm chain: states 1..5 transient, 6/7 absorbing
    t = [[0] * 7 for _ in range(7)]
    for i in range(5):
        cols = rng.sample(range(7), rng.randint(1, 4))
        w = [rng.randint(1, 10) for _ in cols]
        tot = sum(w)
        for c, x in zip(cols, w):
            t[i][c] = x * 1_000_000 // tot
    t[5][5] = t[6][6] = 1_000_000

    def fold(mat, steps=60):
        m = [10**9] + [0] * 6
        for _ in range(steps):
            m = [sum(m[i] * mat[i][j] for i in range(7)) // 1_000_000
                 for j in range(7)]
        return m

    m = fold(t)
    assert sum(m) <= 10**9                      # truncation only loses
    base_conv = m[5]
    # remove channel 2 (state index 1): edges into it go to null
    r = [row[:] for row in t]
    for i in range(7):
        r[i][6] += r[i][1]
        r[i][1] = 0
    r[1] = [0] * 7
    r[1][6] = 1_000_000
    removed_conv = fold(r)[5]
    assert removed_conv <= base_conv            # removal never helps


@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(["delete", "update"]),
            st.integers(2, 9),       # predicate modulus
            st.integers(0, 8),       # predicate residue
            # optional range restriction: a predicate that touches only
            # SOME files moves their vectors to a new sidecar while the
            # old one stays current for the rest — the stale-sidecar
            # state the r8 data-loss bug needed (layout luck no longer
            # decides whether the property can see it)
            st.sampled_from([None, 40, 80]),
        ),
        min_size=1, max_size=4,
    )
)
@settings(**dict(_SETTINGS, max_examples=12))
def test_mor_equals_cow_for_arbitrary_dml(spark, tmp_path_factory, steps):
    """Deletion vectors are a PHYSICAL rewrite, never a semantic one:
    for an ARBITRARY sequence of predicate deletes/updates, the
    merge-on-read table must stay row-identical to the copy-on-write
    twin at EVERY version, and metadata count_rows must equal the real
    read count everywhere (the r8 stale-sidecar bugs broke both)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    tmp = tmp_path_factory.mktemp("morprop")
    base = spark.range(120).selectExpr(
        "CAST(id AS INT) AS k", "CONCAT('v', id) AS v"
    ).repartitionByRange(3, "k")
    cow, mor = str(tmp / "cow"), str(tmp / "mor")
    versioned.write_version(base, cow)
    versioned.write_version(base, mor)
    versioned.set_table_property(mor, "dv.enabled", "true")
    for op, m, r, cap in steps:
        pred = f"k % {m} = {r % m}"
        if cap is not None:
            pred = f"k < {cap} AND {pred}"
        if op == "delete":
            versioned.delete_where(spark, cow, pred)
            versioned.delete_where(spark, mor, pred)
        else:
            versioned.update_where(spark, cow, {"v": "CONCAT(v, '!')"},
                                   pred)
            versioned.update_where(spark, mor, {"v": "CONCAT(v, '!')"},
                                   pred)

    def _rows(path, version=None):
        return sorted(
            tuple(r) for r in
            versioned.read_version(spark, path, version).collect()
        )

    # COW commits skip no-match predicates, MOR too — version lists
    # must stay in lockstep (mor has the +1 property commit)
    vs_cow = versioned.versions(cow)
    vs_mor = versioned.versions(mor)
    assert len(vs_mor) == len(vs_cow) + 1
    for i, vc in enumerate(vs_cow):
        vm = vs_mor[i + 1] if i else vs_mor[0]
        rows_cow, rows_mor = _rows(cow, vc), _rows(mor, vm)
        assert rows_cow == rows_mor, (vc, vm)
        assert versioned.count_rows(spark, cow, vc) == len(rows_cow), vc
        assert versioned.count_rows(spark, mor, vm) == len(rows_mor), vm
    # current vectors hold each (file, pos) exactly once — the
    # carry-forward invariant every metadata subtraction relies on
    import os

    m_tip = versioned._load_manifest(mor, vs_mor[-1])
    for f, sidecars in versioned._dv_map(m_tip).items():
        absf = os.path.normpath(versioned._abs_file(mor, f))
        pos = [
            r["pos"]
            for s in sidecars
            for r in spark.read.parquet(
                versioned._abs_file(mor, s)).collect()
            if os.path.normpath(versioned._uri_to_path(r["file"])) == absf
        ]
        assert len(pos) == len(set(pos)), f


# --- manifest delta-log roundtrip --------------------------------------
# encode→apply must be the identity for ANY (parent, child) manifest
# pair — the delta log's correctness reduces entirely to this property
# (readers materialize by replaying deltas). Shapes cover what real
# manifests hold: scalars, dicts of scalars/lists/None (col_stats, dv,
# properties), and string lists (files, cdf, retired_physical).

_scalar = st.one_of(
    st.integers(-10, 10), st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=6), st.booleans(), st.none(),
)
_value = st.one_of(
    _scalar,
    st.lists(st.text(min_size=1, max_size=6), max_size=6),
    st.dictionaries(st.text(min_size=1, max_size=4),
                    st.one_of(_scalar,
                              st.lists(st.integers(0, 9), max_size=3)),
                    max_size=5),
)
_manifest_body = st.dictionaries(
    st.text(min_size=1, max_size=6).filter(lambda k: not k.startswith("~")),
    _value, max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(parent_body=_manifest_body, child_body=_manifest_body,
       depth=st.integers(1, 9))
def test_manifest_delta_roundtrip_hypothesis(parent_body, child_body,
                                             depth):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    parent = dict(parent_body, version=4)
    child = dict(child_body, version=5)
    delta = versioned._encode_manifest_delta(parent, child, depth)
    assert versioned._apply_manifest_delta(parent, delta) == child
    # and the record is loadable metadata: round-trips through JSON
    import json as _json

    delta2 = _json.loads(_json.dumps(delta))
    applied = versioned._apply_manifest_delta(
        _json.loads(_json.dumps(parent)), delta2)
    assert applied == _json.loads(_json.dumps(child))


# ------------------------------------------------------------------
# DNF filter-option grammar: for ARBITRARY expressions drawn from the
# grammar (simple ops, IN, BETWEEN, AND-groups, OR of optionally
# parenthesized groups), the DS `.option("filter", e)` relation must
# equal `read_version().filter(e)` — the grammar is a subset of Spark
# SQL, so the SAME string drives both sides. This pins both layers at
# once: the file-prune may only ever drop files with no matching rows,
# and the row-exact Arrow mask must implement SQL comparison
# semantics (NULL never matches) for every shape the parser accepts.
_simple = st.one_of(
    st.tuples(st.just("k"), st.sampled_from(["=", "!=", "<", "<=",
                                             ">", ">="]),
              st.integers(-5, 1005).map(str)),
    st.tuples(st.just("v"), st.sampled_from(["=", "!="]),
              st.integers(0, 1005).map(lambda i: f"'v{i}'")),
)


def _render_conjunct(c):
    kind = c[0]
    if kind == "simple":
        col, op, lit = c[1]
        return f"{col} {op} {lit}"
    if kind == "in":
        return f"k IN ({', '.join(str(x) for x in c[1])})"
    lo, hi = c[1]
    return f"k BETWEEN {lo} AND {hi}"


_conjunct = st.one_of(
    st.tuples(st.just("simple"), _simple),
    st.tuples(st.just("in"),
              st.lists(st.integers(-5, 1005), min_size=1, max_size=4)),
    st.tuples(st.just("between"),
              st.tuples(st.integers(-5, 500), st.integers(400, 1005))),
)

_disjunct = st.lists(_conjunct, min_size=1, max_size=3)
_expr = st.lists(_disjunct, min_size=1, max_size=3)

_GRAMMAR_TABLES: dict = {}


def _grammar_table(spark, tmp_path_factory=None):
    import tempfile

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        VersionedDataSource,
    )

    key = spark.sparkContext.applicationId
    if key not in _GRAMMAR_TABLES:
        spark.dataSource.register(VersionedDataSource)
        path = tempfile.mkdtemp(prefix="dnf_grammar_")
        df = spark.range(1000).selectExpr(
            "CAST(id AS INT) AS k",
            # NULLs exercise the never-matches semantics
            "IF(id % 97 = 13, CAST(NULL AS STRING), CONCAT('v', id)) "
            "AS v",
        ).repartitionByRange(8, "k")
        versioned.write_version(df, path)
        _GRAMMAR_TABLES[key] = path
    return _GRAMMAR_TABLES[key]


@given(tree=_expr)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dnf_filter_option_equals_sql_filter(spark, tree):
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = _grammar_table(spark)
    disjuncts = []
    for i, conj in enumerate(tree):
        body = " AND ".join(_render_conjunct(c) for c in conj)
        # parenthesize every other disjunct to exercise the stripper
        disjuncts.append(f"({body})" if i % 2 == 0 else body)
    expr = " OR ".join(disjuncts)

    got = sorted(
        tuple(r) for r in
        spark.read.format("versioned").option("path", path)
        .option("filter", expr).load().collect()
    )
    want = sorted(
        tuple(r) for r in
        versioned.read_version(spark, path).filter(expr).collect()
    )
    assert got == want, expr
