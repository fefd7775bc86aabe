"""Structured Streaming twins of the batch operators.

Each builder takes an unbounded DataFrame (readStream source) and
returns the transformed streaming DataFrame; callers attach the sink
(`writeStream` + checkpoint). Watermarks bound state so these run
indefinitely on a real cluster:

- windowed_event_counts ≡ operators/events.py::ev_tumbling_window
- dedup_events          ≡ operators/events.py::ev_dedup_latest (first-wins
  under streaming semantics — state eviction needs the watermark)
- streaming_puzzle_pipeline ≡ the reference's whole transform job as one
  continuous query: the file source + checkpoint subsumes the manual
  processed-files ledger (reference: etl/transform.py:24-34,91-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.chess import (
    pgn_block,
    puzzle_pipeline,
)


def windowed_event_counts(events: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data bound.

    State is dropped once the watermark passes a window's end — memory
    is O(open windows × event types) regardless of stream length.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_counts(events: DataFrame,
                          gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via Spark's NATIVE session_window
    aggregation — the built-in twin of sessionize_events_stream's
    custom applyInPandasWithState operator (and of the batch
    ev_session_window entry, same 30-min gap semantics). The engine
    merges overlapping per-event windows into sessions and, in append
    mode, emits a session only once the watermark passes its close —
    state is O(open sessions), evicted by watermark, no Python in the
    loop. Use THIS when gap sessionization is all you need; the
    custom-state twin exists for logic session_window can't express
    (per-session funnels, ordered payload digests)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))"
            ).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids. The
    watermark bounds the dedup state — ids older than it are evicted."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def sessionize_events_stream(events: DataFrame,
                             gap_seconds: int = 1800,
                             watermark: str = "2 hours") -> DataFrame:
    """Stateful gap sessionization — the streaming twin of
    operators/events.py::ev_sessionize, as a custom stateful operator
    (``applyInPandasWithState``: Spark has no built-in streaming
    session window over arbitrary per-key gap logic with this output).

    Per user: events within ``gap_seconds`` of each other belong to one
    session. A session row (user_id, session_start, session_end,
    n_events) is emitted when it CLOSES — either a later event opens a
    new session, or the event-time timeout fires (watermark passed
    last_event + gap). State per key is three longs; the watermark
    bounds both state size and timeout firing, so this runs unbounded.
    """
    import pandas as pd  # arrow-batched; not in the per-row hot path
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_seconds * 1000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(end_ms, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        ts_ms: list[int] = []
        for pdf in pdf_iter:
            ts_ms.extend(int(t.value // 1_000_000) for t in pdf["ts"])
        if not ts_ms:
            return
        ts_ms.sort()
        if state.exists:
            start_ms, end_ms, n = state.get
        else:
            start_ms, end_ms, n = ts_ms[0], ts_ms[0], 0
        closed = []
        for t in ts_ms:
            if t - end_ms > gap_ms and n > 0:
                closed.append((start_ms, end_ms, n))
                start_ms, n = t, 0
            end_ms = max(end_ms, t)
            n += 1
        state.update((start_ms, end_ms, n))
        state.setTimeoutTimestamp(end_ms + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="ms") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id LONG, session_start TIMESTAMP, "
                             "session_end TIMESTAMP, n_events LONG",
            stateStructType="start_ms LONG, end_ms LONG, n LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def funnel_events_stream(events: DataFrame,
                         stages: tuple[str, ...] = ("view", "click", "purchase"),
                         watermark: str = "2 hours",
                         ttl_ms: int = 24 * 3600 * 1000,
                         buffer_cap: int = 64) -> DataFrame:
    """Streaming ordered funnel — twin of operators/events.py::ev_funnel,
    with BUFFERED REPLAY and an event-time state TTL.

    Per user the state holds a bounded sorted buffer of candidate
    timestamps per stage (earliest ``buffer_cap`` each). Every batch the
    monotone chain — stage N's earliest timestamp ≥ stage N-1's counted
    one — is recomputed from the merged buffers, so a later-stage event
    that ARRIVES before its prior stage has completed is replayed once
    the prior stage lands (the r1 limitation). One row emits the moment
    the final stage completes; the state then flips to a CONVERTED
    TOMBSTONE (done=1, buffers dropped) instead of being removed, so a
    late replay or continued activity for an already-converted user
    can't re-open the funnel and emit a duplicate row — matching the
    batch twin's one-row-per-user semantics. Tombstones and abandoned
    funnels alike are evicted by the event-time timeout ``ttl_ms`` past
    the watermark (re-armed while the key stays active), so state stays
    bounded at 100 TB; a duplicate is only possible if the SAME user
    re-converts more than ``ttl_ms`` after the tombstone evicted —
    the documented staleness/dedup trade every TTL'd stream makes.

    ``buffer_cap`` miss mode: each stage keeps only its EARLIEST
    ``buffer_cap`` timestamps, so a conversion whose only valid
    later-stage candidates were evicted (more than ``buffer_cap``
    stage-N events all earlier than the stage N-1 completion) is
    missed. With the default cap of 64 that needs a user emitting 64+
    out-of-order same-stage events inside the watermark — raise
    ``buffer_cap`` if the domain makes that plausible; cost is
    O(stages × cap) longs of state per in-flight user.

    Upgrade note: the r3 tombstone added a ``done`` field at the head
    of the state schema, so a checkpoint written by the pre-tombstone
    build cannot be resumed (Spark state-store schemas are fixed per
    checkpoint) — restart such a job with a fresh checkpoint, the
    standard Structured Streaming state-evolution constraint.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(stages)
    out_fields = ", ".join(f"ts_{s} TIMESTAMP" for s in stages)
    state_fields = "done LONG, " + ", ".join(f"s{i} ARRAY<LONG>" for i in range(n))

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        done = False
        bufs = [[] for _ in range(n)]
        if state.exists:
            stored = state.get
            done = bool(stored[0])
            if not done:
                bufs = [list(b) if b is not None else [] for b in stored[1:]]
        latest = 0
        for pdf in pdf_iter:
            for t, et in zip(pdf["ts"], pdf["event_type"]):
                ms = int(t.value // 1_000_000)
                latest = max(latest, ms)
                if not done and et in stages:
                    bufs[stages.index(et)].append(ms)
        wm = state.getCurrentWatermarkMs()
        if done:
            # Tombstone: swallow the activity, keep the tombstone alive
            # ttl_ms past the newest signal so replays stay deduped.
            state.setTimeoutTimestamp(max(wm, latest) + ttl_ms)
            return
        # Earliest candidates are the only ones the chain can use: keep
        # each buffer sorted, deduped, and capped.
        bufs = [sorted(set(b))[:buffer_cap] for b in bufs]
        chain: list[int | None] = [None] * n
        for i in range(n):
            floor = 0 if i == 0 else chain[i - 1]
            if i > 0 and floor is None:
                break
            cands = [t for t in bufs[i] if i == 0 or t >= floor]
            if not cands:
                break
            chain[i] = cands[0]
        if chain[-1] is not None:
            state.update((1, *[[] for _ in range(n)]))
            state.setTimeoutTimestamp(max(wm, latest) + ttl_ms)
            yield pd.DataFrame({
                "user_id": [user_id],
                **{f"ts_{s}": [pd.Timestamp(chain[i], unit="ms")]
                   for i, s in enumerate(stages)},
            })
        else:
            state.update((0, *bufs))
            buf_latest = max((b[-1] for b in bufs if b), default=0)
            state.setTimeoutTimestamp(max(wm, latest, buf_latest) + ttl_ms)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=f"user_id LONG, {out_fields}",
            stateStructType=state_fields,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def attribute_purchases_stream(views: DataFrame,
                               purchases: DataFrame,
                               attribution_window: str = "1 hour",
                               watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every view
    by the same user within the preceding ``attribution_window`` — the
    streaming twin of the batch as-of join (operators/events.py::
    ev_asof_view; streaming state can't keep only-the-latest across
    triggers, so the interval join emits all in-window view↔purchase
    pairs and a downstream agg picks the winner).

    Both sides carry a watermark and the join condition bounds event
    time on BOTH ends, so Spark evicts buffered rows once the watermark
    passes — state is O(users active inside the window), not O(stream).
    The join keys on user_id, so both sides hash-partition on user_id:
    one shuffle each, co-located thereafter.
    """
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts"),
                 F.col("event_id").alias("view_id")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("value").alias("amount")))
    cond = (
        (v.v_user == p.p_user)
        & (v.view_ts <= p.purchase_ts)
        & (v.view_ts >= p.purchase_ts - F.expr(f"INTERVAL {attribution_window}"))
    )
    return p.join(v, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id", "purchase_ts", "view_id", "view_ts", "amount",
    )


def apply_cdc_stream(changes: DataFrame,
                     base_path: str,
                     key: str,
                     delete_col: str = "is_delete",
                     checkpoint: str | None = None):
    """Continuous CDC apply: each micro-batch of change rows (upserts +
    deletes) MERGEs into the parquet snapshot at ``base_path`` using the
    same anti-join shape as the batch operator (operators/etl.py::
    cdc_merge_orders). foreachBatch bridges the streaming source to the
    batch writer; the micro-batch is deduped to its latest row per key
    first (a batch can carry several versions of one key).

    Snapshot swap is write-new-then-replace: the batch result lands in
    ``{base_path}__next`` and atomically renames over the base, so a
    crash mid-write never leaves readers a half-merged table. On a real
    lakehouse this exact merge is `MERGE INTO` on a table format with
    transactional commit (Delta/Iceberg); plain parquet here keeps the
    container dependency-free while the plan shape stays identical.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    from pyspark.sql.window import Window as W

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        latest = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(key).orderBy(F.col("ts").desc())
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        base = spark.read.parquet(base_path)
        survivors = base.join(latest.select(key), key, "left_anti")
        upserts = latest.filter(~F.col(delete_col)).drop(delete_col)
        merged = survivors.unionByName(upserts.select(*base.columns))
        tmp = f"{base_path}__next"
        merged.write.mode("overwrite").parquet(tmp)
        fs_path = spark._jvm.org.apache.hadoop.fs.Path(base_path)
        fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(fs_path, True)
        fs.rename(spark._jvm.org.apache.hadoop.fs.Path(tmp), fs_path)

    writer = changes.writeStream.foreachBatch(merge_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def apply_cdc_versioned_stream(changes: DataFrame,
                               table_path: str,
                               key: str,
                               delete_col: str = "is_delete",
                               checkpoint: str | None = None):
    """Continuous CDC apply with TIME TRAVEL: each micro-batch MERGEs
    into the latest committed snapshot and publishes the result as a
    NEW immutable version (versioned.py's staged-write → atomic
    manifest protocol) instead of overwriting in place.

    This upgrades ``apply_cdc_stream``'s swap semantics to the
    lakehouse contract: a reader pinned to version N keeps a consistent
    snapshot while N+1..M commit underneath it, every historical state
    stays queryable (audit/rollback), and a crash between the data
    write and the manifest publish leaves the table at version N with
    no partial state visible. Idempotent replay comes from the
    streaming checkpoint (a re-delivered batch re-merges onto whatever
    version is current — the MERGE is idempotent per key-version);
    retention at 100 TB is a manifest-driven vacuum of versions older
    than the pin horizon. An UNSEEDED table bootstraps itself: the
    first micro-batch's upserts commit as version 0 (missing base ≡
    empty base), so the stream can own the table from birth. Returns
    the StreamingQuery.
    """
    from pyspark.sql.window import Window as W

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        latest = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(key).orderBy(F.col("ts").desc())
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        upserts = latest.filter(~F.col(delete_col)).drop(delete_col)
        if not versioned.versions(table_path):
            versioned.write_version(upserts, table_path)
            return
        base = versioned.read_version(spark, table_path)
        survivors = base.join(latest.select(key), key, "left_anti")
        merged = survivors.unionByName(upserts.select(*base.columns))
        versioned.write_version(merged, table_path)

    writer = changes.writeStream.foreachBatch(merge_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def streaming_puzzle_pipeline(games: DataFrame) -> DataFrame:
    """The reference's full ETL as one continuous query: typed ND-JSON
    stream → mate filter → nested projection → PGN text column.
    Attach ``.writeStream.format('text')`` + checkpoint; the source's
    file tracking replaces the hand-rolled ledger with exactly-once
    semantics. (Unnumbered blocks: a global [Game N] counter is
    meaningless on an unbounded stream.)
    """
    return puzzle_pipeline(games).select(pgn_block(None).alias("pgn"))


def cms_sketch_stream(events: DataFrame,
                      window: str = "1 hour",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming Count-Min Sketch — twin of events.py::ev_cms_heavy_hitters.

    Per tumbling window, the sketch IS a windowed aggregation: each
    event fans out to its D (row, bucket) cells and the counts roll up
    with ordinary map-side-combined streaming state. State is bounded
    by O(open windows × D × W) cells — independent of user cardinality,
    which is the whole point of sketching a 100 TB stream whose key
    space won't fit in state. Querying an estimate is a batch-side
    min-over-rows lookup against the sink table (same md5 grid as the
    batch operator, so estimates are reproducible engine-wide).
    """
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.events import (
        CMS_D,
        _cms_bucket_spark,
    )

    cells = events.select(
        "ts",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_bucket_spark(d)).alias("bucket"),
                )
                for d in range(CMS_D)
            ])
        ).alias("h"),
    ).select("ts", "h.d", "h.bucket")
    return (
        cells.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("bucket_start"), "d", "bucket", "cnt")
    )


def dau_sketch_stream(events: DataFrame,
                      window: str = "1 day",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming HLL++ daily-active-users sketch — twin of
    events.py::ev_daily_active_approx.

    ``approx_count_distinct`` over a tumbling event-time window: the
    per-window state is ONE fixed-size HLL sketch (2^p registers,
    ~kilobytes at rsd=0.02) regardless of user cardinality — the
     100 TB answer to streaming COUNT(DISTINCT), whose exact form
    needs O(users) state per window. Sketch-merge is a register-wise
    max — associative, commutative, and idempotent on identical
    hashes — so the estimate is INDEPENDENT of micro-batch slicing
    and equals the batch operator's estimate on the same rows
    bit-for-bit (asserted in tests). The watermark drops window state
    once closed.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("dau_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("win.start").alias("day"), "dau_approx", "n_events")
    )


def percentiles_sketch_stream(events: DataFrame,
                              window: str = "1 hour",
                              watermark: str = "2 hours",
                              accuracy: int = 10000) -> DataFrame:
    """Streaming quantile sketch — twin of events.py::ev_percentiles_approx.

    ``approx_percentile`` (Greenwald-Khanna summary) per tumbling
    window and event type: state per group is one bounded summary of
    O(accuracy) entries regardless of event volume — the streaming
    COUNT/ORDER-BY-free answer to percentiles, where the exact form
    would buffer every value. Unlike the HLL twin, GK summary merge is
    only rank-error-bounded (≤ n/accuracy), not bit-invariant to
    micro-batch slicing in general; for n ≤ accuracy the summary holds
    every value, so estimates equal the batch operator's exactly
    (asserted in tests at that regime, the honest claim).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.expr(
                "approx_percentile(CAST(value AS DOUBLE), "
                f"array(0.5, 0.9, 0.99), {accuracy})"
            ).alias("ap"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            F.expr("ap[0]").alias("p50"),
            F.expr("ap[1]").alias("p90"),
            F.expr("ap[2]").alias("p99"),
            "n",
        )
    )


def bloom_bits_stream(events: DataFrame,
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming Bloom-filter bit set — twin of
    events.py::ev_bloom_new_users's training phase.

    Each user fans out to its K bit positions; the running bit set is a
    streaming DISTINCT over positions — at most BLOOM_M rows of state
    total, the fixed-memory property that makes a Bloom filter the
    right membership structure for an unbounded stream. Downstream, a
    batch join against the sink's bit table answers "seen before?"
    with the batch operator's exact semantics (same md5 grid).
    """
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.events import (
        BLOOM_K,
        _bloom_bit_spark,
    )

    return (
        events.withWatermark("ts", watermark)
        .select(
            F.explode(
                F.array(*[F.expr(_bloom_bit_spark(k)) for k in range(BLOOM_K)])
            ).alias("bit")
        )
        .dropDuplicates(["bit"])
    )


def wau_hll_union_stream(events: DataFrame,
                         window: str = "7 days",
                         watermark: str = "2 hours",
                         lgk: int = 14) -> DataFrame:
    """Streaming Datasketches-HLL weekly-active-users — twin of
    events.py::ev_hll_union_weekly.

    ``hll_sketch_agg`` per tumbling week window: every micro-batch
    folds its users into the window's single fixed-size sketch
    (2^lgk registers), and because Datasketches HLL union is a
    register-wise max the estimate is independent of micro-batch
    slicing — it equals the batch ``hll_sketch_agg`` over the same
    rows bit-for-bit (asserted in tests). This is the stream side of
    the mergeable-sketch contract: the BATCH job can union the very
    same day-partial sketches into weeks, and the STREAM maintains
    the identical sketch incrementally — one data structure, both
    topologies.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(user_id, {lgk}))"
            ).alias("wau_est"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("win.start").alias("week"), "wau_est", "n_events")
    )


def quarantine_stream(events: DataFrame, rules: dict[str, str],
                      path: str, checkpoint: str):
    """Streaming dead-letter split — the continuous twin of
    sinks.write_quarantine: every micro-batch is routed good/bad in
    one pass with the same violated-rule audit column. Each batch
    lands under its OWN ``_epoch=<id>`` partitions via dynamic
    partition overwrite, so a micro-batch replayed after a crash
    overwrites itself instead of appending duplicates — foreachBatch
    is at-least-once delivery, and the per-epoch overwrite is what
    upgrades the OUTPUT to exactly-once (the standard idempotent-sink
    recipe); the checkpoint bounds how far the source rewinds."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sinks import write_quarantine

    def _apply(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        write_quarantine(batch_df, rules, path, epoch=epoch)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def append_stream_versioned(changes: DataFrame, table_path: str,
                            checkpoint: str | None = None):
    """Bronze-layer ingest: append each micro-batch as a NEW committed
    version of a versioned table via the Data Source fast-append
    (every version shares all parent files — nothing rewritten, one
    manifest per batch). Downstream consumers read the table as a
    stream (``spark.readStream.format("versioned")``: one micro-batch
    per version) or time-travel any historical state — the medallion
    bronze→silver handoff without a proprietary format. Idempotency
    comes from the streaming checkpoint; the versioned Data Source
    must be registered on the session. Returns the StreamingQuery."""
    def _append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (batch.write.format("versioned").mode("append")
         .option("path", table_path).save())

    writer = changes.writeStream.foreachBatch(_append)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def dedup_ingest_versioned_stream(docs: DataFrame, table_path: str,
                                  content_col: str = "text",
                                  checkpoint: str | None = None):
    """Dedup-on-ingest: each micro-batch of documents is exact-deduped
    (a) against everything already committed to the versioned corpus
    and (b) within itself, and ONLY the genuinely-new rows commit as a
    new version — the streaming twin of the batch ``doc_incr_dedup``
    triage. The corpus side joins payload-free (content hash only,
    functions/hashing.py's engine-portable md5-60), so the per-batch
    cost is one semi-join against the hash projection of the table
    plus an in-batch first-occurrence window; re-delivered batches
    (checkpoint replay) are absorbed naturally because their rows hash
    into the corpus and drop out — the version history stays clean
    instead of double-committing. Empty post-dedup batches commit
    nothing (no empty versions). At 100 TB the hash projection is the
    thing to keep materialized (or bloom-fronted, ev_bloom_new_users)
    between batches. Returns the StreamingQuery."""
    from pyspark.sql.window import Window as W

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import stable_hash64

    # NULL content hashes to NULL, and a NULL key neither groups with
    # itself in the window nor matches in the anti-join — NULL-content
    # rows would re-commit on every batch (and on checkpoint replay).
    # stable_hash64 is non-negative (60-bit), so -1 is a collision-free
    # sentinel that makes all NULL contents one dedup group.
    def _h(col):
        return F.coalesce(stable_hash64(F.col(col)), F.lit(-1))

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        hashed = batch.withColumn("_h", _h(content_col))
        firsts = (
            hashed.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("_h").orderBy(*batch.columns)
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        if versioned.versions(table_path):
            corpus_h = (
                versioned.read_version(spark, table_path)
                .select(_h(content_col).alias("_h"))
            )
            firsts = firsts.join(corpus_h, "_h", "left_anti")
        # the dedup plan (corpus-wide hash projection + anti-join) is
        # consumed twice — the emptiness gate and the write; persist so
        # the expensive stage runs once per batch
        fresh = firsts.drop("_h").persist()
        if fresh.isEmpty():
            fresh.unpersist()
            return
        # fast-append via the versioned Data Source (must be registered
        # on the session): the new version SHARES every parent file and
        # adds only the fresh rows — O(batch) per commit, never
        # O(corpus), which is what makes this viable as a continuous
        # ingest path.
        (fresh.write.format("versioned").mode("append")
         .option("path", table_path).save())
        fresh.unpersist()

    writer = docs.writeStream.foreachBatch(dedup_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def sessionize_events_tws_stream(events: DataFrame,
                                 gap_seconds: int = 1800,
                                 watermark: str = "2 hours") -> DataFrame:
    """Gap sessionization on the Spark 4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` (typed state
    objects + explicit timers instead of one state tuple + a single
    timeout), with IDENTICAL semantics to
    :func:`sessionize_events_stream`: a session row is emitted when a
    later event opens a new session or the event-time timer fires past
    last_event + gap (tests assert the two twins emit the same rows).

    Why keep both: applyInPandasWithState is the API real deployments
    run today; transformWithState is where multi-state operators
    (session + per-user counters + TTL'd maps in ONE processor) land
    at scale — this is the migration template. State per key is three
    longs in a ValueState; the watermark bounds state and timers.
    """
    import pandas as pd  # arrow-batched; not in the per-row hot path
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_seconds * 1000

    def _emit(user_id, closed):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="ms")
                                  for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="ms")
                                for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_ms LONG, end_ms LONG, n LONG"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            ts_ms: list[int] = []
            for pdf in rows:
                ts_ms.extend(int(t.value // 1_000_000) for t in pdf["ts"])
            if not ts_ms:
                return
            ts_ms.sort()
            if self._sess.exists():
                start_ms, end_ms, n = self._sess.get()
                # the timer for the previous end is superseded below
                self._handle.deleteTimer(end_ms + gap_ms)
            else:
                start_ms, end_ms, n = ts_ms[0], ts_ms[0], 0
            closed = []
            for t in ts_ms:
                if t - end_ms > gap_ms and n > 0:
                    closed.append((start_ms, end_ms, n))
                    start_ms, n = t, 0
                end_ms = max(end_ms, t)
                n += 1
            self._sess.update((start_ms, end_ms, n))
            self._handle.registerTimer(end_ms + gap_ms)
            if closed:
                yield _emit(user_id, closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (user_id,) = key
            if not self._sess.exists():
                return
            start_ms, end_ms, n = self._sess.get()
            # a superseded timer may still fire; only close the session
            # the expiring timer actually belongs to
            if expiredTimerInfo.getExpiryTimeInMs() < end_ms + gap_ms:
                return
            self._sess.clear()
            yield _emit(user_id, [(start_ms, end_ms, n)])

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType="user_id LONG, session_start TIMESTAMP, "
                             "session_end TIMESTAMP, n_events LONG",
            outputMode="append",
            timeMode="eventTime",
        )
    )


def type_diversity_stream(events: DataFrame,
                          window: str = "1 day",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch ``ev_type_diversity_daily`` entry:
    per-window Simpson diversity (1 − Σp², exact integer ppm) of the
    event-type mix — the mix-shift monitor, continuously.

    Uses Spark's CHAINED stateful windowed aggregations (multiple
    stateful operators, Spark 3.5+): the first agg counts per
    (window, type), the second re-aggregates per window ON the window
    column — both watermark-evicted, so state is O(open windows ×
    types) then O(open windows). Append mode emits each window's final
    diversity exactly once when the watermark closes it."""
    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy(F.window(F.col("win"), window).alias("win2"))
        .agg(
            F.expr("SUM(c)").alias("n_events"),
            F.expr("COUNT(*)").alias("n_types"),
            F.expr("SUM(CAST(c AS DECIMAL(38,0)) * c)").alias("ss"),
            F.expr("MAX(c)").alias("top_c"),
        )
        .selectExpr(
            "win2.start AS day", "n_events", "n_types",
            # DECIMAL(38,0) grid like the batch twin: 1e6·Σc² and
            # n_events² both pass 2⁶³ at ~1e10 events/day.
            "CAST(1000000 - 1000000 * ss "
            "DIV (CAST(n_events AS DECIMAL(38,0)) * n_events) "
            "AS BIGINT) AS simpson_ppm",
            "CAST(1000000 * CAST(top_c AS DECIMAL(38,0)) "
            "DIV n_events AS BIGINT) AS top_share_ppm",
        )
    )


def dau_overlap_stream(events: DataFrame,
                       window: str = "1 day",
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch ``ev_dau_overlap_dod`` entry:
    day-over-day audience Jaccard + retained share, continuously.

    The adjacent-day set intersection is re-expressed as a SELF-UNION
    before any state: each event feeds its own window as side ``a``
    and (ts shifted back one window) the PREVIOUS window as side
    ``b``, so "was the user active on day d AND d+1" becomes two
    flags on ONE (window, user) group — no stream-stream join, just
    Spark's chained stateful windowed aggregations (the
    type_diversity_stream shape): agg 1 dedups users per (window,
    side) with state O(open windows × users-in-flight), agg 2
    re-aggregates per window on the window column.

    WATERMARK: the eviction delay must cover the one-window shift,
    so the effective delay is ``window + watermark`` (26 hours for a
    1-day window with 2h lateness). A shifted row never holds back a
    watermark — Spark derives it from the observed event-time
    maximum, which the unshifted ``a`` copies dominate — so with only
    the lateness delay, day d's window would close ~2h into day d+1
    and every remaining shifted copy of day d+1's events (most of the
    ``b`` side) would be discarded as late, undercounting dau_b /
    n_both / jaccard / retained in any multi-micro-batch run. Widening
    the delay keeps day d open until day d+1 has fully arrived; the
    price is first-agg state of O(2 windows × users) instead of one,
    and emission one window later — inherent to the semantics, since
    day d's overlap cannot be final before day d+1 ends. Append mode
    then emits each day exactly once. ppm math on the DECIMAL(38,0)
    grid; dividends are non-negative, matching the batch
    formulation."""
    cols = [F.col("ts"), F.col("user_id")]
    a = events.select(*cols, F.lit(1).alias("sa"), F.lit(0).alias("sb"))
    b = events.select(
        F.expr(f"ts - INTERVAL {window}").alias("ts"),
        F.col("user_id"),
        F.lit(0).alias("sa"), F.lit(1).alias("sb"),
    )
    per_user = (
        a.unionByName(b)
        # delay = window + lateness: see WATERMARK note above.
        .withWatermark("ts", f"{window} {watermark}")
        .groupBy(F.window("ts", window).alias("win"), "user_id")
        .agg(F.max("sa").alias("ha"), F.max("sb").alias("hb"))
    )
    return (
        per_user.groupBy(F.window(F.col("win"), window).alias("win2"))
        .agg(
            F.expr("SUM(ha)").alias("dau_a"),
            F.expr("SUM(hb)").alias("dau_b"),
            F.expr("SUM(IF(ha = 1 AND hb = 1, 1, 0))").alias("n_both"),
        )
        # both days must exist (the batch entry's inner join): the
        # shifted copy alone creates a phantom day-before-first window
        # (dau_a = 0), and a last day has no successor (dau_b = 0)
        .filter("dau_a > 0 AND dau_b > 0")
        .selectExpr(
            "win2.start AS day",
            "CAST(dau_a AS BIGINT) AS dau_a",
            "CAST(dau_b AS BIGINT) AS dau_b",
            "CAST(n_both AS BIGINT) AS n_both",
            "CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000 "
            "DIV (dau_a + dau_b - n_both) AS BIGINT) AS jaccard_ppm",
            "CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000 "
            "DIV dau_a AS BIGINT) AS retained_ppm",
        )
    )


# -------------------------------------------- materialized-view upkeep

_MV_TXN_APP = "mv_monthly_rollup"


def mv_applied_source_version(mv_path: str) -> int | None:
    """Highest source-table version whose changes a maintained rollup
    has applied (the Delta txnAppId/txnVersion idempotency stamp).
    Served by the versioned layer's ``txn`` ledger, which every commit
    carries forward — ONE manifest load (the latest), O(1) per
    micro-batch regardless of how many commits the MV has accumulated.
    None for a fresh MV."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    return versioned.txn_version(mv_path, _MV_TXN_APP)


def maintain_monthly_rollup(spark, src_path: str, mv_path: str,
                            checkpoint_dir: str,
                            date_col: str = "o_orderdate",
                            value_col: str = "o_totalprice"):
    """Streaming MATERIALIZED-VIEW maintenance — the Delta-MV loop
    users actually run, composed from pieces the engine already owns:
    a ``readStream.format("versioned")`` CHANGE-FEED source feeding a
    ``foreachBatch`` that MERGEs signed deltas into a monthly rollup
    TABLE (itself versioned), exactly once.

    Per micro-batch: CDF rows carry ``_change_type`` — inserts and
    update_postimages count +1/+value, deletes and update_preimages
    −1/−value — aggregated to per-month deltas (one tiny shuffle over
    O(changed months) groups), joined against ONLY the affected months
    of the current rollup, and merged COW: untouched months share
    their files byte-identically, a month whose count reaches 0 is
    deleted (it leaves the view). Exactly-once comes from stamping the
    highest consumed source version on the SAME merge commit (the
    ``txn`` ledger entry for ``_MV_TXN_APP``, Delta's txn stamp; read
    back by :func:`mv_applied_source_version`): every batch is
    first filtered PER-ROW to ``_commit_version > stamp`` before any
    aggregation, so idempotency is per-version, not per-batch. A
    fresh-checkpoint restart after the source has advanced delivers
    ONE availableNow batch mixing already-applied versions with new
    ones; the row filter re-applies only the versions past the stamp —
    a whole-batch skip keyed on max(_commit_version) would double-apply
    every old delta in that mixed batch.

    Incremental by construction: per batch the work is O(changes) +
    O(affected months), never a rebuild — the streaming twin of the
    batch ``agg_incremental_cdf`` entry, equal to the full
    ``GROUP BY date_trunc('month', ...)`` rebuild at every commit (the
    composition test asserts it per-commit). Returns the started
    streaming query; callers await/stop it."""
    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    month = F.date_trunc("month", F.col(date_col)).alias("month")
    sign = ("CASE WHEN _change_type IN ('delete', 'update_preimage') "
            "THEN -1 ELSE 1 END")

    def apply_batch(batch, _bid: int) -> None:
        # Per-version idempotency: drop rows at-or-below the stamp
        # BEFORE aggregating, so a mixed replay batch (fresh
        # checkpoint + advanced source) re-applies only new versions.
        last = mv_applied_source_version(mv_path)
        if last is not None:
            batch = batch.filter(F.col("_commit_version") > last)
        deltas = (
            batch.groupBy(month)
            .agg(
                F.expr(f"SUM(CAST({value_col} AS DECIMAL(18,4)) "
                       f"* ({sign}))").alias("d_sum"),
                F.expr(f"SUM(CAST(({sign}) AS BIGINT))").alias("d_cnt"),
                F.expr("MAX(_commit_version)").alias("hi"),
            )
        ).localCheckpoint()  # pin: consumed twice below
        row = deltas.agg(F.max("hi")).collect()
        if not row or row[0][0] is None:
            return  # fully-applied replay (or empty batch)
        hi = int(row[0][0])
        cur = versioned.read_version(spark, mv_path, stats_hint=False)
        merged = (
            deltas.join(cur, "month", "left")
            .select(
                "month",
                F.expr("CAST(COALESCE(total_sales, 0) + d_sum "
                       "AS DECIMAL(18,4))").alias("total_sales"),
                F.expr("COALESCE(n_orders, 0L) + d_cnt")
                .alias("n_orders"),
            )
            .withColumn("is_delete", F.expr("n_orders = 0"))
        )
        versioned.merge_version_cow(
            spark, mv_path, merged, "month",
            extra_manifest={"txn": {_MV_TXN_APP: hi}},
        )

    if not versioned.versions(mv_path):
        versioned.write_version(
            spark.createDataFrame(
                [], "month TIMESTAMP, total_sales DECIMAL(18,4), "
                    "n_orders LONG"),
            mv_path,
        )
    feed = (
        spark.readStream.format("versioned").option("path", src_path)
        .option("readChangeFeed", "true").load()
    )
    return (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------ streaming corpus curation loop

_CURATE_TXN_APP = "dedup_curation"


def maintain_dedup_corpus(spark, src_path: str, curated_path: str,
                          index_path: str, checkpoint_dir: str,
                          starting_version: int | None = None):
    """Streaming corpus CURATION — the dedup loop run as a stream, the
    streaming twin of the committed-index batch entries
    (doc_incr_dedup / _dedup_index_paths): a
    ``readStream.format("versioned")`` append feed of raw documents
    drives a ``foreachBatch`` that triages each micro-batch against
    the COMMITTED hash index, appends first-seen docs to the curated
    table, and fast-appends their hashes to the index — so the next
    batch (and the next nightly batch job) semi-joins an index that
    already knows them. Recurring cost is O(batch): the corpus text is
    never re-scanned, the index read is the committed table.

    Exactly-once is PER-VERSION, the maintain_monthly_rollup pattern:
    the feed is the CHANGE stream (rows carry ``_commit_version``),
    every batch is first filtered per-row to versions past the stamp
    the index's txn ledger carries (DS writer ``txnAppId``/
    ``txnVersion`` options stamp the SAME commit), and the curated
    table carries its own identical stamp — so a foreachBatch
    re-delivery, a fresh-checkpoint restart, or a mixed batch of
    replayed + new source versions each re-applies exactly the
    unapplied versions on both tables, including across a crash
    BETWEEN the two appends. Returns the started query.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
        stable_hash64,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)
    if not versioned.versions(index_path):
        versioned.write_version(
            spark.createDataFrame([], "doc_id LONG, h LONG"), index_path)

    def apply_batch(batch, _bid: int) -> None:
        last = versioned.txn_version(index_path, _CURATE_TXN_APP)
        if last is not None:
            batch = batch.filter(F.col("_commit_version") > last)
        # a curation feed is append-only ingestion; DML on the raw
        # table is not this loop's business
        batch = batch.filter("_change_type = 'insert'")
        row = batch.agg(F.max("_commit_version")).collect()
        if not row or row[0][0] is None:
            return  # fully-applied replay (or empty batch)
        hi = int(row[0][0])
        hashed = batch.withColumn("h", stable_hash64(F.col("text")))
        idx = (
            versioned.read_version(spark, index_path, stats_hint=False)
            .select("h").distinct()
        )
        w = Window.partitionBy("h").orderBy("doc_id")
        fresh = (
            hashed.join(idx, "h", "left_anti")   # not in the corpus
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")                    # first of intra-batch dups
            .drop("rn", "_change_type")
        ).localCheckpoint()  # consumed twice below
        # curated first, then the index commit advances the loop's
        # stamp. Idempotency is PER-ROW on BOTH tables: each append is
        # filtered to `_commit_version > <that table's own stamp>`, so
        # a crash between the two appends followed by NEW source
        # versions landing before restart (replay batch spans old+new,
        # hi2 > hi) re-applies exactly the unapplied versions on each
        # table independently — the old versions' docs (already
        # curated, never indexed) reach the index but not the curated
        # table a second time. A pure replay (no new versions) is
        # additionally a writer-level no-op: the DS writer skips any
        # save whose txnVersion <= the table's recorded stamp.
        cur_last = None
        if versioned.versions(curated_path):
            cur_last = versioned.txn_version(curated_path,
                                             _CURATE_TXN_APP)
        cur_fresh = (fresh if cur_last is None
                     else fresh.filter(F.col("_commit_version") > cur_last))
        (cur_fresh.drop("h", "_commit_version")
         .write.format("versioned").mode("append")
         .option("path", curated_path)
         .option("txnAppId", _CURATE_TXN_APP)
         .option("txnVersion", hi).save())
        (fresh.select("doc_id", "h").write.format("versioned")
         .mode("append").option("path", index_path)
         .option("txnAppId", _CURATE_TXN_APP)
         .option("txnVersion", hi).save())

    feed = spark.readStream.format("versioned").option("path", src_path) \
        .option("readChangeFeed", "true")
    if starting_version is not None:
        # post-vacuum re-bootstrap: replay only the retained range
        # (bootstrap_dedup_corpus re-seeded everything older from the
        # snapshot; the per-version stamps no-op any overlap)
        feed = feed.option("startingVersion", starting_version)
    return (
        feed.load().writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------ streaming vector-index upkeep

_VIDX_TXN_APP = "vector_index_loop"


def maintain_vector_index(spark, src_path: str, cent_path: str,
                          asg_path: str, checkpoint_dir: str,
                          rebalance_ppm: int | None = None,
                          starting_version: int | None = None):
    """Streaming VECTOR-INDEX maintenance — the vector-side twin of
    maintain_dedup_corpus, composing the r12 pieces into the loop a
    production vector store runs: a ``readStream.format("versioned")``
    CHANGE feed of a versioned embeddings table (columns: c_id, ca,
    cn — the quantized-vector form the index stores) drives a
    ``foreachBatch`` that (a) assigns the batch's new vectors against
    the COMMITTED centroids (broadcast model, row-local argmax),
    (b) fast-appends the assignments txn-stamped per source version
    (per-row ``_commit_version > stamp`` filtering — the per-version
    idempotency discipline; replays and mixed fresh-checkpoint
    restarts re-apply only unapplied versions), and (c) runs the
    recluster-when-drifted check (operators.similarity
    .maintain_ivf_index): when the appended batches have skewed the
    imbalance dial past the threshold, the index re-trains from its
    own committed vectors and rewrites as a new version — queries stay
    answer-equivalent across the recluster. Per batch the work is
    O(batch · K) + the drift check's cluster_id-only index scan; the
    raw corpus is never re-read. Returns the started query."""
    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.similarity import (
        _ASSIGN_EXPR, _as_model, IVF_REBALANCE_PPM, maintain_ivf_index,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    threshold = IVF_REBALANCE_PPM if rebalance_ppm is None else rebalance_ppm
    ensure_registered(spark)

    def apply_batch(batch, _bid: int) -> None:
        from pyspark.sql.functions import broadcast

        last = versioned.txn_version(asg_path, _VIDX_TXN_APP)
        if last is not None:
            batch = batch.filter(F.col("_commit_version") > last)
        batch = batch.filter("_change_type = 'insert'")
        row = batch.agg(F.max("_commit_version")).collect()
        if row and row[0][0] is not None:
            hi = int(row[0][0])
            model = _as_model(
                versioned.read_version(spark, cent_path, stats_hint=False)
                .select("cluster_id", "sa", "sn"))
            assigned = batch.crossJoin(broadcast(model)).select(
                F.expr(_ASSIGN_EXPR).alias("cluster_id"), "c_id", "ca",
                "cn")
            (assigned.write.format("versioned").mode("append")
             .option("path", asg_path)
             .option("txnAppId", _VIDX_TXN_APP)
             .option("txnVersion", hi).save())
        # index health runs UNCONDITIONALLY, including on a
        # fully-applied replay (empty after the stamp filter): a crash
        # between the append and the recluster replays to an empty
        # batch on restart, and the drifted index must be repaired NOW,
        # not when genuinely new source data happens to arrive. The
        # recluster is itself a commit, so re-firing is idempotent on
        # a balanced index (metadata-only no-op below threshold).
        if versioned.versions(asg_path):
            maintain_ivf_index(spark, cent_path, asg_path,
                               threshold_ppm=threshold)

    feed = spark.readStream.format("versioned").option("path", src_path) \
        .option("readChangeFeed", "true")
    if starting_version is not None:
        # post-vacuum re-bootstrap: replay only the retained range
        # (the snapshot re-seed covered everything older; per-version
        # stamps no-op any overlap)
        feed = feed.option("startingVersion", starting_version)
    return (
        feed.load().writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------ streaming semantic-dedup curation

_SDD_TXN_APP = "semdedup_curation"


def maintain_semdedup_corpus(spark, src_path: str, cent_path: str,
                             asg_path: str, checkpoint_dir: str,
                             rebalance_ppm: int | None = None,
                             starting_version: int | None = None):
    """Streaming SEMANTIC-dedup curation — the composition of
    maintain_vector_index and maintain_dedup_corpus the committed IVF
    index was built for (the streaming twin of the emb_incr_semdedup
    batch entry): a ``readStream.format("versioned")`` CHANGE feed of
    raw embedding batches (c_id, ca, cn — the quantized index form)
    drives a ``foreachBatch`` that (a) assigns the batch against the
    COMMITTED centroids (broadcast model, row-local argmax), (b) drops
    near-twins within the assigned cluster only — against the
    committed assignment table (which holds exactly the survivors of
    every previous batch, so the corpus is never re-paired) and
    against lower-id vectors of the same batch (the emb_incr_semdedup
    keep rule, SEMDEDUP_THRESHOLD), (c) fast-appends the SURVIVORS
    txn-stamped per source version (per-row ``_commit_version >
    stamp`` filtering — replays and mixed fresh-checkpoint restarts
    re-apply only unapplied versions, and the DS writer no-ops a pure
    replay outright), and (d) runs the recluster-when-drifted check
    unconditionally, so a crash between append and recluster is
    repaired by a bare restart. Per batch the work is O(batch · K +
    batch · cluster-slice); raw corpus embeddings are never re-read.
    Returns the started query."""
    from pyspark.sql import functions as F

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.similarity import (
        _ASSIGN_EXPR, _SIM, IVF_REBALANCE_PPM, SEMDEDUP_THRESHOLD,
        _as_model, maintain_ivf_index,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    threshold = IVF_REBALANCE_PPM if rebalance_ppm is None else rebalance_ppm
    ensure_registered(spark)

    def apply_batch(batch, _bid: int) -> None:
        from pyspark.sql.functions import broadcast

        last = versioned.txn_version(asg_path, _SDD_TXN_APP)
        if last is not None:
            batch = batch.filter(F.col("_commit_version") > last)
        batch = batch.filter("_change_type = 'insert'")
        row = batch.agg(F.max("_commit_version")).collect()
        if row and row[0][0] is not None:
            hi = int(row[0][0])
            model = _as_model(
                versioned.read_version(spark, cent_path, stats_hint=False)
                .select("cluster_id", "sa", "sn"))
            assigned = (
                batch.crossJoin(broadcast(model))
                .select(F.expr(_ASSIGN_EXPR).alias("cluster_id"),
                        "c_id", "ca", "cn")
            ).localCheckpoint()  # consumed by nc, nn and the append
            committed = (
                versioned.read_version(spark, asg_path, stats_hint=False)
                .select("cluster_id", "ca", "cn")
            )
            probe = assigned.select(
                F.col("c_id").alias("n_id"), "cluster_id",
                F.col("ca").alias("qa"), F.col("cn").alias("qn"))
            nc = (
                committed.join(probe, "cluster_id")
                .select("n_id", F.expr(_SIM).alias("sim"))
                .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
                .select("n_id")
            )
            earlier = assigned.select(
                F.col("c_id").alias("m_id"), "cluster_id",
                F.col("ca").alias("qa"), F.col("cn").alias("qn"))
            nn = (
                assigned.join(earlier, "cluster_id")
                .filter(F.col("m_id") < F.col("c_id"))
                .select(F.col("c_id").alias("n_id"),
                        F.expr(_SIM).alias("sim"))
                .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
                .select("n_id")
            )
            dups = nc.union(nn).distinct()
            survivors = assigned.join(
                dups, assigned["c_id"] == dups["n_id"], "left_anti")
            (survivors.select("cluster_id", "c_id", "ca", "cn")
             .write.format("versioned").mode("append")
             .option("path", asg_path)
             .option("txnAppId", _SDD_TXN_APP)
             .option("txnVersion", hi).save())
        # drift repair runs even on a fully-applied replay (see
        # maintain_vector_index) — a balanced index is a no-op check
        if versioned.versions(asg_path):
            maintain_ivf_index(spark, cent_path, asg_path,
                               threshold_ppm=threshold)

    feed = spark.readStream.format("versioned").option("path", src_path) \
        .option("readChangeFeed", "true")
    if starting_version is not None:
        # post-vacuum re-bootstrap: replay only the retained range
        # (the snapshot re-seed covered everything older; per-version
        # stamps no-op any overlap)
        feed = feed.option("startingVersion", starting_version)
    return (
        feed.load().writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------- post-vacuum re-bootstrap (batch re-seed)
#
# When a curation consumer's unconsumed CDF range has been VACUUMED,
# the change history is unrecoverable and the stream fails loudly
# (versioned._iter_changes). Recovery is a batch
# re-seed from the CURRENT SNAPSHOT: re-triage every live row against
# the committed state — rows the loop already processed are excluded
# by the committed index itself, so the re-seed never double-appends,
# and the txn stamps advance to the snapshot head so a subsequent
# fresh-checkpoint stream (startingVersion = earliest retained) no-ops
# every replayed version. Cost is O(snapshot) — the price of having
# lost the deltas, paid once.


def bootstrap_dedup_corpus(spark, src_path: str, curated_path: str,
                           index_path: str) -> dict:
    """Snapshot re-seed for :func:`maintain_dedup_corpus`. Exactly-once
    WITHOUT change feeds: the candidate set is the snapshot anti-joined
    against the committed hash INDEX, and the curated append is
    additionally anti-joined against the CURATED table's own hashes —
    so even the crash window the stream handles per-version (curated
    landed, index didn't) cannot double a doc here. Both appends stamp
    the snapshot head; re-running the bootstrap is a writer-level
    no-op (the DS writer skips txnVersion <= stamp). Returns
    {head, seeded_curated, seeded_index}."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
        stable_hash64,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)
    head = versioned._latest(src_path)[0]
    if not versioned.versions(index_path):
        versioned.write_version(
            spark.createDataFrame([], "doc_id LONG, h LONG"), index_path)
    hashed = (
        versioned.read_version(spark, src_path, stats_hint=False)
        .select("doc_id", "text")
        .withColumn("h", stable_hash64(F.col("text")))
    )
    idx = (versioned.read_version(spark, index_path, stats_hint=False)
           .select("h").distinct())
    w = Window.partitionBy("h").orderBy("doc_id")
    fresh = (
        hashed.join(idx, "h", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").drop("rn")
    ).localCheckpoint()
    cur_seen = None
    if versioned.versions(curated_path):
        cur_seen = (
            versioned.read_version(spark, curated_path, stats_hint=False)
            .select(stable_hash64(F.col("text")).alias("h")).distinct()
        )
    cur_fresh = (fresh if cur_seen is None
                 else fresh.join(cur_seen, "h", "left_anti"))
    n_cur = cur_fresh.count()
    (cur_fresh.drop("h").write.format("versioned").mode("append")
     .option("path", curated_path)
     .option("txnAppId", _CURATE_TXN_APP)
     .option("txnVersion", head).save())
    n_idx = fresh.count()
    (fresh.select("doc_id", "h").write.format("versioned")
     .mode("append").option("path", index_path)
     .option("txnAppId", _CURATE_TXN_APP)
     .option("txnVersion", head).save())
    return {"head": head, "seeded_curated": n_cur, "seeded_index": n_idx}


def bootstrap_vector_index(spark, src_path: str, cent_path: str,
                           asg_path: str) -> dict:
    """Snapshot re-seed for :func:`maintain_vector_index`: assign every
    snapshot vector NOT already in the committed assignment table
    (anti-join on c_id — the single-append loop has no cross-table
    crash window) against the committed centroids and fast-append,
    stamped at the snapshot head. Re-running is a writer-level no-op.
    Returns {head, seeded}."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.operators.similarity import (
        _ASSIGN_EXPR, _as_model,
    )
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)
    head = versioned._latest(src_path)[0]
    snap = versioned.read_version(spark, src_path, stats_hint=False) \
        .select("c_id", "ca", "cn")
    seen = versioned.read_version(spark, asg_path, stats_hint=False) \
        .select("c_id")
    new = snap.join(seen, "c_id", "left_anti")
    model = _as_model(
        versioned.read_version(spark, cent_path, stats_hint=False)
        .select("cluster_id", "sa", "sn"))
    assigned = new.crossJoin(broadcast(model)).select(
        F.expr(_ASSIGN_EXPR).alias("cluster_id"), "c_id", "ca", "cn")
    n = assigned.count()
    (assigned.write.format("versioned").mode("append")
     .option("path", asg_path)
     .option("txnAppId", _VIDX_TXN_APP)
     .option("txnVersion", head).save())
    return {"head": head, "seeded": n}


# --------------------------------- streaming SCD2 dimension upkeep

_SCD2_TXN_APP = "scd2_dimension"


def maintain_scd2_dimension(spark, src_path: str, scd2_path: str,
                            checkpoint_dir: str, key_col: str,
                            starting_version: int | None = None):
    """Streaming SCD2 HISTORY maintenance — the dimension-table loop a
    warehouse runs continuously (the streaming twin of the batch
    scd2_order_history / temporal_scd2_join entries): a CDF feed of a
    versioned dimension table drives a ``foreachBatch`` that maintains
    a slowly-changing-type-2 history table — every change CLOSES the
    key's open interval at its commit version and (unless a delete)
    OPENS a new one, so the history table answers point-in-time
    lookups with ``valid_from <= v < valid_to`` and ``is_current``
    serves the live snapshot.

    Interval columns are COMMIT VERSIONS (the engine's native time
    axis — monotone, gap-free per table, exactly what the CDF rows
    carry); ``row_key = key@valid_from`` gives MERGE its single-column
    identity. A batch spanning several source versions applies them in
    version order set-based: ``lead(v)`` over each key's ordered
    changes pre-closes all but the last interval, and the key's FIRST
    batch version closes the previously-open target row — one COW
    MERGE commit per batch carries closes + opens + the txn stamp
    atomically. Exactly-once is per-version as everywhere: rows are
    filtered to ``_commit_version > stamp``, so replays and mixed
    fresh-checkpoint restarts re-apply only unapplied versions.
    Update PREIMAGES are dropped (the postimage carries the new
    attributes); at most one change per key per commit version — the
    engine's DML semantics. Returns the started query."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.sources.versioned_ds import (
        ensure_registered,
    )

    ensure_registered(spark)

    def apply_batch(batch, _bid: int) -> None:
        last = versioned.txn_version(scd2_path, _SCD2_TXN_APP)
        if last is not None:
            batch = batch.filter(F.col("_commit_version") > last)
        batch = batch.filter("_change_type != 'update_preimage'")
        row = batch.agg(F.max("_commit_version")).collect()
        if not row or row[0][0] is None:
            return  # fully-applied replay (or empty batch)
        hi = int(row[0][0])
        attrs = [c for c in batch.columns
                 if c not in (key_col, "_change_type", "_commit_version")]
        w = Window.partitionBy(key_col).orderBy("_commit_version")
        ch = (
            batch
            .withColumn("_close_v", F.lead("_commit_version").over(w))
            .withColumn("_first_v",
                        F.min("_commit_version").over(
                            Window.partitionBy(key_col)))
        ).localCheckpoint()  # consumed twice: opens + closers
        new_rows = (
            ch.filter("_change_type != 'delete'")
            .select(
                F.concat_ws("@", F.col(key_col).cast("string"),
                            F.col("_commit_version").cast("string")
                            ).alias("row_key"),
                F.col(key_col), *[F.col(c) for c in attrs],
                F.col("_commit_version").cast("long").alias("valid_from"),
                F.col("_close_v").cast("long").alias("valid_to"),
                F.col("_close_v").isNull().alias("is_current"),
            )
        )
        if not versioned.versions(scd2_path):
            versioned.write_version(
                spark.createDataFrame([], new_rows.schema), scd2_path)
        closers = ch.select(key_col, "_first_v").distinct()
        closed = (
            versioned.read_version(spark, scd2_path, stats_hint=False)
            .filter("is_current")
            .join(closers, key_col)
            .select(
                "row_key", key_col, *attrs, "valid_from",
                F.col("_first_v").cast("long").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
        )
        changes = closed.unionByName(new_rows) \
            .withColumn("is_delete", F.lit(False))
        versioned.merge_version_cow(
            spark, scd2_path, changes, "row_key",
            extra_manifest={"txn": {_SCD2_TXN_APP: hi}})

    feed = spark.readStream.format("versioned").option("path", src_path) \
        .option("readChangeFeed", "true")
    if starting_version is not None:
        # post-vacuum re-bootstrap: replay only the retained range
        # (the snapshot re-seed covered everything older; per-version
        # stamps no-op any overlap)
        feed = feed.option("startingVersion", starting_version)
    return (
        feed.load().writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
