"""Structured Streaming re-expression of the reference's scheduler.

The reference runs an APScheduler cron hourly, computes a half-open
window, and relies on idempotent upserts for replay safety
(reference: src/main.py:54-66, src/ingestion/SqlDbEtl.py:90-110;
SURVEY.md §2.1-H). Spark-native equivalents:

- the cron + bookmark table      -> checkpointed streaming query with
                                    ``Trigger.AvailableNow`` per run
                                    (or processingTime='1 hour' live)
- the half-open window           -> event-time window + withWatermark
- idempotent ON-DUPLICATE writes -> foreachBatch + operators.merge_upsert
                                    into a snapshot table
                                    (foreach_batch_merge_snapshots)

The same aggregation expressions power the batch forms in
plans/testbed.py (q_stream_*), so batch/stream parity is testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dex_data_ingestor_spark import schemas
from dex_data_ingestor_spark.operators.merge import merge_upsert
from dex_data_ingestor_spark.session import configure_session
from dex_data_ingestor_spark.functions.scalars import WS


def events_stream_from_parquet(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over event parquet files (each arriving file
    is a micro-batch — the testbed's stand-in for a Kafka topic).

    The nanosecond issue does not arise here: test fixtures are written
    by the engine with TIMESTAMP_NTZ micros. For driver-shaped ns
    files, io.load_table's conversion applies identically.
    """
    configure_session(spark)
    return (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation — the
    streaming twin of q_stream_tumbling / q_stream_sliding."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    # Watermarks require TIMESTAMP (instant) columns; the engine's NTZ
    # wall-clock converts via the session zone (pinned to HKT by the
    # session factory) and converts back on output.
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session_window aggregation (gap-close semantics match the
    lag/cumsum batch form in q_stream_session; asserted in tests)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


def ohlc_bars(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of q_ohlc_bars: watermarked per-window OHLC
    candlesticks built live as ticks arrive. Exactly the batch
    aggregation — min_by/max_by on the packed (us-into-window * 2^21
    + event_id) ordering key, min/max highs/lows, micro-unit volume —
    under F.window, so a bar is emitted once its watermark passes and
    the batch and streaming series agree row-for-row (pinned in
    tests/test_streaming.py). All six aggregate states are
    incrementally mergeable, which is what makes the bar build a
    one-pass streaming operator rather than a sort.

    Constraints: ``window`` must evenly divide one hour (the packed
    key is microseconds-into-HOUR, monotone within any window that
    nests inside an hour boundary), and ``event_id`` must lie in
    [0, 2^21) — the packed key's id headroom; out-of-domain ids would
    silently misorder open/close, so the shared builder
    (operators/timeseries.packed_tick_order) raises on them instead.
    Longer bars (4h/daily) roll up from hourly bars — open = first
    sub-bar's open via min_by on bar_start, high/low/volume merge
    directly — rather than widening this window."""
    from dex_data_ingestor_spark.operators.timeseries import (
        packed_tick_order,
    )

    events = events.withColumn("ts", F.col("ts").cast("timestamp")).filter(
        # a NULL price is not a tick — same rule as the batch
        # q_ohlc_bars, so the twin parity holds on NULL-bearing tapes
        F.col("value").isNotNull()
    )
    okey = packed_tick_order("ts", "event_id", "hour")
    return (
        events.withWatermark("ts", watermark)
        .withColumn("okey", okey)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.min_by("value", "okey").alias("open_px"),
            F.max("value").alias("high_px"),
            F.min("value").alias("low_px"),
            F.max_by("value", "okey").alias("close_px"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(
                F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
            ).alias("volume_units"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bar_start"),
            "event_type",
            "open_px",
            "high_px",
            "low_px",
            "close_px",
            "n_ticks",
            "volume_units",
        )
    )


def stream_debounce(
    events: DataFrame,
    gap: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming twin of q_debounce: per (user, event type), emit only
    each burst's FIRST event, where a burst is a native
    ``session_window`` at the debounce gap (rolling extension — the
    same island rule the batch operators/timeseries.debounce builds
    with lag/cumsum). The leader is ``min(struct(ts, event_id))`` —
    struct MIN is lexicographic, exactly the batch (ts, tiebreak)
    total order, and an incrementally-mergeable aggregate state, so
    the throttle is one pass with no per-key sort.

    Boundary semantics: session_window merges at exactly-equal gaps
    too (next.ts == prev.ts + gap extends the session — probed
    empirically and pinned in tests/test_streaming.py), which is
    IDENTICAL to the batch rule (only diff > gap starts a burst), so
    stream/batch parity holds with no boundary caveat."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"),
            F.col("user_id"),
            F.col("event_type"),
        )
        .agg(F.min(F.struct("ts", "event_id")).alias("leader"))
        .select(
            "user_id",
            "event_type",
            F.col("leader.event_id").alias("event_id"),
            F.col("leader.ts").cast("timestamp_ntz").alias("ts"),
        )
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Drain all available input (the reference's boot-time catch-up
    run, main.py:40-50), then stop — exactly-once via checkpoint."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact-dedup across micro-batches via Spark's
    watermark-bounded dedup state — the streaming twin of the batch
    first-wins dedup (operators/dedup.py). dropDuplicatesWithinWatermark
    keys state by ``keys`` alone and drops it once the watermark passes,
    so memory is bounded by the lateness horizon, not stream length."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    max_lag: str = "1 hour",
    right_prefix: str = "r_",
) -> DataFrame:
    """Watermarked stream-stream inner join: match rows sharing ``on``
    whose event times are within ``max_lag`` (right no earlier than
    left, no later than left + max_lag).

    Both watermarks plus the time-range predicate bound the join state:
    Spark retains only rows inside the lateness horizon on each side
    (unbounded state otherwise — the classic stream-join failure at
    scale). The reference's analog is its cross-source enrichment
    (Bifrost priced from Hydration_price within the same hourly
    window, Bifrost.py:135-147). Output: left columns as-is, right
    columns (minus the join key) prefixed with ``right_prefix``.
    Also valid on batch DataFrames (watermarks are no-ops there), which
    is how tests assert batch/stream parity."""
    lt = f"__l_{left_ts}"
    rt = f"__r_{right_ts}"
    # Dataset aliases + qualified refs: plain df[col] references are
    # ambiguous when both sides share lineage (self-join on a stream).
    lw = (
        left.withColumn(lt, F.col(left_ts).cast("timestamp"))
        .withWatermark(lt, watermark)
        .alias("__ssj_l")
    )
    rw = (
        right.withColumn(rt, F.col(right_ts).cast("timestamp"))
        .withWatermark(rt, watermark)
        .alias("__ssj_r")
    )

    def L(c):
        return F.col(f"__ssj_l.{c}")

    def R(c):
        return F.col(f"__ssj_r.{c}")

    cond = (
        (L(on) == R(on))
        & (R(rt) >= L(lt))
        & (R(rt) <= L(lt) + F.expr(f"INTERVAL {max_lag}"))
    )
    out_cols = [L(c).alias(c) for c in left.columns] + [
        R(c).alias(f"{right_prefix}{c}")
        for c in right.columns
        if c != on
    ]
    return lw.join(rw, cond, "inner").select(*out_cols)


def configure_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch streaming state storage to RocksDB with changelog
    checkpointing — the production posture for large stateful queries.

    The default HDFSBackedStateStoreProvider keeps every key in
    executor heap; at 100 TB-scale key cardinality (per-user state,
    stream-stream join buffers) that OOMs long before the data does.
    RocksDB spills state to local disk, bounds memory via block-cache
    config, and changelog checkpointing uploads per-batch deltas
    instead of full snapshots. Also the required provider for the
    transformWithState (state API v2) operators below.
    """
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled": "true",
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    return spark


def state_v2_available() -> bool:
    """True when the transformWithState python protocol can run here:
    its driver/executor workers speak protobuf to the JVM state server,
    so ``google.protobuf`` must be importable (pip extra
    ``pyspark[connect]`` or a cluster image with protobuf baked in)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_state_v2(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Per-user running totals on the state API v2
    (``transformWithStateInPandas``, Spark 4) — the successor to
    [running_totals_stateful]'s applyInPandasWithState form.

    v2 buys, at scale: typed state variables (value/list/map) instead
    of one opaque tuple, per-key event timers for TTL/emit-on-silence
    patterns, and composability with the RocksDB provider's changelog
    checkpointing (state deltas, not snapshots, per batch). Requires
    ``configure_rocksdb_state`` — v2 only runs on the RocksDB provider
    — and ``state_v2_available()`` (protobuf): plan construction is
    lazy, but query START crashes the python driver worker without it,
    so production code should check the probe first (the v1 operator
    [running_totals_stateful] is the protobuf-free fallback with the
    same output contract).

    State: one (n, total) pair per user. Emits the updated running
    totals for every user seen in the micro-batch.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._totals.get()
            n, total = prev if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            "user_id bigint, n_events bigint, total_value double",
            "Update",
            "None",
        )
    )


def running_totals_stateful(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count and value total maintained across micro-batches
    — the pattern for operators Spark's built-in windows can't express
    (reference analog: the cumulative bookkeeping its tasks carry
    between hourly runs).

    State is one (count, total) pair per user — O(keys), checkpointed,
    recovered on restart. Emits one row per user per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_neardup_ingest(
    docs_stream: DataFrame,
    checkpoint_dir: str,
    index_path: str,
    accepted_path: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    verify_threshold: float = 0.5,
):
    """Continuous corpus growth with near-dup gating: every micro-batch
    of documents is (1) deduplicated within the batch, (2) probed
    against the persisted band-bucket INDEX of everything accepted so
    far, and only non-matching docs are accepted — their buckets
    APPENDED to the index, their (id, text) rows to the accepted table.

    Rejection is candidates-then-VERIFY (ADVICE r2): an LSH band-hash
    collision alone is not grounds to drop a doc — every shingleable
    candidate pair (within-batch and batch-vs-index) must also pass
    exact n-gram Jaccard >= ``verify_threshold``
    (neardup.verify_pairs_jaccard), so band collisions cannot silently
    drop unique docs forever. Docs with fewer than ``shingle_n`` words
    cannot shingle; they are keyed by an exact text hash in reserved
    band -1, where a hash match IS the verification (identical text).
    ``shingle_n`` is shared by the signature computation, the short-doc
    gate, and both verify steps.

    Index-hit verification reads the accepted table pruned to the
    candidate partner ids BEFORE shingling, so verify cost is
    O(candidates); accepted rows are written sorted by id so parquet
    zone maps prune that scan. Both sinks are append-only: no write
    ever deletes existing data, so a crash mid-batch never loses prior
    state, and per-batch write cost is O(batch) (a keyed-merge rewrite
    would be O(corpus) per batch). Replay of a batch re-appends the
    same rows — duplicates are harmless for the index (identical
    bucket rows produce the same probe matches) and the accepted table
    is distinct-on-read (self-matches by id are excluded from
    rejection, so a replayed doc is re-accepted, not dropped).
    Existence checks go through Spark's Hadoop FileSystem so
    scheme-qualified paths (s3a://, hdfs://) work the same as local
    ones.
    """
    from dex_data_ingestor_spark.functions.scalars import md5_int64
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        lsh_match_against_index,
        minhash_signatures_wide,
        shingles,
        verify_pairs_jaccard,
    )

    from dex_data_ingestor_spark.io import table_exists

    def _table_exists(path: str) -> bool:
        return table_exists(spark, path)

    def _batch_buckets(batch: DataFrame) -> DataFrame:
        lsh = lsh_band_buckets_wide(
            minhash_signatures_wide(batch, id_col, text_col, shingle_n),
            id_col,
        )
        # < shingle_n words -> no shingles -> no LSH buckets; key those
        # by exact text hash in reserved band -1 so they still dedup
        ws = F.split(F.trim(F.col(text_col)), WS)
        short = batch.filter(F.size(ws) < shingle_n).select(
            F.col(id_col),
            F.lit(-1).alias("band_id"),
            md5_int64(F.col(text_col)).alias("band_hash"),
        )
        return lsh.unionByName(short)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col]).localCheckpoint()
        buckets = _batch_buckets(batch).localCheckpoint()
        long_b = buckets.filter(F.col("band_id") != -1)
        short_b = buckets.filter(F.col("band_id") == -1)
        grams = shingles(batch, id_col, text_col, n=shingle_n)
        # short docs: band -1 hash equality means identical text
        rejects = (
            lsh_candidate_pairs(short_b, id_col)
            .select(F.col("b_id").alias(id_col))
            .distinct()
        )
        # shingleable docs: LSH candidates verified by exact Jaccard
        verified = verify_pairs_jaccard(
            lsh_candidate_pairs(long_b, id_col),
            grams,
            grams,
            threshold=verify_threshold,
        )
        rejects = rejects.union(
            verified.select(F.col("b_id").alias(id_col)).distinct()
        )
        if _table_exists(index_path):
            idx = spark.read.parquet(index_path)
            short_hits = lsh_match_against_index(
                short_b, idx.filter(F.col("band_id") == -1), id_col
            ).filter(F.col("new_id") != F.col("indexed_id"))
            rejects = rejects.union(
                short_hits.select(F.col("new_id").alias(id_col)).distinct()
            )
            hits = lsh_match_against_index(
                long_b, idx.filter(F.col("band_id") != -1), id_col
            ).filter(F.col("new_id") != F.col("indexed_id"))
            # prune the accepted corpus to candidate partners BEFORE
            # shingling: verify cost stays O(candidates)
            partners = hits.select(
                F.col("indexed_id").alias(id_col)
            ).distinct()
            # dropDuplicates: the documented at-least-once case (appends
            # landed, checkpoint commit lost -> replay re-appends) leaves
            # duplicate accepted rows; without the dedup each duplicated
            # doc's (id, gram) rows double in the verify stage, inflating
            # exact Jaccard past threshold and wrongly rejecting unique
            # new docs — the exact failure verify exists to prevent.
            acc_docs = (
                spark.read.parquet(accepted_path)
                .dropDuplicates([id_col])
                .join(partners, id_col)
            )
            verified_idx = verify_pairs_jaccard(
                hits.select(
                    F.col("new_id").alias("a_id"),
                    F.col("indexed_id").alias("b_id"),
                ),
                grams,
                shingles(acc_docs, id_col, text_col, n=shingle_n),
                threshold=verify_threshold,
            )
            rejects = rejects.union(
                verified_idx.select(F.col("a_id").alias(id_col)).distinct()
            )
        accepted = batch.join(rejects.distinct(), id_col, "left_anti")
        acc_rows = (
            accepted.select(id_col, text_col)
            .sortWithinPartitions(id_col)
            .localCheckpoint()
        )
        buckets.join(acc_rows.select(id_col), id_col).write.mode(
            "append"
        ).parquet(index_path)
        acc_rows.write.mode("append").parquet(accepted_path)

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_contamination_guard(
    docs_stream: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Ingest-time train/eval decontamination guard: annotate a
    document STREAM with how many of its word n-grams might also
    occur in the (static) held-out eval corpus, so contaminated docs
    are quarantined at ingest instead of discovered in a batch sweep
    later.

    Mechanics: the eval corpus's gram Bloom bitmap is built on the
    static side (operators/bloom.bloom_bitmap — fully distributed,
    one broadcastable array<long> row), PERSISTED so it computes once
    rather than once per micro-batch (stream-static joins re-execute
    an uncached static subtree on every trigger), and attached to the
    stream via a stream-static broadcast join. Each document's grams
    are hashed once into an array (transform) and the HASH array is
    probed inside a higher-order filter
    (bloom_member_expr_from_hash): HOF lambdas run interpreted with
    no common-subexpression elimination, so probing the bound hash
    variable instead of re-deriving xxhash64 per probe keeps the hot
    path at one hash per gram. The whole guard is map-only — no
    explode, no stateful aggregation, no watermark, and it composes
    with any downstream sink. The gram array is projected to a
    column BEFORE the lambda (HOF lambdas re-evaluate argument
    expressions per element — the r2 shingle lesson).

    Output adds ``n_grams``, ``n_flagged``, and ``contaminated``
    (n_flagged > 0). Bloom semantics make the guard CONSERVATIVE:
    every true overlap is flagged; false positives (rate set by
    num_bits/num_hashes, ~1.2% at the defaults for 100k eval grams)
    can only over-quarantine, never leak eval text into training —
    the safe direction. Quarantined docs can be exact-verified
    offline against the real gram set (scrub_contaminated_spans
    recovers the clean remainder span-by-span).
    """
    from dex_data_ingestor_spark.operators.bloom import (
        DEFAULT_NUM_BITS,
        DEFAULT_NUM_HASHES,
        bloom_bitmap,
        bloom_member_expr_from_hash,
    )
    from dex_data_ingestor_spark.operators.neardup import _grams_from_words

    num_bits = DEFAULT_NUM_BITS if num_bits is None else num_bits
    num_hashes = DEFAULT_NUM_HASHES if num_hashes is None else num_hashes

    eval_grams = (
        eval_docs.select(
            F.explode(
                _grams_from_words(
                    F.split(F.trim(F.col(text_col)), WS), n
                )
            ).alias("gram")
        )
        .distinct()
    )
    # persist: one 16-128 KiB row; caller may unpersist when the
    # stream stops
    bm = bloom_bitmap(eval_grams, "gram", num_bits, num_hashes).persist()

    with_grams = docs_stream.withColumn(
        "__grams",
        _grams_from_words(F.split(F.trim(F.col(text_col)), WS), n),
    ).withColumn(
        "__gram_hashes",
        F.transform(F.col("__grams"), lambda g: F.xxhash64(g)),
    )
    probed = with_grams.join(
        F.broadcast(bm.select(F.struct("bitmap").alias("__bloom__")))
    )
    flagged = F.size(
        F.filter(
            F.col("__gram_hashes"),
            lambda h: bloom_member_expr_from_hash(
                h, F.col("__bloom__.bitmap"), num_bits, num_hashes
            ),
        )
    )
    return (
        probed.withColumn("n_grams", F.size("__grams"))
        .withColumn("n_flagged", flagged)
        .withColumn("contaminated", F.col("n_flagged") > 0)
        .drop("__grams", "__gram_hashes", "__bloom__")
    )


def stream_perplexity_guard(
    docs_stream: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n_buckets: int = 65536,
    max_avg_nll: float = 12.0,
) -> DataFrame:
    """Ingest-time perplexity gate (the CCNet quality filter as a
    streaming guard, companion to :func:`stream_contamination_guard`):
    annotate a document STREAM with its average negative
    log-likelihood under a hashed-unigram LM fit on a static
    reference corpus, flagging high-surprise (garbled/alien) text at
    ingest instead of in a batch sweep later.

    Mechanics mirror the Bloom guard exactly: the model is ONE dense
    row (operators/text.unigram_model_row — w_arr[f] = micro-nat NLL,
    512 KiB at the default bucket count regardless of corpus size),
    PERSISTED so the fit runs once rather than once per micro-batch,
    and attached via a stream-static broadcast join. Scoring is pure
    map-only HOF arithmetic: tokens -> md5 bucket per token (hashed
    once into a projected array) -> an aggregate() fold summing
    w_arr[f] in EXACT integer micro-nats — bit-identical to the batch
    unigram_logloss score for the same model (parity-tested). No
    explode, no state, no watermark; composes with append sinks.

    Output adds ``n_tokens``, ``nll_units`` (exact integer),
    ``avg_nll`` (NULL for empty docs), and ``garbled``
    (avg_nll > max_avg_nll; false for empty docs). Unseen buckets
    score the model's half-count maximum surprise — conservative:
    out-of-distribution text can only look worse, never sneak in."""
    from dex_data_ingestor_spark.functions.scalars import md5_int64
    from dex_data_ingestor_spark.operators.text import unigram_model_row

    # persist: one 512 KiB row; caller may unpersist at stream stop
    model = unigram_model_row(corpus, text_col, n_buckets).persist()
    # fail FAST on an empty/misconfigured reference corpus: the
    # stream-static join against a 0-row model would silently drop
    # every ingest row — the opposite of a conservative gate
    if model.count() != 1:
        raise ValueError(
            "stream_perplexity_guard: reference corpus produced no "
            "unigram model (empty or all-whitespace text_col?)"
        )

    # NULL text must flow through as an empty token list (n_tokens 0,
    # garbled false), not propagate NULL into size() = -1
    toks = F.coalesce(
        F.filter(
            F.split(F.trim(F.col(text_col)), WS), lambda w: w != ""
        ),
        F.array().cast("array<string>"),
    )
    with_f = docs_stream.withColumn("__toks", toks).withColumn(
        "__fs",
        F.transform(
            F.col("__toks"),
            lambda w: (md5_int64(w) % n_buckets).cast("int"),
        ),
    )
    scored = with_f.join(
        F.broadcast(model.select(F.struct("w_arr").alias("__lm__")))
    )
    score = F.aggregate(
        F.col("__fs"),
        F.lit(0).cast("long"),
        lambda acc, f: acc + F.get(F.col("__lm__.w_arr"), f),
    )
    n_tokens = F.size(F.col("__toks"))
    avg = F.when(
        n_tokens > 0,
        score.cast("double") / (n_tokens.cast("double") * F.lit(1e6)),
    )
    return (
        scored.withColumn("n_tokens", n_tokens)
        .withColumn("nll_units", score)
        .withColumn("avg_nll", avg)
        .withColumn(
            "garbled",
            F.coalesce(F.col("avg_nll") > max_avg_nll, F.lit(False)),
        )
        .drop("__toks", "__fs", "__lm__")
    )


def stream_nb_guard(
    docs_stream: DataFrame,
    train_df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Ingest-time Naive Bayes routing — the classification guard
    completing the ingest-gate triad (Bloom decontamination,
    perplexity, now model-based routing): every arriving document is
    scored against a dense multinomial NB model fit on a static
    labeled corpus and stamped with its predicted class, so
    quality/domain/language routing happens AT ingest instead of in a
    batch sweep later (the fastText-classifier pipeline role).

    Mechanics mirror :func:`stream_perplexity_guard`: the model is
    ONE dense row (operators/text.nb_model_row — classes sorted
    ascending, aligned prior array, per-class nll tables; n_classes x
    n_buckets x 8 bytes regardless of corpus size), persisted so the
    fit runs once, attached via a stream-static broadcast join.
    Scoring is map-only HOF arithmetic: token buckets hashed once
    into a projected array, then per-class ``prior[i] + fold of
    nll[i][f]`` in EXACT integer micro-nats — bit-identical to
    operators/text.nb_classify for the same inputs (parity-tested)
    because both read the same _nb_fit tables and the argmin is an
    exact integer comparison. ``array_position(scores, min)`` returns
    the FIRST minimum, and classes are sorted ascending, so ties
    break lexicographically — the batch rule, structurally.

    Output adds ``n_tokens``, ``pred`` (NULL for empty docs — batch
    nb_classify EXCLUDES them, so the guard flags rather than
    guesses) and ``score_units`` (the winning class's total NLL,
    NULL for empty docs). No explode, no state, no watermark;
    composes with append sinks."""
    from dex_data_ingestor_spark.functions.scalars import md5_int64
    from dex_data_ingestor_spark.operators.text import nb_model_row

    model = nb_model_row(
        train_df, label_col, text_col, n_buckets
    ).persist()
    # fail FAST on an empty/misconfigured labeled corpus: a 0-row
    # model would silently drop every ingest row at the join
    if model.count() != 1:
        raise ValueError(
            "stream_nb_guard: labeled corpus produced no model "
            "(empty or all-whitespace text_col?)"
        )

    toks = F.coalesce(
        F.filter(
            F.split(F.trim(F.col(text_col)), WS), lambda w: w != ""
        ),
        F.array().cast("array<string>"),
    )
    with_f = docs_stream.withColumn("__toks", toks).withColumn(
        "__fs",
        F.transform(
            F.col("__toks"),
            lambda w: (md5_int64(w) % n_buckets).cast("int"),
        ),
    )
    scored = with_f.join(
        F.broadcast(
            model.select(
                F.struct("classes", "priors", "nll").alias("__nb__")
            )
        )
    )
    scores = F.transform(
        F.col("__nb__.classes"),
        lambda c, i: F.get(F.col("__nb__.priors"), i)
        + F.aggregate(
            F.col("__fs"),
            F.lit(0).cast("long"),
            lambda acc, f: acc + F.get(F.get(F.col("__nb__.nll"), i), f),
        ),
    )
    n_tokens = F.size(F.col("__toks"))
    # project the scores array once: HOF argument expressions
    # re-evaluate per element (the shingles lesson)
    with_scores = scored.withColumn("__scores", scores)
    best_idx = F.array_position(
        F.col("__scores"), F.array_min(F.col("__scores"))
    ).cast("int")
    return (
        with_scores.withColumn("n_tokens", n_tokens)
        .withColumn(
            "pred",
            F.when(
                F.col("n_tokens") > 0,
                F.get(F.col("__nb__.classes"), best_idx - F.lit(1)),
            ),
        )
        .withColumn(
            "score_units",
            F.when(
                F.col("n_tokens") > 0, F.array_min(F.col("__scores"))
            ),
        )
        .drop("__toks", "__fs", "__scores", "__nb__")
    )


def stream_pq_encode(
    vec_stream: DataFrame,
    codebooks: list[list[list[int]]],
    coarse: list[list[int]] | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Ingest-time ANN index maintenance — the streaming twin of the
    PQ search leg: every arriving vector is encoded to its m PQ codes
    (and, with ``coarse``, its IVF cell) AT INGEST, so the search
    tier's compressed codes table stays fresh without a batch
    re-index sweep. The codebooks are a fixed trained model (the
    contamination/perplexity-guard posture: model state rides the
    closure as literals — pq_encode embeds them in the expression
    tree, ~m·k·sub ints, no join, no broadcast needed); encoding is a
    pure narrow map, so this composes with append sinks, carries no
    state or watermark, and each drained row is BIT-IDENTICAL to the
    batch :func:`~...operators.vector.pq_encode` codes for the same
    vector (exact integer argmin — parity-tested).

    Malformed rows QUARANTINE instead of killing the stream (the
    multimodal kernels' contract): a NULL vector, a wrong-dimension
    vector, or one carrying NULL/NaN ELEMENTS (whose integer
    distances would be undefined — code 0 fabrications, not real
    assignments) gets NULL codes/cell and ``pq_ok = false``;
    downstream routes them to a dead-letter sink."""
    from dex_data_ingestor_spark.operators.vector import pq_encode

    dim = len(codebooks) * len(codebooks[0][0])
    v = F.col(vec_col)
    bad_elem = F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double"))
    )
    valid = (
        v.isNotNull()
        & (F.size(v) == dim)
        & ~F.coalesce(bad_elem, F.lit(True))
    )
    enc = pq_encode(vec_stream, vec_col, codebooks)
    enc = enc.withColumn(
        "codes", F.when(valid, F.col("codes"))
    )
    if coarse is not None:
        if len(coarse[0]) != dim:
            raise ValueError(
                "coarse centroid dim must equal the PQ dim "
                f"({len(coarse[0])} != {dim})"
            )
        enc = (
            pq_encode(enc, vec_col, [coarse], codes_col="__cell")
            .withColumn(
                "cell", F.when(valid, F.col("__cell")[0])
            )
            .drop("__cell")
        )
    return enc.withColumn("pq_ok", valid)


def foreach_batch_merge_snapshots(
    stream_df: DataFrame,
    checkpoint_dir: str,
    root: str,
    keys: list[str],
    spark: SparkSession,
    update_cols: list[str] | None = None,
    txn_app_id: str | None = None,
):
    """Streaming upsert sink over the commit-log snapshot table
    (snapshots.py): every micro-batch MERGEs (merge_upsert) into a new
    table version — the reference's idempotent ON-DUPLICATE write (H4).

    Exactly-once by two mechanisms: (a) each version commit is ONE
    atomic manifest create, so readers never observe a half-written
    merge; (b) every commit records ``(txn_app_id, batch_id)`` in the
    manifest's carried-forward ``txn`` map, and a REPLAYED batch —
    SAME app id, batch id <= that app's watermark (the at-least-once
    case after a sink failure) — is skipped outright instead of
    relying on merge idempotence. Scoping the guard by app id is what
    Delta's idempotent writes do with (txnAppId, txnVersion): a bare
    batch-id compare would silently DISCARD all data from a rebuilt
    checkpoint or a replacement stream (their batch numbering restarts
    at 0) pointed at the same table root. ``txn_app_id`` defaults to
    the checkpoint dir — replace the checkpoint, and the sink treats
    the query as a new writer and merges instead of skipping. Every
    pre-merge state stays time-travelable for audit/rollback.
    Single-writer per table root at a time (Structured Streaming
    guarantees one active sink per checkpoint); a SnapshotConflict
    here means a second concurrent writer is misconfigured and should
    surface.

    Returns the started query (AvailableNow).
    """
    from dex_data_ingestor_spark import snapshots as S

    app_id = txn_app_id or checkpoint_dir

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # ONE resolution per batch: the replay decision and the merge
        # base come from the SAME snapshot (re-resolving latest for
        # the read would open a window where a maintenance commit
        # lands in between and the guard's decision no longer matches
        # the merge base). The base is the MAINLINE head (_resolve),
        # NOT the raw log tail: the tail can be a branch-STAGED
        # commit, and merging into it would publish unaudited branch
        # data as mainline without snapshot_publish. The base version
        # also rides the commit as expected_base, so a concurrent
        # commit between read and claim surfaces as SnapshotConflict
        # (a lost update otherwise — the merge output was derived
        # from the stale base).
        try:
            latest = S._resolve(root)
        except FileNotFoundError:
            latest = None
        entry = (latest or {}).get("txn", {}).get(app_id, {})
        last_for_app = entry.get("b", -1) if isinstance(entry, dict) else entry
        if batch_id <= last_for_app:
            return  # replayed micro-batch of THIS writer: committed
        if latest is not None:
            merged = merge_upsert(
                S._read_data(spark, latest),  # DV-aware base
                batch_df,
                keys,
                update_cols,
            )
        else:
            merged = batch_df
        S.snapshot_write(
            merged,
            root,
            op="stream-merge",
            extra={
                "batch_id": batch_id,
                "keys": list(keys),
                "txn": {app_id: batch_id},
            },
            expected_base=latest["version"] if latest else 0,
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_append_snapshots(
    stream_df: DataFrame,
    checkpoint_dir: str,
    root: str,
    spark: SparkSession,
    txn_app_id: str | None = None,
):
    """Streaming APPEND sink over the commit-log snapshot table: each
    micro-batch commits via ``snapshots.snapshot_append`` — O(|batch|)
    write cost per trigger (only the batch's files are written; the
    base version's dirs are reused), the right sink for append-only
    event ingest where :func:`foreach_batch_merge_snapshots` would
    rewrite the whole table every batch.

    Same exactly-once contract as the merge sink: atomic manifest
    commits plus the ``(txn_app_id, batch_id)`` replay guard scoped by
    app id (checkpoint dir by default). The first batch creates the
    table. Maintenance: appended dirs accumulate one per batch — run
    ``snapshot_compact`` on a cadence (it folds the chain and re-sorts
    the layout), exactly like Delta's OPTIMIZE after streaming writes.

    Returns the started query (AvailableNow)."""
    from dex_data_ingestor_spark import snapshots as S

    app_id = txn_app_id or checkpoint_dir

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        try:
            latest = S._resolve(root)
        except FileNotFoundError:
            latest = None
        entry = (latest or {}).get("txn", {}).get(app_id, {})
        last_for_app = (
            entry.get("b", -1) if isinstance(entry, dict) else entry
        )
        if batch_id <= last_for_app:
            return  # replayed micro-batch of THIS writer: committed
        extra = {"batch_id": batch_id, "txn": {app_id: batch_id}}
        if latest is None:
            S.snapshot_write(
                batch_df, root, op="stream-append", extra=extra
            )
        else:
            S.snapshot_append(spark, root, batch_df, extra=extra)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_refresh_agg(
    stream_df: DataFrame,
    checkpoint_dir: str,
    agg_root: str,
    group_cols: list[str],
    measures: list[str],
    spark: SparkSession,
    txn_app_id: str | None = None,
):
    """Streaming incremental roll-up: each micro-batch's signed
    contribution merges into a snapshot-stored grouped aggregate
    (operators/matview.maintain_grouped_sums) at |batch| cost — the
    streaming twin of the batch refresh loop
    (matview.snapshot_refresh_agg), and the scale answer to
    re-aggregating a 100 TB fact stream per refresh.

    Append-only streams contribute inserts only (``removed`` is the
    batch's empty projection); retraction feeds route pre-images
    through a removed-rows column upstream instead. Exactness is the
    matview decimal discipline: after any number of micro-batches the
    stored aggregate is bit-equal to a from-scratch groupBy of
    everything ingested (drained-parity-tested).

    Exactly-once mirrors :func:`foreach_batch_merge_snapshots`
    verbatim: the replay decision and the maintenance base come from
    the SAME manifest read, and a replayed (app, batch) pair commits
    nothing — double-applying a delta is the one failure mode an
    incremental aggregate cannot detect after the fact, so the guard
    is load-bearing, not an optimization.
    """
    from dex_data_ingestor_spark import snapshots as S
    from dex_data_ingestor_spark.operators.matview import (
        grouped_sums,
        maintain_grouped_sums,
    )

    app_id = txn_app_id or checkpoint_dir

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        latest = S._latest_manifest(agg_root)
        entry = (latest or {}).get("txn", {}).get(app_id, {})
        last_for_app = (
            entry.get("b", -1) if isinstance(entry, dict) else entry
        )
        if batch_id <= last_for_app:
            return  # replayed micro-batch: its delta is already in
        if latest is None:
            refreshed = grouped_sums(batch_df, group_cols, measures)
        else:
            refreshed = maintain_grouped_sums(
                S._read_data(spark, latest),  # DV-aware base
                batch_df.limit(0),
                batch_df,
                group_cols,
                measures,
            )
        S.snapshot_write(
            refreshed,
            agg_root,
            op="stream-refresh",
            extra={"batch_id": batch_id, "txn": {app_id: batch_id}},
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
