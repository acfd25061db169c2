"""Structured Streaming tests: AvailableNow drains over file sources,
batch/stream parity on the same window specs, foreachBatch+merge
exactly-once-effective behavior (SURVEY.md §5 strategy 4)."""

import pytest
from pyspark.sql import functions as F

from dex_data_ingestor_spark import schemas
from dex_data_ingestor_spark.io import load_table
from dex_data_ingestor_spark.snapshots import snapshot_read
from dex_data_ingestor_spark.streaming.jobs import (
    events_stream_from_parquet,
    foreach_batch_merge_snapshots,
    session_windows,
    tumbling_counts,
)


@pytest.fixture()
def event_files(spark, sf_dir, tmp_path):
    """Split the events table into 3 parquet files (3 micro-batches)."""
    src = str(tmp_path / "stream_src")
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("__b", F.col("event_id") % 3).repartition("__b").drop(
        "__b"
    ).write.mode("overwrite").parquet(src)
    return src


def _drain(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    return name


def test_tumbling_batch_stream_parity(spark, sf_dir, event_files, tmp_path):
    stream = events_stream_from_parquet(spark, event_files, max_files_per_trigger=1)
    name = _drain(tumbling_counts(stream), tmp_path, "t_tumbling")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql(f"select * from {name}").collect()
    }
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_session_window_matches_lag_cumsum_form(spark, sf_dir):
    """Native session_window == the deterministic lag/cumsum batch form
    (q_stream_session) on session starts and sizes."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES

    ev = load_table(spark, sf_dir, "events")
    native = {
        (r.user_id, r.session_start): r.n_events
        for r in session_windows(ev.drop("props")).collect()
    }
    lagform = {
        (r.user_id, r.session_start): r.n_events
        for r in QUERIES["q_stream_session"](spark, sf_dir).collect()
    }
    assert native == lagform and len(native) > 0


def test_foreach_batch_merge_exactly_once_effective(
    spark, sf_dir, event_files, tmp_path
):
    """Replaying the stream from scratch (fresh checkpoint) against the
    already-written snapshot table changes nothing: a fresh checkpoint
    is a new writer, so its batches merge rather than being skipped,
    and merge is idempotent, so at-least-once delivery is
    exactly-once-effective (reference H4)."""
    target = str(tmp_path / "target")

    def run(ckpt: str):
        stream = events_stream_from_parquet(spark, event_files).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        daily = (
            stream.withWatermark("ts", "1 day")
            .groupBy(
                F.window("ts", "1 day").alias("w"), F.col("user_id")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("day"),
                "user_id",
                "n",
            )
        )
        q = foreach_batch_merge_snapshots(
            daily,
            str(tmp_path / ckpt),
            target,
            keys=["day", "user_id"],
            spark=spark,
        )
        q.awaitTermination(timeout=180)

    run("ckpt_a")
    first = sorted(
        (r.day, r.user_id, r.n)
        for r in snapshot_read(spark, target).collect()
    )
    run("ckpt_b")  # fresh checkpoint -> full replay -> must be a no-op
    second = sorted(
        (r.day, r.user_id, r.n)
        for r in snapshot_read(spark, target).collect()
    )
    assert first == second and len(first) > 0


def test_stream_dedup_across_batches(spark, sf_dir, tmp_path):
    """Duplicate rows injected across files are removed by streaming
    state, matching batch dropDuplicates on the same keys."""
    from dex_data_ingestor_spark.streaming.jobs import stream_dedup

    src = str(tmp_path / "dup_src")
    ev = load_table(spark, sf_dir, "events").limit(300)
    # write the same rows twice into two files -> cross-batch dups
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = events_stream_from_parquet(spark, src, max_files_per_trigger=1)
    deduped = stream_dedup(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = spark.sql("select count(*) n, count(distinct event_id) d from t_dedup").collect()[0]
    assert got.n == got.d == 300


def test_stream_stream_join_batch_parity(spark, sf_dir, event_files, tmp_path):
    """Watermarked stream-stream self-join over user_id with a time-
    range bound equals the identical join on static frames."""
    from dex_data_ingestor_spark.streaming.jobs import stream_stream_join

    def build(left, right):
        return stream_stream_join(
            left.select("event_id", "ts", "user_id"),
            right.select("event_id", "ts", "user_id"),
            on="user_id",
            max_lag="30 minutes",
        )

    stream = events_stream_from_parquet(
        spark, event_files, max_files_per_trigger=1
    )
    joined = build(stream, stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjoin"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)
    got = {
        tuple(r) for r in spark.sql("select * from t_ssjoin").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {tuple(r) for r in build(ev, ev).collect()}
    assert got == want and len(got) > 0


def test_stateful_running_totals(spark, sf_dir, event_files, tmp_path):
    """applyInPandasWithState accumulates across micro-batches; the
    final per-user state equals the batch aggregate."""
    from dex_data_ingestor_spark.streaming.jobs import running_totals_stateful

    stream = events_stream_from_parquet(spark, event_files, max_files_per_trigger=1)
    q = (
        running_totals_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)
    # last emitted row per user = final running totals
    final = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            """select user_id, n_events, total_value from (
                 select *, row_number() over (
                   partition by user_id order by n_events desc) rn
                 from t_stateful) where rn = 1"""
        ).collect()
    }
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == batch and len(final) > 0


def test_state_v2_running_totals_rocksdb(spark, sf_dir, event_files, tmp_path):
    """transformWithStateInPandas (state API v2) on the RocksDB
    provider: plan construction always; execution parity with the
    batch aggregate when the protobuf protocol dependency exists
    (state_v2_available), else skip — the operator itself documents
    the v1 fallback."""
    from dex_data_ingestor_spark.streaming.jobs import (
        configure_rocksdb_state,
        running_totals_state_v2,
        state_v2_available,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    configure_rocksdb_state(spark)
    try:
        stream = events_stream_from_parquet(
            spark, event_files, max_files_per_trigger=1
        )
        out = running_totals_state_v2(stream)
        # plan construction + output contract hold with or without
        # the runtime protocol dependency
        assert [f.name for f in out.schema.fields] == [
            "user_id", "n_events", "total_value",
        ]
        if not state_v2_available():
            pytest.skip("google.protobuf absent: state-v2 runtime gated off")
        q = (
            out.writeStream.format("memory")
            .queryName("t_state_v2")
            .option("checkpointLocation", str(tmp_path / "ckpt_v2"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=180)
        final = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in spark.sql(
                """select user_id, n_events, total_value from (
                     select *, row_number() over (
                       partition by user_id order by n_events desc) rn
                     from t_state_v2) where rn = 1"""
            ).collect()
        }
        batch = {
            r.user_id: (r.n, round(r.total, 6))
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert final == batch and len(final) > 0
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_rocksdb_provider_runs_v1_stateful(spark, sf_dir, event_files, tmp_path):
    """The RocksDB state store provider (JVM-side, no python protocol
    dependency) executes the v1 stateful operator with identical
    results — proving configure_rocksdb_state is a live production
    path in this environment, not just a config string."""
    from dex_data_ingestor_spark.streaming.jobs import (
        configure_rocksdb_state,
        running_totals_stateful,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    configure_rocksdb_state(spark)
    try:
        stream = events_stream_from_parquet(
            spark, event_files, max_files_per_trigger=1
        )
        q = (
            running_totals_stateful(stream)
            .writeStream.format("memory")
            .queryName("t_rocksdb_v1")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=180)
        final = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in spark.sql(
                """select user_id, n_events, total_value from (
                     select *, row_number() over (
                       partition by user_id order by n_events desc) rn
                     from t_rocksdb_v1) where rn = 1"""
            ).collect()
        }
        batch = {
            r.user_id: (r.n, round(r.total, 6))
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert final == batch and len(final) > 0
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_neardup_ingest_is_incremental_and_idempotent(
    spark, sf_dir, tmp_path
):
    """Docs arriving over two micro-batches: near-dups of already-
    accepted docs are rejected, replay from a fresh checkpoint changes
    nothing, and the accepted set matches the batch-mode rule (every
    rejected doc LSH-matches some doc with a smaller id)."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
    )
    from dex_data_ingestor_spark.streaming.jobs import stream_neardup_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_in")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    index_path = str(tmp_path / "index")
    accepted_path = str(tmp_path / "accepted")
    doc_schema = docs.schema

    def run(ckpt):
        stream = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_neardup_ingest(
            stream, str(tmp_path / ckpt), index_path, accepted_path, spark
        )
        q.awaitTermination(timeout=300)

    run("ckpt_a")
    accepted1 = {
        r.doc_id for r in spark.read.parquet(accepted_path).collect()
    }
    n_docs = docs.count()
    assert 0 < len(accepted1) < n_docs  # some rejects happened

    # every rejected doc has an LSH candidate partner that was accepted
    # (chains collapse toward survivors) or shares a bucket with a
    # smaller-id doc in its own batch
    buckets = lsh_band_buckets_wide(
        minhash_signatures_wide(docs, "doc_id", "text"), "doc_id"
    )
    pairs = {
        (r.a_id, r.b_id)
        for r in lsh_candidate_pairs(buckets, "doc_id").collect()
    }
    rejected = {r["doc_id"] for r in docs.collect()} - accepted1
    partners = {b: a for a, b in pairs} | {a: b for a, b in pairs}
    assert all(r in partners for r in rejected)

    run("ckpt_b")  # fresh checkpoint: full replay must be a no-op
    accepted2 = {
        r.doc_id for r in spark.read.parquet(accepted_path).collect()
    }
    assert accepted1 == accepted2
    # index holds exactly the accepted docs' buckets (2 bands per doc)
    idx = spark.read.parquet(index_path)
    assert {r.doc_id for r in idx.select("doc_id").collect()} == accepted1


def test_stream_chunk_documents_batch_parity(spark, sf_dir, tmp_path):
    """chunk_documents is a stateless narrow transform, so it composes
    into a stream unchanged: chunking two document micro-batches
    through readStream yields exactly the batch-side chunks (the
    stream->RAG-indexing ingest path)."""
    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(src)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    chunks = chunk_documents(stream, chunk_size=200, stride=150)

    batches: list[list] = []
    q = (
        chunks.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_chunks"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len([b for b in batches if b]) >= 2

    key = lambda r: (r.doc_id, r.chunk_id)  # noqa: E731
    streamed = sorted((r for b in batches for r in b), key=key)
    batch_side = sorted(
        chunk_documents(docs, chunk_size=200, stride=150).collect(),
        key=key,
    )
    assert streamed == batch_side


def test_stream_contamination_guard(spark, tmp_path):
    """The ingest-time decontamination guard: a doc stream annotated
    against a static eval corpus's gram bitmap. Planted overlaps are
    flagged (no false negatives BY CONSTRUCTION), clean docs pass at
    this corpus size (bitmap far oversized -> FP ~ 0), the guard is
    map-only (works with append sinks, no watermark), and the stream
    output equals the batch-side run of the same transformation."""
    import random
    import string

    from dex_data_ingestor_spark.streaming.jobs import (
        stream_contamination_guard,
    )

    def filler(seed, n_words):
        rng = random.Random(7000 + seed)
        return " ".join(
            "".join(rng.choice(string.ascii_lowercase) for _ in range(5))
            for _ in range(n_words)
        )

    eval_text = "held out evaluation answer " + filler(0, 30)
    eval_docs = spark.createDataFrame(
        [(100, eval_text)], "doc_id long, text string"
    )
    rows = [
        (1, filler(1, 40)),                                  # clean
        (2, filler(2, 10) + " held out evaluation answer "   # planted
             + filler(3, 10)),
        (3, filler(4, 40)),                                  # clean
        (4, eval_text),                                      # full copy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "guard_src")
    docs.filter("doc_id <= 2").coalesce(1).write.mode("overwrite").parquet(src)
    docs.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    guarded = stream_contamination_guard(stream, eval_docs)
    q = (
        guarded.writeStream.format("memory")
        .queryName("guard_out")
        .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM guard_out").collect()}

    assert set(out) == {1, 2, 3, 4}
    assert out[2].contaminated and out[4].contaminated  # planted overlap
    assert not out[1].contaminated and not out[3].contaminated
    assert out[4].n_flagged == out[4].n_grams  # full copy: all grams hit
    assert 0 < out[2].n_flagged < out[2].n_grams

    # batch parity: identical transformation on the batch frame
    batch = {
        r.doc_id: r
        for r in stream_contamination_guard(docs, eval_docs).collect()
    }
    for d in out:
        assert (out[d].n_grams, out[d].n_flagged, out[d].contaminated) == (
            batch[d].n_grams, batch[d].n_flagged, batch[d].contaminated
        )


def test_stream_perplexity_guard_matches_batch_scores(spark, tmp_path):
    """The ingest-time perplexity gate: stream scores must equal the
    batch unigram_logloss scores EXACTLY (integer micro-nat parity —
    same model, same quantization), garbled text ranks above
    boilerplate, and empty docs pass un-flagged with NULL avg_nll."""
    import random
    import string

    from dex_data_ingestor_spark.operators.text import unigram_logloss
    from dex_data_ingestor_spark.streaming.jobs import (
        stream_perplexity_guard,
    )

    rng = random.Random(4242)
    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(1, 9)]  # repetitive mass
    garbled = " ".join(
        "".join(rng.choice(string.ascii_lowercase) for _ in range(8))
        for _ in range(9)
    )
    rows.append((9, garbled))
    rows.append((10, "   "))  # whitespace-only: excluded from batch
    rows.append((11, None))   # NULL text: empty token list, not -1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    batch = {
        r.doc_id: r
        for r in unigram_logloss(docs, n_buckets=4096).collect()
    }
    assert 10 not in batch  # batch excludes empty docs entirely

    src = str(tmp_path / "pplx_src")
    docs.filter("doc_id <= 5").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    docs.filter("doc_id > 5").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    guarded = stream_perplexity_guard(
        stream, docs, n_buckets=4096, max_avg_nll=4.0
    )
    q = (
        guarded.writeStream.format("memory")
        .queryName("pplx_out")
        .option("checkpointLocation", str(tmp_path / "pplx_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM pplx_out").collect()}

    assert set(out) == set(range(1, 12))
    for i, r in batch.items():  # exact integer micro-nat parity
        assert out[i].nll_units == r.nll_units, i
        assert out[i].n_tokens == r.n_tokens
        assert out[i].avg_nll == r.avg_nll
    assert out[9].garbled and not out[1].garbled
    assert out[9].avg_nll > out[1].avg_nll
    for empty in (10, 11):
        assert out[empty].n_tokens == 0, empty
        assert out[empty].avg_nll is None and out[empty].garbled is False

    # empty reference corpus must fail fast, not silently drop rows
    from dex_data_ingestor_spark.streaming.jobs import (
        stream_perplexity_guard as _guard,
    )
    empty_corpus = spark.createDataFrame([(1, "   ")],
                                         "doc_id long, text string")
    with pytest.raises(ValueError, match="no unigram model"):
        _guard(stream, empty_corpus, n_buckets=64)


def test_ohlc_bars_batch_stream_parity(spark, sf_dir, event_files, tmp_path):
    """The streaming OHLC build must emit exactly the batch
    q_ohlc_bars series — same opens/closes under the packed ordering
    key, same micro-unit volumes — once drained."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES
    from dex_data_ingestor_spark.streaming.jobs import ohlc_bars

    stream = events_stream_from_parquet(
        spark, event_files, max_files_per_trigger=1
    )
    name = _drain(ohlc_bars(stream), tmp_path, "t_ohlc")
    got = {
        (r.bar_start, r.event_type): (
            r.open_px, r.high_px, r.low_px, r.close_px,
            r.n_ticks, r.volume_units,
        )
        for r in spark.sql(f"select * from {name}").collect()
    }
    want = {
        (r.bar_start, r.event_type): (
            r.open_px, r.high_px, r.low_px, r.close_px,
            r.n_ticks, r.volume_units,
        )
        for r in QUERIES["q_ohlc_bars"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_stream_pq_encode_batch_parity_and_quarantine(spark, tmp_path):
    """Ingest-time PQ encoding: drained stream codes must equal the
    batch pq_encode codes BIT-FOR-BIT (exact integer argmin — no
    tolerance), the coarse cell must match the batch single-codebook
    assignment, and malformed vectors (NULL, wrong dim) quarantine
    with pq_ok=false instead of failing the stream."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_codebooks,
        pq_encode,
    )
    from dex_data_ingestor_spark.streaming.jobs import stream_pq_encode

    dim, m, k = 8, 4, 4
    cbs = pq_codebooks(dim, m, k, seed=7)
    coarse = pq_codebooks(dim, 1, 4, seed=23)[0]
    rng_rows = [
        (i, [((i * 37 + j * 11) % 100) / 100.0 for j in range(dim)])
        for i in range(1, 21)
    ]
    rows = rng_rows + [
        (21, None), (22, [0.1, 0.2]),
        (23, [float("nan")] + [0.0] * (dim - 1)),
    ]
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )

    good = docs.filter(F.col("vec_id") <= 20)
    batch_codes = {
        r.vec_id: (r.codes, r.cell_arr[0])
        for r in pq_encode(
            pq_encode(good, "embedding", cbs),
            "embedding",
            [coarse],
            codes_col="cell_arr",
        ).collect()
    }

    src = str(tmp_path / "pq_src")
    docs.filter("vec_id <= 10").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    docs.filter("vec_id > 10").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_pq_encode(stream, cbs, coarse=coarse)
        .writeStream.format("memory")
        .queryName("pq_out")
        .option("checkpointLocation", str(tmp_path / "pq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    out = {r.vec_id: r for r in spark.sql("SELECT * FROM pq_out").collect()}
    assert set(out) == set(range(1, 24))
    for i in range(1, 21):
        assert out[i].pq_ok
        assert out[i].codes == batch_codes[i][0], i
        assert out[i].cell == batch_codes[i][1], i
    for bad in (21, 22, 23):
        assert not out[bad].pq_ok
        assert out[bad].codes is None and out[bad].cell is None

    with pytest.raises(ValueError, match="coarse centroid dim"):
        stream_pq_encode(stream, cbs, coarse=[[0] * 4])


def test_stream_nb_guard_matches_batch_predictions(spark, tmp_path):
    """The ingest-time NB routing guard: stream predictions and
    scores must equal operators/text.nb_classify EXACTLY (same
    _nb_fit tables, integer micro-nat scores, lexicographic
    tie-break), and empty/NULL docs flow through with NULL pred
    instead of a guess (batch excludes them)."""
    from dex_data_ingestor_spark.operators.text import nb_classify
    from dex_data_ingestor_spark.streaming.jobs import stream_nb_guard

    train = spark.createDataFrame(
        [("en", "the cat sat on the mat"), ("en", "the dog sat"),
         ("fr", "le chat dort"), ("fr", "le chien dort bien")],
        "lang string, text string",
    )
    test_rows = [
        (1, "the cat"),
        (2, "le chien"),
        (3, "dort the the"),
        (4, "zzz unseen everywhere"),
        (5, "   "),
        (6, None),
    ]
    docs = spark.createDataFrame(test_rows, "doc_id long, text string")

    batch = {
        r.doc_id: r for r in nb_classify(train, docs, "lang").collect()
    }
    assert batch[1].pred == "en" and batch[2].pred == "fr"
    assert 5 not in batch and 6 not in batch

    src = str(tmp_path / "nb_src")
    docs.filter("doc_id <= 3").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    docs.filter("doc_id > 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    guarded = stream_nb_guard(stream, train, label_col="lang")
    q = (
        guarded.writeStream.format("memory")
        .queryName("nb_out")
        .option("checkpointLocation", str(tmp_path / "nb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    out = {r.doc_id: r for r in spark.sql("SELECT * FROM nb_out").collect()}

    assert set(out) == set(range(1, 7))
    for i, r in batch.items():  # exact integer micro-nat parity
        assert out[i].pred == r.pred, i
        assert out[i].score_units == r.score_units, i
    assert out[5].pred is None and out[5].score_units is None
    assert out[6].pred is None and out[6].n_tokens == 0


def test_session_window_merges_at_exactly_equal_gap(spark):
    """Pin the session_window boundary rule the debounce twin relies
    on: two events EXACTLY one gap apart merge into one session (==
    extends, same as the batch island rule's diff > gap test), and
    one microsecond beyond splits. If a Spark upgrade ever flips this
    to a strict merge, the debounce twins diverge at the boundary —
    this test is the tripwire."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0),
            (1, t0 + dt.timedelta(seconds=60)),
            (2, t0),
            (2, t0 + dt.timedelta(seconds=60, microseconds=1)),
        ],
        "k long, ts timestamp",
    )
    sessions = (
        df.groupBy(F.session_window("ts", "60 seconds").alias("w"), "k")
        .count()
        .collect()
    )
    per_key = {}
    for r in sessions:
        per_key[r.k] = per_key.get(r.k, 0) + 1
    assert per_key == {1: 1, 2: 2}, sessions


def test_stream_debounce_batch_parity(spark, sf_dir, event_files, tmp_path):
    """The streaming burst throttle must emit exactly q_debounce's
    leader set once drained — including at exact-gap boundaries,
    where both sides extend (pinned above)."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES
    from dex_data_ingestor_spark.streaming.jobs import stream_debounce

    stream = events_stream_from_parquet(
        spark, event_files, max_files_per_trigger=1
    )
    name = _drain(stream_debounce(stream), tmp_path, "t_debounce")
    got = {
        (r.user_id, r.event_type, r.event_id, r.ts)
        for r in spark.sql(f"select * from {name}").collect()
    }
    want = {
        (r.user_id, r.event_type, r.event_id, r.ts)
        for r in QUERIES["q_debounce"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_stream_session_exact_gap_boundary_parity(spark, tmp_path):
    """r9 boundary alignment (code-review finding): q_stream_session
    previously split at >= gap while every sibling (q_sessionize,
    q_debounce, native session_window — pinned above) extends at ==.
    This crafted table holds the exact-30:00 pair no shipped fixture
    contains: engine, oracle, AND native session_window must all call
    it ONE session, and 30:00.000001 two."""
    import datetime as dt

    import duckdb

    from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES
    from dex_data_ingestor_spark.streaming.jobs import session_windows
    from tests.oracle_check import compare

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 1, 10, 0), 1, "view", 1.0, None),
        (2, T(2024, 1, 1, 10, 30), 1, "view", 1.0, None),   # == gap: same
        (3, T(2024, 1, 1, 9, 0), 2, "view", 1.0, None),
        (4, T(2024, 1, 1, 9, 30, 0, 1), 2, "view", 1.0, None),  # > gap: new
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    df = QUERIES["q_stream_session"](spark, str(tmp_path))
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    problems = compare(df, con, ORACLE_SQL["q_stream_session"])
    con.close()
    assert not problems, problems
    got = {(r.user_id, r.session_seq): r.n_events for r in df.collect()}
    assert got == {(1, 1): 2, (2, 1): 1, (2, 2): 1}, got
    # and the native streaming form agrees at the boundary
    ev = spark.read.parquet(str(tmp_path / "events.parquet"))
    native = {
        (r.user_id, r.n_events)
        for r in session_windows(ev.drop("props")).collect()
    }
    assert native == {(1, 2), (2, 1)}, native
