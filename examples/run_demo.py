#!/usr/bin/env python
"""End-to-end demo: everything a reference user runs, on one engine.

    python examples/run_demo.py [sf_dir] [work_dir]

1. batch catch-up of the five reference sync tasks into a parquet
   star-schema warehouse (bookmarked incremental windows),
2. data-quality audit of the result,
3. the same hourly aggregation as a Structured Streaming query
   (AvailableNow) with an idempotent merge sink,
4. training-corpus curation + vector search over the same session.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from dex_data_ingestor_spark import get_session, load_table
from dex_data_ingestor_spark.operators import quality as Q
from dex_data_ingestor_spark.operators.corpus import (
    corpus_stats,
    curate_documents,
)
from dex_data_ingestor_spark.operators.vector import cosine_topk
from dex_data_ingestor_spark.plans.pipelines import DexWarehouse, run_catchup
from dex_data_ingestor_spark.snapshots import snapshot_read
from dex_data_ingestor_spark.streaming.jobs import (
    events_stream_from_parquet,
    foreach_batch_merge_snapshots,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dex_demo"
    spark = get_session(app_name="dex-demo")
    spark.sparkContext.setLogLevel("ERROR")

    print("== 1. batch catch-up (5 sync tasks, bookmarked windows)")
    counts = run_catchup(
        spark, sf_dir, os.path.join(work, "warehouse"), dt.datetime(2024, 2, 1)
    )
    for task, n in counts.items():
        print(f"   {task}: {n} rows")

    print("== 2. data-quality audit")
    wh = DexWarehouse(spark, os.path.join(work, "warehouse"))
    dim, fact = wh.read("dim_tokens"), wh.read("fact_token_daily_stats")
    audit = Q.check_all(
        {
            "dim_pk_unique": Q.violations_duplicate_key(dim, ["chain_id", "address"]),
            "fact_pk_unique": Q.violations_duplicate_key(fact, ["token_id", "date"]),
            "fact_fk": Q.violations_ref_integrity(fact, dim, ["token_id"], ["id"]),
        }
    )
    print(f"   violations: {audit}")

    print("== 3. streaming twin (AvailableNow + idempotent merge sink)")
    src = os.path.join(work, "stream_src")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    stream = events_stream_from_parquet(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    hourly = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour"),
            "event_type",
            "n",
        )
    )
    q = foreach_batch_merge_snapshots(
        hourly,
        os.path.join(work, "ckpt"),
        os.path.join(work, "hourly_counts"),
        keys=["hour", "event_type"],
        spark=spark,
    )
    q.awaitTermination(timeout=300)
    n_windows = snapshot_read(spark, os.path.join(work, "hourly_counts")).count()
    print(f"   hourly windows merged: {n_windows}")

    print("== 4. corpus curation + vector search")
    docs = load_table(spark, sf_dir, "documents")
    curated = curate_documents(docs, allowed_langs=("en",), min_words=5)
    print("   corpus:", corpus_stats(curated).collect()[0].asDict())
    em = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in em.filter(F.col("vec_id") == 0).first().embedding]
    top = cosine_topk(em, "vec_id", "embedding", qv, k=5).collect()
    print("   top-5 neighbors of vec 0:", [(r.vec_id, r.cos_sim) for r in top])

    print("== 5. dup clustering, entity match, table diff")
    from dex_data_ingestor_spark.operators.graph import (
        component_survivors, connected_components,
    )
    from dex_data_ingestor_spark.operators.neardup import ngram_jaccard_pairs
    from dex_data_ingestor_spark.operators.entity import edit_distance_pairs
    from dex_data_ingestor_spark.operators.merge import table_diff

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs, src="a_id", dst="b_id")
    surv = component_survivors(comps)
    print("   near-dup clusters:", surv.count(),
          "| docs in clusters:", comps.count())
    cust = load_table(spark, sf_dir, "customer")
    fuzzy = edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=1)
    print("   name pairs within 1 edit:", fuzzy.count())
    old_v = cust.filter(F.col("c_custkey") % 2 == 0)
    diff = table_diff(old_v, cust, keys=["c_custkey"])
    print("   table diff rows (half removed):",
          diff.groupBy("status").count().collect())

    print("== 6. versioned snapshot table: merge, time travel, rollback")
    from dex_data_ingestor_spark import snapshots as S

    tbl = os.path.join(work, "tokens_tbl")
    S.snapshot_write(cust.limit(50), tbl)
    S.snapshot_merge(
        spark, tbl,
        cust.limit(60).withColumn("c_acctbal", F.col("c_acctbal") + 1),
        keys=["c_custkey"],
    )
    print("   versions:", [
        (m["version"], m["op"]) for m in S.snapshot_versions(tbl)
    ])
    print("   latest rows:", S.snapshot_read(spark, tbl).count(),
          "| v1 rows (time travel):",
          S.snapshot_read(spark, tbl, version=1).count())
    S.snapshot_rollback(tbl, to_version=1)
    print("   after rollback latest == v1:",
          S.snapshot_read(spark, tbl).count())
    from dex_data_ingestor_spark.sources import SnapshotCdfDataSource

    spark.dataSource.register(SnapshotCdfDataSource)
    feed = spark.read.format("snapshot_cdf").load(tbl)
    print("   change feed by (version, type):", sorted(
        tuple(r) for r in feed.groupBy(
            "_commit_version", "_change_type"
        ).count().collect()
    ))
    # merge-on-read DML: O(|changed|) commits, no table rewrite
    S.snapshot_append(spark, tbl, cust.limit(70).subtract(cust.limit(60)))
    S.snapshot_delete(
        spark, tbl, "c_custkey % 10 = 0", mode="mor"
    )
    S.snapshot_update(
        spark, tbl, "c_custkey % 10 = 1",
        {"c_acctbal": "c_acctbal + 1000"}, mode="mor",
    )
    m = S._resolve(tbl)
    print("   after MOR append/delete/update: rows =",
          S.snapshot_read(spark, tbl).count(),
          "| dv sidecars =", len(m.get("dv_dirs", [])),
          "| append dirs =", len(m.get("extra_dirs", [])))

    print("== 7. span-level dedup, chunking, token budget, SCD2")
    from dex_data_ingestor_spark.operators.corpus import (
        chunk_documents,
        repeated_substring_spans,
        strip_repeated_substrings,
    )
    from dex_data_ingestor_spark.operators.timeseries import scd2_intervals

    docs = load_table(spark, sf_dir, "documents")
    spans = repeated_substring_spans(docs, min_len=20)   # hash-keyed
    print("   docs with repeated >=20-char spans:", spans.count())
    stripped = strip_repeated_substrings(docs, min_len=20)
    print("   docs surviving span-strip (full dups vanish):",
          stripped.count(), "/", docs.count())
    chunks = chunk_documents(docs, chunk_size=200, stride=150)
    print("   RAG chunks (200c window / 150c stride):", chunks.count())
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    dim = scd2_intervals(ev, ["user_id"], "ts",
                         ["event_type", "value"],
                         order_tiebreak=["event_id"])
    print("   SCD2 versions:", dim.count(), "| current rows:",
          dim.filter("is_current").count())

    print("== 8. boilerplate-aware curation + Bloom-pruned decontamination")
    from dex_data_ingestor_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prefilter,
    )
    from dex_data_ingestor_spark.operators.corpus import (
        contamination_by_lang,
    )

    stripped_curated = curate_documents(
        docs, allowed_langs=("en",), min_quality=0.3, min_words=5,
        near_dup=True, strip_substrings_min_len=20,
    )
    print("   strip->curate survivors:", stripped_curated.count(),
          "/", docs.count())
    cont = contamination_by_lang(docs, bloom_prune=True).orderBy("lang")
    for r in cont.collect():
        print(f"   contamination[{r.lang}]: {r.n_contaminated}/"
              f"{r.n_eval_grams} eval grams in train")
    # the prefilter's effect, measured: train grams surviving the
    # bitmap — same gram population as the operator, by construction
    from dex_data_ingestor_spark.operators.corpus import (
        corpus_gram_buckets,
    )

    gr = corpus_gram_buckets(docs)
    ev_grams = gr.filter("bucket >= 90").select("gram").distinct()
    train_grams = gr.filter("bucket < 80").select("gram")
    kept = bloom_prefilter(train_grams, bloom_bitmap(ev_grams, "gram"), "gram")
    print("   bloom prefilter: train grams", train_grams.count(),
          "->", kept.count(), "before the distinct shuffle")

    print("== 9. real audio decode (WAV PCM) with per-row quarantine")
    import io
    import math
    import wave as wavmod

    from dex_data_ingestor_spark.operators.multimodal import audio_stats

    def sine_wav(freq, secs=0.5, rate=8000):
        buf = io.BytesIO()
        w = wavmod.open(buf, "wb")
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                int(20000 * math.sin(2 * math.pi * freq * i / rate))
                .to_bytes(2, "little", signed=True)
                for i in range(int(rate * secs))
            )
        )
        w.close()
        return buf.getvalue()

    clips = spark.createDataFrame(
        [(1, sine_wav(440)), (2, sine_wav(880)), (3, b"not audio")],
        "doc_id long, payload binary",
    )
    for r in audio_stats(clips).orderBy("doc_id").collect():
        if r.decoded:
            print(f"   clip {r.doc_id}: {r.sample_rate} Hz, "
                  f"{r.duration_ms:.0f} ms, rms {r.rms:.3f}, "
                  f"zcr*rate ~ {r.zero_crossing_rate * r.sample_rate:.0f}")
        else:
            print(f"   clip {r.doc_id}: quarantined ({r.error})")
    print("== 10. data selection: DSIR importance, perplexity, "
          "semantic dedup, leakage-safe split")
    from dex_data_ingestor_spark.operators.corpus import leakage_safe_split
    from dex_data_ingestor_spark.operators.text import (
        dsir_importance,
        unigram_logloss,
    )
    from dex_data_ingestor_spark.operators.vector import (
        seeded_centroids,
        semantic_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = (
        dsir_importance(docs, F.col("source").isin("src0", "src1"))
        .orderBy(F.col("importance").desc()).limit(3).collect()
    )
    print("   top DSIR-importance docs (look most like src0/src1):")
    for r in top:
        print(f"     doc {r.doc_id}: importance {r.importance:.3f} "
              f"({r.n_inst} tokens)")
    ppl = unigram_logloss(docs)
    lo, hi = ppl.agg(F.min("avg_nll"), F.max("avg_nll")).first()
    print(f"   unigram log-loss spread: {lo:.2f} .. {hi:.2f} nats/token")
    em2 = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(dim=64, ncells=8)
    kept = semantic_dedup(em2, "vec_id", "embedding", cents, 0.3)
    print(f"   semantic dedup: {em2.count()} vectors -> "
          f"{kept.count()} survivors")
    splits = leakage_safe_split(docs).groupBy("split").count().collect()
    print("   leakage-safe split:",
          {r["split"]: r["count"] for r in splits})

    print("== 11. real image/video decode: baseline JPEG via MJPEG AVI")
    from dex_data_ingestor_spark.operators.multimodal import (
        decode_media,
        sample_frames,
    )
    from tests.test_multimodal_decode import _flat_zz, _make_avi, _make_jpeg

    avi = _make_avi(
        [_make_jpeg(8, 8, [[_flat_zz(v)]], [(1, 1)]) for v in (60, 180)]
    )
    vids = spark.createDataFrame(
        [(1, bytearray(avi))], "doc_id long, payload binary"
    )
    for r in sample_frames(vids).orderBy("frame_idx").collect():
        arr = decode_media(bytes(r.frame))
        print(f"   frame {r.frame_idx}: real={r.real} "
              f"{arr.shape[1]}x{arr.shape[0]} mean_px {arr.mean():.0f}")

    print("== 12. compressed vector search: PQ codes, ADC + re-rank")
    from dex_data_ingestor_spark.operators.vector import (
        pq_codebooks,
        pq_encode_fast,
        pq_rerank_topk,
        pq_train_codebooks,
    )

    emv = em2.filter(F.col("embedding").isNotNull())
    trained = pq_train_codebooks(
        emv, "embedding", dim=64, m=16, k=16, iterations=2
    )
    codes = pq_encode_fast(emv, "embedding", trained)
    qvec = [float(x) for x in emv.head()["embedding"]]
    hits = pq_rerank_topk(
        emv, "vec_id", "embedding", trained, qvec, k=3, shortlist=50
    ).collect()
    print(f"   {emv.count()} vectors -> {len(trained)}x"
          f"{len(trained[0])} trained codebooks; "
          f"codes col = {codes.select('codes').head()['codes'][:4]}...")
    print("   shortlist+re-rank top-3:",
          [(r.vec_id, r.dist_units) for r in hits])

    print("== 13. lakehouse skipping: Z-order + per-file Bloom index")
    from dex_data_ingestor_spark import snapshots as S

    zroot = os.path.join(work, "ztbl")
    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
        (F.col("id") * 2654435761 % 100_000).alias("uid"),
    ).repartition(8)
    S.snapshot_write_with_stats(
        grid, zroot, stats_cols=["a", "b"], bloom_cols=["uid"]
    )
    S.snapshot_compact(
        spark, zroot, target_files=16, zorder_by=["a", "b"],
        zorder_bits=6,
    )
    zed = S.snapshot_scan_pruned(spark, zroot, "b", 0, 7)
    probe = S.snapshot_read(spark, zroot).head()["uid"]
    point = S.snapshot_scan_point(spark, zroot, "uid", probe)
    print(f"   b<=7 scan reads {len(zed.inputFiles())}/16 z-ordered "
          f"files; uid={probe} point lookup reads "
          f"{len(point.inputFiles())}/16 via the bloom index")

    print("== 14. published filter batteries + ingest-time NB routing")
    from dex_data_ingestor_spark.operators.text import (
        c4_filters,
        gopher_rules,
        nb_classify,
    )

    docs14 = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    g = gopher_rules(docs14, "doc_id", "text")
    c = c4_filters(docs14, "doc_id", "text")
    print(f"   gopher keep: {g.filter('keep').count()}/{g.count()}; "
          f"c4 keep: {c.filter('keep').count()}/{c.count()}")
    from dex_data_ingestor_spark.functions.scalars import md5_int64 as _h

    bucket = _h(F.col("text")) % 100
    routed = nb_classify(
        docs14.filter(bucket < 80), docs14.filter(bucket >= 90), "lang"
    )
    agg14 = sorted(
        (r.pred, r.n) for r in
        routed.groupBy("pred").agg(F.count("*").alias("n")).collect()
    )
    print(f"   NB-routed held-out docs by predicted lang: {agg14}")

    print("== 15. market risk: drawdown + cross-asset return correlation")
    from dex_data_ingestor_spark.plans.testbed import QUERIES as _Q

    dd = {r.event_type: r for r in _Q["q_drawdown"](spark, sf_dir).collect()}
    worst = max(dd.values(), key=lambda r: r.max_dd_frac)
    print(f"   worst drawdown: {worst.event_type} "
          f"{worst.max_dd_frac:.1%} of peak")
    corr = _Q["q_return_corr"](spark, sf_dir).collect()
    print("   hourly-return correlations:",
          [(r.type_a, r.type_b, round(r.corr, 3)) for r in corr[:4]])

    print("== 16. phrase mining + edit-distance dedup verify")
    pmi = _Q["q_pmi_collocations"](spark, sf_dir).limit(3).collect()
    print("   top collocations:",
          [(r.a, r.b, round(r.pmi, 2)) for r in pmi])
    ed = _Q["q_edit_distance"](spark, sf_dir)
    print(f"   edit-verified near-dup pairs (sim >= 0.6): {ed.count()}")

    print("== 17. write-audit-publish + incremental agg maintenance")
    import tempfile

    from dex_data_ingestor_spark import snapshots as S
    from dex_data_ingestor_spark.operators import matview as MV

    wap = tempfile.mkdtemp(prefix="demo_wap_")
    fact_root, agg_root = f"{wap}/fact", f"{wap}/agg"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    S.snapshot_write(ev, fact_root, extra={"keys": ["event_id"]})
    S.snapshot_write(
        MV.grouped_sums(ev, ["event_type"], ["value"]), agg_root
    )
    S.snapshot_create_tag(fact_root, "baseline")
    S.snapshot_create_branch(fact_root, "staging")
    staged = ev.withColumn(
        "value", F.when(F.col("event_id") % 97 == 0, 0.0)
        .otherwise(F.col("value"))
    )
    S.snapshot_write(staged, fact_root, branch="staging")
    main_n = S.snapshot_read(spark, fact_root).count()
    head_n = S.snapshot_read(spark, fact_root, ref="staging").count()
    pub = S.snapshot_publish(fact_root, "staging")
    MV.snapshot_refresh_agg(
        spark, fact_root, agg_root, from_version=1,
        group_cols=["event_type"], measures=["value"],
        keys=["event_id"],
    )
    fresh = MV.grouped_sums(
        S.snapshot_read(spark, fact_root), ["event_type"], ["value"]
    )
    same = sorted(map(tuple, S.snapshot_read(spark, agg_root).collect())) \
        == sorted(map(tuple, fresh.collect()))
    print(f"   staged invisible pre-publish: mainline={main_n} "
          f"branch={head_n}; published v{pub['version']}; "
          f"incremental agg == recompute: {same}")

    spark.stop()
    print("DEMO COMPLETE")


if __name__ == "__main__":
    main()
