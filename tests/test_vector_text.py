"""Vector search (brute/IVF/LSH) and text/near-dup/multimodal operator
tests beyond the oracle suite: recall, blocking equivalence, plumbing."""

import pytest
from pyspark.sql import functions as F

from dex_data_ingestor_spark.io import load_table
from dex_data_ingestor_spark.operators import vector as V
from dex_data_ingestor_spark.operators import neardup as ND
from dex_data_ingestor_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_payload,
    decode_media,
    extract_features,
)


@pytest.fixture(scope="module")
def em(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def query_vec(em):
    return [float(x) for x in em.filter(F.col("vec_id") == 0).collect()[0].embedding]


def test_ivf_recall_vs_brute(spark, em, query_vec):
    """IVF with nprobe=4 of 8 cells recovers most of the brute top-10;
    and every IVF hit must appear in the brute top-50 (sanity)."""
    brute10 = [r.vec_id for r in V.cosine_topk(em, "vec_id", "embedding", query_vec, 10).collect()]
    brute50 = {r.vec_id for r in V.cosine_topk(em, "vec_id", "embedding", query_vec, 50).collect()}
    cents = V.seeded_centroids(dim=len(query_vec), ncells=8)
    indexed = V.ivf_assign(em, "embedding", cents)
    ivf10 = [
        r.vec_id
        for r in V.ivf_topk(
            indexed, "vec_id", "embedding", cents, query_vec, k=10, nprobe=4
        ).collect()
    ]
    assert len(ivf10) == 10
    assert set(ivf10) <= brute50
    assert len(set(ivf10) & set(brute10)) >= 5  # recall@10 >= 0.5 with half the cells probed


def test_ivf_full_probe_equals_brute(spark, em, query_vec):
    """Probing every cell must reproduce brute force exactly."""
    cents = V.seeded_centroids(dim=len(query_vec), ncells=4)
    indexed = V.ivf_assign(em, "embedding", cents)
    brute = [r.vec_id for r in V.cosine_topk(em, "vec_id", "embedding", query_vec, 10).collect()]
    full = [
        r.vec_id
        for r in V.ivf_topk(
            indexed, "vec_id", "embedding", cents, query_vec, k=10, nprobe=4
        ).collect()
    ]
    assert full == brute


def test_lsh_ann_single_plane_full_probe_equals_brute(spark, em, query_vec):
    """With 1 plane and hamming_probe=1 the probe set covers both
    buckets, so LSH ANN must reproduce brute force exactly."""
    planes = V.hyperplanes(dim=64, nplanes=1)
    brute = [r.vec_id for r in V.cosine_topk(em, "vec_id", "embedding", query_vec, 10).collect()]
    full = [
        r.vec_id
        for r in V.lsh_ann_topk(
            em, "vec_id", "embedding", planes, query_vec, k=10,
            hamming_probe=1,
        ).collect()
    ]
    assert full == brute


def test_lsh_ann_probe_structure_and_in_bucket_exactness(spark, em, query_vec):
    """6-plane distance-1 probing: the probe set is the query bucket
    plus one flip per plane; the query's own bucket is always probed
    (the true NN — vec_id 0 itself at cos 1.0 — must surface); and the
    result equals the EXACT brute-force top-10 over the probed subset
    (the approximation lives only in which buckets are probed, never
    in the in-bucket scoring)."""
    planes = V.hyperplanes(dim=64, nplanes=6)
    probes = V.lsh_probe_buckets(query_vec, planes, hamming_probe=1)
    assert len(probes) == 7 and len(set(probes)) == 7
    qb = probes[0]
    assert {qb ^ p for p in probes[1:]} == {2**j for j in range(6)}
    hits = V.lsh_ann_topk(
        em, "vec_id", "embedding", planes, query_vec, k=10,
        hamming_probe=1,
    ).collect()
    assert len(hits) == 10
    assert hits[0].vec_id == 0 and hits[0].cos_sim == 1.0
    probed = V.lsh_bucket(em, "embedding", planes).filter(
        F.col("lsh_bucket").isin(probes)
    )
    want = [
        r.vec_id
        for r in V.cosine_topk(
            probed, "vec_id", "embedding", query_vec, 10
        ).collect()
    ]
    assert [r.vec_id for r in hits] == want

    with pytest.raises(ValueError, match="hamming_probe"):
        V.lsh_probe_buckets(query_vec, planes, hamming_probe=2)


def test_lsh_probe_sign_decisions_match_duckdb(em, query_vec):
    """The load-bearing cross-engine claim behind q_ann_lsh: every
    bucket SIGN decision agrees with DuckDB's list_dot_product on the
    same literals. Empirical finding (this test documents it): DuckDB's
    list_dot_product is NOT a sequential left fold — it differs from
    the fold in the last ULPs (~1e-16 relative; likely unrolled/
    pairwise accumulation) — so bit-identity of the dot itself is the
    WRONG invariant. Sign decisions only flip when |dot| falls inside
    that accumulation noise, which real-valued embeddings against
    Gaussian hyperplanes never do; the margin is asserted here."""
    import duckdb

    planes = V.hyperplanes(dim=64, nplanes=6)
    con = duckdb.connect()
    for j, p in enumerate(planes):
        lst = "[" + ",".join(repr(x) for x in p) + "]"
        qv = "[" + ",".join(repr(x) for x in query_vec) + "]"
        duck = con.sql(
            f"SELECT list_dot_product({qv}::DOUBLE[], {lst}::DOUBLE[])"
        ).fetchone()[0]
        py = V._py_dot(query_vec, p)
        assert (duck > 0) == (py > 0), (j, duck, py)
        assert abs(duck - py) <= 1e-12 * max(1.0, abs(py)), (j, duck, py)
        # the sign margin dwarfs the cross-engine accumulation noise
        assert abs(py) > 1e-9, (j, py)
    con.close()


def test_lsh_bucket_deterministic(spark, em):
    planes = V.hyperplanes(dim=64, nplanes=8)
    b1 = {r.vec_id: r.lsh_bucket for r in V.lsh_bucket(em, "embedding", planes).collect()}
    b2 = {r.vec_id: r.lsh_bucket for r in V.lsh_bucket(em, "embedding", planes).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_blocked_neardup_subset_of_unblocked(spark, em):
    blocked = {
        (r.a_id, r.b_id)
        for r in V.embedding_neardup_pairs(
            em, "vec_id", "embedding", 0.25, block_col="label"
        ).collect()
    }
    unblocked = {
        (r.a_id, r.b_id)
        for r in V.embedding_neardup_pairs(
            em.limit(100), "vec_id", "embedding", 0.25, allow_cross=True
        ).collect()
    }
    # without the explicit opt-in, the quadratic fallback must refuse
    with pytest.raises(ValueError, match="crossJoin"):
        V.embedding_neardup_pairs(em.limit(100), "vec_id", "embedding", 0.25)
    # blocking can only remove cross-block pairs, never invent pairs
    ids100 = {r.vec_id for r in em.limit(100).select("vec_id").collect()}
    assert {p for p in blocked if p[0] in ids100 and p[1] in ids100} <= {
        p for p in blocked
    }
    assert all(a < b for a, b in blocked | unblocked)


def test_minhash_band_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = ND.minhash_signatures(docs, "doc_id", "text")
    n_docs = docs.count()
    assert sigs.count() == n_docs * len(ND.MINHASH_PARAMS)
    buckets = ND.lsh_band_buckets(sigs, "doc_id", rows_per_band=4)
    assert buckets.count() == n_docs * 2  # 8 hashes / 4 per band


def test_short_text_has_no_shingles(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c")], "doc_id long, text string")
    grams = ND.shingles(df, "doc_id", "text", n=3)
    assert {r.doc_id for r in grams.collect()} == {2}


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    payloads = attach_fake_payload(docs, "doc_id", "text")
    row = payloads.first()
    assert isinstance(row.payload, bytearray | bytes)
    feats = extract_features(payloads, "doc_id", "payload")
    out = feats.collect()
    assert len(out) == 50
    for r in out[:5]:
        assert len(r.features) == FEATURE_DIM
        assert len(r.payload_sha) == 64
        assert r.n_bytes > 0
    # determinism across runs
    again = {r.doc_id: r.payload_sha for r in extract_features(payloads).collect()}
    assert again == {r.doc_id: r.payload_sha for r in out}


def test_decode_media_raises_for_codecless_formats():
    """Formats without a stdlib codec still fail loudly; the real
    PPM/BMP/PNG decode paths are golden-pixel-tested in
    tests/test_multimodal_decode.py."""
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", None)


def test_fast_neardup_agrees_with_hof_form(spark, em):
    """Vectorized (numpy matmul) near-dup pairs == interpreted HOF form
    on pair membership, and cosines agree to float tolerance."""
    hof = {
        (r.a_id, r.b_id): r.cos_sim
        for r in V.embedding_neardup_pairs(
            em, "vec_id", "embedding", 0.25, block_col="label"
        ).collect()
    }
    fast = {
        (r.a_id, r.b_id): r.cos_sim
        for r in V.embedding_neardup_pairs_fast(
            em, "vec_id", "embedding", 0.25, block_col="label"
        ).collect()
    }
    # membership can differ only for pairs within float-eps of the
    # threshold; none exist in this data
    assert set(hof) == set(fast)
    for k in hof:
        assert abs(hof[k] - fast[k]) < 1e-9


def test_fast_neardup_faster_than_hof(spark, sf_dir):
    """The numpy path must actually beat the interpreted path at scale
    (run on sf0.1 embeddings; skip quietly if dir missing)."""
    import os
    import time

    big_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(big_dir):
        pytest.skip("sf0.1 not present")
    big = load_table(spark, big_dir, "embeddings")

    def timed(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t_fast = timed(
        V.embedding_neardup_pairs_fast(
            big, "vec_id", "embedding", 0.25, block_col="label"
        )
    )
    t_hof = timed(
        V.embedding_neardup_pairs(
            big, "vec_id", "embedding", 0.25, block_col="label"
        )
    )
    assert t_fast < t_hof, (t_fast, t_hof)


def test_char_shingles_and_minhash_compat(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hi"), (3, "hello world")],
        "doc_id long, text string",
    )
    grams = ND.char_shingles(df, "doc_id", "text", k=5)
    rows = {(r.doc_id, r.gram) for r in grams.collect()}
    # doc 2 too short for 5-grams; docs 1 and 3 normalize identically
    assert not any(d == 2 for d, _ in rows)
    g1 = {g for d, g in rows if d == 1}
    g3 = {g for d, g in rows if d == 3}
    assert g1 == g3 and "hello" in g1


def test_compact_partitions_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from dex_data_ingestor_spark.plans.pipelines import compact_partitions

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date"), "user_id").count()
    path = str(tmp_path / "frag")
    # two appends -> >=2 files per partition
    daily.write.mode("overwrite").partitionBy("date").parquet(path)
    daily.write.mode("append").partitionBy("date").parquet(path)
    before = len(glob.glob(f"{path}/date=*/*.parquet"))
    rows_before = spark.read.parquet(path).count()
    compact_partitions(spark, path, "date", target_files_per_partition=1)
    after = len(glob.glob(f"{path}/date=*/*.parquet"))
    assert after < before
    assert spark.read.parquet(path).count() == rows_before


def _winnow_py(text, k=8, w=4):
    """Pure-python reference for winnowing fingerprints."""
    import re

    B, P = 257, 1_000_000_007
    t = re.sub(r"\s+", " ", text.strip().lower())
    if len(t) < k:
        return set()
    hashes = []
    for i in range(len(t) - k + 1):
        h = 0
        for ch in t[i : i + k]:
            h = (h * B + ord(ch)) % P
        hashes.append(h)
    if len(hashes) < w:
        return set(hashes)
    fps = set()
    for i in range(len(hashes) - w + 1):
        win = hashes[i : i + w]
        m = min(win)
        # rightmost minimum
        pos = max(j for j, v in enumerate(win) if v == m)
        fps.add(win[pos])
    return fps


def test_winnowing_matches_python_reference(spark, sf_dir):
    from dex_data_ingestor_spark.operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents").limit(20)
    got = {}
    for r in winnowing_fingerprints(docs, "doc_id", "text").collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for r in docs.collect():
        assert got.get(r.doc_id, set()) == _winnow_py(r.text), r.doc_id


def test_winnowing_shared_substring_guarantee(spark):
    from dex_data_ingestor_spark.operators.text import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"), (2, "CCCC " + shared + " DDDD")],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnowing_fingerprints(df, "doc_id", "text").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    # a shared run of length >= k+w-1 must yield a common fingerprint
    assert fps[1] & fps[2]


def test_scrub_pii_masks_crafted_pii(spark):
    from dex_data_ingestor_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "see https://Example.com/a?b=1#frag and http://x.io"),
            (3, "host 192.168.0.1 up, ver 1.2.3 ok"),
            (4, "the data is a value"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_pii(
            df, "doc_id", "text", denylist=("the", "a", "data", "value")
        ).collect()
    }
    assert out[1]["scrubbed"] == "mail <EMAIL> now" and out[1]["n_emails"] == 1
    assert out[2]["scrubbed"] == "see <URL> and <URL>" and out[2]["n_urls"] == 2
    # 1.2.3 is not an IPv4; the real address is masked
    assert out[3]["scrubbed"] == "host <IP> up, ver 1.2.3 ok"
    assert out[3]["n_ips"] == 1
    assert out[4]["scrubbed"] == "<MASKED> <MASKED> is <MASKED> <MASKED>"
    assert out[4]["n_denied"] == 4


def test_canonicalize_url(spark):
    from dex_data_ingestor_spark.operators.text import canonicalize_url

    cases = [
        ("HTTPS://WWW.Example.COM/Path/", "https://www.example.com/Path"),
        ("https://a.com/p?utm_source=x&q=1#top", "https://a.com/p?q=1"),
        ("https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p"),
        ("https://a.com/", "https://a.com/"),  # root slash kept
        ("https://a.com/p?gclid=z", "https://a.com/p"),
        ("no-scheme.com/Path/", "no-scheme.com/Path"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["canon"]
        for r in df.select(
            "i", canonicalize_url("url").alias("canon")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_scrub_pii_rejects_regex_metacharacter_denylist(spark):
    from dex_data_ingestor_spark.operators.text import scrub_pii

    df = spark.createDataFrame([(1, "hello c++")], "id long, text string")
    with pytest.raises(ValueError, match="word characters only"):
        scrub_pii(df, "id", "text", denylist=("c++",))


# ---------------------------------------------------------------------------
# LSH hot-bucket cap (lsh_candidate_pairs)
# ---------------------------------------------------------------------------


def _bucket_rows(band_hash, n):
    return [(i + band_hash * 10_000, 0, band_hash) for i in range(n)]


@pytest.fixture(scope="module")
def hot_buckets(spark):
    """One pathological identical-band bucket (600 docs — boilerplate
    corpus shape) plus one normal 3-doc bucket."""
    rows = _bucket_rows(1, 600) + _bucket_rows(2, 3)
    return spark.createDataFrame(
        rows, "doc_id long, band_id int, band_hash long"
    )


def _expected_tiled_pairs(ids, cap=256):
    """Python mirror of the hot-bucket shifted sub-bucket tiling:
    ranks tiled into cap-sized cells twice (cut at 0 and at cap/2),
    all pairs within each cell, deduped."""
    ids = sorted(ids)
    half = cap // 2
    pairs = set()
    for g in (0, 1):
        cells: dict[int, list] = {}
        for rk, i in enumerate(ids):
            cells.setdefault((rk + g * half) // cap, []).append(i)
        for members in cells.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    pairs.add((members[x], members[y]))
    return pairs


def test_lsh_hot_bucket_is_tiled_not_quadratic(spark, hot_buckets):
    pairs = ND.lsh_candidate_pairs(hot_buckets, "doc_id").collect()
    hot = {(r.a_id, r.b_id) for r in pairs if 10_000 <= r.a_id < 20_000}
    small = sorted((r.a_id, r.b_id) for r in pairs if r.a_id >= 20_000)
    # hot bucket: exactly the two shifted tilings' within-cell pairs —
    # O(n*cap), well under 600*599/2
    want = _expected_tiled_pairs([10_000 + i for i in range(600)])
    assert hot == want
    assert len(hot) < 600 * 599 // 2
    # small bucket: all 3 pairs, exactly the uncapped behavior
    assert small == [
        (20_000, 20_001), (20_000, 20_002), (20_001, 20_002)
    ]


def test_lsh_cap_disabled_reproduces_all_pairs(spark, hot_buckets):
    """With the cap above every bucket size, output equals the
    classic all-pairs join — the cap cannot change small-corpus
    results (q_minhash_pairs stability)."""
    capped = ND.lsh_candidate_pairs(hot_buckets, "doc_id", 256)
    uncapped = ND.lsh_candidate_pairs(hot_buckets, "doc_id", 10**6)
    assert uncapped.count() == 600 * 599 // 2 + 3
    # tiled cell pairs are a subset of the uncapped pair set
    assert capped.join(
        uncapped, ["a_id", "b_id"], "left_anti"
    ).count() == 0


def test_lsh_tiling_survives_interloper_runs(spark, hot_buckets):
    """The shifted-tiling recall guarantee: any two members within
    cap/2 ranks share a cell, so pruning a run of up to cap/2 - 1
    consecutive verify-failed interlopers (127 at cap 256 — the old
    stride-1/2 chain split after just 2) leaves the remaining members
    in ONE connected component."""
    pairs = [
        (r.a_id, r.b_id)
        for r in ND.lsh_candidate_pairs(hot_buckets, "doc_id").collect()
        if r.a_id < 20_000
    ]
    # adjacent members always share a cell -> direct pair
    assert (10_299, 10_300) in set(pairs)
    # prune three separate interloper runs: 127-long (the worst case
    # the guarantee covers), mid-bucket and straddling a tile boundary
    victims = (
        {10_000 + r for r in range(100, 227)}
        | {10_000 + r for r in range(250, 290)}
        | {10_599}
    )
    parent = {i: i for i in range(10_000, 10_600) if i not in victims}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a not in victims and b not in victims:
            parent[find(a)] = find(b)
    assert len({find(x) for x in parent}) == 1


def test_lsh_tiling_b_sides_match_all_pairs(spark, hot_buckets):
    """Cap-invariance contract behind the UNCAPPED cluster/curation
    oracles: per hot bucket, the b-side set equals all-pairs' b-sides
    — every member except the bucket's min id."""
    pairs = ND.lsh_candidate_pairs(hot_buckets, "doc_id")
    b_sides = {
        r.b_id
        for r in pairs.filter(F.col("a_id") < 20_000).collect()
    }
    assert b_sides == {10_000 + i for i in range(1, 600)}


def test_lsh_tiling_preserves_connectivity(spark, hot_buckets):
    """Every doc in the hot bucket stays reachable: the tiling must
    touch all 600 members so dup-clustering can still group them."""
    pairs = ND.lsh_candidate_pairs(hot_buckets, "doc_id")
    members = (
        pairs.filter(F.col("a_id") < 20_000)
        .select(F.explode(F.array("a_id", "b_id")).alias("id"))
        .distinct()
    )
    assert members.count() == 600


def test_lsh_hot_branch_executes_with_exchange_reuse(spark, hot_buckets):
    """On data that actually trips the cap, the hot branch runs (it is
    AQE-empty-propagated away otherwise) and the executed adaptive
    plan still collapses the duplicated upstream into ReusedExchange
    instead of recomputing it per join side."""
    df = ND.lsh_candidate_pairs(hot_buckets, "doc_id")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in final, final[:300]
    assert "ReusedExchange" in final, final
    # the 4-key hot-cell join really executed (not empty-propagated)
    assert "cell" in final, final


def test_lsh_tiling_no_self_pairs_on_duplicate_bucket_rows(spark):
    """Duplicate (id, band) input rows must not produce a_id == b_id
    edges (duplicate ids rank into the same or adjacent cells; the
    strict a < b filter must drop the collisions)."""
    rows = [(i, 0, 7) for i in range(300)] * 2  # 600 rows, every id twice
    dup = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_hash long"
    )
    pairs = ND.lsh_candidate_pairs(dup, "doc_id").collect()
    assert all(r.a_id < r.b_id for r in pairs)


def test_lsh_null_bucket_keys_never_pair(spark):
    """A NULL band_id or band_hash is no bucket: rows carrying one pair
    with nothing (equi-join semantics, as the oracle's bucket CTE), on
    both the small and the hot (capped) path. A real bucket beside
    them still pairs."""
    rows = [
        (1, 0, None), (2, 0, None),  # shared NULL band_hash
        (3, None, 5), (4, None, 5),  # shared NULL band_id
        (5, 0, 9), (6, 0, 9),  # a real bucket
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_hash long"
    )
    got = {tuple(r) for r in ND.lsh_candidate_pairs(df, "doc_id").collect()}
    assert got == {(5, 6)}
    hot = spark.createDataFrame(
        [(i, 0, None) for i in range(8)],
        "doc_id long, band_id int, band_hash long",
    )
    assert ND.lsh_candidate_pairs(hot, "doc_id", 4).collect() == []


def test_bm25_against_independent_python_reimplementation(spark, tmp_path):
    """q_bm25's Spark plan vs a from-scratch plain-Python BM25 on a
    tiny hand-built corpus — guards against both engine and oracle
    encoding the same wrong formula (the parity test alone can't)."""
    import math

    import pandas as pd

    from dex_data_ingestor_spark.plans.testbed import QUERIES, _BM25_K1, _BM25_B

    corpus = {
        10: "spark table query extra words here",
        11: "table table table filler",
        12: "nothing relevant at all whatsoever",
        13: "query spark spark spark pad pad pad pad",
    }
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(
        {
            "doc_id": list(corpus),
            "text": list(corpus.values()),
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(t) for t in corpus.values()],
        }
    ).to_parquet(sf / "documents.parquet")

    got = {
        r.doc_id: r.bm25
        for r in QUERIES["q_bm25"](spark, str(sf)).collect()
    }

    docs = {d: t.split() for d, t in corpus.items()}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    want = {}
    for d, ws in docs.items():
        score = 0.0
        for t in ("spark", "table", "query"):
            tf = ws.count(t)
            if tf == 0:
                continue
            df = sum(1 for w in docs.values() if t in w)
            idf = round(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 9)
            score += (
                idf * (tf * (_BM25_K1 + 1.0))
                / (tf + _BM25_K1
                   * (1.0 - _BM25_B + _BM25_B * len(ws) / avgdl))
            )
        if score > 0.0:
            want[d] = round(score, 9)
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-9), (d, got[d], want[d])


def test_outlier_events_flags_known_injected_outlier(spark, tmp_path):
    """q_outlier_events on a synthetic events table with one value far
    outside its type's distribution: exactly that event is flagged."""
    import datetime as dt

    import pandas as pd

    from dex_data_ingestor_spark.plans.testbed import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = [
        {
            "event_id": i,
            "ts": base + dt.timedelta(minutes=i),
            "user_id": i % 3,
            "event_type": "click",
            "value": float(100 + (i % 7)),  # tight cluster 100..106
            "props": "{}",
        }
        for i in range(40)
    ]
    rows.append(
        {
            "event_id": 999,
            "ts": base,
            "user_id": 0,
            "event_type": "click",
            "value": 10_000.0,  # unambiguous outlier
            "props": "{}",
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(rows).to_parquet(sf / "events.parquet")
    out = QUERIES["q_outlier_events"](spark, str(sf)).collect()
    assert [r.event_id for r in out] == [999]
    assert out[0].z > 2.5


def test_bpe_learns_classic_merge_sequence(spark):
    """The Sennrich corpus {low x5, lower x2, newest x6, widest x3}
    has a hand-derivable merge sequence under (count DESC, l, r)
    tie-breaking: (e,s) -> (es,t) -> (est,</w>) -> (l,o) -> (lo,w)."""
    from dex_data_ingestor_spark.operators.bpe import (
        EOW,
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = (
        [("low",)] * 5 + [("lower",)] * 2
        + [("newest",)] * 6 + [("widest",)] * 3
    )
    docs = spark.createDataFrame(rows, "text string")
    wf = word_frequencies(docs)
    assert {(r.word, r.freq) for r in wf.collect()} == {
        ("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)
    }

    merges = learn_bpe_merges(wf, n_merges=5)
    assert merges == [
        ("e", "s"), ("es", "t"), ("est", EOW), ("l", "o"), ("lo", "w")
    ]
    # determinism: same input -> identical merge list
    assert learn_bpe_merges(wf, n_merges=5) == merges

    enc = apply_bpe(
        spark.createDataFrame([(1, "low newest")], "doc_id long, text string"),
        merges,
    ).collect()[0].bpe_tokens
    assert enc == ["low", EOW, "n", "e", "w", "est" + EOW]


def test_bpe_fuse_nonoverlapping_and_early_stop(spark):
    """Greedy left-to-right non-overlap ('aaa' under (a,a) -> [aa, a])
    and early stop when no pair reaches min_pair_count."""
    from dex_data_ingestor_spark.operators.bpe import (
        EOW,
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    docs = spark.createDataFrame([("aaa aaa",)], "text string")
    enc = apply_bpe(
        spark.createDataFrame([(1, "aaa")], "doc_id long, text string"),
        [("a", "a")],
    ).collect()[0].bpe_tokens
    assert enc == ["aa", "a", EOW]

    # one distinct word x2: top pair (a,a) has count 2; after a few
    # merges the word is a single symbol and learning must stop early
    merges = learn_bpe_merges(word_frequencies(docs), n_merges=50)
    assert 0 < len(merges) <= 4


def test_bpe_engines_agree(spark):
    """The expression engine (ordered merge replay via HOF folds) and
    the pandas engine (classic rank-loop encoder) produce identical
    tokens, including on texts with repeated/fused-prefix symbols."""
    from dex_data_ingestor_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = (
        [("low",)] * 5 + [("lower",)] * 2
        + [("newest",)] * 6 + [("widest",)] * 3 + [("aaa banana",)] * 4
    )
    corpus = spark.createDataFrame(rows, "text string")
    merges = learn_bpe_merges(word_frequencies(corpus), n_merges=8)
    docs = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(set(rows))]
        + [(99, "unseen wordforms aaaa")],
        "doc_id long, text string",
    )
    ex = {r.doc_id: r.bpe_tokens
          for r in apply_bpe(docs, merges, engine="expr").collect()}
    pd_ = {r.doc_id: r.bpe_tokens
           for r in apply_bpe(docs, merges, engine="pandas").collect()}
    assert ex == pd_
    # auto switches to pandas for a long merge list without error
    long_merges = merges + [(f"x{i}", f"y{i}") for i in range(60)]
    out = apply_bpe(docs, long_merges).collect()
    assert {r.doc_id: r.bpe_tokens for r in out} == ex  # extra merges no-op

    # non-ASCII whitespace: Java \s+ (the expr path / word_frequencies)
    # is ASCII-only, so U+00A0/U+2028-separated words stay ONE token
    # stream element-wise in BOTH engines; a pandas kernel using
    # Python's all-Unicode str.split() would silently split them when
    # 'auto' crosses MAX_EXPR_MERGES
    nbsp_docs = spark.createDataFrame(
        [(0, "low\u00a0lower"), (1, "new\u2028est"), (2, "a\u00a0b c")],
        "doc_id long, text string",
    )
    ex_nb = {r.doc_id: r.bpe_tokens
             for r in apply_bpe(nbsp_docs, merges, engine="expr").collect()}
    pd_nb = {r.doc_id: r.bpe_tokens
             for r in apply_bpe(nbsp_docs, merges, engine="pandas").collect()}
    assert ex_nb == pd_nb
    # and the NBSP really did NOT act as a separator
    assert "\u00a0" in "".join(ex_nb[0])


def test_bpe_batched_merges_parity_and_invalidation(spark):
    """merge_batch semantics (the production-vocab path: up to k
    merges per Spark job):

    1. On a symbol-disjoint corpus the k=3 batch reproduces the exact
       sequential (k=1) merge sequence — counts are hand-derivable:
       (a,a):18 > (c,c):15 > (e,e):12, pairwise disjoint, and every
       pair a fusion CREATES ((aa,aa):6 etc.) ranks below the next
       acceptance.
    2. On an interfering corpus ((a,b):3 ties (b,</w>):3, shared b)
       the batch must accept only (a,b), skip the stale (b,</w>), and
       recount — landing on the same sequence exact BPE produces.
    """
    from dex_data_ingestor_spark.operators.bpe import (
        EOW,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = [("aaaa",)] * 6 + [("cccc",)] * 5 + [("eeee",)] * 4
    wf = word_frequencies(spark.createDataFrame(rows, "text string"))
    golden = [("a", "a"), ("c", "c"), ("e", "e")]
    assert learn_bpe_merges(wf, n_merges=3) == golden
    assert learn_bpe_merges(wf, n_merges=3, merge_batch=3) == golden

    wf2 = word_frequencies(
        spark.createDataFrame([("ab",)] * 3, "text string")
    )
    seq = learn_bpe_merges(wf2, n_merges=2)
    assert seq == [("a", "b"), ("ab", EOW)]
    assert learn_bpe_merges(wf2, n_merges=2, merge_batch=2) == seq

    with pytest.raises(ValueError, match="merge_batch"):
        learn_bpe_merges(wf2, n_merges=1, merge_batch=0)


def test_bpe_tokens_batch2_matches_classic(spark, sf_dir):
    """r14 pin for the q_bpe_tokens merge_batch=2 flip: on the shipped
    corpus the paired learner must reproduce the exact classic (k=1)
    6-merge sequence — the registered query's output is byte-identical
    exactly as long as this holds. (k=3 already diverges at sf0.001
    and k=6 at every shipped SF — measured before the flip — so this
    is a real boundary, not a vacuous assertion.)"""
    from pyspark.sql import functions as F

    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.bpe import (
        learn_bpe_merges,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    )
    wf = word_frequencies(docs)
    assert learn_bpe_merges(wf, n_merges=6, merge_batch=2) == (
        learn_bpe_merges(wf, n_merges=6)
    )


def test_semantic_dedup_survivor_rule(spark, em):
    """semantic_dedup == (assign to cells) minus (every id with a
    lower-id cell-mate at/above the threshold): the min-id survivor
    rule, computed independently here from the same building blocks."""
    cents = V.seeded_centroids(dim=64, ncells=8)
    out = V.semantic_dedup(
        em, "vec_id", "embedding", cents, threshold=0.3
    ).collect()
    survivors = {r.vec_id for r in out}
    cells = {r.vec_id: r.cell for r in out}

    indexed = V.ivf_assign(em, "embedding", cents)
    want_cells = {r.vec_id: r.cell for r in indexed.collect()}
    pairs = V.embedding_neardup_pairs(
        indexed, "vec_id", "embedding", 0.3, block_col="cell"
    ).collect()
    losers = {r.b_id for r in pairs}
    allids = set(want_cells)

    assert survivors == allids - losers
    assert losers and survivors  # threshold actually bites, keeps some
    # surviving rows carry their assignment unchanged
    assert cells == {i: want_cells[i] for i in survivors}
    # determinism: second run, byte-identical survivor set
    again = {
        r.vec_id
        for r in V.semantic_dedup(
            em, "vec_id", "embedding", cents, threshold=0.3
        ).collect()
    }
    assert again == survivors


def test_containment_detects_quote_jaccard_misses(spark):
    """A short doc quoted verbatim inside a long one: containment
    (short in long) == 1.0 while Jaccard at the same threshold finds
    nothing — the asymmetric metric's whole reason to exist. The
    reverse direction (long in short) stays below threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long = " ".join(f"w{i}" for i in range(200)) + " " + short
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = {
        (r.a_id, r.b_id): r.containment
        for r in ND.ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = ND.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert jac == []


def _assert_collected_model_one_corpus_scan(df):
    """The scoring plan of an LM fit: ONE corpus scan, the collected
    model side planned as a LocalTableScan (the Arrow local-relation
    path), never a pickled-RDD scan (which would re-enter Python
    workers on every broadcast build). Call after ``df`` has run, so
    AQE shows its final form."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # AQE explain text repeats the tree (final + initial); check the
    # final-plan section only
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, final
    assert "LocalTableScan" in final, final
    assert "Scan ExistingRDD" not in final, final


def _lm_oracle_problems(spark, sf_dir, name):
    """Run registry query ``name`` against its DuckDB oracle; return
    the query's DataFrame (now executed) and the mismatch list."""
    from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES
    from tests.oracle_check import compare, duck_connection

    df = QUERIES[name](spark, sf_dir)
    con = duck_connection(sf_dir)
    try:
        return df, compare(df, con, ORACLE_SQL[name])
    finally:
        con.close()


def test_hashed_model_materialize_severs_diamond(spark, sf_dir):
    """unigram_logloss and dsir_importance collect their bounded
    hashed-feature weight table (model state, never data) in one
    corpus pass, so the model/apply diamond is severed: the returned
    scoring plan scans the corpus exactly once, also for a target
    slice other than the registry's."""
    from dex_data_ingestor_spark.operators.text import (
        dsir_importance,
        unigram_logloss,
    )

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        unigram_logloss(docs),
        dsir_importance(docs, F.col("lang") == "en"),
    ):
        assert df.collect()
        _assert_collected_model_one_corpus_scan(df)


def test_bigram_logloss_materialize_matches_and_severs_diamond(spark, sf_dir):
    """bigram_logloss with its two bounded model tables collected
    matches the DuckDB oracle bit for bit and leaves exactly ONE
    corpus scan in the scoring plan."""
    df, problems = _lm_oracle_problems(spark, sf_dir, "q_bigram_logloss")
    assert not problems, " | ".join(problems)
    _assert_collected_model_one_corpus_scan(df)


def test_unigram_dsir_materialize_matches_and_severs_diamond(spark, sf_dir):
    """unigram_logloss / dsir_importance with the collected model
    match the DuckDB oracle bit for bit (the weight expressions run on
    the collected local relation with the same JVM ops), leave exactly
    ONE corpus scan in the scoring plan and plan the model side as a
    LocalTableScan."""
    for name in ("q_unigram_logloss", "q_dsir_weights"):
        df, problems = _lm_oracle_problems(spark, sf_dir, name)
        assert not problems, f"{name}: " + " | ".join(problems)
        _assert_collected_model_one_corpus_scan(df)


def test_bpe_training_releases_checkpoint_storage(spark):
    """Executor storage must stay O(1) across merge rounds and end
    empty: Dataset.unpersist() is a no-op for localCheckpoints (it
    only consults the SQL CacheManager), so the release happens at
    the RDD level — this pins that it actually works."""
    from dex_data_ingestor_spark.operators.bpe import (
        _persistent_rdd_ids,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = [("low low lower newest widest newest",)] * 4
    wf = word_frequencies(spark.createDataFrame(rows, "text string"))
    before = _persistent_rdd_ids(spark)
    merges = learn_bpe_merges(wf, n_merges=6)
    assert len(merges) > 0
    after = _persistent_rdd_ids(spark)
    assert after <= before, (before, after)


def test_semdedup_survivors_contain_no_same_cell_pair(spark, em):
    """The semantic-dedup output invariant (stronger than the rule
    restated): NO two survivors in the same cell may sit at/above the
    threshold — if they did, the higher id would have been a b-side
    and dropped. Checked by re-running the pair stage over the
    survivor set itself."""
    cents = V.seeded_centroids(dim=64, ncells=8)
    out = V.semantic_dedup(em, "vec_id", "embedding", cents, threshold=0.3)
    leftover = V.embedding_neardup_pairs(
        out, "vec_id", "embedding", 0.3, block_col="cell"
    ).collect()
    assert leftover == [], leftover[:5]


def test_containment_bounds_and_symmetry_relation(spark, sf_dir):
    """Containment is a conditional fraction: every emitted value lies
    in (0, 1]; and for any pair present in BOTH directions the two
    values share the same intersection, so containment(a,b) *
    |grams(a)| == containment(b,a) * |grams(b)| within rounding."""
    docs = load_table(spark, sf_dir, "documents").limit(150)
    pairs = {
        (r.a_id, r.b_id): r.containment
        for r in ND.ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.01
        ).collect()
    }
    assert pairs, "threshold 0.01 should emit pairs on the fixture"
    assert all(0.0 < v <= 1.0 for v in pairs.values())
    grams = {
        r.doc_id: r.n
        for r in ND.shingles(docs, "doc_id", "text", 3)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for (a, b), v in pairs.items():
        w = pairs.get((b, a))
        if w is not None:
            assert abs(v * grams[a] - w * grams[b]) < 1e-3 * max(
                grams[a], grams[b]
            ), (a, b)


def test_bigram_logloss_golden_conditional_nll(spark):
    """Hand-derivable conditional bigram NLLs: corpus 'a b a c' +
    'a b' gives c(prev=a)=3, c(prev=b)=1, c(a,b)=2, c(b,a)=1,
    c(a,c)=1 — so the pairs score -ln(2/3), -ln(1/1), -ln(1/3),
    independently quantized here with Python's libm. Single-token and
    empty documents must drop (no pairs)."""
    import math

    from dex_data_ingestor_spark.operators.text import bigram_logloss

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "solo"), (4, "   ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_logloss(docs).collect()}
    u = lambda p: math.floor(-math.log(p) * 1e6 + 0.5)
    assert set(got) == {1, 2}
    assert got[2].n_bigrams == 1
    assert got[2].nll_units == u(2 / 3)
    assert got[1].n_bigrams == 3
    assert got[1].nll_units == u(2 / 3) + u(1 / 1) + u(1 / 3)
    assert got[1].avg_nll == got[1].nll_units / 3e6


def test_embed_gram_golden_small_matrix(spark, tmp_path):
    """Gram of [[1,0],[1,1]] is [[2,1],[1,1]] — upper triangle (1,1)=2,
    (1,2)=1, (2,2)=1, each cell aggregating both rows; NULL embeddings
    are excluded."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES

    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, None)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r.i, r.j): (r.n, r.gram)
        for r in QUERIES["q_embed_gram"](spark, str(tmp_path)).collect()
    }
    assert got == {(1, 1): (2, 2.0), (1, 2): (2, 1.0), (2, 2): (2, 1.0)}


def test_pq_quantize_units_three_engine_parity(spark):
    """quantize_units (driver-side Python ``math.floor(x*1e6+0.5)``)
    must be bit-identical to BOTH engine forms of the same rule —
    Spark ``F.floor(x*1e6+0.5)`` and DuckDB ``FLOOR(x*1000000.0+0.5)``
    — on a hostile grid: decimal-repr tie values (0.1234565 is the
    case where a decimal(18,6) cast DIVERGES between Spark's HALF_UP
    and DuckDB's half-even, the r7 q_twap red), negatives, exact
    half-unit values, float32 artifacts."""
    import duckdb
    import numpy as np

    from dex_data_ingestor_spark.operators.vector import quantize_units

    vals = [
        0.0, 1.0, -1.0, 0.1234565, -0.1234575, 0.4583735167980194,
        -0.5252062082290649, 1e-7, -1e-7, 0.0000005, -0.0000005,
        0.1306095, 0.5004135,
        float(np.float32(0.3333333)), float(np.float32(-0.7777777)),
    ]
    want = [quantize_units(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r.u
        for r in df.select(
            F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5)).alias("u")
        ).collect()
    ]
    assert got_spark == want
    got_duck = [
        duckdb.sql(
            f"SELECT CAST(FLOOR(CAST({v!r} AS DOUBLE) * 1000000.0 + 0.5)"
            " AS BIGINT)"
        ).fetchone()[0]
        for v in vals
    ]
    assert got_duck == want
    # and pin WHY the decimal cast was rejected: Spark's
    # double->decimal(18,6) rounds the SHORTEST-DECIMAL REPR HALF_UP,
    # so a repr-tie whose true binary value sits just BELOW the tie
    # (0.1306095 is 0.13060949999999999… as a double) lands one unit
    # ABOVE the floor/true-value rule — the r7 q_twap divergence.
    (tie,) = (
        spark.createDataFrame([(0.1306095,)], "x double")
        .select(
            (F.col("x").cast("decimal(18,6)") * 1000000)
            .cast("long")
            .alias("u")
        )
        .collect()
    )
    assert tie.u == quantize_units(0.1306095) + 1


def test_pq_encode_tie_breaks_to_lowest_code(spark):
    """A vector exactly equidistant (in integer micro-unit space)
    between two codewords must take the LOWER code index."""
    from dex_data_ingestor_spark.operators.vector import pq_encode

    cbs = [[[0, 0], [2, 2]]]  # micro-unit codebook, one subspace
    df = spark.createDataFrame(
        [(1, [1e-6, 1e-6])], "vec_id long, embedding array<double>"
    )
    (r,) = pq_encode(df, "embedding", cbs).collect()
    assert r.codes == [0]


def _pq_top10(emn, cbs, qvec):
    from dex_data_ingestor_spark.operators.vector import (
        pq_adc_topk,
        pq_encode,
    )

    return {
        r.vec_id
        for r in pq_adc_topk(
            pq_encode(emn, "embedding", cbs), "vec_id", cbs, qvec, k=10
        ).collect()
    }


def _pq_distortion(emn, cbs) -> int:
    """Total exact quantization error (micro-unit² longs): sum over
    rows and subspaces of the squared distance to the ASSIGNED
    codeword — the objective Lloyd training minimizes."""
    from dex_data_ingestor_spark.operators.vector import (
        _sq_l2_units,
        _sub_units,
    )

    m = len(cbs)
    sub = len(cbs[0][0])
    v = F.col("embedding")
    err = None
    for s in range(m):
        su = _sub_units(v, s, sub)
        best = None
        for c in cbs[s]:
            d = _sq_l2_units(su, c)
            best = d if best is None else F.least(best, d)
        err = best if err is None else err + best
    return emn.select(F.sum(err).alias("e")).head()["e"]


def test_pq_adc_recall_against_brute_force(spark, em, query_vec):
    """PQ is lossy, and SEEDED codebooks are deliberately loose (they
    exist for the byte-reproducible oracle pairing, like the IVF
    seeds) — the recall story rests on the Lloyd trainer. Pin both
    ends: trained codebooks (m=16, k=16, 64-dim) must recover >= 4 of
    the exact integer-L2 top-10 (a broken LUT/encode scores ~random,
    recall ~0.02), and training must STRICTLY cut total quantization
    distortion vs the seeded codebooks it initializes from (Lloyd
    monotonicity — recall on one query is noisy, the objective is
    not)."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_codebooks,
        pq_train_codebooks,
        quantize_units,
    )

    emn = em.filter(F.col("embedding").isNotNull())
    seeded = pq_codebooks(64, 16, 16, seed=11)
    trained = pq_train_codebooks(
        emn, "embedding", dim=64, m=16, k=16, iterations=3, seed=11
    )
    # exact L2 top-10 in integer micro-units (the metric PQ approximates)
    qu = [quantize_units(x) for x in query_vec]
    qlit = "array(" + ",".join(f"{u}L" for u in qu) + ")"
    exact = emn.select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(transform(embedding, x -> "
            "floor(cast(x as double) * 1000000.0 + 0.5)), "
            f"{qlit}, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"
        ).alias("d"),
    ).orderBy("d", "vec_id").limit(10)
    exact_ids = {r.vec_id for r in exact.collect()}
    trained_hits = len(_pq_top10(emn, trained, query_vec) & exact_ids)
    assert trained_hits >= 4, (trained_hits, exact_ids)
    assert _pq_distortion(emn, trained) < _pq_distortion(emn, seeded)
    # the production deployment is shortlist + exact re-rank: the
    # trained ADC top-50 must contain (nearly) the whole exact top-10,
    # so the re-ranked result is (nearly) exact.
    from dex_data_ingestor_spark.operators.vector import (
        pq_adc_topk,
        pq_encode,
    )

    short50 = {
        r.vec_id
        for r in pq_adc_topk(
            pq_encode(emn, "embedding", trained),
            "vec_id",
            trained,
            query_vec,
            k=50,
        ).collect()
    }
    assert len(short50 & exact_ids) >= 8, (short50, exact_ids)


def test_ivfpq_prunes_cells_and_keeps_query_hit(spark, em, sf_dir):
    """The composed IVF+PQ index must (a) spread the corpus across
    all coarse cells (a degenerate quantizer collapses to one cell
    and prunes nothing), (b) scan only the probed fraction, and
    (c) still surface the query vector itself in the top-10 (it
    lives in the best-matching cell by construction)."""
    from dex_data_ingestor_spark.plans.testbed import (
        _IVFPQ_NCELLS,
        _IVFPQ_NPROBE,
        _ivfpq_coarse,
        QUERIES,
    )
    from dex_data_ingestor_spark.operators.vector import pq_encode

    emn = em.filter(F.col("embedding").isNotNull())
    coarse = _ivfpq_coarse()
    cells = (
        pq_encode(emn, "embedding", [coarse], codes_col="c")
        .groupBy(F.col("c")[0].alias("cell"))
        .count()
        .collect()
    )
    assert len(cells) == _IVFPQ_NCELLS, cells
    total = sum(r["count"] for r in cells)
    probed_max = sorted(
        (r["count"] for r in cells), reverse=True
    )[:_IVFPQ_NPROBE]
    assert sum(probed_max) < total, cells  # pruning is real
    out = QUERIES["q_ann_ivfpq"](spark, sf_dir).collect()
    assert len(out) == 10
    assert 0 in {r.vec_id for r in out}, out[:3]


def test_backoff_logloss_golden_hand_derived(spark):
    """Hand-derived Stupid Backoff on a 4-token reference:
    ref = "a b a c" (pairs a>b, b>a, a>c; unigrams a:2 b:1 c:1, N=4).
    Scored doc 1 "a b x": (a,b) SEEN -> -ln(c2/c1) = -ln(1/2) ->
    693147 micro-nats; (b,x) UNSEEN, x unseen unigram (count 1) ->
    -ln(0.4 * 1/4) = -ln(0.1) -> 2302585. Scored doc 2 "c a": (c,a)
    UNSEEN, cur unigram a:2 -> -ln(0.4 * 2/4) = -ln(0.2) -> 1609438."""
    from dex_data_ingestor_spark.operators.text import backoff_logloss

    ref = spark.createDataFrame(
        [(100, "a b a c")], "doc_id long, text string"
    )
    scored = spark.createDataFrame(
        [(1, "a b x"), (2, "c a")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.nll_units)
        for r in backoff_logloss(scored, ref).collect()
    }
    assert got == {
        1: (2, 1, 693147 + 2302585),
        2: (1, 1, 1609438),
    }, got


def test_gram_kernel_equals_expression_form(spark, sf_dir):
    """The BLAS gram kernel must equal the nested-transform
    expression form CELL-FOR-CELL (exact integers end-to-end: the
    kernel's floor(x*1e6+0.5) quantization equals the expression
    form's decimal(18,6) cast for non-repr-tie values — float32
    provenance guarantees that here)."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES

    a = {
        (r.i, r.j): (r.n, r.gram)
        for r in QUERIES["q_embed_gram"](spark, sf_dir).collect()
    }
    b = {
        (r.i, r.j): (r.n, r.gram)
        for r in QUERIES["q_embed_gram_fast"](spark, sf_dir).collect()
    }
    assert a == b and len(a) == 64 * 65 // 2


def test_pq_encode_fast_equals_expression_form(spark, em):
    """The BLAS PQ encoder must produce codes EQUAL row-for-row to
    the expression-form pq_encode (same floor quantization, same
    exact integer distances, argmin-first == least(struct) lowest-
    code tie-break), and quarantine NULL / wrong-dim vectors to NULL
    codes instead of failing."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_codebooks,
        pq_encode,
        pq_encode_fast,
    )

    emn = em.filter(F.col("embedding").isNotNull())
    cbs = pq_codebooks(64, 8, 16, seed=11)
    slow = {
        r.vec_id: r.codes
        for r in pq_encode(emn, "embedding", cbs).collect()
    }
    fast = {
        r.vec_id: r.codes
        for r in pq_encode_fast(emn, "embedding", cbs).collect()
    }
    assert slow == fast and len(fast) == emn.count()
    bad = spark.createDataFrame(
        [(1, None), (2, [0.1, 0.2]),
         (3, [float("nan")] + [0.0] * 63)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.codes
        for r in pq_encode_fast(bad, "embedding", cbs).collect()
    }
    assert got == {1: None, 2: None, 3: None}
    # re-encoding a table that already has a codes column REPLACES it
    enc = pq_encode_fast(emn.limit(5), "embedding", cbs)
    re_enc = pq_encode_fast(enc, "embedding", cbs)
    assert re_enc.columns.count("codes") == 1
    assert re_enc.count() == 5


def test_nb_classify_golden_and_tie_break(spark):
    """Pins nb_classify on a hand-checkable fixture: class-distinctive
    vocabulary routes each test doc to its class; a test doc whose
    only token no training class has ever seen scores IDENTICALLY
    under the symmetric two-class model (equal priors, equal token
    totals, count-1 smoothing everywhere) and must break the tie to
    the lexicographically smallest label. Fixture tokens verified
    collision-free under md5 % 4096."""
    from dex_data_ingestor_spark.operators.text import nb_classify

    train = spark.createDataFrame(
        [("en", "the cat"), ("fr", "le chat")], "lang string, text string"
    )
    test = spark.createDataFrame(
        [(1, "the cat"), (2, "le chat"), (3, "zzz"), (4, "  ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in nb_classify(train, test, label_col="lang").collect()
    }
    assert out[1].pred == "en"
    assert out[2].pred == "fr"
    # unseen-everywhere token: symmetric scores, lexicographic tie
    assert out[3].pred == "en"
    # whitespace-only docs are excluded, matching the corpus-wide
    # tokenization contract
    assert 4 not in out
    # scores are exact integer micro-nats
    assert isinstance(out[1].score_units, int)
    # doc 1 and doc 2 score identically by symmetry of the fixture
    assert out[1].score_units == out[2].score_units


def test_nb_classify_golden_toy_corpus(spark):
    """Golden predictions and scores on a 4-document labeled corpus,
    re-derived here in Python: md5 buckets (mod 4096, collision-free
    on this vocabulary), document-frequency priors, Laplace-smoothed
    likelihoods -ln((c + 1)/(t_c + B)), each quantized to integer
    micro-nats, argmin over (score, label)."""
    import hashlib
    import math

    from dex_data_ingestor_spark.operators.text import nb_classify

    train_rows = [
        ("en", "the cat sat"), ("en", "the dog sat"),
        ("fr", "le chat"), ("fr", "le chien"),
    ]
    test_rows = [(1, "the cat"), (2, "le chien chien"), (3, "dog le")]
    train = spark.createDataFrame(train_rows, "lang string, text string")
    test = spark.createDataFrame(test_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.pred, r.score_units)
        for r in nb_classify(train, test, label_col="lang").collect()
    }

    n_buckets = 4096
    u = lambda p: math.floor(-math.log(p) * 1e6 + 0.5)
    bucket = lambda w: (
        int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % n_buckets
    )
    vocab = {w for _, t in train_rows + test_rows for w in t.split()}
    assert len({bucket(w) for w in vocab}) == len(vocab)
    counts = {"en": {}, "fr": {}}
    for lang, text in train_rows:
        for w in text.split():
            counts[lang][bucket(w)] = counts[lang].get(bucket(w), 0) + 1
    want = {}
    for doc_id, text in test_rows:
        scores = []
        for lang, cf in counts.items():
            t_c = sum(cf.values())
            score = u(2 / 4) + sum(
                u((cf.get(bucket(w), 0) + 1) / (t_c + n_buckets))
                for w in text.split()
            )
            scores.append((score, lang))
        score, lang = min(scores)
        want[doc_id] = (lang, score)
    assert got == want
    assert got[1][0] == "en" and got[2][0] == "fr"


def test_containment_hashed_keys_match_exact(spark, sf_dir):
    """The hashed-gram containment path must reproduce the exact
    string-keyed pairs row-for-row on the fixture corpus (md5-int64
    collisions are ~n²/2³² — absent here, so the outputs are
    identical, proving the hash is a pure key substitution)."""
    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.neardup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = sorted(
        map(
            tuple,
            ngram_containment_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5
            ).collect(),
        )
    )
    hashed = sorted(
        map(
            tuple,
            ngram_containment_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5,
                hashed_keys=True,
            ).collect(),
        )
    )
    assert exact == hashed
    assert len(exact) > 0


def test_semantic_dedup_fast_matches_expression_form(spark, sf_dir):
    """The BLAS semantic-dedup twin must keep the expression form's
    survivor set row-for-row (same assignment pass; pair kernel
    rounds to 9 dp before the threshold compare, mirroring the HOF
    round-then-filter rule)."""
    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.vector import (
        seeded_centroids,
        semantic_dedup,
        semantic_dedup_fast,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(64, 16, seed=42)
    slow = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(
            em, "vec_id", "embedding", cents, threshold=0.96
        ).collect()
    )
    fast = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup_fast(
            em, "vec_id", "embedding", cents, threshold=0.96
        ).collect()
    )
    assert slow == fast
    assert 0 < len(fast) <= em.count()


def test_gopher_and_c4_rules_crafted_parity(spark, tmp_path):
    """Exercises every Gopher/C4 rule branch on a crafted corpus —
    the fixture documents have no newlines/bullets/braces, so the
    line-level rules are only load-bearing here — and pins bitwise
    oracle parity on it (incl. a trailing-newline doc, where Spark's
    default split would drop the empty last line DuckDB keeps)."""
    import duckdb

    from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES
    from tests.oracle_check import compare

    good = (
        "The quick brown fox jumps over the lazy dog and that is fine "
        "to be said of it. " * 5
    ).strip()
    rows = [
        (1, good, "en", "src0", len(good)),           # passes gopher
        (2, "short text.", "en", "src0", 11),          # word-count fail
        (3, "\n".join(f"- item {i}" for i in range(10))
         + "\nthe of and that be have with list.",
         "en", "src0", 120),                           # 10/11 bullet lines
        (4, "trail line...\nmore...\nthe end.\n",
         "en", "src0", 30),                            # ellipsis + trailing \n
        (5, "x = { json: 1 }. Lorem ipsum dolor. javascript here. ok?",
         "en", "src0", 56),                            # C4 rejections
        (6, "########## #tags #everywhere " + "word " * 60,
         "en", "src0", 330),                           # 12 '#' / 63 words
        (7, "1 2 3 4 5 " * 12 + "the of.", "en", "src0", 120),  # alpha frac
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    gr = {r.doc_id: r for r in
          QUERIES["q_gopher_rules"](spark, str(tmp_path)).collect()}
    assert gr[1].keep
    assert not gr[2].ok_word_count and not gr[2].keep
    assert not gr[3].ok_bullets
    assert not gr[4].ok_ellipsis
    assert not gr[6].ok_symbols
    assert not gr[7].ok_alpha

    c4 = {r.doc_id: r for r in
          QUERIES["q_c4_filters"](spark, str(tmp_path)).collect()}
    assert c4[1].keep and c4[1].n_sentences >= 3
    assert c4[5].has_brace and c4[5].has_lorem and c4[5].n_js_lines == 1
    assert not c4[5].keep
    assert c4[4].terminal_line_frac < 1.0  # trailing empty line counts

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    for q in ("q_gopher_rules", "q_c4_filters"):
        problems = compare(
            QUERIES[q](spark, str(tmp_path)), con, ORACLE_SQL[q]
        )
        assert not problems, (q, problems)
    con.close()


def test_char_entropy_golden(spark, tmp_path):
    """Hand-derivable entropies: a one-symbol doc scores exactly 0
    (the floor(-0.0 + 0.5) edge), a two-symbol uniform doc scores
    ln 2 to within the micro-nat quantum, and whitespace-only docs
    are excluded; the crafted table holds bitwise oracle parity."""
    import duckdb

    from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES
    from tests.oracle_check import compare

    rows = [
        (1, "aaaaaaaa", "en", "src0", 8),
        (2, "ab", "en", "src0", 2),
        (3, "   ", "en", "src0", 3),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    df = QUERIES["q_char_entropy"](spark, str(tmp_path))
    out = {r.doc_id: r for r in df.collect()}
    assert set(out) == {1, 2}
    assert out[1].entropy_units == 0 and out[1].n_distinct_chars == 1
    # -2 * 0.5*ln(0.5) = ln 2; each class quantizes to 346574 u
    assert out[2].entropy_units == 693148
    assert out[2].n_chars == 2

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    problems = compare(df, con, ORACLE_SQL["q_char_entropy"])
    con.close()
    assert not problems, problems


def test_levenshtein_cross_engine_seam(spark):
    """Pins the q_edit_distance oracle seam: Spark levenshtein counts
    UTF-16 code units, DuckDB counts BYTES — identical on ASCII,
    divergent beyond (the documented witness). Oracle parity for the
    edit-distance family therefore rests on ASCII corpora; the engine
    side is the codepoint-correct one."""
    import duckdb

    cases = [
        ("kitten", "sitting"),
        ("", "abc"),
        ("same", "same"),
        ("a quick brown fox", "a quick brwn fx"),
        ("abcdef", "fedcba"),
    ]
    sdf = spark.createDataFrame(cases, "a string, b string").select(
        F.levenshtein("a", "b").alias("d")
    )
    got_spark = [r.d for r in sdf.collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in cases
    ]
    con.close()
    assert got_spark == got_duck

    # the divergence witness: 1 codepoint edit, 2 byte edits
    s = (
        spark.createDataFrame([("héllo", "hello")], "a string, b string")
        .select(F.levenshtein("a", "b").alias("d"))
        .collect()[0]
        .d
    )
    con = duckdb.connect()
    d = con.execute("SELECT levenshtein('héllo', 'hello')").fetchone()[0]
    con.close()
    assert s == 1 and d == 2


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_verify_golden(spark):
    """verify_pairs_edit_distance on crafted pairs: exact distance
    values (vs an independent python DP), the threshold gate, and the
    both-empty drop."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fax jumps over the lazy dog"),
            (3, "a completely different document about spark plans"),
            (4, ""),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "a_id long, b_id long"
    )
    out = {
        (r.a_id, r.b_id): (r.edit_dist, r.edit_sim)
        for r in ND.verify_pairs_edit_distance(
            pairs, docs, "doc_id", "text", threshold=0.6
        ).collect()
    }
    # (1,2): one substitution over 44 chars -> sim ~0.977, kept
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fax jumps over the lazy dog"
    assert out[(1, 2)][0] == _py_lev(a, b) == 1
    assert out[(1, 2)][1] == round(1.0 - 1.0 / len(a), 9)
    # (1,3): below threshold -> dropped; (4,5): 0/0 undefined -> dropped
    assert (1, 3) not in out and (4, 5) not in out


def test_random_project_exact_vs_numpy(spark):
    """random_project's proj_units equal an independent numpy integer
    matmul on crafted vectors; wrong-length rows are dropped."""
    import numpy as np

    dim, out_dim = 8, 3
    R = V.projection_matrix_units(dim, out_dim, seed=5)
    rows = [
        (1, [0.1 * (i + 1) for i in range(dim)]),
        (2, [(-1.0) ** i * 0.25 for i in range(dim)]),
        (3, [0.0] * dim),
        (4, [1.0] * (dim - 1)),  # wrong length -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.comp): r.proj_units
        for r in V.random_project(df, "embedding", R).collect()
    }
    assert not any(k[0] == 4 for k in got)
    Rm = np.array(R, dtype=np.int64)
    for vid, vec in rows[:3]:
        u = np.floor(np.array(vec) * 1e6 + 0.5).astype(np.int64)
        want = Rm @ u
        for c in range(out_dim):
            assert got[(vid, c + 1)] == want[c], (vid, c)
    # proj is the exact double of proj_units (|units| << 2^53 here)
    pr = {
        (r.vec_id, r.comp): r.proj
        for r in V.random_project(df, "embedding", R).collect()
    }
    for k, units in got.items():
        assert pr[k] == units / 1e12


def test_pca_fit_properties_and_exact_projection(spark):
    """pca_fit on a corpus with a planted dominant direction: descending
    eigenvalues, near-orthonormal quantized basis, the planted axis
    recovered, and pca_project == numpy integer matmul (exactness)."""
    import numpy as np

    rng = np.random.default_rng(17)
    dim, n = 8, 400
    # planted: component 0 has 10x the variance of the rest
    base = rng.normal(0.0, 0.03, size=(n, dim))
    base[:, 0] += rng.normal(0.0, 0.3, size=n)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    comps, evals = V.pca_fit(df, "embedding", dim, 3)
    assert evals[0] >= evals[1] >= evals[2] >= 0
    C = np.array(comps, dtype=np.float64) / 1e6
    gram = C @ C.T
    assert np.allclose(np.diag(gram), 1.0, atol=1e-4)
    off = gram - np.diag(np.diag(gram))
    assert np.abs(off).max() < 1e-4
    # the planted axis dominates the first component
    assert abs(C[0, 0]) > 0.9
    # exact projection: engine == numpy integer matmul
    got = {
        (r.vec_id, r.comp): r.proj_units
        for r in V.pca_project(df, "embedding", comps).collect()
    }
    Cm = np.array(comps, dtype=np.int64)
    U = np.floor(base * 1e6 + 0.5).astype(np.int64)
    want = U @ Cm.T
    for i in range(n):
        for c in range(3):
            assert got[(i, c + 1)] == want[i, c]


def test_inverted_index_cap_and_df_golden(spark):
    """inverted_index: posting lists cap at max_postings with ascending
    doc ids while df/cf report the TRUE frequencies."""
    from dex_data_ingestor_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(i, "common common unique%d" % i) for i in range(30)],
        "doc_id long, text string",
    )
    out = {
        r.term: (r.df, r.cf, r.postings)
        for r in inverted_index(docs, "doc_id", "text", max_postings=5).collect()
    }
    df_, cf, postings = out["common"]
    assert (df_, cf) == (30, 60)
    assert postings == "0,1,2,3,4"
    assert out["unique7"] == (1, 1, "7")


def test_pmi_collocations_golden_and_min_count(spark):
    """pmi_collocations on a crafted corpus: hand-derived PMI units
    via the same canonical IEEE tree, and the min_count gate."""
    import math

    from dex_data_ingestor_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "new york is big") for i in range(6)]
        + [(10 + i, "los angeles") for i in range(4)],
        "doc_id long, text string",
    )
    out = {
        (r.a, r.b): (r.c_ab, r.c_a, r.c_b, r.pmi_units)
        for r in pmi_collocations(
            docs, "doc_id", "text", min_count=5, k=50
        ).collect()
    }
    # corpus: n_uni = 6*4 + 4*2 = 32 tokens, n_pairs = 6*3 + 4*1 = 22
    assert ("los", "angeles") not in out  # c_ab = 4 < min_count
    c_ab, c_a, c_b, units = out[("new", "york")]
    assert (c_ab, c_a, c_b) == (6, 6, 6)
    want = math.floor(
        math.log((6.0 * 32.0 * 32.0) / (22.0 * 6.0 * 6.0)) * 1e6 + 0.5
    )
    assert units == want
    # all three surviving pairs have identical counts -> identical PMI
    assert len(out) == 3
    assert {v[3] for v in out.values()} == {want}


def test_rrf_fusion_units_recomputed_from_ranks(spark, sf_dir):
    """The fused score must be exactly the integer RRF identity
    10^12 // (60 + r) summed over the lists the doc appears in —
    recomputed in pure Python from the emitted ranks. Also pins that
    at least one doc carries BOTH ranks on the fixture corpus (the
    fusion join is load-bearing, not a disjoint union)."""
    from dex_data_ingestor_spark.plans.testbed import QUERIES, _RRF_K

    rows = QUERIES["q_rrf_fusion"](spark, sf_dir).collect()
    assert rows, "fusion returned no rows"
    both = 0
    for r in rows:
        expected = 0
        if r["lex_rank"] is not None:
            expected += 10**12 // (_RRF_K + r["lex_rank"])
        if r["vec_rank"] is not None:
            expected += 10**12 // (_RRF_K + r["vec_rank"])
        assert r["rrf_units"] == expected, r
        if r["lex_rank"] is not None and r["vec_rank"] is not None:
            both += 1
    # units ordering is non-increasing down the emitted list
    units = [r["rrf_units"] for r in rows]
    assert units == sorted(units, reverse=True)
    assert both >= 1


def test_embed_auc_matches_brute_force_pair_counting(spark, sf_dir):
    """q_embed_auc's rank-sum AUC must equal the definitional
    pair-counting AUC (#(pos>neg) + 0.5*#(pos==neg)) / (n_pos*n_neg)
    recomputed independently in numpy over the same quantized
    scores — the tie-handling identity is the part worth an
    independent proof."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from dex_data_ingestor_spark.plans.testbed import QUERIES

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    emb = np.array(
        [np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()]
    )
    labels = np.asarray(t["label"].to_pylist())
    vec_ids = np.asarray(t["vec_id"].to_pylist())
    qe = emb[vec_ids == 0][0]
    qlabel = labels[vec_ids == 0][0]
    cos = (emb @ qe) / (
        np.sqrt((emb * emb).sum(axis=1)) * math.sqrt(qe @ qe)
    )
    u = np.floor(np.round(cos, 9) * 1e9 + 0.5).astype(np.int64)
    pos_u = u[labels == qlabel]
    neg_u = u[labels != qlabel]
    gt = (pos_u[:, None] > neg_u[None, :]).sum()
    eq = (pos_u[:, None] == neg_u[None, :]).sum()
    want = (gt + 0.5 * eq) / (len(pos_u) * len(neg_u))

    [r] = QUERIES["q_embed_auc"](spark, sf_dir).collect()
    assert r["n_pos"] == len(pos_u) and r["n_neg"] == len(neg_u)
    assert abs(r["auc"] - want) < 1e-9, (r["auc"], want)


def test_mmr_greedy_diversity_overrides_relevance():
    """Hand-walked MMR (lambda=0.7, k=3): doc 2 is the second-most
    relevant but nearly duplicates the first pick, so the greedy must
    pass it over for the diverse doc 3 — then take doc 2 last. Pure
    integer arithmetic, no Spark session needed."""
    from dex_data_ingestor_spark.operators.vector import mmr_greedy_units

    cands = [(1, 1000), (2, 990), (3, 500), (4, 400)]
    sims = {
        (1, 2): 2300,  # 2 near-duplicates 1 (penalty decisive)
        (1, 3): 100,
        (1, 4): 100,
        (2, 3): 100,
        (2, 4): 100,
        (3, 4): 950,  # 4 near-duplicates 3
    }
    got = mmr_greedy_units(cands, sims, k=3, lam10=7)
    # pick 1: doc 1 on relevance alone, 7*1000 = 7000
    assert got[0] == (1, 1, 7000)
    # pick 2: doc 2 scores 7*990 - 3*2300 = 30; doc 3 scores
    # 7*500 - 3*100 = 3200 -> the diverse doc 3 wins
    assert got[1] == (2, 3, 3200)
    # pick 3: doc 2 = 6930 - 3*max(2300, 100) = 30;
    #         doc 4 = 2800 - 3*max(100, 950) = -50 -> doc 2
    assert got[2] == (3, 2, 30)


def test_mmr_greedy_tie_breaks_on_smaller_id_and_handles_missing_pairs():
    from dex_data_ingestor_spark.operators.vector import mmr_greedy_units

    # equal scores -> smaller id first; missing sim pairs count as 0
    got = mmr_greedy_units([(9, 100), (4, 100)], {}, k=2)
    assert [g[1] for g in got] == [4, 9]
    assert got[0][2] == 700 and got[1][2] == 700


def test_exclusive_prefix_sum_matches_global_window(spark):
    """The two-level range-bucketed prefix sum must be bit-identical
    to the single-partition global window on adversarial inputs:
    negative keys, bucket-boundary keys (exact multiples of the
    bucket width), empty buckets, and a bucket count larger than the
    key span (width clamps to 1)."""
    import random as rnd

    from pyspark.sql import Window

    from dex_data_ingestor_spark.operators.vector import (
        exclusive_prefix_sum,
    )

    r = rnd.Random(7)
    lo, hi = -1000, 1000
    keys = r.sample(range(lo, hi + 1), 300)
    rows = [(k, r.randint(-50, 10**9)) for k in keys]
    df = spark.createDataFrame(rows, "u long, cnt long")
    for n_buckets in (1, 7, 64, 5000):
        got = {
            row["u"]: row["cum"]
            for row in exclusive_prefix_sum(
                df, "u", "cnt", "cum", lo=lo, hi=hi, n_buckets=n_buckets
            ).collect()
        }
        w = Window.orderBy("u").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            row["u"]: row["cum"]
            for row in df.select(
                "u",
                F.coalesce(F.sum("cnt").over(w), F.lit(0))
                .cast("long")
                .alias("cum"),
            ).collect()
        }
        assert got == want, n_buckets


def test_embed_auc_ignores_null_and_zero_norm_embeddings(
    spark, sf_dir, tmp_path
):
    """NULL and all-zero embeddings have no cosine; the hygiene gate
    must drop them on BOTH engines instead of letting a NULL quantized
    score vanish silently inside the prefix-sum bucket join — the
    result over a polluted corpus equals the clean-corpus result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    dim = len(t["embedding"][0])
    bad = pa.table(
        {
            "vec_id": pa.array([10**6, 10**6 + 1], pa.int64()),
            "embedding": pa.array(
                [None, [0.0] * dim],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1], pa.int32()),
        }
    )
    polluted = pa.concat_tables(
        [t.cast(bad.schema), bad]
    )
    d = tmp_path / "sf_bad"
    d.mkdir()
    pq.write_table(polluted, str(d / "embeddings.parquet"))

    from dex_data_ingestor_spark.plans.testbed import QUERIES

    [clean] = QUERIES["q_embed_auc"](spark, sf_dir).collect()
    [got] = QUERIES["q_embed_auc"](spark, str(d)).collect()
    assert (got["n_pos"], got["n_neg"], got["auc"]) == (
        clean["n_pos"], clean["n_neg"], clean["auc"],
    )


def test_mmr_greedy_stepwise_optimality_property():
    """Hypothesis: on random integer inputs, every pick must be
    stepwise-optimal — no candidate left unpicked at step t had a
    strictly higher marginal score (or an equal score with a smaller
    id), and the returned mmr_units must equal the winner's
    recomputed marginal. This re-derives the invariant independently
    instead of replaying the implementation's loop."""
    from hypothesis import given, settings, strategies as st

    from dex_data_ingestor_spark.operators.vector import mmr_greedy_units

    @settings(max_examples=200, deadline=None)
    @given(
        data=st.data(),
        n=st.integers(min_value=1, max_value=12),
        k=st.integers(min_value=1, max_value=14),
        lam10=st.integers(min_value=0, max_value=10),
    )
    def run(data, n, k, lam10):
        ids = data.draw(
            st.lists(
                st.integers(min_value=-100, max_value=100),
                min_size=n, max_size=n, unique=True,
            )
        )
        cands = [
            (i, data.draw(st.integers(min_value=-10**9, max_value=10**9)))
            for i in ids
        ]
        sims = {}
        for a in ids:
            for b in ids:
                if a < b and data.draw(st.booleans()):
                    sims[(a, b)] = data.draw(
                        st.integers(min_value=-10**9, max_value=10**9)
                    )
        got = mmr_greedy_units(cands, sims, k=k, lam10=lam10)
        assert len(got) == min(k, n)
        assert [r[0] for r in got] == list(range(1, len(got) + 1))
        rel = dict(cands)
        picked = []
        for rank, cid, units in got:
            def marginal(c):
                if not picked:
                    return lam10 * rel[c]
                ms = max(
                    sims.get((c, s), sims.get((s, c), 0)) for s in picked
                )
                return lam10 * rel[c] - (10 - lam10) * ms
            assert units == marginal(cid), (cid, units)
            for other in rel:
                if other in picked or other == cid:
                    continue
                m = marginal(other)
                assert (m, -other) <= (units, -cid), (
                    rank, cid, units, other, m,
                )
            picked.append(cid)

    run()


def test_approx_quantiles_within_rank_error_of_exact(spark, sf_dir):
    """The GK sketch contract: each estimate must be an actual value
    from its group lying between the exact order statistics at
    target_rank -+ n/accuracy (accuracy=1000, so at fixture sizes the
    window is a couple of ranks wide)."""
    import pyarrow.parquet as pq

    from dex_data_ingestor_spark.plans.testbed import QUERIES

    t = pq.read_table(f"{sf_dir}/events.parquet").to_pydict()
    by_type = {}
    for et, v in zip(t["event_type"], t["value"]):
        by_type.setdefault(et, []).append(v)
    rows = QUERIES["q_approx_quantiles"](spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(by_type)
    for r in rows:
        vals = sorted(by_type[r.event_type])
        n = len(vals)
        # GK guarantee: rank error <= eps*n with eps = 1/accuracy.
        # +2 slack covers the two off-by-one ambiguities the guarantee
        # leaves open (ceil(p*n) vs p*(n-1) target-rank conventions,
        # and the fractional part of eps*n) so the bound holds at any
        # SF, not just while groups fit the exact head buffer.
        err = n // 1000 + 2
        for p, got in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            target = int(p * (n - 1))
            lo = vals[max(0, target - err)]
            hi = vals[min(n - 1, target + err)]
            assert lo <= got <= hi, (r.event_type, p, got, lo, hi)
            assert got in vals, "GK returns actual sample values"


def test_ivf_assign_quarantines_zero_norm_and_null_vectors(spark):
    """A failed-encoder row (all-zero or NULL embedding) must land in a
    NULL cell — not raise ANSI DIVIDE_BY_ZERO mid-job (norm(v) = 0 in
    the cosine denominator) and not join any pair stage (NULL block
    keys match nothing). Clean rows' assignments are untouched."""
    from dex_data_ingestor_spark.operators.vector import (
        ivf_assign,
        seeded_centroids,
        semantic_dedup,
    )

    cents = seeded_centroids(4, 3, seed=1)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.001]),   # near-dup of 1
        (3, [0.0, 0.0, 0.0, 0.0]),     # zero norm: quarantine
        (4, None),                      # NULL: quarantine
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = {r.vec_id: r.cell for r in ivf_assign(df, "embedding", cents).collect()}
    assert cells[3] is None and cells[4] is None
    assert cells[1] is not None and cells[1] == cells[2]

    # end-to-end: dedup keeps the min-id survivor of the clean pair and
    # passes quarantined rows through untouched
    out = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.99)
    assert sorted(r.vec_id for r in out.collect()) == [1, 3, 4]


def test_neardup_pairs_fast_survives_dirty_blocks(spark):
    """The BLAS kernel must drop NULL / odd-length vectors like its HOF
    twin does (NULL cosine -> fails the threshold), not crash np.stack
    — the documented identical-survivor-set contract on dirty data."""
    from dex_data_ingestor_spark.operators.vector import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_fast,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 1e-9], 0),    # near-dup of 1
        (3, None, 0),           # NULL in the same block
        (4, [1.0, 0.0, 0.0], 0),  # wrong dim in the same block
        (5, [0.5, 0.5], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    fast = sorted(
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs_fast(
            df, "vec_id", "embedding", 0.99, "cell", round_dp=9
        ).collect()
    )
    hof = sorted(
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            df.filter(F.col("embedding").isNotNull()),
            "vec_id", "embedding", 0.99, "cell",
        ).collect()
        if r.a_id != 4 and r.b_id != 4
    )
    assert fast == hof == [(1, 2)]


def test_pq_adc_topk_excludes_quarantined_codes(spark):
    """pq_encode_fast quarantines bad vectors to NULL codes; their NULL
    ADC distances would sort FIRST ascending and displace true
    neighbors from the top-k."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode_fast,
    )

    cb = pq_codebooks(dim=4, m=2, k=4, seed=3)
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]),
            (3, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = pq_encode_fast(df, "embedding", cb)
    assert [r.codes for r in enc.filter(F.col("vec_id") == 3).collect()] == [None]
    got = [r.vec_id for r in pq_adc_topk(
        enc, "vec_id", cb, [1.0, 0.0, 0.0, 0.0], k=3
    ).collect()]
    assert 3 not in got and set(got) == {1, 2}


def test_canonicalize_url_preserves_path_ampersands(spark):
    """A legitimate '&' in the PATH of a query-less URL must survive:
    the old regex chain promoted it to '?' ('/a&b' -> '/a?b'), making
    two different URLs collide as dedup keys. Query filtering is now
    structural (split at the first '?'), so only real params move."""
    from dex_data_ingestor_spark.operators.text import canonicalize_url

    cases = [
        ("https://a.com/a&b", "https://a.com/a&b"),
        ("https://a.com/a&b&c", "https://a.com/a&b&c"),
        ("https://a.com/a&b?utm_x=1", "https://a.com/a&b"),
        ("https://a.com/a&b?utm_x=1&q=2", "https://a.com/a&b?q=2"),
        ("https://a.com/p?utm_a=1&utm_b=2&q=1", "https://a.com/p?q=1"),
        ("https://a.com/p?q=1&utm_a=1&r=2", "https://a.com/p?q=1&r=2"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["canon"]
        for r in df.select(
            "i", canonicalize_url("url").alias("canon")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_simhash_rejects_bits_beyond_hash_entropy(spark):
    """md5_int64 has 32 bits of entropy: positions >= 32 are constant 0
    (no discrimination) and bits=64 builds a BIGINT-overflowing 2^63
    literal — both now rejected by name."""
    import pytest

    from dex_data_ingestor_spark.operators.neardup import simhash

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError, match="bits"):
        simhash(df, "id", "text", bits=64)
    with pytest.raises(ValueError, match="bits"):
        simhash(df, "id", "text", bits=0)
    assert simhash(df, "id", "text", bits=32).count() == 1


def test_lsh_band_buckets_wide_emits_remainder_band(spark):
    """rows_per_band not dividing K must produce a remainder band over
    the trailing signature columns (matching the long form's
    floor(k/rows_per_band) buckets), not silently drop them."""
    from dex_data_ingestor_spark.operators.neardup import (
        MINHASH_PARAMS,
        lsh_band_buckets,
        lsh_band_buckets_wide,
        minhash_signatures,
        minhash_signatures_wide,
    )

    df = spark.createDataFrame(
        [(1, "one two three four five six")], "id long, text string"
    )
    K = len(MINHASH_PARAMS)
    rpb = 3
    assert K % rpb != 0  # the regression regime
    wide = lsh_band_buckets_wide(
        minhash_signatures_wide(df, "id", "text"), "id", rows_per_band=rpb
    )
    long_form = lsh_band_buckets(
        minhash_signatures(df, "id", "text"), "id", rows_per_band=rpb
    )
    w = {(r.band_id) for r in wide.collect()}
    l = {(r.band_id) for r in long_form.collect()}
    assert w == l and len(w) == (K + rpb - 1) // rpb


def test_bpe_invalidated_pair_rewins_at_recounted_rank(spark):
    """VERDICT r12 #5: the merge-batch INVALIDATION edge cases, pinned
    as goldens (BPE is the one rows-only operator with loop-carried
    state and no cross-engine oracle — these pins are its correctness
    record).

    Corpus 'ab'x10 + 'cb'x9. Round-1 counts: (b,</w>):19 wins;
    (a,b):10 and (c,b):9 share b and are SKIPPED — their counts are
    stale the moment (b,</w>) fuses (after fusion the (a,b) adjacency
    count is 0, not 10: [a,b,</w>] became [a,b</w>]). The skipped
    pairs must come back at their RECOUNTED rank: round 2 accepts
    (a,b</w>) and skips (c,b</w>) (shared b</w>), round 3 accepts
    (c,b</w>). Three invariants:

    - batched k=3 equals the exact k=1 sequence (the skips force
      extra rounds instead of stale merges);
    - the stale (a,b) NEVER appears in the model (a naive batch would
      emit it at rank 2 with a count that stopped being true);
    - the learned model is insensitive to k across 1/2/3.
    """
    from dex_data_ingestor_spark.operators.bpe import (
        EOW,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = [("ab",)] * 10 + [("cb",)] * 9
    wf = word_frequencies(spark.createDataFrame(rows, "text string"))
    golden = [("b", EOW), ("a", "b" + EOW), ("c", "b" + EOW)]
    seq = learn_bpe_merges(wf, n_merges=3)
    assert seq == golden
    for k in (2, 3):
        assert learn_bpe_merges(wf, n_merges=3, merge_batch=k) == golden
    assert ("a", "b") not in seq


def test_bpe_batched_divergence_from_sequential_is_the_documented_one(
    spark,
):
    """The docstring's caveat, pinned so it can never silently widen:
    k>1 matches sequential EXCEPT when a recount would re-rank a pair
    against the tie-break order. Corpus 'abcc'x10: round-1 counts tie
    at 10 for (a,b),(b,c),(c,</w>),(c,c) — in THAT tie-break order
    ('<' = 0x3C sorts before 'c', so (c,</w>) outranks (c,c)). Batch
    k=3 sees (c,</w>) in its ranking and accepts the disjoint
    {(a,b),(c,</w>)} in one round, while sequential recounts after
    (a,b) and the tie-break (l asc: 'ab' < 'c') then prefers (ab,c) —
    so the two models legitimately diverge AFTER the first merge.
    (k=2's ranking is exhausted by the skipped (b,c), so it
    degenerates to one merge per round and matches sequential — also
    pinned.) Both full sequences are pinned; first merges agree."""
    from dex_data_ingestor_spark.operators.bpe import (
        EOW,
        learn_bpe_merges,
        word_frequencies,
    )

    rows = [("abcc",)] * 10
    wf = word_frequencies(spark.createDataFrame(rows, "text string"))
    seq = learn_bpe_merges(wf, n_merges=4)
    assert seq == [
        ("a", "b"), ("ab", "c"), ("abc", "c"), ("abcc", EOW)
    ]
    assert learn_bpe_merges(wf, n_merges=4, merge_batch=2) == seq
    batched = learn_bpe_merges(wf, n_merges=4, merge_batch=3)
    assert batched == [
        ("a", "b"), ("c", EOW), ("ab", "c"), ("abc", "c" + EOW)
    ]
    # divergence is ORDER/GROUPING only: both models encode the
    # training word to the same single token
    from dex_data_ingestor_spark.operators.bpe import apply_bpe

    doc = spark.createDataFrame([("abcc",)], "text string")
    for m in (seq, batched):
        toks = apply_bpe(doc, m).collect()[0].bpe_tokens
        assert toks == ["abcc" + EOW]
