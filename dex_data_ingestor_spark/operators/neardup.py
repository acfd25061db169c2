"""Near-duplicate detection for training-data pipelines (north-star J2).

Four families, all expressed as declarative DataFrame plans over
engine-portable hashing (md5-int64), no Python in the hot path:

- exact dedup: content-hash groupBy (see plans; dedup_first on sha256)
- MinHash + LSH: shingle -> K permuted min-hashes -> banded bucket
  join. The only shuffles are the signature groupBy and the bucket
  self-join; at 100 TB both shuffle *candidate buckets*, never all
  pairs — the classic sub-quadratic near-dup design.
- SimHash: sign-aggregated token-hash bits -> single integer key
  (up to 32 bits — the token hash's entropy);
  near-dups share (or almost share) the key. Linear, one groupBy.
- n-gram Jaccard: exact pairwise similarity, restricted to pairs that
  share at least one gram (the join prunes the quadratic space).

Determinism: hash params are fixed literals; every derived float is
rounded (9 dp) so results are bit-reproducible cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dex_data_ingestor_spark.functions.scalars import md5_int64, round_ieee
from dex_data_ingestor_spark.io import rebalance_if_underpartitioned
from dex_data_ingestor_spark.functions.scalars import WS

#: Mersenne prime 2^31-1: the classic universal-hash modulus.
MINHASH_P = 2147483647

#: Fixed (a, b) parameters for the K=8 minhash permutations
#: h_k(x) = (a_k * x + b_k) mod P. Chosen once, shared with the oracle.
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1103515245, 12345),
    (1299709, 7919),
    (104729, 15485863),
    (982451653, 32452843),
    (179424691, 373587883),
    (217645177, 657276199),
    (715225739, 910471),
    (492876847, 453987),
)


def word_ngrams(text, n: int):
    """Distinct word n-grams (shingles) of ``text`` as an array column."""
    from pyspark.sql import Column

    c = text if isinstance(text, Column) else F.col(text)
    return _word_ngrams_col(c, n)


def _word_ngrams_col(c, n: int):
    ws = F.split(F.trim(c), WS)
    return _grams_from_words(ws, n)


def _grams_from_words(ws, n: int, distinct: bool = True):
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.concat_ws(" ", *[F.get(ws, i + off) for off in range(n)]),
    )
    if distinct:
        grams = F.array_distinct(grams)
    # sequence(0, negative) would DESCEND in Spark — guard short texts.
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Explode documents into distinct word n-gram shingles.

    The word array is projected to a concrete column FIRST: higher-order
    lambdas re-evaluate argument expressions per element, so inlining
    split() into the transform costs O(words x grams) per doc —
    measured 17x slower at sf0.1.
    """
    ws = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), WS).alias("__ws")
    )
    return ws.select(
        F.col(id_col),
        F.explode(_grams_from_words(F.col("__ws"), n)).alias("gram"),
    )


def minhash_signatures_wide(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """K minhash values per document as K columns m0..m{K-1}:
    min over shingles of ``(a_k * md5int(gram) + b_k) mod P``.

    ZERO shuffles: the gram hashes and all K permutation minima are
    computed with array higher-order functions inside one narrow
    projection — no shingle explode, no hash-aggregate. This replaced
    an explode + groupBy(K min aggs) form: measured ~25% faster at
    sf0.1, and at 100 TB it removes the minhash shuffle entirely (the
    per-doc gram array lives only inside its task). Docs with fewer
    than ``shingle_n`` words have no shingles and are dropped, matching
    the old groupBy semantics (no shingle rows -> no group).
    """
    ws = F.split(F.trim(F.col(text_col)), WS)
    # The no-shingle filter must be this cheap word-count predicate:
    # filtering on size(__gh) reads clean but predicate pushdown
    # substitutes the filter BELOW the projections, re-inlining the
    # whole gram+hash HOF tree (split() re-evaluated per element,
    # O(words^2) per doc — measured 15x slower).
    base = df.filter(F.size(ws) >= shingle_n).select(
        F.col(id_col), ws.alias("__ws")
    )
    base = rebalance_if_underpartitioned(base)
    grams = _grams_from_words(F.col("__ws"), shingle_n, distinct=False)
    # distinct is deliberately skipped: min over a multiset equals min
    # over its set, and array_distinct is per-doc O(n^2) work.
    gh = F.transform(grams, md5_int64)
    base = base.select(F.col(id_col), gh.alias("__gh"))

    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    wide = base.select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("__gh"), perm(a, b))).alias(
                f"m{k}"
            )
            for k, (a, b) in enumerate(MINHASH_PARAMS)
        ],
    )
    # Materialization barrier: without it CollapseProject inlines the
    # m_k HOF trees into every downstream reference (band hashes, both
    # sides of the candidate self-join) and the md5 work re-executes
    # per reference — measured 15x slower, the opposite of the intent.
    # The exchange carries only (id, 8 longs) per doc — at 100 TB this
    # is the tiny signature table, orders of magnitude below the
    # shingle shuffle the old groupBy form paid — and self-joins over
    # it hit ReusedExchange instead of recomputing signatures.
    return wide.repartition(F.col(id_col))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Long-format signatures (id, k, minhash) — the wide form unpivoted
    (cheap narrow transform; no extra shuffle)."""
    wide = minhash_signatures_wide(df, id_col, text_col, shingle_n)
    pairs = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.col(f"m{k}").alias("minhash"))
            for k in range(len(MINHASH_PARAMS))
        ]
    )
    return wide.select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, F.col("p.k").alias("k"), F.col("p.minhash").alias("minhash"))


def lsh_band_buckets_wide(
    wide: DataFrame, id_col: str, rows_per_band: int = 4
) -> DataFrame:
    """Band buckets straight from wide signatures — narrow transform,
    zero additional shuffles. Output: (id, band_id, band_hash).

    A remainder band is emitted when ``rows_per_band`` does not divide
    K (matching the long-format lsh_band_buckets, which buckets by
    floor(k/rows_per_band)): silently dropping the trailing signature
    columns would lower recall below what the banding parameters
    promise, and make the two "API parity" forms produce different
    bucket tables for identical inputs."""
    nk = len(MINHASH_PARAMS)
    n_bands = (nk + rows_per_band - 1) // rows_per_band
    bands = []
    for band_id in range(0, n_bands):
        ks = range(
            band_id * rows_per_band,
            min((band_id + 1) * rows_per_band, nk),
        )
        sig = F.concat_ws(",", *[F.col(f"m{k}").cast("string") for k in ks])
        bands.append(
            F.struct(
                F.lit(band_id).alias("band_id"),
                md5_int64(sig).alias("band_hash"),
            )
        )
    return wide.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash"))


def lsh_band_buckets(
    signatures: DataFrame, id_col: str, rows_per_band: int = 4
) -> DataFrame:
    """Band buckets from long-format signatures (kept for API parity;
    the fused wide path above is what queries use). Output:
    (id, band_id, band_hash)."""
    # floor, not cast: double->int CAST truncates in Spark but rounds in
    # some engines — floor is unambiguous everywhere.
    banded = signatures.withColumn(
        "band_id", F.floor(F.col("k") / rows_per_band).cast("int")
    )
    return (
        banded.groupBy(F.col(id_col), "band_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("k"), F.col("minhash")))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
            ).alias("band_sig")
        )
        .select(
            F.col(id_col),
            "band_id",
            md5_int64(F.col("band_sig")).alias("band_hash"),
        )
    )


#: Default hot-bucket cap for lsh_candidate_pairs; oracle SQL mirrors
#: this value (plans/testbed.py interpolates it), so change it in ONE
#: place only.
LSH_MAX_BUCKET = 256


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_size: int = LSH_MAX_BUCKET
) -> DataFrame:
    """Distinct candidate pairs sharing any LSH band bucket, with a
    hot-bucket cap via shifted sub-bucket tiling.

    The naive bucket self-join is O(n^2) *per bucket*: a
    boilerplate-heavy corpus (license headers, templated pages) can put
    millions of documents into ONE (band_id, band_hash) bucket, and a
    single 1M-doc bucket alone would emit 5e11 pairs — a job-killer at
    100 TB no matter how well the rest of the plan scales. So buckets
    are sized first (count over the same (band_id, band_hash) key the
    join shuffles on — co-partitioned, no extra exchange):

    - size <= ``max_bucket_size``: all pairs, exactly as before;
    - size > ``max_bucket_size``: members are ranked by id and tiled
      into cells of ``max_bucket_size`` TWICE — grouping 0 cuts at rank
      0, cap, 2*cap, ...; grouping 1 at the same stride shifted by
      cap/2 — and each cell emits its all-pairs. Cost is O(n * cap)
      per hot bucket (each member sits in two cells of <= cap), vs
      O(n^2) uncapped.

      Why two shifted tilings instead of the previous stride-1/2
      chain: consumers run the exact-Jaccard verify stage
      (verify_pairs_jaccard) over these candidates, and a chain
      disconnects true duplicates whenever >= 2 CONSECUTIVE band-
      collision interlopers get pruned. With shifted tiling, any two
      members within cap/2 ranks of each other share a cell in at
      least one grouping (two tiling boundaries are cap/2 apart, so a
      rank interval shorter than cap/2 cannot cross one of each) and
      therefore hold a DIRECT pair; splitting a true-dup cluster now
      requires >= cap/2 consecutive interlopers (128 at the default
      cap) instead of 2. In a bucket hot enough to trip the cap,
      members share a full band (4 equal minhashes), so a 128-run of
      non-duplicates is vanishingly unlikely — near-full recall at the
      O(n * cap) budget.

    Cap-invariance contract (relied on by the dup-cluster / survivor /
    curation oracles, which stay UNCAPPED SQL): per hot bucket,

    - connectivity is preserved — adjacent ranks (distance 1 <= cap/2)
      always share a cell, so the bucket stays one component;
    - the b-side set equals all-pairs' b-sides (bucket minus its min
      id): a member that is not its grouping-0 cell's minimum pairs
      b-side within that cell; a grouping-0 cell minimum at rank
      k*cap (k >= 1) shares its grouping-1 cell [k*cap - cap/2,
      k*cap + cap/2) with rank k*cap - 1, a smaller id; only rank 0 —
      the bucket minimum — is min of both its cells.

    Deterministic: ranks order by id, so output is reproducible
    run-to-run, and the a_id < b_id filter holds on both paths (even
    against duplicate (id, band) input rows — duplicates land in the
    same or adjacent cells and self-pairs fail the strict inequality).

    NULLs: a row whose ``band_id`` or ``band_hash`` is NULL belongs to
    no bucket and pairs with nothing (equi-join semantics, as in the
    oracle's bucket CTE); it is filtered out before the aggregation. A
    NULL id inside a bucket never pairs but still counts toward the
    bucket's size.

    Plan shape (r14): ONE (band_id, band_hash) aggregation folds each
    bucket into a sorted member array (plus the raw row count), and pairs
    are emitted by higher-order array functions — all-pairs for small
    buckets, per-(grouping, cell) slice all-pairs for hot ones. This
    replaces the previous shape (sizing window + rank window + two
    merge-hinted self-joins over a shared repartition): the expensive
    upstream (signature computation, md5 over every gram x K
    permutations) is still computed once, but the window sorts and the
    four merge-join sort legs are gone, and no bucket-table exchange
    is re-read per branch — the one aggregate feeds both the small and
    hot branches (ReusedExchange on bucket-count-sized rows).

    Memory trade, stated honestly: the aggregation holds each bucket's
    member array in one buffer (8 bytes x members for long ids), where
    the window form held the same per-bucket rows in one spillable
    sort task. A bucket would need ~10^8 members for its array to
    reach ~1 GB; a bucket that hot emits O(n x cap) ~ 2.5e10 candidate
    pairs downstream — the job is lost on output volume long before
    the array is the problem. Per-cell pair arrays are bounded by
    cap(cap-1)/2 (~33k structs at the default cap) before their
    explode, so the emission side is O(cap^2), never O(bucket^2).
    """
    cap = max_bucket_size
    half = cap // 2
    # __n counts every bucket row (NULL ids included — the old sizing
    # window's count(1) semantics); ms sorts the non-NULL members, so
    # the old rank space maps to ms positions shifted by the NULL
    # count __k (row_number ordered NULLs FIRST). NULL members never
    # pair (a_id < b_id is NULL-false), so only the offset matters.
    grouped = (
        buckets.select(F.col(id_col).alias("a_id"), "band_id", "band_hash")
        .filter(F.col("band_id").isNotNull() & F.col("band_hash").isNotNull())
        .groupBy("band_id", "band_hash")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.array_sort(F.collect_list("a_id")).alias("ms"),
        )
    )

    def all_pairs(arr: str) -> str:
        # sorted input => x <= y for every emitted (x, y); the strict
        # filter drops self-pairs from duplicate ids, mirroring the
        # old a_id < b_id join filter.
        return (
            f"filter(flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), "
            f"y -> struct(x AS a_id, y AS b_id)))), "
            f"p -> p.a_id < p.b_id)"
        )

    small_pairs = (
        grouped.filter(F.col("__n") <= cap)
        .select(F.explode(F.expr(all_pairs("ms"))).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    # Hot buckets: grouping g's cell c covers ranks
    # [c*cap - g*half, (c+1)*cap - g*half) clipped to [0, __n) — the
    # exact cell assignment of the old floor((rk + g*half)/cap). Each
    # cell's member slice is cut from ms (rank r -> ms[r - __k]).
    cell_slices = []
    for g in (0, 1):
        off = g * half
        cell_slices.append(
            f"transform(sequence(0, CAST((__n - 1 + {off}) DIV {cap} AS INT)), "
            f"c -> slice(ms, "
            f"CAST(greatest(c * {cap} - {off}, __k) - __k + 1 AS INT), "
            f"CAST(greatest(least((c + 1) * {cap} - {off}, __n) "
            f"- greatest(c * {cap} - {off}, __k), 0) AS INT)))"
        )
    hot_pairs = (
        grouped.filter(F.col("__n") > cap)
        .withColumn("__k", F.col("__n") - F.size("ms"))
        .select(
            F.explode(
                F.expr(f"concat({cell_slices[0]}, {cell_slices[1]})")
            ).alias("cell_ms")
        )
        .select(F.explode(F.expr(all_pairs("cell_ms"))).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    return small_pairs.unionByName(hot_pairs).distinct()


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-document SimHash over word tokens: bit j is set when the
    sign-sum of token-hash bit j is positive. Output: (id, simhash).

    Wide aggregation: one token row carries all ``bits`` sign
    contributions as independent aggregate expressions — no bits-fold
    row explosion, ONE shuffle with map-side partial sums, then a
    narrow recombine (same shape as minhash_signatures_wide).

    The per-bit expressions are built as SQL strings (one parse each)
    rather than nested Column calls: the Column form costs ~200 Py4J
    round trips for 32 bits, ~1 s of driver-side plan construction per
    run at any scale.

    ``bits`` is capped at 32: md5_int64 carries exactly 32 bits of
    entropy, so bit positions >= 32 are constant 0 (every sign-sum is
    -n_tokens — no extra discrimination while callers believe they
    widened the sketch), and bits=64 would additionally build the
    literal 2^63, which overflows BIGINT. Widening the sketch means
    widening the token hash first."""
    if not 1 <= bits <= 32:
        raise ValueError(
            f"simhash: bits must be in [1, 32] (md5_int64 has 32 bits "
            f"of entropy; got {bits})"
        )
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), WS)).alias("tok"),
    ).withColumn("tok_hash", md5_int64(F.col("tok")))
    sums = tokens.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(tok_hash, {j}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS s{j}"
            )
            for j in range(bits)
        ]
    )
    acc_sql = " + ".join(
        f"IF(s{j} > 0, CAST({2 ** j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(bits)
    )
    return sums.select(F.col(id_col), F.expr(acc_sql).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 gram.

    Output: (a_id, b_id, jaccard) with jaccard rounded to 9 dp.
    The shared-gram equi-join prunes the pair space; gram counts are
    computed once per doc and broadcast through the join.
    """
    inter, counts = _gram_pair_intersection(
        df, id_col, text_col, n, F.col("a_id") < F.col("b_id")
    )
    ca = counts.select(
        F.col(id_col).alias("a_id"), F.col("n_grams").alias("a_grams")
    )
    cb = counts.select(
        F.col(id_col).alias("b_id"), F.col("n_grams").alias("b_grams")
    )
    return (
        inter.join(ca, "a_id")
        .join(cb, "b_id")
        .select(
            "a_id",
            "b_id",
            round_ieee(
                F.col("n_inter").cast("double")
                / (F.col("a_grams") + F.col("b_grams") - F.col("n_inter")),
                9,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _gram_pair_intersection(df, id_col, text_col, n, pair_cond,
                            hashed_keys=False):
    """Shared plumbing for the exact pairwise gram metrics (Jaccard,
    containment): distinct n-gram shingles -> per-doc gram counts +
    the shared-gram equi-join intersection counts for pairs passing
    ``pair_cond``. Keeping this in ONE place keeps the two metrics
    structurally in lockstep — a future skew/normalization fix here
    reaches both.

    ``hashed_keys=True`` replaces each gram string with its
    md5-int64 hash BEFORE the corpus-wide equi-join — the span-dedup
    shuffle-key lesson applied to the pair metrics: 8 bytes per row
    through the exchange instead of a ~20-char gram (~3x byte cut),
    and BIGINT key compares instead of string compares. The hash is a
    drop-in key substitution, NOT followed by a re-distinct: per-doc
    gram counts stay row counts (shingles already emits distinct
    strings), so an intra-doc collision double-counts on BOTH the
    count and the intersection side consistently — any oracle must
    hash with the same function to stay bitwise-comparable
    (cross-gram collisions merge keys conservatively, ~n²/2³² odds).
    """
    sh = shingles(df, id_col, text_col, n)
    if hashed_keys:
        sh = sh.select(F.col(id_col), md5_int64(F.col("gram")).alias("gram"))
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = sh.select(F.col(id_col).alias("a_id"), "gram")
    b = sh.select(F.col(id_col).alias("b_id"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(pair_cond)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter, counts


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hashed_keys: bool = False,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT: |grams(a) ∩ grams(b)| /
    |grams(a)| — how much of document a lives inside document b.

    The metric Jaccard cannot express: a short document quoted
    verbatim inside a long one has near-zero Jaccard (the union is
    dominated by the long doc) but containment ~1 — exactly the
    quote/excerpt/eval-leak shape a contamination sweep needs.
    DIRECTED output: both (a,b) and (b,a) rows can appear, each with
    its own containment; ids are distinct (self-pairs dropped).

    Same sub-quadratic shape as :func:`ngram_jaccard_pairs` — the
    shared-gram equi-join prunes the pair space, gram counts join
    back per side — so the 100 TB posture is identical (hot grams are
    the skew risk; the gram explode dominates and partially
    aggregates map-side). Containment is n_inter / a_grams, an
    integer ratio: one IEEE division, 9 dp rounded, bit-stable
    cross-engine. ``hashed_keys=True`` is the 100 TB scale path —
    see :func:`_gram_pair_intersection` for the key-substitution
    contract."""
    inter, counts = _gram_pair_intersection(
        df, id_col, text_col, n, F.col("a_id") != F.col("b_id"),
        hashed_keys=hashed_keys,
    )
    ca = counts.select(
        F.col(id_col).alias("a_id"), F.col("n_grams").alias("a_grams")
    )
    return (
        inter.join(ca, "a_id")
        .select(
            "a_id",
            "b_id",
            round_ieee(
                F.col("n_inter").cast("double") / F.col("a_grams"), 9
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def char_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Distinct character k-grams — the shingle flavor for short or
    whitespace-poor text (CJK, code, URLs) where word n-grams are too
    coarse. Same downstream contract as :func:`shingles`, so the
    minhash/LSH pipeline runs unchanged on either."""
    norm_text = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS, " ")
    base = df.select(F.col(id_col), norm_text.alias("__t"))
    # substring with a dynamic start position needs the SQL expr form
    base = base.withColumn(
        "__grams",
        F.when(
            F.length("__t") >= k,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(__t) - {k - 1}), "
                    f"i -> substring(__t, i, {k}))"
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return base.select(
        F.col(id_col), F.explode("__grams").alias("gram")
    )


def char_minhash_signatures_wide(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """K minhash values per document over CHARACTER k-gram shingles —
    the char-flavor twin of :func:`minhash_signatures_wide`, same wide
    output contract (m0..m{K-1}), so banding/candidates/verify run
    unchanged.

    ZERO shuffles and NO distinct: min over the gram MULTISET equals
    min over its set, so this path skips both the 1-row-per-gram
    explode AND the ``array_distinct`` the exploded
    :func:`char_shingles` pays for its DISTINCT contract —
    array_distinct is per-doc O(grams^2) string comparisons, and char
    grams are ~10x denser than word shingles (one per character).
    Measured on the benched q_charngram_lsh at sf0.1: 33.5 s with the
    explode+distinct+groupBy form, 3.3 s with this one. Oracle parity
    is untouched because only the min leaves the document.
    """
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), WS, " "
    )
    base = df.select(F.col(id_col), norm.alias("__t")).filter(
        F.length("__t") >= k
    )
    base = rebalance_if_underpartitioned(base)
    # __t is a materialized column, so the per-element substring in the
    # lambda references a cheap attribute (the HOF-inlining trap notes
    # atop minhash_signatures_wide apply here unchanged).
    gh = F.transform(
        F.expr(
            f"transform(sequence(1, length(__t) - {k - 1}), "
            f"i -> substring(__t, i, {k}))"
        ),
        md5_int64,
    )
    base = base.select(F.col(id_col), gh.alias("__gh"))

    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    wide = base.select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("__gh"), perm(a, b))).alias(
                f"m{j}"
            )
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ],
    )
    # same materialization barrier as the word pipeline: the exchange
    # carries (id, 8 longs) and downstream self-joins reuse it.
    return wide.repartition(F.col(id_col))


def lsh_match_against_index(
    new_buckets: DataFrame,
    index_buckets: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric LSH probe: candidate pairs between a NEW batch and a
    persisted corpus index — the incremental dedup path.

    The reference re-reads its whole warehouse every hour to decide
    what to upsert (src/ingestion/SqlDbEtl.py:90-110 — the window
    bounds the source, never the target). The scalable equivalent for
    near-dup is: keep the band-bucket table of everything already
    accepted as the INDEX (tiny: ~2 rows of (id, band, hash) per doc),
    and probe only the new batch against it. Cost per batch is
    O(|batch| + matched buckets), never O(corpus) — a corpus self-join
    per batch is the thing this replaces. At 100 TB partition the index
    by (band_id, band_hash); the probe is then a co-partitioned join.

    Output: distinct (new_id, indexed_id).
    """
    n = new_buckets.select(
        F.col(id_col).alias("new_id"), "band_id", "band_hash"
    )
    o = index_buckets.select(
        F.col(id_col).alias("indexed_id"), "band_id", "band_hash"
    )
    return (
        n.join(o, ["band_id", "band_hash"])
        .select("new_id", "indexed_id")
        .distinct()
    )


def verify_pairs_jaccard(
    pairs: DataFrame,
    grams_a: DataFrame,
    grams_b: DataFrame,
    threshold: float = 0.5,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE pairs (the verify half
    of candidates-then-verify — LSH band collisions alone have false
    positives that would silently drop unique docs).

    ``grams_a`` / ``grams_b`` are (id, gram) tables with one row per
    DISTINCT gram per doc (:func:`shingles` output); they may be the
    same DataFrame for a self-join universe. Cost is O(candidates):
    both gram tables are semi-join-pruned to the ids that appear in
    ``pairs`` before the intersection join, so docs without candidates
    never enter the shuffle.

    Output: (a_col, b_col, jaccard) for pairs with jaccard >=
    ``threshold``. Pairs whose docs share no gram (jaccard 0, e.g. a
    doc too short to shingle) do not survive — callers must route
    unshingleable docs through an exact-hash path instead.
    """
    ga = (
        grams_a.select(F.col(grams_a.columns[0]).alias(a_col), "gram")
        .join(pairs.select(a_col).distinct(), a_col)
    )
    gb = (
        grams_b.select(F.col(grams_b.columns[0]).alias(b_col), "gram")
        .join(pairs.select(b_col).distinct(), b_col)
    )
    ca = ga.groupBy(a_col).agg(F.count(F.lit(1)).alias("__na"))
    cb = gb.groupBy(b_col).agg(F.count(F.lit(1)).alias("__nb"))
    inter = (
        pairs.join(ga, a_col)
        .join(gb, [b_col, "gram"])
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    jac = F.col("__ni").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__ni")
    )
    return (
        inter.join(ca, a_col)
        .join(cb, b_col)
        .select(a_col, b_col, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verify_pairs_edit_distance(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Levenshtein verification of CANDIDATE pairs — the character-
    level rung of the verify ladder next to exact n-gram Jaccard
    (:func:`verify_pairs_jaccard`). Jaccard over word 3-grams is
    blind to sub-word edits (typo farms, template fills, OCR noise
    shift whole grams); unit-cost edit distance sees them directly,
    which is why production dedup stacks (e.g. code-corpus pipelines)
    verify LSH candidates with an edit-similarity ratio.

    ``edit_sim = 1 - lev(a, b) / max(len(a), len(b))`` — both inputs
    to the one IEEE division are exact integers, so the score is
    bit-stable cross-engine (the q_tfidf rational-score discipline);
    9-dp rounding guards the threshold compare. Pairs where both
    texts are empty are dropped (similarity undefined, 0/0).

    Cost: O(|pairs| * len_a * len_b) JVM-side cells — safe ONLY
    downstream of a sub-quadratic candidate generator (LSH buckets),
    never as an all-pairs scan; the two text joins are pruned to ids
    appearing in ``pairs`` by construction of the join itself. At
    100 TB the candidate table is the small side: broadcast it when
    it fits, else both joins hash-partition on the id.

    Cross-engine seam (pinned in tests/test_neardup.py): Spark's
    ``levenshtein`` counts UTF-16 code units, DuckDB's counts BYTES —
    identical on ASCII text, divergent beyond (witness: 'héllo' vs
    'hello' = 1 vs 2). Oracle parity therefore holds on ASCII
    corpora; the ENGINE semantics (codepoint edits for BMP text) are
    the authoritative ones.
    """
    ta = docs.select(
        F.col(id_col).alias(a_col), F.col(text_col).alias("__ta")
    )
    tb = docs.select(
        F.col(id_col).alias(b_col), F.col(text_col).alias("__tb")
    )
    longest = F.greatest(F.length("__ta"), F.length("__tb"))
    dist = F.levenshtein("__ta", "__tb")
    sim = round_ieee(
        F.lit(1.0) - dist.cast("double") / longest.cast("double"), 9
    )
    return (
        pairs.join(ta, a_col)
        .join(tb, b_col)
        .filter(longest > 0)
        .select(
            a_col,
            b_col,
            dist.alias("edit_dist"),
            sim.alias("edit_sim"),
        )
        .filter(F.col("edit_sim") >= threshold)
    )
