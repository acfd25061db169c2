"""Text-analysis operators for training-data pipelines (north-star J4).

All hot-path expressions are native Column functions (regex counts,
splits, md5 hashing) — JVM-side, codegen-friendly, no Python UDFs — so
they scale linearly over a 100 TB documents table with zero shuffle
(per-row narrow transforms).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from dex_data_ingestor_spark.functions.scalars import md5_int64, round_ieee
from dex_data_ingestor_spark.functions.scalars import WS

#: BPE-ish token pattern: word pieces, numbers, or single non-space
#: punctuation — a deterministic stand-in for a real tokenizer's count.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"

#: Tiny per-language stopword marker lists for the n-gram/stopword
#: language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "los", "que"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "des", "est"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is")


def words(text) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = text if isinstance(text, Column) else F.col(text)
    return F.split(F.trim(c), WS)


def token_count(text) -> Column:
    """BPE-ish token count via regexp extraction (JVM-side)."""
    c = text if isinstance(text, Column) else F.col(text)
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0)))


def marker_hits(text, markers: tuple[str, ...]) -> Column:
    """How many words of ``text`` are in ``markers``."""
    c = text if isinstance(text, Column) else F.col(text)
    return F.size(
        F.filter(words(c), lambda w: w.isin(*markers))
    )


def text_stat_exprs(text_col: str) -> dict:
    """The per-document stat expressions of :func:`text_stats` as a
    name -> Column dict. Every one is NARROW (pure per-row compute),
    so callers that already hold the document row should attach them
    with ``withColumns`` — a self-join against ``text_stats`` output
    would re-evaluate the whole upstream plan and add a pointless
    keyed exchange."""
    t = F.col(text_col)
    n_chars = F.length(t)
    word_arr = words(t)
    n_words = F.size(word_arr)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w \t\n\f\r]", ""))
    n_stop = F.size(F.filter(word_arr, lambda w: w.isin(*STOPWORDS)))
    # Ratios are single IEEE divisions — already bit-deterministic; do
    # NOT round them (and never feed rounded values into further
    # arithmetic: scaled 9dp values sit exactly on round-half ties
    # where engines' rounding algorithms diverge). Empty documents
    # (n_chars = 0) yield NULL, not an ANSI divide-by-zero crash —
    # oracles mirror with NULLIF. (n_words needs no guard: split of a
    # trimmed empty string is [''], size 1, on both engines.)
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars)
    stop_ratio = n_stop.cast("double") / n_words
    avg_word_len = (
        F.length(F.regexp_replace(t, WS, "")).cast("double") / n_words
    )
    quality = round_ieee(
        F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.25
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.25,
        9,
    )
    return {
        "n_chars_calc": n_chars,
        "n_words": n_words,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "avg_word_len": avg_word_len,
        "quality_score": quality,
    }


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document statistics: char/word/token counts, punctuation and
    stopword ratios, and a composite quality score (round-9 for
    cross-engine determinism of the derived ratios)."""
    exprs = text_stat_exprs(text_col)
    return df.select(
        F.col(id_col), *[c.alias(n) for n, c in exprs.items()]
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Intra-document repetition signal: the fraction of word n-gram
    instances that are repeats of an earlier n-gram in the SAME document
    (``1 - distinct/total``) — the Gopher-style "duplicate n-gram
    fraction" quality gate that catches boilerplate and degenerate
    looping text.

    Entirely narrow: one projected word array per row, gram list +
    distinct count via array HOFs, zero shuffles — scales as a pure map
    over a 100 TB corpus. (Contrast with corpus-level dedup, which
    needs a shuffle; intra-doc repetition deliberately does not.)
    """
    from dex_data_ingestor_spark.operators.neardup import _grams_from_words

    base = df.select(F.col(id_col), words(text_col).alias("__ws"))
    grams = _grams_from_words(F.col("__ws"), n, distinct=False)
    base = base.select(F.col(id_col), grams.alias("__g"))
    n_grams = F.size("__g")
    n_distinct = F.size(F.array_distinct("__g"))
    rep = F.when(
        n_grams > 0,
        F.lit(1.0) - n_distinct.cast("double") / n_grams,
    ).otherwise(F.lit(0.0))
    return base.select(
        F.col(id_col),
        n_grams.cast("int").alias("n_grams"),
        n_distinct.cast("int").alias("n_distinct_grams"),
        rep.alias("rep_frac"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits,
    deterministic tie-break by language code, 'und' when no marker hits.
    """
    t = F.col(text_col)
    scored = df.select(
        F.col(id_col),
        *[
            marker_hits(t, m).alias(f"hits_{lang}")
            for lang, m in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # iterate reversed so earlier languages win ties (first match kept)
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


#: PII detection patterns. Deliberately restricted to constructs with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB): ASCII
#: character classes, bounded repetition, alternation, \b — no
#: backreferences or lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ \t\n\f\r]+"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    denylist: tuple[str, ...] = (),
) -> DataFrame:
    """PII scrub for training corpora: mask emails -> ``<EMAIL>``,
    URLs -> ``<URL>``, IPv4s -> ``<IP>``, plus an optional denylist of
    exact words -> ``<MASKED>``.

    Masking order is URL, email, IP, denylist (URLs may contain '@' —
    masking them first keeps an email-in-URL from leaking half-masked).
    Match counts are computed on the ORIGINAL text, so a URL containing
    an email counts once under each detector — counts are detector
    hit-rates, not a partition of the output. Pure narrow projection:
    zero shuffles at any corpus size.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(t, URL_RE, "<URL>")
    scrubbed = F.regexp_replace(scrubbed, EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_RE, "<IP>")
    n_denied = F.lit(0)
    if denylist:
        # Entries are interpolated into a regex shared verbatim with
        # SQL oracles; metacharacters would alter the pattern (or break
        # differently per engine), and \b boundaries are only
        # well-defined against word characters — so restrict rather
        # than escape.
        bad_entries = [w for w in denylist if not re.fullmatch(r"\w+", w)]
        if bad_entries:
            raise ValueError(
                "denylist entries must be word characters only "
                f"([A-Za-z0-9_]+); got {bad_entries!r}"
            )
        deny_re = r"\b(" + "|".join(denylist) + r")\b"
        n_denied = F.size(
            F.regexp_extract_all(t, F.lit(deny_re), F.lit(0))
        )
        scrubbed = F.regexp_replace(scrubbed, deny_re, "<MASKED>")
    count = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(t, F.lit(pat), F.lit(0))
    )
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        count(EMAIL_RE).alias("n_emails"),
        count(URL_RE).alias("n_urls"),
        count(IPV4_RE).alias("n_ips"),
        n_denied.alias("n_denied"),
    )


def canonicalize_url(url) -> Column:
    """URL canonicalization as a pure Column expression: lowercase the
    scheme and host (path case preserved), strip the fragment, drop
    utm_* / fbclid / gclid tracking parameters, drop an empty trailing
    '?', and trim a trailing '/' from non-root paths. The dedup key
    normalization used before URL-level dedup of a web corpus."""
    raw = url if isinstance(url, Column) else F.col(url)
    # lowercase scheme://host (first path slash onward untouched);
    # scheme-less strings pass through unchanged
    c = F.when(
        raw.rlike(r"^[^/?#]*//"),
        F.concat(
            F.lower(F.regexp_extract(raw, r"^([^/?#]*//[^/?#]*)", 1)),
            F.regexp_extract(raw, r"^[^/?#]*//[^/?#]*(.*)$", 1),
        ),
    ).otherwise(raw)
    c = F.regexp_replace(c, r"#.*$", "")  # fragment
    # Tracking params, handled STRUCTURALLY: split at the first '?',
    # filter the '&'-separated params, rejoin. The previous regex
    # chain stripped '[?&]utm_x=v' then promoted '^([^?]*)&' back to
    # '?' — but that promotion also fired on URLs with a legitimate
    # '&' in the PATH and no query at all ('/a&b' -> '/a?b', a
    # different URL), and its greedy group rewrote the LAST '&'. The
    # split form touches only the actual query string.
    base = F.regexp_extract(c, r"^([^?]*)", 1)
    query = F.regexp_extract(c, r"^[^?]*\?(.*)$", 1)
    kept = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda p: ~p.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)="),
        ),
        "&",
    )
    c = F.when(kept == "", base).otherwise(
        F.concat(base, F.lit("?"), kept)
    )
    # trailing slash: strip, except the bare root path scheme://host/
    return F.when(c.rlike(r"^[^/?#]*//[^/?#]*/$"), c).otherwise(
        F.regexp_replace(c, r"/$", "")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: 64-bit int from the md5 of the normalized
    text (lowercased, whitespace collapsed) + the full content sha256.
    The md5-int is engine-portable (see functions.scalars.md5_int64)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS, " ")
    return df.select(
        F.col(id_col),
        md5_int64(norm).alias("fp64"),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
    )


#: Rolling-hash parameters (Rabin-Karp base/modulus) for winnowing.
ROLL_B = 257
ROLL_P = 1_000_000_007


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (the MOSS scheme).

    1. normalize (lowercase, collapse whitespace);
    2. Rabin-Karp hash every k-char gram: h(i) = sum c[i+j] * B^(k-1-j) mod P;
    3. winnow: keep the minimum hash of every window of ``w``
       consecutive gram hashes (ties -> rightmost, the classic rule);
    4. distinct per document.

    Shared substrings of length >= k + w - 1 are guaranteed to produce
    a common fingerprint — the property plagiarism/near-dup detection
    relies on. All JVM-side (array HOFs over one projected char-code
    array); one explode, no shuffle until the caller aggregates.
    Output: (id, fp) long fingerprints.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS, " ")
    base = df.select(F.col(id_col), norm.alias("__t"))
    # char codes once (HOF lambdas re-evaluate inlined expressions)
    base = base.withColumn(
        "__c",
        F.expr("transform(split(__t, ''), ch -> ascii(ch))"),
    )
    powers = [pow(ROLL_B, k - 1 - j, ROLL_P) for j in range(k)]
    gram_hash = " + ".join(
        f"(__c[i + {j}] * {powers[j]}L) % {ROLL_P}L" for j in range(k)
    )
    base = base.withColumn(
        "__gh",
        F.expr(
            f"CASE WHEN size(__c) >= {k} THEN "
            f"transform(sequence(0, size(__c) - {k}), "
            f"i -> ({gram_hash}) % {ROLL_P}L) "
            f"ELSE array() END"
        ),
    )
    # winnow: min of each w-window, rightmost on ties
    base = base.withColumn(
        "__fps",
        F.expr(
            f"CASE WHEN size(__gh) >= {w} THEN "
            f"array_distinct(transform(sequence(0, size(__gh) - {w}), "
            f"i -> aggregate(sequence(i, i + {w - 1}), "
            f"struct(CAST(-1 AS BIGINT) AS h, -1 AS pos), "
            f"(acc, j) -> CASE WHEN acc.pos < 0 OR __gh[j] <= acc.h "
            f"THEN struct(__gh[j] AS h, j AS pos) ELSE acc END).h)) "
            f"ELSE array_distinct(__gh) END"
        ),
    )
    return base.select(F.col(id_col), F.explode("__fps").alias("fp")).distinct()


# ---------------------------------------------------------------------------
# Hashed-feature corpus models: unigram-LM log-loss + DSIR importance
# ---------------------------------------------------------------------------


def _bucketed(hash_col: Column, n_buckets: int | None) -> Column:
    """``n_buckets`` folds the hash into a BOUNDED feature space (the
    hashed-LM posture: model size fixed, collisions smooth);
    ``None`` keeps the raw hash as an EXACT event key (the backoff-LM
    posture: unseen events stay unseen — a saturated bucket space
    can never back off)."""
    return hash_col if n_buckets is None else hash_col % n_buckets


def _hashed_instances(
    df: DataFrame,
    id_col: str | None,
    text_col: str,
    n_buckets: int | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per token instance with its hashed feature bucket
    (md5 % n_buckets — the engine-portable hash). Empty documents are
    excluded, matching the tokenization used corpus-wide.
    ``id_col=None`` drops the id (a pure token stream, for model
    fitting). ONE tokenization definition for every hashed-feature
    model — the bit-parity between batch scoring and the streaming
    guard rests on it never forking."""
    keep = ([id_col] if id_col is not None else []) + list(extra_cols)
    words = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        *keep,
        F.explode(F.split(F.trim(F.col(text_col)), WS)).alias("__w"),
    )
    return words.select(
        *keep,
        _bucketed(md5_int64(F.col("__w")), n_buckets).alias("f"),
    )


def _nll_units(count_expr, total_col):
    """Integer micro-nat NLL of probability count/total: the ONE
    quantization expression (pure-IEEE floor(x*1e6 + 0.5) after the
    single libm ln) shared by batch scoring, the one-row model, and
    its unseen-bucket default — bit-parity is structural, not a
    convention.

    Measured residual (r9 probe, 25k count-ratio inputs): JVM
    Math.log differs from glibc log (DuckDB == CPython) by exactly
    1 ULP on ~4.8% of inputs. The quantizer absorbs it: a 1-ULP ln
    disagreement shifts x*1e6 by ~3e-9, so floor(x+0.5) flips only
    when the scaled value sits within that of a .5 boundary —
    ~3e-9 probability per distinct bucket, ~1e-5 expected flips
    across a 65k-bucket model. This is the engine's one remaining
    probabilistic (not constructive) cross-engine surface; if a
    driver row ever reds an LM scorer with a 1-unit NLL delta on
    one bucket, this is the mechanism to check first."""
    return F.floor(
        -F.log(count_expr / total_col) * 1000000.0 + F.lit(0.5)
    )


def _unigram_weight_table(
    df: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    """(f, nll_f, big_n) hashed-unigram LM weights over the corpus —
    unigram_model_row's fit (the same counts and _nll_units
    quantization as unigram_logloss's collected fit)."""
    inst = _hashed_instances(df, None, text_col, n_buckets)
    feat = inst.groupBy("f").agg(F.count(F.lit(1)).alias("c_f"))
    tot = feat.agg(F.sum("c_f").cast("bigint").alias("big_n"))
    return feat.crossJoin(F.broadcast(tot)).select(
        "f",
        _nll_units(F.col("c_f").cast("double"), F.col("big_n")).alias(
            "nll_f"
        ),
        "big_n",
    )


def _collect_local(df: DataFrame):
    """Collect a BOUNDED model table through Arrow and rebuild it as a
    JVM LocalRelation — how the LM fits (unigram/bigram/DSIR) sever
    the model/apply diamond. A single-statement fit scans the corpus
    once per plan branch, and its totals (a second aggregate over the
    count table) re-execute that scan unless AQE exchange reuse
    catches it. Collecting the raw COUNT table instead makes the fit
    exactly one corpus pass: totals are derived driver-side (exact
    integer sums, identical to SUM()) and the weight expressions run
    on the local relation (the same JVM expressions on the same
    operands, so quantized values are bit-equal), leaving scoring as
    the only corpus scan in the returned plan. The collect is bounded
    by the bucket count — model state like the IVF centroids, never
    data. ``createDataFrame(pyarrow.Table)`` plans as a
    LocalTableScan, so every later evaluation (broadcast build per
    query run) stays in the JVM. The naive ``collect()`` +
    ``createDataFrame(rows)`` pair plans as a PYTHON-pickled RDD scan
    instead — measured ~0.5 s of Python-worker round trips per
    broadcast build at ANY scale. Returns (local_df, columns) where
    ``columns`` maps each column name to its values as a Python list
    (for exact driver-side integer totals)."""
    tbl = df.toArrow()
    local = df.sparkSession.createDataFrame(tbl)
    return local, {c: tbl[c].to_pylist() for c in tbl.column_names}


def unigram_logloss(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65536,
) -> DataFrame:
    """Per-document average negative log-likelihood under a corpus
    hashed-unigram LM (the CCNet perplexity-filtering signal; see
    q_unigram_logloss for the float-exactness argument: micro-nat
    quantization before aggregation makes per-doc sums order-free
    exact integers)."""
    inst = _hashed_instances(df, id_col, text_col, n_buckets)
    # Fit = ONE corpus pass (see _collect_local): collect the bounded
    # (f, c_f) count table (<= n_buckets rows), total it driver-side
    # and evaluate the identical _nll_units expression on the local
    # relation.
    feat = (
        _hashed_instances(df, None, text_col, n_buckets)
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("c_f"))
    )
    local, cols = _collect_local(feat)
    big_n = sum(cols["c_f"])
    w = local.select(
        "f",
        _nll_units(
            F.col("c_f").cast("double"),
            F.lit(big_n).cast("bigint"),
        ).alias("nll_f"),
    )
    return (
        inst.join(F.broadcast(w), "f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_f").cast("bigint").alias("nll_units"),
            (
                F.sum("nll_f").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("avg_nll"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR hashed-feature importance weights: per-document
    log-likelihood ratio of the ``target_pred`` slice vs the raw pool
    (see q_dsir_weights for the exactness discipline). ``target_pred``
    is any row predicate over ``df``'s columns (e.g. a source or
    language gate)."""
    inst = _hashed_instances(
        df.withColumn("__tgt", target_pred), id_col, text_col,
        n_buckets, extra_cols=("__tgt",),
    )
    feat = inst.groupBy("f").agg(
        F.count(F.lit(1)).alias("s_f"),
        F.count(F.when(F.col("__tgt"), 1)).alias("t_f"),
    )
    half_b = n_buckets / 2.0
    # Fit = ONE corpus pass (see _collect_local): collect the bounded
    # (f, s_f, t_f) count table, total driver-side (exact integer
    # sums), log-ratio on the local relation.
    local, cols = _collect_local(feat)
    big_s = sum(cols["s_f"])
    big_t = sum(cols["t_f"])
    ratio = (
        (F.col("t_f") + 0.5) * (F.lit(big_s).cast("bigint") + half_b)
    ) / ((F.col("s_f") + 0.5) * (F.lit(big_t).cast("bigint") + half_b))
    w = local.select(
        "f",
        F.floor(F.log(ratio) * 1000000.0 + F.lit(0.5)).alias("w_f"),
    )
    return (
        inst.join(F.broadcast(w), "f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_inst"),
            F.sum("w_f").cast("bigint").alias("num"),
            (F.sum("w_f").cast("double") / 1000000.0).alias("importance"),
        )
    )


def unigram_model_row(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 65536,
) -> DataFrame:
    """ONE-ROW dense hashed-unigram LM — the broadcastable model
    artifact for ingest-time scoring (the same one-row trick as the
    Bloom bitmap): ``w_arr[f]`` holds bucket f's NLL in integer
    micro-nats (identical quantization to :func:`unigram_logloss`, so
    scores agree exactly), ``big_n`` the training token count.
    Buckets unseen in training get the half-count default
    -ln(0.5 / N) — the maximum surprise the model can express, the
    conservative direction for a quality gate. The array is
    n_buckets * 8 bytes (512 KiB at the default) regardless of corpus
    size — model state, never data."""
    entries = _unigram_weight_table(df, text_col, n_buckets).select(
        "big_n",
        F.struct(
            F.col("f").cast("int").alias("key"),
            F.col("nll_f").alias("value"),
        ).alias("e"),
    )
    model = entries.groupBy("big_n").agg(
        F.map_from_entries(F.collect_list("e")).alias("m")
    )
    default = _nll_units(F.lit(0.5), F.col("big_n"))
    return model.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("m"), i.cast("int")), default
            ),
        ).alias("w_arr"),
        "big_n",
    )


def _bigram_instances(
    df: DataFrame,
    id_col: str | None,
    text_col: str,
    n_pair_buckets: int | None,
    n_prev_buckets: int | None,
    n_cur_buckets: int | None = None,
    emit_cur: bool = False,
) -> DataFrame:
    """One row per adjacent token pair with its hashed predecessor
    bucket ``f1`` and pair bucket ``f2`` (plus the current token's
    unigram bucket ``fu`` when ``emit_cur`` is set — the backoff
    scorer's join key). ``None`` bucket counts keep raw hashes as
    exact event keys (see ``_bucketed``). Tokenization is the corpus
    standard (``_hashed_instances``'s shared-WS split on trimmed text);
    single-token documents contribute no pairs. The pair key joins
    prev and cur with the ASCII unit separator (0x1F) so ("ab","c")
    and ("a","bc") can never collide pre-hash."""
    keep = [id_col] if id_col is not None else []
    toks = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        *keep,
        F.split(F.trim(F.col(text_col)), WS).alias("__t"),
    )
    pairs = F.expr(
        "transform(slice(__t, 2, size(__t) - 1),"
        " (w, i) -> struct(__t[i] AS prev, w AS cur))"
    )
    inst = toks.filter(F.size("__t") >= 2).select(
        *keep, F.explode(pairs).alias("__p")
    )
    sep = F.lit("\x1f")
    cur_bucket = (
        [
            _bucketed(
                md5_int64(F.col("__p.cur")), n_cur_buckets
            ).alias("fu")
        ]
        if emit_cur
        else []
    )
    return inst.select(
        *keep,
        _bucketed(
            md5_int64(F.col("__p.prev")), n_prev_buckets
        ).alias("f1"),
        _bucketed(
            md5_int64(
                F.concat(F.col("__p.prev"), sep, F.col("__p.cur"))
            ),
            n_pair_buckets,
        ).alias("f2"),
        *cur_bucket,
    )


def bigram_logloss(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_pair_buckets: int = 65536,
    n_prev_buckets: int = 16384,
) -> DataFrame:
    """Per-document average CONDITIONAL negative log-likelihood under
    a corpus hashed-bigram LM: each pair instance scores
    ``-ln(c(prev,cur) / c(prev,*))`` with both counts taken over the
    bigram-instance stream (so probabilities normalize per
    predecessor bucket and every self-scored pair has count >= 1 —
    no smoothing needed, same closure property as
    :func:`unigram_logloss`). This is the next rung of the CCNet
    quality ladder after the unigram model: word-ORDER surprisal —
    shuffled or stitched text keeps its unigram score but pays here.

    Exactness: integer counts, one IEEE division, one libm ln
    quantized to integer micro-nats by the shared ``_nll_units``
    rule, order-free BIGINT per-doc sums, one final IEEE division —
    the q_unigram_logloss discipline verbatim. The ln runs
    per-instance (its operands need both model tables) but its
    distinct-argument set is bounded by distinct (c2, c1) pairs.

    Plan: the two bounded model tables (f2-keyed and f1-keyed — at
    most n_pair_buckets + n_prev_buckets rows regardless of corpus
    size, THE reason to hash) are fitted in one corpus pass and
    collected (see _collect_local), then both broadcast onto the
    instance stream, then one doc_id exchange: scoring is the ONE
    corpus scan of the returned plan."""
    inst = _bigram_instances(
        df, id_col, text_col, n_pair_buckets, n_prev_buckets
    )
    stream = _bigram_instances(
        df, None, text_col, n_pair_buckets, n_prev_buckets
    )
    # Fit = ONE corpus pass for BOTH model tables: each pair
    # instance explodes into its two count roles (0 -> f2 pair
    # key, 1 -> f1 predecessor key — the same narrow role-explode
    # trick as period_over_period_multi), one bounded aggregate
    # (<= n_pair_buckets + n_prev_buckets rows) is collected, and
    # the rows split driver-side. Counts are exact integers, so
    # num/den are value-identical to two separate per-key aggregates.
    both = (
        stream.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("role"),
                        F.col("f2").alias("key"),
                    ),
                    F.struct(
                        F.lit(1).alias("role"),
                        F.col("f1").alias("key"),
                    ),
                )
            ).alias("rk")
        )
        .groupBy(
            F.col("rk.role").alias("role"), F.col("rk.key").alias("key")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    import pyarrow as pa

    tbl = both.toArrow()
    spark = df.sparkSession
    is_num = pa.compute.equal(tbl["role"], 0)
    num = spark.createDataFrame(
        tbl.filter(is_num)
        .select(["key", "c"])
        .rename_columns(["f2", "c2"])
    )
    den = spark.createDataFrame(
        tbl.filter(pa.compute.invert(is_num))
        .select(["key", "c"])
        .rename_columns(["f1", "c1"])
    )
    nll = _nll_units(F.col("c2").cast("double"), F.col("c1"))
    return (
        inst.join(F.broadcast(num), "f2")
        .join(F.broadcast(den), "f1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(nll).cast("bigint").alias("nll_units"),
            (
                F.sum(nll).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("avg_nll"),
        )
    )


def backoff_logloss(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document cross-entropy of ``df`` under a bigram LM fit on
    a SEPARATE reference corpus ``ref_df``, with Stupid Backoff
    (Brants et al., EMNLP 2007 — the web-scale scheme: no discounting
    to tune, one multiplicative penalty): a pair SEEN in the
    reference scores the conditional ``-ln(c2/c1)``; an unseen pair
    backs off to ``-ln(alpha * cu/N)`` on the current token's
    reference unigram (an unseen unigram takes count 1 — the score
    stays finite). This is what the self-scored
    :func:`bigram_logloss` cannot do — there every pair is its own
    evidence; held-out scoring is the form that measures
    generalization, and the backoff path is load-bearing.

    EXACT event keys, not hashed buckets — deliberately unlike
    :func:`unigram_logloss` / :func:`bigram_logloss`: a hashed
    feature space SATURATES (every bucket of a 65536-wide table is
    occupied by any real reference corpus), so "unseen pair" never
    fires and backoff degenerates to dead code (observed on the
    registration fixture: 0 of 2677 held-out pairs backed off under
    65536 buckets). Brants et al.'s system likewise kept exact
    distributed n-gram tables. The raw md5-int64 key space (2^32)
    makes collisions rare instead of structural; a collision merges
    two events — conservative toward "seen".

    Exactness: integer counts; the seen branch is the shared
    ``_nll_units`` rule; the backoff branch is
    ``floor(-ln(alpha * (cu/N)) * 1e6 + 0.5)`` with explicit
    parenthesization so both engines evaluate the identical IEEE op
    sequence; per-doc sums are order-free BIGINTs.

    Plan / 100 TB: the model tables are DISTINCT-EVENT-sized (the
    price of exact backoff — the paper's distributed n-gram servers,
    here a keyed table). The joins are left to Catalyst: broadcast
    while the reference model fits (AQE decides at runtime), shuffle
    hash join on the exact key beyond that — both sides hash-cluster
    on f2/f1/fu, no skew (hash keys). The scored side then takes one
    id exchange."""
    inst = _bigram_instances(
        df, id_col, text_col, None, None, emit_cur=True
    )
    stream = _bigram_instances(ref_df, None, text_col, None, None)
    num = stream.groupBy("f2").agg(F.count(F.lit(1)).alias("c2"))
    den = stream.groupBy("f1").agg(F.count(F.lit(1)).alias("c1"))
    uni = (
        _hashed_instances(ref_df, None, text_col, None)
        .groupBy(F.col("f").alias("fu"))
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    # fail FAST on an empty/whitespace-only reference (the
    # stream_perplexity_guard lesson): SUM over zero rows is NULL,
    # which would otherwise propagate silently into every score —
    # downstream thresholds would then filter nothing.
    tot = uni.agg(
        F.coalesce(
            F.sum("cu").cast("bigint"),
            F.raise_error(
                F.lit(
                    "backoff_logloss: reference corpus has no tokens"
                )
            ).cast("bigint"),
        ).alias("big_n")
    )
    seen = F.col("c2").isNotNull() & F.col("c1").isNotNull()
    seen_nll = _nll_units(F.col("c2").cast("double"), F.col("c1"))
    back_nll = F.floor(
        -F.log(
            F.lit(alpha)
            * (
                F.coalesce(F.col("cu"), F.lit(1)).cast("double")
                / F.col("big_n")
            )
        )
        * 1000000.0
        + F.lit(0.5)
    )
    nll = F.when(seen, seen_nll).otherwise(back_nll)
    backed = F.when(seen, F.lit(0)).otherwise(F.lit(1))
    return (
        inst.join(num, "f2", "left")
        .join(den, "f1", "left")
        .join(uni, "fu", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(backed).cast("bigint").alias("n_backoff"),
            F.sum(nll).cast("bigint").alias("nll_units"),
            (
                F.sum(nll).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("avg_nll"),
        )
    )


def _nb_fit(
    train_df: DataFrame,
    label_col: str,
    text_col: str,
    n_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """Fit the multinomial Naive Bayes tables ONCE for every consumer
    (batch classifier, dense model row, streaming guard — bit-parity
    between them is structural because the expressions never fork):
    ``priors`` = (label, prior_units) document-frequency priors;
    ``model`` = (label, f, nll) Laplace-smoothed token likelihoods,
    DENSE over the label x n_buckets grid so unseen features carry
    the smoothed count-1 likelihood instead of silently dropping.
    All values are integer micro-nats via the shared _nll_units
    rule."""
    tr = train_df.filter(F.length(F.trim(F.col(text_col))) > 0)
    classes = tr.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = classes.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    priors = classes.crossJoin(F.broadcast(n_total)).select(
        label_col,
        _nll_units(F.col("n_docs").cast("double"), F.col("n_total"))
        .cast("bigint")
        .alias("prior_units"),
    )

    inst = _hashed_instances(
        tr, None, text_col, n_buckets, extra_cols=(label_col,)
    )
    cf = inst.groupBy(label_col, "f").agg(F.count(F.lit(1)).alias("c_cf"))
    tot_c = cf.groupBy(label_col).agg(
        F.sum("c_cf").cast("bigint").alias("t_c")
    )
    grid = (
        classes.select(label_col)
        .select(
            label_col,
            F.explode(
                F.sequence(F.lit(0), F.lit(n_buckets - 1))
            ).alias("f"),
        )
        .withColumn("f", F.col("f").cast("bigint"))
    )
    model = (
        grid.join(cf, [label_col, "f"], "left")
        .join(tot_c, label_col)
        .select(
            label_col,
            "f",
            _nll_units(
                (F.coalesce(F.col("c_cf"), F.lit(0)) + F.lit(1)).cast(
                    "double"
                ),
                (F.col("t_c") + F.lit(n_buckets)).cast("bigint"),
            )
            .cast("bigint")
            .alias("nll"),
        )
    )
    return priors, model


def nb_model_row(
    train_df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """ONE-ROW dense Naive Bayes model — the broadcastable artifact
    for ingest-time classification (the unigram_model_row trick
    applied to the classifier): ``classes`` sorted ascending,
    ``priors[i]`` the aligned prior micro-nats, ``nll[i][f]`` class
    i's likelihood table. n_classes x n_buckets x 8 bytes (160 KiB at
    5 classes x 4096) regardless of corpus size — model state, never
    data. Scores agree exactly with :func:`nb_classify` because both
    read the same :func:`_nb_fit` tables."""
    priors, model = _nb_fit(train_df, label_col, text_col, n_buckets)
    # _nb_fit's grid is dense and f-complete, so sorting each class's
    # entries by f yields an array whose index IS the feature bucket
    per_class = model.groupBy(label_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("f"), F.col("nll")))
            ),
            lambda e: e["nll"],
        ).alias("nll_arr")
    )
    rows = per_class.join(priors, label_col).select(
        F.struct(
            F.col(label_col).cast("string").alias("label"),
            F.col("prior_units"),
            F.col("nll_arr"),
        ).alias("e")
    )
    one = rows.agg(F.array_sort(F.collect_list("e")).alias("es"))
    return one.select(
        F.transform(F.col("es"), lambda e: e["label"]).alias("classes"),
        F.transform(F.col("es"), lambda e: e["prior_units"]).alias(
            "priors"
        ),
        F.transform(F.col("es"), lambda e: e["nll_arr"]).alias("nll"),
    )


def nb_classify(
    train_df: DataFrame,
    test_df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Multinomial Naive Bayes document classifier over hashed word
    features — the model-BASED quality/domain filter of the curation
    ladder (fastText-style classifiers filtered GPT-3/LLaMA pretraining
    data; NB over hashed tokens is the exact-arithmetic, oracle-
    checkable form of the same pipeline role: fit on labeled docs,
    score every candidate, route or drop by predicted class).

    Fit: per class c, Laplace-smoothed token likelihoods over the
    hashed feature space — nll(c,f) = -ln((c_cf + 1)/(t_c + B)) — plus
    a document-frequency prior -ln(n_c / n). The model is DENSE over
    the (class x bucket) grid, so scoring is a plain inner join: every
    test token finds its (c,f) row for every class, and unseen
    features take the smoothed count-1 likelihood by construction
    (a sparse model would silently DROP unseen-token contributions).

    Predict: argmin over classes of prior + sum of token nlls. All
    scores are integer micro-nats (the shared ``_nll_units``
    quantization), so per-doc sums are order-free exact BIGINTs and
    the argmin is an exact integer comparison — ties break to the
    lexicographically smallest class label via one struct min.

    Output: (id_col, pred, score_units) — one row per nonempty test
    document; score_units is the winning class's total NLL.

    Plan / 100 TB: the model is O(n_classes * n_buckets) rows
    (bounded by construction — THE reason to hash the vocabulary),
    broadcast to the scoring join; the test-side fan-out is
    n_classes x per-token, folded map-side by the (doc, class)
    partial aggregation before one doc-keyed exchange. Fitting is one
    shuffle on (class, f), inline in the returned plan.
    """
    priors, model = _nb_fit(train_df, label_col, text_col, n_buckets)

    te_inst = _hashed_instances(test_df, id_col, text_col, n_buckets)
    scored = (
        te_inst.join(F.broadcast(model), "f")
        .groupBy(id_col, label_col)
        .agg(F.sum("nll").cast("bigint").alias("like_units"))
        .join(F.broadcast(priors), label_col)
        .select(
            id_col,
            F.col(label_col).alias("__cls"),
            (F.col("like_units") + F.col("prior_units")).alias("__score"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct(F.col("__score"), F.col("__cls"))).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.__cls").alias("pred"),
        F.col("__b.__score").alias("score_units"),
    )


#: Gopher quality-rule constants (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher",
#: Appendix A1.1) — named so the registry query and any deployment
#: tune in ONE place.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, App. A1.1)
    as per-document boolean gates plus the conjunctive ``keep`` flag —
    the published heuristic filter set next to the model-based gates
    (CCNet perplexity, DSIR, NB routing):

    - word count in [50, 100k]; mean word length in [3, 10]
    - symbol-to-word ratio (# and ... occurrences) <= 0.1
    - <= 90% of lines bullet-started; <= 30% ellipsis-ended
    - >= 80% of words contain an alphabetic character
    - >= 2 distinct members of the 8-word English stopword probe

    Entirely narrow (per-row string/array expressions, zero shuffles
    — a pure map over a 100 TB corpus, the repetition_stats posture).
    Ratios are single IEEE divisions compared against literal
    thresholds — deterministic cross-engine without rounding (a ratio
    landing EXACTLY on a threshold compares identically because both
    engines hold the same double)."""
    t = F.col(text_col)
    word_arr = words(t)
    n_words = F.size(word_arr)
    # mean word length over the words' own characters (not raw
    # n_chars: whitespace must not dilute the mean)
    avg_wl = (
        F.aggregate(
            word_arr, F.lit(0), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n_words
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]"))
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$"))
        ).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(
            F.filter(word_arr, lambda w: w.rlike("[A-Za-z]"))
        ).cast("double")
        / n_words
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(word_arr, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "ok_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "ok_word_len": (avg_wl >= GOPHER_MIN_AVG_WORD_LEN)
        & (avg_wl <= GOPHER_MAX_AVG_WORD_LEN),
        "ok_symbols": symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO,
        "ok_bullets": bullet_frac <= GOPHER_MAX_BULLET_LINE_FRAC,
        "ok_ellipsis": ellipsis_frac <= GOPHER_MAX_ELLIPSIS_LINE_FRAC,
        "ok_alpha": alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC,
        "ok_stopwords": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def c4_filters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning...", §2.2) as per-document gates:

    - terminal_line_frac: fraction of lines ending in terminal
      punctuation (. ! ? ") — C4 keeps only such lines
    - n_sentences >= 3 (terminal-mark count as the sentence proxy)
    - no curly brace (drops code), no "lorem ipsum" placeholder
    - n_js_lines: lines mentioning javascript (C4 drops those lines)

    ``keep`` = sentence/brace/lorem page-level conjunction. Narrow
    per-row expressions only; the line-level REMOVALS (terminal-
    punctuation and javascript lines) are counted here and applied by
    curation pipelines, keeping this operator a pure annotator."""
    t = F.col(text_col)
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    terminal_frac = (
        F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike(r'[.!?"]$'))
        ).cast("double")
        / n_lines
    )
    n_sentences = F.size(F.regexp_extract_all(t, F.lit("[.!?]"), F.lit(0)))
    has_brace = t.contains("{")
    has_lorem = F.lower(t).contains("lorem ipsum")
    n_js_lines = F.size(
        F.filter(lines, lambda l: F.lower(l).contains("javascript"))
    )
    keep = (n_sentences >= 3) & ~has_brace & ~has_lorem
    return df.select(
        F.col(id_col),
        terminal_frac.alias("terminal_line_frac"),
        n_sentences.cast("long").alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        n_js_lines.cast("long").alias("n_js_lines"),
        keep.alias("keep"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
) -> DataFrame:
    """Build a term-side inverted index over the corpus: one row per
    term with document frequency, collection frequency, and a CAPPED
    posting list (first ``max_postings`` doc ids ascending, as a
    comma-joined string) — the retrieval-index sibling of the
    document-side scorers (q_bm25 ranks against a query; this is the
    index a serving layer would range-read).

    The cap is applied AT the collection: rows ranked past
    ``max_postings`` contribute NULL, which ``collect_list`` skips, so
    the collected array is bounded — a stopword's million-doc posting
    list never materializes on an executor (the uncapped
    ``collect_list`` is the OOM trap at corpus scale). ``df`` reports
    the TRUE document frequency, so the truncation is explicit, never
    silent.

    Plan: one (doc, term) count exchange, then the window rank and the
    df/cf/posting aggregate both ride term-hash partitioning (Catalyst
    reuses the term exchange). The rank window sorts each term
    partition fully — a WindowGroupLimit prune cannot fire here and
    would be wrong if it did: the TRUE df/cf require every row, so no
    ``rk <= k`` filter may precede the aggregate; the sort cost is the
    price of exact frequencies (drop df/cf and a filtered rank would
    prune map-side)."""
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col).alias("__id"),
        F.explode(words(text_col)).alias("term"),
    )
    tf = terms.groupBy("__id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    rk = F.row_number().over(
        Window.partitionBy("term").orderBy("__id")
    )
    ranked = tf.withColumn("__rk", rk)
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rk") <= max_postings, F.col("__id")
                        )
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information — the phrase-mining rung of the text family (the LM
    scorers rank documents; this ranks the corpus's own multiword
    units, the classic first step of vocabulary induction /
    tokenizer seeding). ``pmi = ln(P(a,b) / (P(a)P(b)))`` with
    P(a,b) = c_ab/n_pairs over adjacent pairs and P(w) = c_w/n_uni
    over tokens.

    Determinism: every count is an exact integer; the PMI argument is
    assembled as ONE canonical double expression (three casts
    multiplied left-associatively on each side of a single division
    — both engines evaluate the identical IEEE tree), then the
    single libm ln lands in micro-nat units under the shared
    floor(x*1e6 + 0.5) rule (the unigram_logloss discipline and its
    documented quantization-tie caveat). The top-k cut is a total
    order (pmi_units DESC, a, b — unique per pair), so the selected
    SET is deterministic cross-engine.

    Scale: the double-cast product form is deliberate — an int64
    product c_ab * n_uni^2 overflows at web-corpus token counts.
    ``min_count`` prunes the pair table BEFORE the unigram joins
    (hapax pairs dominate raw bigram counts), and the final top-k is
    TakeOrdered (orderBy + limit), never a full sort. One pair-keyed
    exchange + one token-keyed exchange; the two count joins move
    only the pruned pair table."""
    toks = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.split(F.trim(F.col(text_col)), WS).alias("__t")
    )
    uni = toks.select(F.explode("__t").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    nu = cu.agg(F.sum("c_w").cast("bigint").alias("n_uni"))
    pairs = toks.filter(F.size("__t") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(__t, 2, size(__t) - 1),"
                " (w, i) -> struct(__t[i] AS a, w AS b))"
            )
        ).alias("__p")
    ).select("__p.a", "__p.b")
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    cp = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    ca = cu.select(F.col("w").alias("a"), F.col("c_w").alias("c_a"))
    cb = cu.select(F.col("w").alias("b"), F.col("c_w").alias("c_b"))
    scored = (
        cp.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(n_pairs))
    )
    pmi_units = F.floor(
        F.log(
            (
                F.col("c_ab").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
            )
            / (
                F.col("n_pairs").cast("double")
                * F.col("c_a").cast("double")
                * F.col("c_b").cast("double")
            )
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        scored.select(
            "a", "b", "c_ab", "c_a", "c_b", pmi_units.alias("pmi_units")
        )
        .orderBy(F.col("pmi_units").desc(), "a", "b")
        .limit(k)
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            "pmi_units",
            (F.col("pmi_units").cast("double") / F.lit(1e6)).alias("pmi"),
        )
    )
