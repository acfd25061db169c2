"""Testbed query registry — every operator from SURVEY.md §2 as a named
(PySpark plan, DuckDB oracle SQL) pair over the driver's tables.

Cross-engine determinism rules used throughout (verified empirically —
each aggregate value must hash bit-identically between Spark and
DuckDB):

- double SUM/AVG: cast addends to DECIMAL(18,6) (exact, order-free),
  SUM, cast the result back to DOUBLE; AVG = double(sum)/count.
  DOMAIN: the final DECIMAL's underlying scaled integer (value*10^s)
  must stay well under 2^63 — DuckDB's decimal->double cast leaves
  its correctly-rounded int64 fast path there for non-correctly-
  rounded int128 limb math (probed r9: 20/80 random casts diverge
  past 1e19; the q_twap find, localized). Past it, use integer
  micro-units + _det_to_double (q_corr, q_stats_agg) or the q+r
  division decomposition (q_twap).
- ``pow`` is NOT bit-stable across libm implementations: integer powers
  are written as explicit multiplication chains (x^12 = ((x^3)^2)^2).
- float folds that cannot be exact (vector dot products) are rounded to
  9 dp on both sides — but NEVER with native ROUND: Spark rounds
  HALF_UP on the shortest decimal repr while DuckDB rounds the binary
  value, so ROUND(x, k) can disagree ON BIT-IDENTICAL INPUT (caught
  live by the r9 sf0.1 sweep: q_yoy_qoq's quotient 231.67499999999998
  rounded to 231.67 in Spark, 231.68 in DuckDB). Both sides use the
  shared pure-IEEE formula instead — engine scalars.round_ieee, oracle
  _rieee: ``floor(x*10^k + 0.5)/10^k`` guarded to |x| < 10^(15-k)
  (above it the identity, which is trivially parity-safe).
- quantizing a FLOAT/DOUBLE to decimal units likewise must avoid
  CAST(x AS DECIMAL(18,6)) when x is not an exact short decimal
  (same repr-vs-binary seam — caught by q_embed_stats at sf0.1):
  use the IEEE unit quantizer floor(x*1e6 + 0.5) on both sides.
  events.value IS an exact short decimal by generation, so the
  _dec_sum CAST path stays (proven at sf0.1 across every events
  aggregate).
- ``events.ts`` is TIMESTAMP(MICROS, NTZ) on disk in every shipped SF.
  The older TIMESTAMP(NANOS) encoding is still read, truncated to
  microseconds (io.load_table), so every oracle reference to it is
  ``CAST(ts AS TIMESTAMP)`` first (a no-op on µs, ns -> us on ns).
- string hashing portable across engines: first 8 hex chars of md5 as
  an int64 (functions.scalars.md5_int64).

Each Spark callable takes (spark, sf_dir) and returns a DataFrame whose
column names match the oracle SQL exactly (the driver's comparator
sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from dex_data_ingestor_spark.io import load_table
from dex_data_ingestor_spark.functions.scalars import (
    WS,
    round_ieee,
    md5_int64,
    normalize_symbol,
    derived_price,
    derived_tvl,
)
from dex_data_ingestor_spark.operators.asof import latest_per_key
from dex_data_ingestor_spark.operators.dedup import dedup_first
from dex_data_ingestor_spark.operators.incremental import (
    bootstrap_start,
    incremental_window,
)
from dex_data_ingestor_spark.operators.merge import merge_upsert
from dex_data_ingestor_spark.operators.surrogate import surrogate_key_dense
from dex_data_ingestor_spark.operators.vector import (
    projection_matrix_units as _projection_matrix_units,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _rieee(expr: str, scale: int) -> str:
    """Oracle-side twin of scalars.round_ieee (see module rulebook):
    the portable CASE/floor rounding form. Existing oracle literals
    carry the expanded text (one mechanical rewrite, r9); use this for
    any NEW oracle so the two sides can never drift."""
    p = f"{10.0 ** scale:.1f}"
    bound = f"{10.0 ** (15 - scale):.1f}"
    return (
        f"CASE WHEN abs({expr}) < {bound} THEN "
        f"floor(({expr}) * {p} + 0.5) / {p} ELSE ({expr}) END"
    )


_E22 = "1" + "0" * 22


def _det_to_double(x: str, engine: str) -> str:
    """Deterministic exact-big-integer -> DOUBLE conversion, identical
    in Spark (DECIMAL(38,0)) and DuckDB (HUGEINT).

    A direct huge-decimal->double cast is correctly rounded in Spark
    (BigDecimal) but NOT in DuckDB (int128 limbs, the q_twap find), so
    values past 2^53 cannot just be CAST. Split instead into three
    limbs at 10^22 / 10^11 via exact integer div/mod (10^22 and 10^11
    are exactly representable doubles; the high limb stays < 9e15 for
    |x| < 9e37, so every limb cast is exact) and reassemble with a
    fixed IEEE op order — probed bit-identical cross-engine on
    36-digit values. Negative inputs sign-split (div/mod conventions
    diverge on negatives)."""
    dv = "div" if engine == "spark" else "//"
    big = (
        f"CAST('{_E22}' AS DECIMAL(38,0))"
        if engine == "spark"
        else f"CAST('{_E22}' AS HUGEINT)"
    )
    a = f"abs({x})"
    mag = (
        f"(CAST({a} {dv} {big} AS DOUBLE) * 1e22"
        f" + CAST(({a} % {big}) {dv} 100000000000 AS DOUBLE) * 1e11)"
        f" + CAST(({a} % {big}) % 100000000000 AS DOUBLE)"
    )
    return f"(CASE WHEN {x} < 0 THEN -1.0 ELSE 1.0 END) * ({mag})"


#: split-sum radix: 21-bit limbs keep every partial long sum exact for
#: up to 2^42 rows per group (document-level bound; switch to 16-bit
#: limbs for 2^47 if a table ever exceeds 4.4e12 rows).
_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1


def _dec_sum_expr(col):
    """Order-insensitive bit-exact double sum (see module docstring).

    Semantics: identical to ``SUM(CAST(x AS DECIMAL(18,6)))::DOUBLE``
    (quantize each addend half-up to 6 dp, sum exactly, round the exact
    total to the nearest double) — the DuckDB oracles keep that plain
    form. Implementation: the quantized micro-units long is split into
    three 21-bit limbs summed as plain longs (whole-stage-codegen fast
    path — measured ~1.7x faster than Spark's BigDecimal-backed
    decimal-sum buffer at sf0.1), then recombined exactly in
    decimal(38) AFTER aggregation (per-group, not per-row). The limb
    split is the two's-complement identity
    ``u == (u>>42)<<42 | (u>>21 & M)<<21 | (u & M)`` so negatives are
    exact too; |x| must stay under 9.2e12 (units cast to long) and
    groups under 2^42 rows for the limb sums to stay exact.
    """
    u = (col.cast("decimal(18,6)") * 1000000).cast("long")
    s0 = F.sum(u.bitwiseAND(F.lit(_LIMB_MASK)))
    s1 = F.sum(F.shiftright(u, _LIMB_BITS).bitwiseAND(F.lit(_LIMB_MASK)))
    s2 = F.sum(F.shiftright(u, 2 * _LIMB_BITS))
    total_units = (
        s2.cast("decimal(38,0)") * (1 << (2 * _LIMB_BITS))
        + s1.cast("decimal(38,0)") * (1 << _LIMB_BITS)
        + s0.cast("decimal(38,0)")
    )
    return (total_units / 1000000).cast("double")


def _dec_sum(col, alias: str):
    return _dec_sum_expr(col).alias(alias)


# =========================================================================
# A/B. Scans, projections, filters  (SURVEY §2.1 A1, B1-B5)
# =========================================================================


@register(
    "q_scan_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_shipdate
    FROM lineitem
    """,
)
def q_scan_project(spark, sf_dir):
    """Column projection pushed into the parquet scan (reference: the
    explicit SELECT lists at Bifrost.py:89, Stellar.py:30-33)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    )


WINDOW_LO = "2024-01-10 00:00:00"
WINDOW_HI = "2024-01-20 00:00:00"


@register(
    "q_incremental_range",
    f"""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '{WINDOW_LO}'
      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '{WINDOW_HI}'
    """,
)
def q_incremental_range(spark, sf_dir):
    """Half-open incremental window ``lo < ts <= hi`` (reference:
    Bifrost.py:90, SqlDbEtl.py:145 — the exactly-once window contract).
    The range is applied at the source (io.load_table ts_window) so it
    reaches the parquet scan as pushed filters under either physical
    encoding of events.ts: directly on the µs/NTZ column, or as
    translated raw-long bounds when the file is TIMESTAMP(NANOS) —
    row-group pruning either way (plan-asserted in
    tests/test_plans_physical.py)."""
    ev = load_table(
        spark, sf_dir, "events", ts_window=(WINDOW_LO, WINDOW_HI)
    )
    return incremental_window(ev, "ts", WINDOW_LO, WINDOW_HI).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "q_point_filter",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_custkey = 42
    """,
)
def q_point_filter(spark, sf_dir):
    """Equality point lookup (reference: dim lookup WHERE name=%s,
    SqlDbEtl.py:152)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    )


@register(
    "q_null_filter",
    """
    SELECT event_id, sym, value_filled
    FROM (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL
                  WHEN event_type = 'signup' THEN ''
                  ELSE event_type END AS sym,
             COALESCE(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0)
               AS value_filled
      FROM events
    )
    WHERE sym IS NOT NULL AND sym <> ''
    """,
)
def q_null_filter(spark, sf_dir):
    """Null/empty rejection + null-coalescing defaults (reference:
    ``if not asset: continue`` at Bifrost.py:98-99; ``apy or 0``
    defaults at Bifrost.py:179). Nulls are synthesized because the
    testbed table has none."""
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .when(F.col("event_type") == "signup", F.lit(""))
        .otherwise(F.col("event_type"))
    )
    value_filled = F.coalesce(
        F.when(F.col("value") < 1.0, F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
        F.lit(0.0),
    )
    return (
        ev.select(
            "event_id", sym.alias("sym"), value_filled.alias("value_filled")
        )
        .filter(F.col("sym").isNotNull() & (F.col("sym") != ""))
    )


@register(
    "q_blacklist_filter",
    """
    SELECT event_id, event_type
    FROM events
    WHERE lower(event_type) NOT IN ('error', 'signup')
    """,
)
def q_blacklist_filter(spark, sf_dir):
    """Case-insensitive NOT-IN blacklist (reference: pseudo-asset skip
    {'tvl','addresses','revenue'} after lower(), Bifrost.py:101-103)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        ~F.lower(F.col("event_type")).isin("error", "signup")
    ).select("event_id", "event_type")


# =========================================================================
# C. Joins  (SURVEY §2.1 C1-C6)
# =========================================================================


@register(
    "q_dim_broadcast_join",
    """
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_dim_broadcast_join(spark, sf_dir):
    """Dimension lookup as a broadcast hash join — replaces the
    reference's per-row ``SELECT chain_id FROM dim_chains WHERE name=%s``
    N+1 pattern (reference: Bifrost.py:78-85, Stellar.py:46-53).
    Missing dim keys drop rows: inner-join semantics, exactly the
    reference's skip-with-warning behavior."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "q_surrogate_join",
    """
    WITH dim AS (
      SELECT p_brand, p_type,
             DENSE_RANK() OVER (ORDER BY p_brand, p_type) AS brand_type_id
      FROM (SELECT DISTINCT p_brand, p_type FROM part)
    )
    SELECT p.p_partkey, d.brand_type_id
    FROM part p JOIN dim d ON p.p_brand = d.p_brand AND p.p_type = d.p_type
    """,
)
def q_surrogate_join(spark, sf_dir):
    """Surrogate-key dimension resolution (reference: AUTO_INCREMENT +
    readback at Bifrost.py:127-130) — deterministic dense_rank surrogate
    here for oracle parity; operators.surrogate_key_hash (xxhash64) is
    the production-scale variant."""
    p = load_table(spark, sf_dir, "part")
    dim = surrogate_key_dense(
        p.select("p_brand", "p_type").distinct(),
        ["p_brand", "p_type"],
        "brand_type_id",
    )
    return p.join(F.broadcast(dim), ["p_brand", "p_type"]).select(
        "p_partkey", "brand_type_id"
    )


@register(
    "q_asof_price",
    """
    WITH latest AS (
      SELECT user_id, value FROM events
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
    )
    SELECT c_custkey, COALESCE(l.value, 1.0) AS price_usd
    FROM customer c LEFT JOIN latest l ON c.c_custkey = l.user_id
    """,
)
def q_asof_price(spark, sf_dir):
    """Latest-value as-of join with a default (reference: latest
    Hydration_price per symbol ``ORDER BY created_at DESC LIMIT 1``,
    default 1.0, Stellar.py:67-78). One rank window + one broadcast
    join replaces a per-row remote query."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    latest = latest_per_key(ev, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "value"
    )
    return cust.join(
        F.broadcast(latest), cust.c_custkey == latest.user_id, "left"
    ).select(
        "c_custkey", F.coalesce(F.col("value"), F.lit(1.0)).alias("price_usd")
    )


@register(
    "q_prefix_enrich",
    """
    WITH latest AS (
      SELECT event_type, value FROM events
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY event_type
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
    )
    SELECT d.event_type,
           CASE WHEN lower(d.event_type) LIKE 'v%' THEN d.event_type
                ELSE 'v' || d.event_type END AS norm_symbol,
           l.value AS enriched_price
    FROM (SELECT DISTINCT event_type FROM events) d
    LEFT JOIN latest l
      ON (CASE WHEN lower(d.event_type) LIKE 'v%' THEN d.event_type
               ELSE 'v' || d.event_type END) = 'v' || l.event_type
    """,
)
def q_prefix_enrich(spark, sf_dir):
    """Cross-source price enrichment after prefix normalization
    (reference: the disabled v-prefix join Bifrost.py:135-147 with
    normalize_symbol Hydration.py:13-16)."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.select("event_type").distinct()
    latest = latest_per_key(ev, ["event_type"], "ts", ["event_id"]).select(
        F.col("event_type").alias("src_type"), "value"
    )
    norm = normalize_symbol(F.col("event_type"))
    return (
        dim.withColumn("norm_symbol", norm)
        .join(
            F.broadcast(latest),
            F.col("norm_symbol") == F.concat(F.lit("v"), F.col("src_type")),
            "left",
        )
        .select(
            "event_type", "norm_symbol", F.col("value").alias("enriched_price")
        )
    )


# =========================================================================
# D/E. Aggregations, distinct, dedup, top-k  (SURVEY §2.1 D1-D4, E1)
# =========================================================================


@register(
    "q_min_bootstrap",
    """
    SELECT CAST(min(ts) AS TIMESTAMP) - INTERVAL 1 SECOND AS bootstrap_ts
    FROM events
    """,
)
def q_min_bootstrap(spark, sf_dir):
    """Bootstrap cursor ``MIN(created_at) - 1s`` (reference:
    SqlDbEtl.py:133-140)."""
    return bootstrap_start(load_table(spark, sf_dir, "events"), "ts")


@register(
    "q_distinct",
    "SELECT DISTINCT event_type FROM events",
)
def q_distinct(spark, sf_dir):
    """DISTINCT over the source-chain column (reference: SELECT DISTINCT
    chain FROM Bifrost_batchID_table, SqlDbEtl.py:142-148)."""
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


@register(
    "q_dedup_first",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
    """,
)
def q_dedup_first(spark, sf_dir):
    """First-wins dedup with a pinned deterministic order (reference
    keeps first-by-scan-order via Python sets, Stellar.py:83,179; the
    engine pins first-by-(ts, id), SURVEY §7.3-3)."""
    ev = load_table(spark, sf_dir, "events")
    return dedup_first(ev, ["user_id"], [F.col("ts"), F.col("event_id")]).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


@register("q_count", "SELECT COUNT(*) AS n_rows FROM lineitem")
def q_count(spark, sf_dir):
    """Processed-row counting (reference: count/len(processed) returns,
    Bifrost.py:95-96,300)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "q_group_agg",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_group_agg(spark, sf_dir):
    """Grouped aggregation, TPC-H Q1 shape — the hash-agg path that
    replaces the reference's row-at-a-time Python accumulation
    (SURVEY §2.1-D note)."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(F.to_date("l_shipdate") <= F.lit("2000-12-01"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return filtered.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
        _dec_sum(disc_price, "sum_disc_price"),
        (_dec_sum_expr(F.col("l_quantity")) / F.count(F.lit(1))).alias(
            "avg_qty"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q_topk",
    """
    SELECT event_id, user_id, value FROM events
    ORDER BY value DESC, event_id LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """Top-k by ordered limit (reference: ORDER BY created_at DESC
    LIMIT 1, Stellar.py:72). Spark plans TakeOrderedAndProject — no
    global sort materialization."""
    return (
        load_table(spark, sf_dir, "events")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(10)
        .select("event_id", "user_id", "value")
    )


# =========================================================================
# G. Scalar library  (SURVEY §2.1 G1-G18)
# =========================================================================


@register(
    "q_date_parts",
    """
    SELECT event_id,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
           CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS event_year,
           CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS event_month,
           CAST(day(CAST(ts AS TIMESTAMP)) AS INTEGER) AS event_day,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS event_hour,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS event_hour_ts
    FROM events
    """,
)
def q_date_parts(spark, sf_dir):
    """timestamp->date and truncate-to-hour (reference:
    created_at.date() Bifrost.py:113; window end truncated to hour
    SqlDbEtl.py:98-99)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("event_date"),
        F.year("ts").alias("event_year"),
        F.month("ts").alias("event_month"),
        F.dayofmonth("ts").alias("event_day"),
        F.hour("ts").alias("event_hour"),
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias(
            "event_hour_ts"
        ),
    )


#: q_apy fixed-point scale: 8 fractional digits. The largest chain value
#: (x6*x6 with x <= 1.47, x^6 <= 9.92) stays under 1e18 < 2^63, so every
#: step is exact BIGINT arithmetic — the widest scale that fits the
#: chain in 64-bit integers.
_APY_F = 10**8


@register(
    "q_apy",
    f"""
    WITH base AS (
      -- events.value carries exactly 2 decimal digits, so value*100 is
      -- integral to within 1e-9 at every sf; quantize by the shared
      -- IEEE rule (floor(x + 0.5)) rather than native ROUND(double) so
      -- even out-of-contract data that computes to an exact .5 tie
      -- rounds identically in both engines (value >= 0 per contract).
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS k
      FROM events
    ), s1 AS (  -- x = 1 + (value/100)/12 in fixed point: floor(k*F/120000)
      SELECT event_id, {_APY_F} + (k * {_APY_F}) // 120000 AS x FROM base
    ), s3 AS (
      SELECT event_id, (((x * x) // {_APY_F}) * x) // {_APY_F} AS x3, x
      FROM s1
    ), s6 AS (
      SELECT event_id, (x3 * x3) // {_APY_F} AS x6 FROM s3
    ), s12 AS (
      SELECT event_id, (x6 * x6) // {_APY_F} AS x12 FROM s6
    ), cents AS (  -- apy = (x12-1)*100, HALF_UP to 2 dp (non-negative)
      SELECT event_id,
             ((x12 - {_APY_F}) * 100 + {_APY_F // 200}) // {_APY_F // 100}
               AS c
      FROM s12
    )
    SELECT event_id,
           CASE WHEN c IS NOT NULL THEN LEAST(c, 9999999999) END
             AS apy_cents
    FROM cents
    """,
)
def q_apy(spark, sf_dir):
    """APR->APY compounding with cap + HALF_UP 2dp (reference:
    utils.py:11-38, monthly n=12). Emits BIGINT ``apy_cents``
    (apy * 100); consumers divide by 100 for display.

    Engine-version-proof spec (r5, all-BIGINT end-to-end): the whole
    chain is 64-bit INTEGER fixed-point at scale 1e8 — x = 1 + apr/12
    as floor(k*1e8/120000), then x^12 = ((x*x -> x^3)^2)^2 with a
    floor-rescale after each multiply, then HALF_UP to cents and the
    cap at 9_999_999_999 cents (the reference's 99999999.99 ceiling).
    Integer multiply/div/least are bit-identical in every engine and
    every version of an engine. r1-r4 recorded a driver hash mismatch
    not reproducible locally (judge r4: 0/10,000 diffs three ways);
    this round removes the LAST two non-integer surfaces — the input
    double->DECIMAL(12,2) cast (now the shared IEEE quantizer
    CAST(floor(value*100 + 0.5) AS BIGINT): value*100 is integral
    within 1e-9 and the formula stays bit-identical cross-engine even
    at a computed .5 tie) and
    the DECIMAL(12,0) x DECIMAL(3,2) display finish (dropped; the
    result is integer cents).

    NULL contract: NULL apr -> NULL apy_cents on both sides (NULL
    propagates through every arithmetic step; the final CASE guard
    keeps LEAST — which skips NULL arguments in BOTH engines — from
    turning a NULL chain into the cap).
    Non-negative contract: value >= 0 (floor == toward-zero div, so
    Spark's `div` and DuckDB's `//` agree)."""
    ev = load_table(spark, sf_dir, "events")
    fp = str(_APY_F)
    return (
        ev.selectExpr(
            "event_id",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS k",
        )
        .selectExpr("event_id", f"{fp} + (k * {fp}) div 120000 AS x")
        .selectExpr("event_id", f"(((x * x) div {fp}) * x) div {fp} AS x3")
        .selectExpr("event_id", f"(x3 * x3) div {fp} AS x6")
        .selectExpr("event_id", f"(x6 * x6) div {fp} AS x12")
        .selectExpr(
            "event_id",
            f"((x12 - {fp}) * 100 + {_APY_F // 200}) div {_APY_F // 100} AS c",
        )
        .selectExpr(
            "event_id",
            "CASE WHEN c IS NOT NULL THEN LEAST(c, 9999999999) END"
            " AS apy_cents",
        )
    )


@register(
    "q_yoy_qoq",
    """
    WITH fact AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
      FROM events GROUP BY 1, 2
    )
    SELECT f.user_id, f.date, f.volume,
      CASE WHEN p14.volume IS NOT NULL AND p14.volume <> 0 AND
                f.volume IS NOT NULL
           THEN CASE WHEN abs((f.volume - p14.volume) / p14.volume * 100.0) < 10000000000000.0 THEN floor(((f.volume - p14.volume) / p14.volume * 100.0) * 100.0 + 0.5) / 100.0 ELSE ((f.volume - p14.volume) / p14.volume * 100.0) END
      END AS volume_yoy,
      CASE WHEN p7.volume IS NOT NULL AND p7.volume <> 0 AND
                f.volume IS NOT NULL
           THEN CASE WHEN abs((f.volume - p7.volume) / p7.volume * 100.0) < 10000000000000.0 THEN floor(((f.volume - p7.volume) / p7.volume * 100.0) * 100.0 + 0.5) / 100.0 ELSE ((f.volume - p7.volume) / p7.volume * 100.0) END
      END AS volume_qoq
    FROM fact f
    LEFT JOIN fact p14 ON f.user_id = p14.user_id
                       AND f.date = p14.date + INTERVAL 14 DAY
    LEFT JOIN fact p7  ON f.user_id = p7.user_id
                       AND f.date = p7.date + INTERVAL 7 DAY
    """,
)
def q_yoy_qoq(spark, sf_dir):
    """Period-over-period % change via time-offset self-joins
    (reference: YoY/QoQ point reads Hydration.py:199-228 with the
    shared formula utils.py:101-121; the reference's 'year'/'quarter'
    offsets are both 14 days — utils.py:87-99 — here 14d and 7d are
    used so the two columns differ)."""
    from dex_data_ingestor_spark.operators.pct import period_over_period_multi

    ev = load_table(spark, sf_dir, "events")
    fact = ev.groupBy(
        "user_id", F.to_date("ts").alias("date")
    ).agg(_dec_sum(F.col("value"), "volume"))
    out = period_over_period_multi(
        fact, ["user_id"], "date", "volume", {"_yoy": 14, "_qoq": 7}
    )
    return out.select("user_id", "date", "volume", "volume_yoy", "volume_qoq")


@register(
    "q_string_norm",
    """
    SELECT DISTINCT event_type,
           CASE WHEN lower(event_type) LIKE 'v%' THEN event_type
                ELSE 'v' || event_type END AS norm_symbol
    FROM events
    """,
)
def q_string_norm(spark, sf_dir):
    """v-prefix symbol normalization (reference: Hydration.py:13-16;
    'view' keeps its prefix, others gain one)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", normalize_symbol(F.col("event_type")).alias("norm_symbol")
        )
        .distinct()
    )


@register(
    "q_tvl",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / 1000000.0
             + (l_quantity / 100.0) * (1.0 - l_discount) AS tvl
    FROM lineitem
    """,
)
def q_tvl(spark, sf_dir):
    """Naive two-sided TVL (reference: utils.py:41-54 —
    ``amt0/10^d0 + amt1/10^d1 * price``) with fixed decimals 6 and 2;
    literal scale factors keep the arithmetic pure-IEEE (no libm pow)."""
    li = load_table(spark, sf_dir, "lineitem")
    tvl = (
        F.col("l_extendedprice") / F.lit(1000000.0)
        + (F.col("l_quantity") / F.lit(100.0)) * (F.lit(1.0) - F.col("l_discount"))
    )
    return li.select("l_orderkey", "l_linenumber", tvl.alias("tvl"))


_Q91 = float(2**91)
_Q96F = float(2**96)


@register(
    "q_token_price",
    f"""
    SELECT p_partkey, r * r AS price_ratio
    FROM (
      SELECT p_partkey,
             (CAST(p_partkey + 1 AS DOUBLE) * {_Q91!r}) / {_Q96F!r} AS r
      FROM part
    )
    """,
)
def q_token_price(spark, sf_dir):
    """Uniswap-V3 price ratio from sqrt_price_x96 (reference:
    utils.py:130-171: ``(sqrt_price/2^96)^2``). Double variant with a
    synthesized sqrt_price = (p_partkey+1) * 2^91 — power-of-two scales
    make the division exact, so the value is bit-reproducible. The
    50-digit exact-decimal contract (18dp ROUND_DOWN quantization) is
    functions.decimalq96.token_prices_q96_exact, unit-tested separately.
    """
    p = load_table(spark, sf_dir, "part")
    r = (F.col("p_partkey") + 1).cast("double") * F.lit(_Q91) / F.lit(_Q96F)
    return p.select("p_partkey", (r * r).alias("price_ratio"))


@register(
    "q_derived_cols",
    """
    SELECT event_id,
           value * 1.05 AS derived_price,
           CASE WHEN user_id % 7 = 0 THEN 0.0
                WHEN value IS NULL THEN 0.0
                ELSE (value * 10.0) * value END AS derived_tvl,
           1 AS asset_type_id,
           '' AS pool_address,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END
             AS return_type_id
    FROM events
    """,
)
def q_derived_cols(spark, sf_dir):
    """Derived/constant columns (reference: price*exchangeRatio
    Bifrost.py:264; supply*price with null->0 Bifrost.py:280-283;
    constant defaults Bifrost.py:105-112)."""
    ev = load_table(spark, sf_dir, "events")
    supply = F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
        F.col("value") * 10.0
    )
    return ev.select(
        "event_id",
        derived_price(F.col("value"), F.lit(1.05)).alias("derived_price"),
        derived_tvl(supply, F.col("value")).alias("derived_tvl"),
        F.lit(1).alias("asset_type_id"),
        F.lit("").alias("pool_address"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(2))
        .alias("return_type_id"),
    )


# =========================================================================
# F. Merge / upsert  (SURVEY §2.1 F1-F3)
# =========================================================================

_W1 = "SELECT l_suppkey AS suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS volume, COUNT(*) AS txns FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-01-01' GROUP BY 1"
_W2 = "SELECT l_suppkey AS suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS volume, COUNT(*) AS txns FROM lineitem WHERE CAST(l_shipdate AS DATE) > DATE '1998-01-01' AND CAST(l_shipdate AS DATE) <= DATE '1999-01-01' GROUP BY 1"


def _supp_window(spark, sf_dir, lo: str | None, hi: str):
    li = load_table(spark, sf_dir, "lineitem")
    d = F.to_date("l_shipdate")
    cond = d <= F.lit(hi)
    if lo is not None:
        cond = (d > F.lit(lo)) & cond
    return (
        li.filter(cond)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(_dec_sum(F.col("l_quantity"), "volume"), F.count(F.lit(1)).alias("txns"))
    )


@register(
    "q_merge_upsert",
    f"""
    WITH w1 AS ({_W1}), w2 AS ({_W2})
    SELECT suppkey, volume, txns FROM w2
    UNION ALL
    SELECT w1.suppkey, w1.volume, w1.txns FROM w1
    WHERE NOT EXISTS (SELECT 1 FROM w2
                      WHERE w2.suppkey IS NOT DISTINCT FROM w1.suppkey)
    """,
)
def q_merge_upsert(spark, sf_dir):
    """Full-row MERGE: a later batch's rows replace same-key rows
    (reference: INSERT..ON DUPLICATE KEY UPDATE on dim_tokens /
    fact_yield_stats, Bifrost.py:116-124,172-180). Existing = per-
    supplier totals through 1998; updates = the 1998->1999 window."""
    existing = _supp_window(spark, sf_dir, None, "1998-01-01")
    updates = _supp_window(spark, sf_dir, "1998-01-01", "1999-01-01")
    return merge_upsert(existing, updates, ["suppkey"])


@register(
    "q_merge_partial_update",
    f"""
    WITH w1 AS ({_W1}), w2 AS ({_W2})
    SELECT COALESCE(w1.suppkey, w2.suppkey) AS suppkey,
           CASE WHEN w2.txns IS NOT NULL THEN w2.volume
                ELSE w1.volume END AS volume,
           CASE WHEN w1.txns IS NOT NULL THEN w1.txns
                ELSE w2.txns END AS txns
    FROM w1 FULL OUTER JOIN w2
      ON w1.suppkey IS NOT DISTINCT FROM w2.suppkey
    """,
)
def q_merge_partial_update(spark, sf_dir):
    """Partial-update MERGE: only the update set refreshes on conflict,
    kept columns retain existing values (reference: the per-call-site
    update subsets, e.g. only price_usd at Bifrost.py:262, only
    created_at at Bifrost.py:159; SURVEY §2.1-F2)."""
    existing = _supp_window(spark, sf_dir, None, "1998-01-01")
    updates = _supp_window(spark, sf_dir, "1998-01-01", "1999-01-01")
    return merge_upsert(existing, updates, ["suppkey"], update_cols=["volume"])


# =========================================================================
# H. Streaming-shape analytics (batch-checkable forms; true Structured
# Streaming runs live in streaming/jobs.py and tests/test_streaming.py)
# =========================================================================


@register(
    "q_stream_tumbling",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1h event-time window (reference analog: the hourly
    scheduler window, main.py:54-66 + SqlDbEtl.py:98-99). Uses
    F.window — identical aggregation runs under readStream with
    withWatermark in streaming/jobs.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_stream_sliding",
    """
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               AS b, event_type, value FROM events
    ), expanded AS (
      SELECT b AS window_start, event_type, value FROM buckets
      UNION ALL
      SELECT b - INTERVAL '30 minutes' AS window_start, event_type, value
      FROM buckets
    )
    SELECT window_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM expanded GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark, sf_dir):
    """Sliding window (1h length, 30m slide) — each event lands in two
    windows. Spark-native F.window(slide) vs the oracle's two-shifted-
    bucket union."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_stream_session",
    """
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR
                  date_diff('microsecond', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def q_stream_session(spark, sf_dir):
    """Gap-based sessionization (30-minute inactivity gap) via
    lag + running sum — the deterministic batch form of Spark's
    session_window (streaming/jobs.py runs the native form; a pytest
    asserts both agree). Boundary rule: a gap of EXACTLY the
    threshold extends the session (split needs diff > gap) — the
    empirically-pinned native session_window behavior
    (tests/test_streaming.py::test_session_window_merges_at_exactly_equal_gap)
    and the q_sessionize/q_debounce island rule. r9 note: this query
    previously used >= here (the family's one divergent boundary);
    fixture-neutral since no exact-gap pair exists in any shipped SF,
    aligned for real second-granularity data where exact 30:00 gaps
    are common."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.lag("ts").over(w_order).alias("prev_ts"),
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                > 1800 * 1000 * 1000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = marked.withColumn("session_seq", F.sum("is_new").over(w_cum))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# =========================================================================
# Flagship (entry): the reference's signature shape end-to-end —
# incremental scan -> filters -> broadcast dim joins -> derived columns
# -> grouped daily rollup.
# =========================================================================


@register(
    "q_flagship_daily_revenue",
    """
    SELECT n_name, CAST(l_shipdate AS DATE) AS ship_date,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE CAST(l_shipdate AS DATE) > DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <= DATE '1997-01-01'
      AND l_quantity IS NOT NULL
    GROUP BY 1, 2
    """,
)
def flagship(spark, sf_dir):
    """Daily revenue per nation over an incremental window — one
    declarative DAG standing in for the reference's whole per-row task
    loop (SURVEY §3 entry point 3): windowed fact scan, broadcast dim
    joins, derived measure, grouped daily rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    d = F.to_date("l_shipdate")
    windowed = li.filter(
        (d > F.lit("1996-01-01"))
        & (d <= F.lit("1997-01-01"))
        & F.col("l_quantity").isNotNull()
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        windowed.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", d.alias("ship_date"))
        .agg(_dec_sum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# =========================================================================
# J. North-star LLM-data-pipeline operators (SURVEY §2.1 J1-J5 + the
# training-data extensions: dedup families, similarity search, text
# analysis, multimodal).
# =========================================================================

#: word-shingle width and gram SQL shared by the near-dup oracles.
_GRAMS_CTE = """
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
      FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
            FROM documents)
    )
"""

_MD5_INT = "('0x' || substr(md5({0}), 1, 8))::BIGINT"


@register(
    "q_dedup_exact",
    """
    SELECT doc_id, content_sha FROM (
      SELECT doc_id, sha256(text) AS content_sha,
             ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact content dedup: sha256 hash-groupBy, deterministic
    first-wins survivor (lowest doc_id) — north-star J1."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "content_sha", F.sha2(F.col("text"), 256)
    )
    return dedup_first(docs, ["content_sha"], [F.col("doc_id")]).select(
        "doc_id", "content_sha"
    )


@register(
    "q_hash_split",
    f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {_MD5_INT.format('text')} % 100 AS bucket
          FROM documents)
    """,
)
def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by content hash — the
    reproducible-split primitive every training-data pipeline needs.
    Content-based (not id-based): re-ingesting the same document under
    a new id lands in the same split, and the assignment is a pure
    narrow projection — no shuffle, no RNG state, identical on any
    cluster size (100 TB posture: splits recomputable from data alone).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (md5_int64(F.col("text")) % 100).alias("bucket")
    return docs.select("doc_id", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 80, F.lit("train"))
        .when(F.col("bucket") < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )


@register(
    "q_topk_per_key",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q_topk_per_key(spark, sf_dir):
    """Grouped top-k (rank window): top 3 orders by price per priority
    class — the per-key generalization of the reference's ORDER BY ...
    LIMIT 1 (Stellar.py:72). Spark runs a single hash-partitioned sort
    per key group; no global sort, no driver collection."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@register(
    "q_stratified_sample",
    f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang, {_MD5_INT.format('text')} % 1000 AS h
          FROM documents)
    WHERE h < CASE WHEN lang = 'en' THEN 100 ELSE 500 END
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-language keep rates via a
    content-hash threshold (en 10%, others 50% — the rebalancing shape
    of a multilingual training mix). No RNG state, no sampleBy seed
    drift: the sample is a pure narrow filter, reproducible at any
    parallelism, and composable with [q_hash_split]'s buckets."""
    docs = load_table(spark, sf_dir, "documents")
    h = md5_int64(F.col("text")) % 1000
    rate = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(500))
    return docs.filter(h < rate).select("doc_id", "lang")


@register(
    "q_ngram_topk",
    f"""
    WITH {_GRAMS_CTE},
    counts AS (
      SELECT d.lang, g.gram, COUNT(*) AS n_docs
      FROM grams g JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT lang, gram, n_docs FROM (
      SELECT lang, gram, n_docs,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_docs DESC, gram) AS rn
      FROM counts) WHERE rn <= 5
    """,
)
def q_ngram_topk(spark, sf_dir):
    """Corpus statistics: the 5 most document-frequent word trigrams
    per language — the n-gram frequency sweep used for contamination
    checks and boilerplate detection over training corpora. Shingles
    are distinct per document, so the count is document frequency; the
    gram explode -> (lang, gram) count -> per-lang rank plan is three
    shuffles regardless of corpus size."""
    from dex_data_ingestor_spark.operators.neardup import shingles
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = shingles(docs, "doc_id", "text", n=3)
    counts = (
        grams.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_docs").desc(), F.col("gram")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "gram", "n_docs")
    )


def _span_stats_tail_sql(pos_cte: str) -> str:
    """The dup -> gaps-and-islands -> spans -> per-doc stats CTE tail
    SHARED by the exact (q_dup_substrings) and winnowed
    (q_dup_substrings_winnowed) span oracles — ``pos_cte`` must expose
    (doc_id, n, p, gram). One copy (review r12): the span-merge
    semantics and the 9-dp dup_frac rounding expression must not be
    able to drift between the two oracles. Returns the tail INCLUDING
    the final SELECT, so callers compose ``WITH <their CTEs>,
    {tail}``."""
    return f"""
    dup AS (
      SELECT doc_id, n, p FROM (
        SELECT doc_id, n, p, count(*) OVER (PARTITION BY gram) AS c
        FROM {pos_cte}
      ) WHERE c > 1
    ),
    isl AS (
      SELECT doc_id, n, p,
             CASE WHEN max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                   OR p > max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS flag
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, n, p,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, n, island, MIN(p) AS s, MAX(p) + 19 AS e
      FROM isl2 GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
           CASE WHEN abs(CAST(SUM(e - s + 1) AS DOUBLE) / n) < 1000000.0 THEN floor((CAST(SUM(e - s + 1) AS DOUBLE) / n) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(SUM(e - s + 1) AS DOUBLE) / n) END AS dup_frac
    FROM spans GROUP BY doc_id, n
    """


@register(
    "q_dup_substrings",
    f"""
    WITH base AS (
      SELECT doc_id, text AS t, length(text) AS n
      FROM documents WHERE length(text) >= 20
    ),
    pos AS (
      SELECT doc_id, n, CAST(i AS INTEGER) AS p,
             substring(t, CAST(i AS INTEGER), 20) AS gram
      FROM base, unnest(range(1, n - 18)) AS u(i)
    ),
    {_span_stats_tail_sql("pos")}
    """,
)
def q_dup_substrings(spark, sf_dir):
    """Exact repeated-substring spans >= 20 chars across the corpus
    (operators/corpus.py repeated_substring_spans) — the fixed-window
    equivalent of suffix-array exact-substring dedup: duplicated
    20-char windows are marked corpus-wide and merged into maximal
    spans per document (gaps-and-islands). Span-granular boilerplate
    removal where whole-document near-dup is too blunt; all-integer
    until the final 9-dp fraction."""
    from dex_data_ingestor_spark.operators.corpus import (
        repeated_substring_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, "doc_id", "text", min_len=20)


#: CTE chain of the span-strip oracle (shared by q_strip_dup_substrings
#: and the q_curate_stripped composition): rewrites every document with
#: its later-occurrence repeated >= 20-char spans removed; docs whose
#: text is entirely later-occurrence content are ABSENT from
#: stripped_docs (the exact-dedup limit).
_STRIP_CTES = """
    base AS (SELECT doc_id, text AS t, length(text) AS n
                  FROM documents),
    long_docs AS (SELECT * FROM base WHERE n >= 20),
    pos AS (
      SELECT doc_id, CAST(i AS INTEGER) AS p,
             substring(t, CAST(i AS INTEGER), 20) AS gram
      FROM long_docs, unnest(range(1, n - 18)) AS u(i)
    ),
    drops AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p,
               row_number() OVER (PARTITION BY gram
                                  ORDER BY doc_id, p) AS rn
        FROM pos
      ) WHERE rn > 1
    ),
    isl AS (
      SELECT doc_id, p,
             CASE WHEN max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                   OR p > max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS flag
      FROM drops
    ),
    isl2 AS (
      SELECT doc_id, p,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island, MIN(p) AS s, MAX(p) + 19 AS e
      FROM isl2 GROUP BY 1, 2
    ),
    kept AS (
      SELECT doc_id,
             COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
               + 1 AS ks,
             s - 1 AS ke
      FROM spans
      UNION ALL
      SELECT sp.doc_id, sp.mx + 1 AS ks, b.n AS ke
      FROM (SELECT doc_id, MAX(e) AS mx FROM spans GROUP BY 1) sp
      JOIN base b USING (doc_id)
    ),
    segs AS (
      SELECT k.doc_id, k.ks,
             substring(b.t, CAST(k.ks AS INTEGER),
                       CAST(k.ke - k.ks + 1 AS INTEGER)) AS seg
      FROM kept k JOIN base b USING (doc_id)
      WHERE k.ke >= k.ks
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY ks) AS text
      FROM segs GROUP BY 1
    ),
    stripped_docs AS (
      SELECT doc_id, text FROM rebuilt
      UNION ALL
      SELECT b.doc_id, b.t AS text
      FROM base b
      LEFT JOIN (SELECT DISTINCT doc_id FROM spans) s USING (doc_id)
      WHERE s.doc_id IS NULL
    )
"""


@register(
    "q_strip_dup_substrings",
    f"""
    WITH {_STRIP_CTES}
    SELECT doc_id, text FROM stripped_docs
    """,
)
def q_strip_dup_substrings(spark, sf_dir):
    """The dedup MATERIALIZATION at span granularity: rewrite every
    document with its later-occurrence repeated spans (>= 20 chars,
    corpus-wide first-occurrence-wins) removed — the operator behind
    q_dup_substrings' statistics (operators/corpus.py
    strip_repeated_substrings). Fully-duplicated documents disappear
    (the exact-dedup limit); untouched docs pass through
    byte-identical, which the string hash verifies end to end."""
    from dex_data_ingestor_spark.operators.corpus import (
        strip_repeated_substrings,
    )

    docs = load_table(spark, sf_dir, "documents")
    return strip_repeated_substrings(docs, "doc_id", "text", min_len=20)


@register(
    "q_scrub_contamination",
    f"""
    WITH tagged AS (
      SELECT doc_id, text AS t, length(text) AS n,
             {_MD5_INT.format('text')} % 100 AS b
      FROM documents
    ),
    train AS (SELECT * FROM tagged WHERE b < 80),
    test AS (SELECT * FROM tagged WHERE b >= 90),
    tpos AS (
      SELECT doc_id, CAST(i AS INTEGER) AS p,
             substring(t, CAST(i AS INTEGER), 20) AS gram
      FROM train, unnest(range(1, n - 18)) AS u(i)
      WHERE n >= 20
    ),
    tgrams AS (
      SELECT DISTINCT substring(t, CAST(i AS INTEGER), 20) AS gram
      FROM test, unnest(range(1, n - 18)) AS u(i)
      WHERE n >= 20
    ),
    drops AS (
      SELECT doc_id, p FROM tpos
      WHERE gram IN (SELECT gram FROM tgrams)
    ),
    isl AS (
      SELECT doc_id, p,
             CASE WHEN max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                   OR p > max(p + 19) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS flag
      FROM drops
    ),
    isl2 AS (
      SELECT doc_id, p,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island, MIN(p) AS s, MAX(p) + 19 AS e
      FROM isl2 GROUP BY 1, 2
    ),
    kept AS (
      SELECT doc_id,
             COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
               + 1 AS ks,
             s - 1 AS ke
      FROM spans
      UNION ALL
      SELECT sp.doc_id, sp.mx + 1 AS ks, tr.n AS ke
      FROM (SELECT doc_id, MAX(e) AS mx FROM spans GROUP BY 1) sp
      JOIN train tr USING (doc_id)
    ),
    segs AS (
      SELECT k.doc_id, k.ks,
             substring(tr.t, CAST(k.ks AS INTEGER),
                       CAST(k.ke - k.ks + 1 AS INTEGER)) AS seg
      FROM kept k JOIN train tr USING (doc_id)
      WHERE k.ke >= k.ks
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY ks) AS text
      FROM segs GROUP BY 1
    )
    SELECT doc_id, text FROM rebuilt
    UNION ALL
    SELECT tr.doc_id, tr.t AS text
    FROM train tr
    LEFT JOIN (SELECT DISTINCT doc_id FROM spans) s USING (doc_id)
    WHERE s.doc_id IS NULL
    """,
)
def q_scrub_contamination(spark, sf_dir):
    """Span-level decontamination materialization: the TRAIN split
    (content-hash buckets, as q_hash_split) rewritten with every span
    removed whose 20-char window also appears in the TEST split —
    the surgical counterpart of q_contamination's report
    (operators/corpus.py scrub_contaminated_spans). Training docs
    without eval overlap pass through byte-identical; a train doc
    fully covered by eval text disappears."""
    from dex_data_ingestor_spark.operators.corpus import (
        scrub_contaminated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return scrub_contaminated_spans(docs, "doc_id", "text", min_len=20)


@register(
    "q_span_dedup",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS ws
               FROM documents),
    spans AS (
      SELECT doc_id, i AS pos,
             array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS span
      FROM (SELECT doc_id, ws,
                   unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS i
            FROM w)
    ),
    ranked AS (
      SELECT doc_id, pos, span,
             ROW_NUMBER() OVER (PARTITION BY span
                                ORDER BY doc_id, pos) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM ranked GROUP BY doc_id
    """,
)
def q_span_dedup(spark, sf_dir):
    """Paragraph-analog span dedup: per-document duplicated-span
    fraction with corpus-wide first-occurrence-wins semantics — the
    signal (and survivor rule) of paragraph-level dedup over a training
    corpus. One shuffle on span text + one back to doc ids."""
    from dex_data_ingestor_spark.operators.corpus import span_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_stats(docs, "doc_id", "text", span_words=10)


@register(
    "q_repetition",
    """
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(ws) - 1, 1)),
                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
               AS grams
      FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS ws
            FROM documents)
    )
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct_grams,
           CASE WHEN len(grams) > 0
                THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / len(grams)
                ELSE 0.0 END AS rep_frac
    FROM g
    """,
)
def q_repetition(spark, sf_dir):
    """Intra-document duplicate-trigram fraction (Gopher-style
    repetition quality gate). Pure narrow map — zero shuffles — the
    shape this signal must keep at 100 TB."""
    from dex_data_ingestor_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", n=3)


@register(
    "q_contamination",
    f"""
    WITH g AS (
      SELECT lang, {_MD5_INT.format('text')} % 100 AS b,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
      FROM (SELECT lang, text,
                   string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS ws
            FROM documents)
    ),
    eval_grams AS (SELECT DISTINCT lang, gram FROM g WHERE b >= 90),
    train_grams AS (SELECT DISTINCT gram FROM g WHERE b < 80)
    SELECT e.lang,
           CAST(COUNT(*) AS BIGINT) AS n_eval_grams,
           CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS contamination_rate
    FROM eval_grams e LEFT JOIN train_grams t USING (gram)
    GROUP BY e.lang
    """,
)
def q_contamination(spark, sf_dir):
    """Train/eval n-gram contamination check composed with the
    content-hash split of [q_hash_split]: per language, the share of
    held-out trigrams that also occur in the training split."""
    from dex_data_ingestor_spark.operators.corpus import (
        contamination_by_lang,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_by_lang(docs, "doc_id", "text", "lang", n=3)


@register(
    "q_cdc_apply",
    """
    WITH ranked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC,
                        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                          DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, ts, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_apply(spark, sf_dir):
    """CDC changelog compaction: the events stream read as a changelog
    (error rows = deletes), collapsed to current state — last change
    per user wins, deleted keys vanish. The delete half the reference's
    upsert-only warehouse lacks; one rank-window shuffle."""
    from dex_data_ingestor_spark.operators.merge import cdc_apply

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_apply(
        ev, keys=["user_id"], order_by=["ts", "event_id"], op_col="op"
    ).select("user_id", "event_id", "ts", "value")


@register(
    "q_gap_fill",
    """
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY 1)
    )
    SELECT s.user_id, s.day,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS UNBOUNDED PRECEDING) AS day_value,
           CAST(d.day_value IS NOT NULL AS INT) AS is_observed
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    """,
)
def q_gap_fill(spark, sf_dir):
    """Date-spine gap fill + forward fill: dense per-user daily value
    series (the hypertable-rollup regularization the reference's
    sparse daily facts need downstream). One agg shuffle + one window
    pass."""
    from dex_data_ingestor_spark.operators.timeseries import gap_fill_daily

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(_dec_sum(F.col("value"), "day_value"))
    return gap_fill_daily(
        daily, keys=["user_id"], date_col="day", value_col="day_value"
    )


@register(
    "q_window_rank",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(RANK() OVER w AS BIGINT) AS price_rank,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS price_dense_rank,
           CAST(NTILE(4) OVER w AS INT) AS price_quartile,
           PERCENT_RANK() OVER w AS price_pct_rank,
           CUME_DIST() OVER w AS price_cume_dist,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank(spark, sf_dir):
    """Ranking-window breadth: rank / dense_rank / ntile /
    percent_rank / cume_dist / lag / lead over one total order per
    priority class — all seven share ONE window spec, so Spark plans a
    single sort + single Window operator (one shuffle)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).cast("bigint").alias("price_rank"),
        F.dense_rank().over(w).cast("bigint").alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


#: One SQL text, two engines (the _SQL_INTERFACE pattern): the engine
#: runs the IDENTICAL statement the oracle runs. The previous form
#: kept a hand-maintained near-copy inline (already drifting
#: cosmetically) and registered a global __orders_gs temp view —
#: mutable session state a concurrent run with a different sf_dir
#: would silently repoint.
_GROUPING_SETS_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus))
"""


@register("q_grouping_sets", _GROUPING_SETS_SQL)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form behind the rollup/cube
    queries) with GROUPING() disambiguation of NULL-as-total vs
    NULL-as-value. One expand + one hash aggregate."""
    from dex_data_ingestor_spark.io import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "q_asof_tolerance",
    """
    WITH quotes AS (
      SELECT user_id, qts, last_view_value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS qts,
               value AS last_view_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'view' AND value IS NOT NULL) WHERE rn = 1
    ),
    probes AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, p.ts, p.purchase_value,
           CASE WHEN q.qts >= p.ts - INTERVAL 1 HOUR
                THEN q.last_view_value END AS last_view_value
    FROM probes p ASOF LEFT JOIN quotes q
      ON p.user_id = q.user_id AND q.qts <= p.ts
    """,
)
def q_asof_tolerance(spark, sf_dir):
    """Tolerance-bounded as-of join (attribution shape): each purchase
    is priced by the user's latest view value at-or-before it, but
    only if that view is under an hour old. Same union + last-value
    window as q_asof_price — one shuffle, no range-join explosion —
    with the staleness horizon applied to the carried quote timestamp.
    Quotes are deduplicated per (user, ts) by max event_id so the
    carried value is deterministic under timestamp ties."""
    from dex_data_ingestor_spark.operators.asof import (
        asof_lookup,
        latest_per_key,
    )

    ev = load_table(spark, sf_dir, "events")
    quotes = latest_per_key(
        # NULL-valued views are not quotes — both sides, same rule
        # (and same rationale) as q_asof_lookup
        ev.filter(
            (F.col("event_type") == "view")
            & F.col("value").isNotNull()
        ).select(
            "user_id", "ts", "event_id",
            F.col("value").alias("last_view_value"),
        ),
        keys=["user_id", "ts"],
        ts_col="event_id",
    ).drop("event_id")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts",
        F.col("value").alias("purchase_value"),
    )
    return asof_lookup(
        probes,
        quotes,
        keys=["user_id"],
        probe_ts="ts",
        quote_ts="ts",
        value_cols=["last_view_value"],
        tolerance="1 hour",
    )


@register(
    "q_moving_avg",
    """
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day, day_value,
           CAST(SUM(CAST(day_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS moving_sum,
           CAST(SUM(CAST(day_value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS moving_avg,
           COUNT(*) OVER w AS n_days_present
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_avg(spark, sf_dir):
    """Trailing 7-day moving sum/avg per user over the sparse daily
    series — a calendar RANGE frame (gaps shrink the divisor, no spine
    needed). One agg shuffle + one window pass."""
    from dex_data_ingestor_spark.operators.timeseries import moving_avg_days

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(_dec_sum(F.col("value"), "day_value"))
    return moving_avg_days(
        daily, keys=["user_id"], date_col="day", value_col="day_value",
        days=7,
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_URL = "https?://[^ \\t\\n\\f\\r]+"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_DENY = "\\b(the|a|data|value)\\b"


@register(
    "q_pii_scrub",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text, '{_PII_URL}', '<URL>', 'g'),
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
             '{_PII_DENY}', '<MASKED>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_URL}')) AS INT)
             AS n_urls,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT)
             AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PII_DENY}')) AS INT)
             AS n_denied
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (mask emails/URLs/IPv4s) plus a denylist word
    scrub — the redaction pass of a training-data pipeline, kept to
    regex constructs with identical Java-regex/RE2 semantics so the
    masked text itself is oracle-checkable byte-for-byte. Narrow
    projection, zero shuffles."""
    from dex_data_ingestor_spark.operators.text import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    return scrub_pii(
        docs, "doc_id", "text", denylist=("the", "a", "data", "value")
    )


@register(
    "q_text_stats",
    """
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars_calc,
             len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS n_words,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\f\\r]', '', 'g'))
               AS n_punct,
             len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
                 w -> w IN ('the','a','an','of','and','to','in','is')))
               AS n_stop
      FROM documents
    ), ratios AS (
      SELECT doc_id, n_chars_calc, n_words, n_tokens,
             CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0) AS punct_ratio,
             CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
             CAST(length(regexp_replace(text, '[ \\t\\n\\f\\r]+', '', 'g'))
                  AS DOUBLE) / n_words AS avg_word_len
      FROM base
    )
    SELECT doc_id,
           CAST(n_chars_calc AS INTEGER) AS n_chars_calc,
           CAST(n_words AS INTEGER) AS n_words,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           punct_ratio, stopword_ratio, avg_word_len,
           CASE WHEN abs(LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.25
                 + LEAST(stopword_ratio * 5.0, 1.0) * 0.25) < 1000000.0 THEN floor((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.25
                 + LEAST(stopword_ratio * 5.0, 1.0) * 0.25) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.25
                 + LEAST(stopword_ratio * 5.0, 1.0) * 0.25) END
             AS quality_score
    FROM ratios
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-document quality statistics (north-star J4): char/word/
    BPE-ish token counts, punctuation/stopword ratios, composite
    quality score — all JVM-side expressions."""
    from dex_data_ingestor_spark.operators.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    out = text_stats(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_chars_calc").cast("int").alias("n_chars_calc"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "avg_word_len",
        "quality_score",
    )


@register(
    "q_lang_id",
    """
    WITH hits AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
            w -> w IN ('der','die','das','und','nicht'))) AS hits_de,
        len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
            w -> w IN ('the','a','of','and','to'))) AS hits_en,
        len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
            w -> w IN ('el','la','de','los','que'))) AS hits_es,
        len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
            w -> w IN ('le','la','les','des','est'))) AS hits_fr
      FROM documents
    )
    SELECT doc_id,
      -- COALESCE: NULL text yields NULL hit counts; every equality
      -- below would be NULL and the CASE would fall to ELSE 'fr',
      -- while the engine's fall-through yields 'und' (a NULL doc has
      -- no identifiable language)
      CASE WHEN COALESCE(greatest(hits_de, hits_en, hits_es, hits_fr), 0)
             = 0 THEN 'und'
           WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
             THEN 'de'
           WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
             THEN 'en'
           WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
             THEN 'es'
           ELSE 'fr' END AS pred_lang
    FROM hits
    """,
)
def q_lang_id(spark, sf_dir):
    """Stopword-marker language ID heuristic (north-star J4):
    argmax of per-language marker-word hits, deterministic tie-break."""
    from dex_data_ingestor_spark.operators.text import lang_id

    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_NORM_TEXT = "regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r]+', ' ', 'g')"


@register(
    "q_fingerprint",
    f"""
    SELECT doc_id,
           {_MD5_INT.format(_NORM_TEXT)} AS fp64,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting (north-star J4): 64-bit md5-derived
    fingerprint of whitespace-normalized text + full content sha."""
    from dex_data_ingestor_spark.operators.text import fingerprint

    return fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_vector_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0)
    SELECT e.vec_id,
           CASE WHEN abs(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qe, q.qe)))) < 1000000.0 THEN floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qe, q.qe)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qe, q.qe)))) END AS cos_sim
    FROM embeddings e, q
    WHERE e.embedding IS NOT NULL
      AND list_dot_product(CAST(e.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])) > 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def q_vector_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (north-star J3):
    query = embedding of vec_id 0; JVM higher-order-function dot
    products, TakeOrderedAndProject top-k. IVF/LSH scale variants in
    operators/vector.py (recall-tested in pytest)."""
    from dex_data_ingestor_spark.operators.vector import cosine

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    # hygiene gate (q_embed_auc convention): NULL or zero-norm rows
    # have no cosine — one engine crashes, the other ranks them
    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    q = em.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qe")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (
        em.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            round_ieee(cosine(v, F.col("qe")), 9).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# IVF index constants (shared by the Spark plan and the generated
# oracle SQL below — both derive from the same seeded centroids).
def _query_vec(em, vec_id: int = 0) -> list[float]:
    """The ANN queries' driver-side anchor vector (an O(1) lookup
    standing in for a user-supplied query). Raises a NAMED error when
    the anchor row is absent or was filtered by the usable-embeddings
    gate — the bare ``.head()["embedding"]`` form died with
    ``TypeError: 'NoneType' object is not subscriptable`` at
    plan-build time, which reads as a harness bug rather than a data
    precondition."""
    row = em.filter(F.col("vec_id") == vec_id).head()
    if row is None or row["embedding"] is None:
        raise ValueError(
            f"ANN query anchor vec_id={vec_id} is absent or unusable "
            "(NULL/zero-norm embedding) in this corpus; these "
            "registry entries need a usable anchor row"
        )
    return [float(x) for x in row["embedding"]]


_IVF_DIM = 64
_IVF_NCELLS = 8
_IVF_NPROBE = 2
_IVF_SEED = 42


def _ivf_oracle_sql() -> str:
    """Oracle for q_ann_ivf: replicates assignment (argmax cosine, ties
    to the larger cell — Spark's greatest(struct) order), probe-cell
    selection (top nprobe by query-centroid similarity, ties to the
    smaller cell — Python's stable sort), and the in-cell brute-force
    top-k. Centroid values and their norms are embedded as literals so
    both engines score against bit-identical constants."""
    import math

    from dex_data_ingestor_spark.operators.vector import seeded_centroids

    cents = seeded_centroids(_IVF_DIM, _IVF_NCELLS, seed=_IVF_SEED)
    rows = []
    for i, c in enumerate(cents):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        lst = "[" + ",".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, {lst}::DOUBLE[], {cn!r})")
    values = ",\n      ".join(rows)
    return f"""
    WITH cent(cell, cv, cn) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    assign AS (
      SELECT vec_id, v, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cell DESC) AS rn
      FROM (
        SELECT e.vec_id, e.v, c.cell,
               list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v)) * c.cn) AS score
        FROM e CROSS JOIN cent c)
    ),
    probes AS (
      SELECT c.cell
      FROM cent c CROSS JOIN q
      ORDER BY list_dot_product(c.cv, q.qe)
                 / sqrt(list_dot_product(q.qe, q.qe)) DESC,
               c.cell ASC
      LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id,
           CASE WHEN abs(list_dot_product(a.v, q.qe)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) < 1000000.0 THEN floor((list_dot_product(a.v, q.qe)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(a.v, q.qe)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) END AS cos_sim
    FROM assign a CROSS JOIN q
    WHERE a.rn = 1 AND a.cell IN (SELECT cell FROM probes)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register("q_ann_ivf", _ivf_oracle_sql())
def q_ann_ivf(spark, sf_dir):
    """IVF approximate-nearest-neighbor search (north-star J3 scale
    path): vectors are coarse-quantized to seeded centroids once, the
    query probes only the nprobe nearest cells, and brute-force cosine
    runs inside those cells — O(N * nprobe / ncells) scanned instead of
    O(N). At 100 TB the ``cell`` column is a partition key, so the probe
    is partition pruning, not a filter. Query point: vec_id 0's own
    embedding (an O(1) driver lookup, like a user-supplied query)."""
    from dex_data_ingestor_spark.operators.vector import (
        ivf_assign,
        ivf_topk,
        seeded_centroids,
    )

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    qvec = _query_vec(em)
    cents = seeded_centroids(_IVF_DIM, _IVF_NCELLS, seed=_IVF_SEED)
    indexed = ivf_assign(em, "embedding", cents)
    return ivf_topk(
        indexed, "vec_id", "embedding", cents, qvec,
        k=10, nprobe=_IVF_NPROBE,
    )


_LSH_ANN_NPLANES = 6
_LSH_ANN_SEED = 7


def _lsh_ann_oracle_sql() -> str:
    """Oracle for q_ann_lsh: replicates the sign-bit bucket (sum of
    2^j over planes with positive dot product), the distance<=1
    multi-probe set (query bucket XOR each single bit), and the
    in-bucket brute-force top-k. Plane values are embedded as literals
    so both engines score against bit-identical constants; 2^j weights
    are literals too (never libm POW). Cross-engine note: DuckDB's
    list_dot_product is NOT the engine's sequential fold (ULP-level
    differences, measured) — parity rests on sign margins dwarfing
    accumulation noise (asserted in tests/test_vector_text.py) and on
    the 9-dp rounding of cos_sim, the same discipline as q_ann_ivf's
    argmax."""
    from dex_data_ingestor_spark.operators.vector import hyperplanes

    planes = hyperplanes(_IVF_DIM, _LSH_ANN_NPLANES, seed=_LSH_ANN_SEED)
    rows = []
    for j, p in enumerate(planes):
        lst = "[" + ",".join(repr(x) for x in p) + "]"
        rows.append(f"({j}, {2**j}, {lst}::DOUBLE[])")
    values = ",\n      ".join(rows)
    flips = ", ".join(
        f"({v})" for v in [0] + [2**j for j in range(_LSH_ANN_NPLANES)]
    )
    return f"""
    WITH pl(j, w, pv) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    buck AS (
      SELECT e.vec_id, e.v,
             CAST(SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
                           THEN pl.w ELSE 0 END) AS BIGINT) AS b
      FROM e CROSS JOIN pl GROUP BY e.vec_id, e.v
    ),
    qb AS (
      SELECT CAST(SUM(CASE WHEN list_dot_product(q.qe, pl.pv) > 0
                           THEN pl.w ELSE 0 END) AS BIGINT) AS b
      FROM q CROSS JOIN pl
    ),
    probes AS (
      SELECT xor(qb.b, CAST(f.f AS BIGINT)) AS b
      FROM qb CROSS JOIN (VALUES {flips}) AS f(f)
    )
    SELECT bk.vec_id,
           CASE WHEN abs(list_dot_product(bk.v, q.qe)
                 / (sqrt(list_dot_product(bk.v, bk.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) < 1000000.0 THEN floor((list_dot_product(bk.v, q.qe)
                 / (sqrt(list_dot_product(bk.v, bk.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(bk.v, q.qe)
                 / (sqrt(list_dot_product(bk.v, bk.v))
                    * sqrt(list_dot_product(q.qe, q.qe)))) END AS cos_sim
    FROM buck bk CROSS JOIN q
    WHERE bk.b IN (SELECT b FROM probes)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@register("q_ann_lsh", _lsh_ann_oracle_sql())
def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH approximate-nearest-neighbor search (north-star
    J3's second scale path, beside IVF q_ann_ivf): vectors sign-bit-
    bucketed against 6 fixed hyperplanes (64 buckets), the query
    probes its bucket plus the 6 Hamming-distance-1 neighbors, and
    brute-force cosine runs only there — ~11% of the corpus scanned.
    Unlike IVF there is no model state at all (no centroids to
    collect/refit); at 100 TB ``lsh_bucket`` is a partition key and
    the probe filter is partition pruning. Query point: vec_id 0's
    own embedding, as in q_ann_ivf."""
    from dex_data_ingestor_spark.operators.vector import (
        hyperplanes,
        lsh_ann_topk,
    )

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    qvec = _query_vec(em)
    planes = hyperplanes(_IVF_DIM, _LSH_ANN_NPLANES, seed=_LSH_ANN_SEED)
    return lsh_ann_topk(
        em, "vec_id", "embedding", planes, qvec, k=10, hamming_probe=1
    )


_PQ_M = 8
_PQ_K = 16
_PQ_SEED = 11


def _pq_base_ctes() -> str:
    """cb (the m*k codebook micro-unit literals), xu (the quantized
    corpus), qu (the quantized query) — the front of the CTE chain
    SHARED verbatim by the q_ann_pq / q_ann_pq_rerank / q_ann_ivfpq
    oracles, defined once so the quantization rule can never drift
    between them."""
    from dex_data_ingestor_spark.operators.vector import pq_codebooks

    cbs = pq_codebooks(_IVF_DIM, _PQ_M, _PQ_K, seed=_PQ_SEED)
    rows = []
    for s, cb in enumerate(cbs):
        for c, cu in enumerate(cb):
            lst = "[" + ",".join(str(u) for u in cu) + "]"
            rows.append(f"({s}, {c}, {lst}::BIGINT[])")
    values = ",\n      ".join(rows)
    return f"""cb(s, c, cu) AS (VALUES
      {values}
    ),
    xu AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT))
               AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qu AS (SELECT v AS qv FROM xu WHERE vec_id = 0)"""


def _pq_fine_ctes(source: str = "xu") -> str:
    """lut (the query's per-(subspace, code) exact squared
    distances), dists/codes (the encode argmin over ``source``, ties
    to the lowest code), adc (the per-vector lookup-table sum) — the
    back of the shared chain. ``source`` is the CTE holding the
    quantized vectors to encode (the full corpus for PQ, the probed
    subset for IVFPQ; any CTEs it needs sit between the base and
    fine fragments)."""
    sub = _IVF_DIM // _PQ_M
    return f"""lut AS (
      SELECT cb.s, cb.c,
             CAST(list_sum(list_transform(range(1, {sub} + 1),
                  i -> (qv[cb.s*{sub}+i] - cb.cu[i])
                       * (qv[cb.s*{sub}+i] - cb.cu[i])))
                  AS BIGINT) AS du
      FROM cb CROSS JOIN qu
    ),
    dists AS (
      SELECT x.vec_id, cb.s, cb.c,
             CAST(list_sum(list_transform(range(1, {sub} + 1),
                  i -> (v[cb.s*{sub}+i] - cb.cu[i])
                       * (v[cb.s*{sub}+i] - cb.cu[i])))
                  AS BIGINT) AS d
      FROM {source} x CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, s, c FROM dists
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, c ASC) = 1
    ),
    adc AS (
      SELECT codes.vec_id,
             CAST(SUM(lut.du) AS BIGINT) AS approx_dist_units
      FROM codes JOIN lut USING (s, c) GROUP BY 1
    )"""


def _pq_oracle_sql(rerank: bool = False) -> str:
    """Oracle for q_ann_pq (and, with ``rerank=True``, for
    q_ann_pq_rerank: ADC shortlist-50 -> exact integer-L2 re-rank
    -> top-10). The codebooks are embedded as integer
    micro-unit literals; data components quantize through the
    pure-IEEE floor(x*1e6 + 0.5) rule (bit-identical in Spark,
    DuckDB, and the driver-side Python quantize_units — a decimal
    cast is NOT portable, the r7 twap lesson); the query LUT derives
    INSIDE the SQL from vec_id 0's quantized embedding. Every
    distance, the encode argmin, and the ADC ranking are exact
    integer arithmetic — this family has NO float-parity caveat,
    unlike the IVF/LSH argmax."""
    if rerank:
        rerank_ctes = f""",
    short AS (
      SELECT vec_id FROM adc
      ORDER BY approx_dist_units ASC, vec_id ASC LIMIT 50
    ),
    exact AS (
      SELECT xu.vec_id,
             CAST(list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                  i -> (xu.v[i] - qu.qv[i]) * (xu.v[i] - qu.qv[i])))
                  AS BIGINT) AS dist_units
      FROM xu JOIN short USING (vec_id) CROSS JOIN qu
    )"""
        final_select = (
            "SELECT vec_id, dist_units FROM exact "
            "ORDER BY dist_units ASC, vec_id ASC LIMIT 10"
        )
    else:
        rerank_ctes = ""
        final_select = (
            "SELECT vec_id, approx_dist_units FROM adc "
            "ORDER BY approx_dist_units ASC, vec_id ASC LIMIT 10"
        )
    return f"""
    WITH {_pq_base_ctes()},
    {_pq_fine_ctes()}{rerank_ctes}
    {final_select}
    """


@register("q_ann_pq", _pq_oracle_sql())
def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN — the COMPRESSION leg of the J3 scale
    story (IVF prunes which vectors to scan, hyperplane LSH prunes
    via buckets, PQ shrinks what each vector COSTS): 64 doubles
    become 8 small code ints (~32x), and query-time distance is 8
    lookup-table reads + an integer sum per row, no vector math — the
    layout behind RAM-bound billion-vector search (Jégou et al.,
    TPAMI 2011). Seeded codebooks (byte-reproducible index, the IVF
    posture), components quantized to exact micro-units so encode
    argmin and ADC ranking are INTEGER arithmetic end-to-end — the
    one ANN family with zero cross-engine float caveat.

    Plan: encode is one narrow pass (no shuffle); the ADC top-k is a
    TakeOrdered over per-row constant-time lookups. At 100 TB the
    codes table (plus an IVF cell key) IS the search tier's working
    set; raw vectors page in only for optional re-ranking."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    qvec = _query_vec(em)
    cbs = pq_codebooks(_IVF_DIM, _PQ_M, _PQ_K, seed=_PQ_SEED)
    encoded = pq_encode(em, "embedding", cbs)
    return pq_adc_topk(encoded, "vec_id", cbs, qvec, k=10)


@register("q_ann_pq_rerank", _pq_oracle_sql(rerank=True))
def q_ann_pq_rerank(spark, sf_dir):
    """The production PQ deployment: ADC shortlist-50 over the
    compressed codes, then exact integer-L2 re-rank of just those 50
    raw vectors -> top-10. At 100 TB the corpus-size-proportional work
    touches ONLY the m-byte codes; the raw-vector page-in is a
    constant 50 rows per query (broadcast-joined back). Both stages
    are micro-unit integer arithmetic, so the composed ranking —
    including every tie-break — is bitwise engine-portable; the lossy
    ADC stage only picks WHICH candidates get the exact metric."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_codebooks,
        pq_rerank_topk,
    )

    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    qvec = _query_vec(em)
    cbs = pq_codebooks(_IVF_DIM, _PQ_M, _PQ_K, seed=_PQ_SEED)
    return pq_rerank_topk(
        em, "vec_id", "embedding", cbs, qvec, k=10, shortlist=50
    )


_IVFPQ_NCELLS = 8
_IVFPQ_NPROBE = 2
_IVFPQ_SEED = 29


def _ivfpq_coarse() -> list[list[int]]:
    """The IVFPQ coarse quantizer: ncells whole-dim centroids in
    exact micro-units (one pq_codebooks call with m=1), so cell
    assignment is the same exact integer L2 argmin as the fine
    encode — zero float caveat anywhere in the composed index."""
    from dex_data_ingestor_spark.operators.vector import pq_codebooks

    return pq_codebooks(
        _IVF_DIM, 1, _IVFPQ_NCELLS, seed=_IVFPQ_SEED
    )[0]


def _ivfpq_oracle_sql() -> str:
    """Oracle for q_ann_ivfpq: the q_ann_pq CTE chain gated by an
    integer-exact coarse stage — assign every vector to its nearest
    whole-dim coarse centroid (ties to the lower cell), pick the
    query's nprobe nearest cells the same way, and run the ADC
    ranking only over vectors in probed cells."""
    coarse = _ivfpq_coarse()
    crows = ",\n      ".join(
        f"({i}, [{','.join(str(u) for u in c)}]::BIGINT[])"
        for i, c in enumerate(coarse)
    )
    return f"""
    WITH coarse(cell, cv) AS (VALUES
      {crows}
    ),
    {_pq_base_ctes()},
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT xu.vec_id, coarse.cell,
               ROW_NUMBER() OVER (PARTITION BY xu.vec_id ORDER BY
                 CAST(list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                      i -> (v[i] - cv[i]) * (v[i] - cv[i])))
                      AS BIGINT) ASC, coarse.cell ASC) AS rn
        FROM xu CROSS JOIN coarse)
      WHERE rn = 1
    ),
    probes AS (
      SELECT coarse.cell
      FROM coarse CROSS JOIN qu
      ORDER BY CAST(list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                 i -> (qv[i] - cv[i]) * (qv[i] - cv[i])))
                 AS BIGINT) ASC, coarse.cell ASC
      LIMIT {_IVFPQ_NPROBE}
    ),
    probed AS (
      SELECT xu.* FROM xu
      JOIN assign USING (vec_id)
      WHERE assign.cell IN (SELECT cell FROM probes)
    ),
    {_pq_fine_ctes(source="probed")}
    SELECT vec_id, approx_dist_units FROM adc
    ORDER BY approx_dist_units ASC, vec_id ASC
    LIMIT 10
    """


@register("q_ann_ivfpq", _ivfpq_oracle_sql())
def q_ann_ivfpq(spark, sf_dir):
    """IVF + PQ composed — the FAISS IVFADC layout (Jégou et al.,
    TPAMI 2011) re-expressed in DataFrame ops: a coarse quantizer
    prunes WHICH vectors get scanned (cell = partition key at scale,
    so probing is partition pruning), PQ codes shrink what each
    scanned vector COSTS (m lookup adds, no vector math). One honest
    divergence from FAISS: codes encode the raw vectors, not the
    cell residuals — residual encoding sharpens recall but the
    search topology is identical. Coarse assignment reuses pq_encode
    with a single whole-dim codebook, so the ENTIRE composed index —
    coarse argmin, fine argmin, probe choice, ADC ranking — is exact
    micro-unit integer arithmetic with zero cross-engine float
    caveat (the IVF/LSH cosine variants rest on score margins; this
    family does not).

    Plan: assignment and encode are one narrow pass (the BLAS encode
    kernel — codes proven equal row-for-row to the expression form,
    which q_ann_pq keeps as the no-Python demonstration; the kernel
    cut this query 3.75 s -> 0.50 s at sf0.1, the coarse whole-dim
    assignment being the dominant cost); the probe filter is a
    literal IN over the cell column (partition pruning on a
    cell-partitioned layout); the ADC top-k is a TakeOrdered over
    the ~nprobe/ncells surviving fraction."""
    from dex_data_ingestor_spark.operators.vector import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode_fast,
        quantize_units,
    )

    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    qvec = _query_vec(em)
    coarse = _ivfpq_coarse()
    # probe selection: exact integer L2 on the driver (model-sized)
    qu = [quantize_units(x) for x in qvec]
    qdist = [
        (sum((a - b) * (a - b) for a, b in zip(qu, c)), cell)
        for cell, c in enumerate(coarse)
    ]
    probes = [cell for _, cell in sorted(qdist)[:_IVFPQ_NPROBE]]
    assigned = pq_encode_fast(
        em, "embedding", [coarse], codes_col="cell_arr"
    )
    probed = assigned.filter(
        F.col("cell_arr")[0].isin(probes)
    ).drop("cell_arr")
    cbs = pq_codebooks(_IVF_DIM, _PQ_M, _PQ_K, seed=_PQ_SEED)
    encoded = pq_encode_fast(probed, "embedding", cbs)
    return pq_adc_topk(encoded, "vec_id", cbs, qvec, k=10)


@register(
    "q_embed_neardup",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0)
    SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CASE WHEN abs(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) < 1000000.0 THEN floor((list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) END AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.25
    """,
)
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (north-star J2), blocked by the
    label column so the self-join is sub-quadratic — at scale the block
    key is an LSH bucket / IVF cell (operators/vector.py)."""
    from dex_data_ingestor_spark.operators.vector import embedding_neardup_pairs

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    return embedding_neardup_pairs(
        em, "vec_id", "embedding", threshold=0.25, block_col="label"
    )


_SEMDEDUP_THRESHOLD = 0.3


def _semdedup_oracle_sql() -> str:
    """Oracle for q_semdedup: the same centroid literals and argmax
    tie rule as q_ann_ivf's assignment (score DESC, cell DESC —
    Spark's greatest(struct) order), then within-cell pairs at
    the shared IEEE round (round_ieee(cos, 9)) >= threshold and the
    min-id survivor anti-join.
    Cross-engine float discipline is inherited wholesale from the
    driver-green q_ann_ivf (argmax margins dwarf list_dot_product
    accumulation noise) and q_embed_neardup (9-dp rounded threshold
    comparison)."""
    import math

    from dex_data_ingestor_spark.operators.vector import seeded_centroids

    cents = seeded_centroids(_IVF_DIM, _IVF_NCELLS, seed=_IVF_SEED)
    rows = []
    for i, c in enumerate(cents):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        lst = "[" + ",".join(repr(x) for x in c) + "]"
        rows.append(f"({i}, {lst}::DOUBLE[], {cn!r})")
    values = ",\n      ".join(rows)
    return f"""
    WITH cent(cell, cv, cn) AS (VALUES
      {values}
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    assign AS (
      SELECT vec_id, v, cell FROM (
        SELECT vec_id, v, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cell DESC) AS rn
        FROM (
          SELECT e.vec_id, e.v, c.cell,
                 list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v)) * c.cn) AS score
          FROM e CROSS JOIN cent c)
      ) WHERE rn = 1
    ),
    losers AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CASE WHEN abs(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v)))) < 1000000.0 THEN floor((list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v)))) END >= {_SEMDEDUP_THRESHOLD}
    )
    SELECT a.vec_id, a.cell
    FROM assign a LEFT JOIN losers l ON a.vec_id = l.b_id
    WHERE l.b_id IS NULL
    """


@register("q_semdedup", _semdedup_oracle_sql())
def q_semdedup(spark, sf_dir):
    """Semantic deduplication (SemDeDup, Abbas et al. 2023 — the
    embedding-space counterpart of MinHash near-dup removal, J2+J3
    composed): assign every embedding to its max-cosine seeded
    centroid (the q_ann_ivf quantizer — narrow pass, broadcast
    plan-time literals), compare ONLY within-cell pairs (the
    clustering is what makes web-scale semantic dedup sub-quadratic),
    drop any vector whose cosine to a lower-id cell-mate reaches the
    threshold, and emit the survivors with their cluster id. Survivor
    rule is min-id — byte-reproducible, matching the LSH curation
    stage. One cell-keyed exchange for the pair stage, one distinct +
    broadcastable anti-join for the losers."""
    from dex_data_ingestor_spark.operators.vector import (
        seeded_centroids,
        semantic_dedup,
    )

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = seeded_centroids(_IVF_DIM, _IVF_NCELLS, seed=_IVF_SEED)
    out = semantic_dedup(
        em, "vec_id", "embedding", cents,
        threshold=_SEMDEDUP_THRESHOLD,
    )
    return out.select("vec_id", "cell")


@register(
    "q_ngram_jaccard",
    f"""
    WITH {_GRAMS_CTE},
    counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT a_id, b_id,
             CASE WHEN abs(CAST(n_inter AS DOUBLE)
                   / (ca.n_grams + cb.n_grams - n_inter)) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE)
                   / (ca.n_grams + cb.n_grams - n_inter)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE)
                   / (ca.n_grams + cb.n_grams - n_inter)) END AS jaccard
      FROM inter
      JOIN counts ca ON ca.doc_id = a_id
      JOIN counts cb ON cb.doc_id = b_id
    ) WHERE jaccard >= 0.5
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (north-star J2); the
    shared-gram equi-join prunes the quadratic pair space."""
    from dex_data_ingestor_spark.operators.neardup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "q_ngram_containment",
    f"""
    WITH {_GRAMS_CTE},
    counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT a_id, b_id,
             CASE WHEN abs(CAST(n_inter AS DOUBLE) / ca.n_grams) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE) / ca.n_grams) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE) / ca.n_grams) END AS containment
      FROM inter JOIN counts ca ON ca.doc_id = a_id
    ) WHERE containment >= 0.5
    """,
)
def q_ngram_containment(spark, sf_dir):
    """Directed n-gram containment pairs — |grams(a) ∩ grams(b)| /
    |grams(a)|, the asymmetric overlap Jaccard cannot see: a short
    document quoted inside a long one scores ~1 here but ~0 Jaccard.
    The quote/excerpt/eval-leak detector of the contamination family
    (operators/neardup.py ngram_containment_pairs); same pruned
    shared-gram join shape as q_ngram_jaccard, integer-ratio scoring,
    one IEEE division rounded to 9 dp."""
    from dex_data_ingestor_spark.operators.neardup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )


from dex_data_ingestor_spark.operators.neardup import (  # noqa: E402
    LSH_MAX_BUCKET as _LSH_MAX_BUCKET,
    MINHASH_PARAMS as _MINHASH_PARAMS,
)

_MINHASH_VALUES = ", ".join(
    f"({k}, {a}, {b})" for k, (a, b) in enumerate(_MINHASH_PARAMS)
)

#: Oracle mirror of neardup.lsh_candidate_pairs INCLUDING the
#: hot-bucket cap: buckets at or under LSH_MAX_BUCKET docs emit all
#: pairs; larger ones emit the SHIFTED SUB-BUCKET TILING — members
#: ranked by doc_id are tiled into LSH_MAX_BUCKET-sized cells twice
#: (grouping 0 cut at rank 0, cap, 2cap, ...; grouping 1 shifted by
#: cap/2), all-pairs within each cell. Without this mirror, any driver
#: corpus with one bucket over the cap would hash-mismatch the
#: pair-emitting queries even though the engine is behaving exactly as
#: designed. Expects a CTE named ``buckets`` with (doc_id, band_id,
#: band_hash); defines ``cand_pairs(a_id, b_id)``.
_CAPPED_PAIRS_CTE = f"""
    sized AS (
      SELECT doc_id, band_id, band_hash,
             count(*) OVER (PARTITION BY band_id, band_hash) AS bn,
             row_number() OVER (PARTITION BY band_id, band_hash
                                ORDER BY doc_id) - 1 AS rk
      FROM buckets
    ),
    hot_cells AS (
      SELECT doc_id, band_id, band_hash, g.g,
             (rk + g.g * {_LSH_MAX_BUCKET // 2}) // {_LSH_MAX_BUCKET} AS cell
      FROM sized CROSS JOIN (VALUES (0), (1)) AS g(g)
      WHERE bn > {_LSH_MAX_BUCKET}
    ),
    cand_pairs AS (
      SELECT DISTINCT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sized a
        JOIN sized b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        WHERE a.bn <= {_LSH_MAX_BUCKET} AND a.doc_id < b.doc_id
        UNION ALL
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM hot_cells a
        JOIN hot_cells b ON a.band_id = b.band_id
                        AND a.band_hash = b.band_hash
                        AND a.g = b.g AND a.cell = b.cell
        WHERE a.doc_id < b.doc_id
      )
    )"""


#: The shared shingle->minhash->band->bucket chain (grams/hashed/
#: params/sigs/bands/buckets CTEs) used by every minhash-family oracle
#: (q_minhash_lsh/q_minhash_pairs/q_neardup_verified/q_neardup_incremental/
#: q_edit_distance) — ONE definition, so a chain change (band width, hash,
#: the whitespace-class fix pattern) can never ship to some copies and
#: not others.
_MINHASH_BUCKETS_CTE = f"""
    {_GRAMS_CTE},
    hashed AS (
      SELECT doc_id, {_MD5_INT.format("gram")} AS gram_hash FROM grams
    ),
    params(k, a, b) AS (VALUES {_MINHASH_VALUES}),
    sigs AS (
      SELECT doc_id, k,
             min((a * gram_hash + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN params GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, CAST(floor(k / 4) AS INTEGER) AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k)
               AS band_sig
      FROM sigs GROUP BY 1, 2
    ),
    buckets AS (
      SELECT doc_id, band_id, {_MD5_INT.format("band_sig")} AS band_hash
      FROM bands
    )"""


@register(
    "q_minhash_lsh",
    f"""
    WITH {_MINHASH_BUCKETS_CTE}
    SELECT doc_id, band_id, band_hash FROM buckets
    """,
)
def q_minhash_lsh(spark, sf_dir):
    """MinHash signature + LSH banding (north-star J2): word-3-gram
    shingles -> 8 universal-hash minima -> 2 banded bucket keys. The
    full shingle->minhash->band->bucket pipeline, oracle-checked."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        minhash_signatures_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    wide = minhash_signatures_wide(docs, "doc_id", "text", shingle_n=3)
    return lsh_band_buckets_wide(wide, "doc_id", rows_per_band=4)


@register(
    "q_minhash_pairs",
    f"""
    WITH {_MINHASH_BUCKETS_CTE},
    {_CAPPED_PAIRS_CTE}
    SELECT a_id, b_id FROM cand_pairs
    """,
)
def q_minhash_pairs(spark, sf_dir):
    """LSH candidate near-dup pairs: documents sharing any minhash
    band bucket — the sub-quadratic candidate generation that replaces
    all-pairs comparison at 100 TB."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    wide = minhash_signatures_wide(docs, "doc_id", "text", shingle_n=3)
    buckets = lsh_band_buckets_wide(wide, "doc_id", rows_per_band=4)
    pairs = lsh_candidate_pairs(buckets, "doc_id")
    return pairs.select(F.col("a_id"), F.col("b_id"))


@register(
    "q_charngram_lsh",
    f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '[ \\t\\n\\f\\r]+', ' ', 'g') AS tx
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, substring(tx, CAST(i AS INTEGER), 5) AS gram
      FROM t, unnest(range(1, len(tx) - 3)) AS u(i)
      WHERE len(tx) >= 5
    ),
    hashed AS (
      SELECT doc_id, {_MD5_INT.format("gram")} AS gram_hash FROM grams
    ),
    params(k, a, b) AS (VALUES {_MINHASH_VALUES}),
    sigs AS (
      SELECT doc_id, k,
             min((a * gram_hash + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN params GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, CAST(floor(k / 4) AS INTEGER) AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k)
               AS band_sig
      FROM sigs GROUP BY 1, 2
    )
    SELECT doc_id, band_id, {_MD5_INT.format("band_sig")} AS band_hash
    FROM bands
    """,
)
def q_charngram_lsh(spark, sf_dir):
    """MinHash + LSH banding over CHARACTER 5-gram shingles — the
    shingle flavor for whitespace-poor text (CJK, code, URLs) where
    word n-grams are too coarse (operators/neardup.py
    char_minhash_signatures_wide). Same downstream banding contract as
    q_minhash_lsh, so the whole candidate/verify/cluster pipeline runs
    unchanged on either shingle flavor. The signature stage is the
    zero-shuffle HOF form with NO array_distinct (min over the gram
    multiset == min over its set; the exploded distinct form paid
    O(len^2) per doc — 33.5 s -> 3.3 s at sf0.1); the shuffled
    artifact is only (id, band, hash)."""
    from dex_data_ingestor_spark.operators.neardup import (
        char_minhash_signatures_wide,
        lsh_band_buckets_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = char_minhash_signatures_wide(docs, "doc_id", "text", k=5)
    return lsh_band_buckets_wide(sigs, "doc_id", rows_per_band=4)


@register(
    "q_simhash",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS th
      FROM toks
    ),
    bits AS (
      SELECT doc_id, j,
             CASE WHEN SUM(CASE WHEN (th >> j) & 1 = 1
                               THEN 1 ELSE -1 END) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash
    FROM bits GROUP BY 1
    """,
)
def q_simhash(spark, sf_dir):
    """32-bit SimHash per document (north-star J2): sign-aggregated
    token-hash bits -> one integer key; near-dups land on close keys."""
    from dex_data_ingestor_spark.operators.neardup import simhash

    return simhash(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=32
    )


@register(
    "q_multimodal_join",
    """
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           CAST(len(e.embedding) AS INTEGER) AS emb_dim,
           CASE WHEN abs(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])))) < 1000000.0 THEN floor((sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])))) END
             AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_join(spark, sf_dir):
    """Multimodal record assembly (north-star J5): text metadata joined
    with its embedding; scalar summaries (dim, L2 norm) keep the output
    hashable. Binary payload plumbing lives in operators/multimodal.py
    (mapInPandas feature extraction, tested in pytest)."""
    from dex_data_ingestor_spark.operators.vector import dot

    docs = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return docs.join(em, docs.doc_id == em.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size("embedding").alias("emb_dim"),
        round_ieee(F.sqrt(dot(v, v)), 9).alias("emb_norm"),
    )


@register(
    "q_similarity_topk",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS other_id,
             CASE WHEN abs(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) < 1000000.0 THEN floor((list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) END AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, other_id, cos_sim FROM pairs
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos_sim DESC, other_id) = 1
    """,
)
def q_similarity_topk(spark, sf_dir):
    """Per-item nearest neighbor (SURVEY §2.1-J2 q_similarity_topk):
    for every vector, its most-similar other vector within the label
    block — the all-pairs similarity join + per-key top-1 rank pattern.
    At 100 TB the label block becomes an LSH/IVF bucket; the rank
    window shuffles once on vec_id."""
    from pyspark.sql import Window

    from dex_data_ingestor_spark.operators.vector import dot, norm

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # precompute per-row norms before the quadratic stage (HOF folds are
    # interpreted; 1 dot per pair instead of 3, bit-identical arithmetic)
    em = em.withColumn("n", norm(F.col("v")))
    a = em.select("vec_id", "label", F.col("v").alias("av"), F.col("n").alias("an"))
    b = em.select(
        F.col("vec_id").alias("other_id"),
        F.col("label"),
        F.col("v").alias("bv"),
        F.col("n").alias("bn"),
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("other_id"))
        .select(
            "vec_id",
            "other_id",
            round_ieee(
                dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")), 9
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("other_id")
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# =========================================================================
# Spark-native relational breadth beyond the reference (SURVEY §2.1-C
# note: the reference has only equi/as-of joins; these cover the join
# types, window aggregates, multi-level groupings, pivots and set ops a
# reference user gains by switching).
# =========================================================================


@register(
    "q_semi_join",
    """
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE) > DATE '1998-01-01'
    )
    """,
)
def q_semi_join(spark, sf_dir):
    """Left-semi join: orders with at least one recent lineitem —
    EXISTS pushed as a semi join (no duplication, no payload columns
    from the probe side)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-01-01")
    )
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "q_anti_join",
    """
    SELECT c_custkey, c_nationkey FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM nation n
      WHERE n.n_nationkey = c.c_nationkey AND n.n_nationkey < 20
    )
    """,
)
def q_anti_join(spark, sf_dir):
    """Left-anti join: rows whose dimension key is missing — the
    explicit form of the reference's skip-on-missing-dim logging
    (reference: Bifrost.py:83-84; SURVEY §2.1-C1 note). The dim is
    restricted to keys < 20 so the anti side is non-empty."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_nationkey") < 20
    )
    return cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
        "left_anti",
    ).select("c_custkey", "c_nationkey")


@register(
    "q_window_running",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS BIGINT)
             AS event_seq
    FROM events
    """,
)
def q_window_running(spark, sf_dir):
    """Per-key running aggregate + sequence number (cumulative window
    frame) — decimal-exact running sum cast to double."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
        F.row_number().over(wo).cast("bigint").alias("event_seq"),
    )


@register(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """Hierarchical subtotals (ROLLUP): per (flag,status), per flag,
    and grand total — NULL marks rolled-up levels in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """All grouping-set combinations (CUBE) over two dimensions."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty")
    )


@register(
    "q_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot (long -> wide): per-user counts by event type. Explicit
    pivot values keep the plan single-pass (no value-discovery scan)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    # pivot yields nulls for absent combinations; the oracle's FILTER
    # counts yield 0 — align on 0.
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("click", "error", "purchase", "signup", "view")
        ],
    )


@register(
    "q_setops",
    """
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-10 00:00:00'
    ), w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-25 00:00:00'
    )
    SELECT user_id, 'both' AS membership
    FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)
    UNION ALL
    SELECT user_id, 'early_only' AS membership
    FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
    """,
)
def q_setops(spark, sf_dir):
    """Set operators (INTERSECT / EXCEPT / UNION ALL): cohort overlap
    between an early and a late activity window."""
    ev = load_table(spark, sf_dir, "events")
    w1 = ev.filter(F.col("ts") <= F.lit("2024-01-10 00:00:00")).select(
        "user_id"
    ).distinct()
    w2 = ev.filter(F.col("ts") > F.lit("2024-01-25 00:00:00")).select(
        "user_id"
    ).distinct()
    both = w1.intersect(w2).select(
        "user_id", F.lit("both").alias("membership")
    )
    early = w1.exceptAll(w2).select(
        "user_id", F.lit("early_only").alias("membership")
    )
    return both.unionByName(early)


@register(
    "q_asof_lookup",
    """
    WITH p AS (
      SELECT user_id AS p_user, p_ts, value FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL)
      WHERE rn = 1
    )
    SELECT v.event_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS ts,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN p
      ON v.user_id = p.p_user AND p.p_ts <= CAST(v.ts AS TIMESTAMP)
    """,
)
def q_asof_lookup(spark, sf_dir):
    """General as-of join (value at-or-before each probe): for every
    view event, the user's latest purchase value at that moment —
    checked against DuckDB's native ASOF JOIN. The engine form
    (operators/asof.py asof_lookup) is a union + last-value range
    window: one shuffle on the key, no range-join explosion. Quotes
    are deduplicated per (user, ts) by max event_id — the
    q_asof_tolerance convention — because neither the last-value
    window (ordered by ts only) nor DuckDB's ASOF JOIN defines which
    of two same-timestamp purchases wins; without the dedup a tie is
    a latent nondeterministic hash mismatch."""
    from dex_data_ingestor_spark.operators.asof import (
        asof_lookup,
        latest_per_key,
    )

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    quotes = latest_per_key(
        # a NULL-valued purchase is not a quote (the OHLC "a NULL
        # price is not a tick" rule) — filtered on BOTH sides: the
        # engine's last-non-null carry would skip it while DuckDB's
        # native ASOF would return it, and a NULL-valued row could
        # also win the (user, ts) tie dedup and shadow a real value
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        ).select("user_id", "ts", "event_id", "value"),
        keys=["user_id", "ts"],
        ts_col="event_id",
    ).drop("event_id")
    out = asof_lookup(
        probes,
        quotes,
        keys=["user_id"],
        probe_ts="ts",
        quote_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("last_purchase_value"),
    )


#: One SQL text, two engines: the engine's spark.sql surface runs the
#: identical ANSI statement the oracle runs (dialect-shared subset).
_SQL_INTERFACE = """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE CAST(l_shipdate AS DATE) > DATE '1997-01-01'
    GROUP BY o_orderpriority
"""


@register("q_sql_interface", _SQL_INTERFACE)
def q_sql_interface(spark, sf_dir):
    """The engine's SQL surface: the exact oracle SQL text executed via
    spark.sql over registered views (io.register_views) — DataFrame and
    SQL APIs are the same Catalyst plan underneath."""
    from dex_data_ingestor_spark.io import register_views

    register_views(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_SQL_INTERFACE)


# =========================================================================
# Sketches & distribution analytics (north-star "novel sketch" class —
# deterministic, therefore oracle-checkable, unlike HLL/t-digest).
# =========================================================================


@register(
    "q_kmv_distinct",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM events
      WHERE user_id IS NOT NULL
    ), ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ), agg AS (
      SELECT event_type,
             MAX(CASE WHEN rn = 64 THEN h END) AS kth_min_hash,
             COUNT(*) AS n
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, kth_min_hash,
           CASE WHEN abs(CASE WHEN kth_min_hash IS NOT NULL
                      THEN (63.0 * 4294967296.0) / CAST(kth_min_hash AS DOUBLE)
                      ELSE CAST(n AS DOUBLE) END) < 1000000000.0 THEN floor((CASE WHEN kth_min_hash IS NOT NULL
                      THEN (63.0 * 4294967296.0) / CAST(kth_min_hash AS DOUBLE)
                      ELSE CAST(n AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0 ELSE (CASE WHEN kth_min_hash IS NOT NULL
                      THEN (63.0 * 4294967296.0) / CAST(kth_min_hash AS DOUBLE)
                      ELSE CAST(n AS DOUBLE) END) END AS est_distinct
    FROM agg
    """,
)
def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-user sketch per event type (operators/sketch.py):
    a deterministic mergeable alternative to HLL whose estimate is
    bit-reproducible across engines — exact below k=64."""
    from dex_data_ingestor_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_key", F.col("user_id").cast("string")
    )
    return kmv_distinct(ev, "user_key", k=64, group_by=["event_type"])


#: q_quantiles percentiles as exact rationals k/100.
_QUANTILE_PCTS = [(50, "p50"), (90, "p90"), (99, "p99")]


def _quantile_agg_pairs(engine: str) -> list[tuple[str, str]]:
    """Per-percentile order-statistic picks as (expr, alias) tuples
    over the ranked rows (columns u, rn, n): the two bracketing sorted
    values at 0-based rank lo = (k*(n-1)) div 100 and lo+1. One text
    for both engines (only the integer-division spelling differs).
    Tuples, not 'expr AS alias' strings: the Spark side aliases
    structurally, so an aggregate containing CAST(... AS ...) can
    never be mis-split on the wrong ' AS ' (review finding r9)."""
    dv = "div" if engine == "spark" else "//"
    out = [("MAX(n)", "n")]
    for k, _ in _QUANTILE_PCTS:
        lo = f"(({k} * (n - 1)) {dv} 100)"
        out.append((f"SUM(CASE WHEN rn = {lo} THEN u END)", f"lo{k}"))
        out.append(
            (
                f"COALESCE(SUM(CASE WHEN rn = {lo} + 1 THEN u END), 0)",
                f"hi{k}",
            )
        )
    return out


def _quantile_agg_exprs(engine: str) -> list[str]:
    """The DuckDB-rendered string form of :func:`_quantile_agg_pairs`."""
    return [f"{e} AS {a}" for e, a in _quantile_agg_pairs(engine)]


def _quantile_out_exprs(engine: str) -> list[str]:
    """Exact-rational linear interpolation over the picked order
    statistics: p_k = (u_lo*(100-rem) + u_hi*rem) / 100 / 1e6 with
    rem = (k*(n-1)) mod 100 — all-integer, converted through
    _det_to_double (NOT a bare double cast: |total| = 100*|u| passes
    2^53 once |value| > ~9e7, where DuckDB's HUGEINT->DOUBLE cast is
    not correctly rounded — the review-found gap the fixture guard's
    4e9 magnitude bound would not catch), then one IEEE division;
    identical text both engines."""
    out = []
    for k, alias in _QUANTILE_PCTS:
        rem = f"(({k} * (n - 1)) % 100)"
        total = f"(lo{k} * (100 - {rem}) + hi{k} * {rem})"
        out.append(
            f"{_rieee(f'{_det_to_double(total, engine)} / 1e8', 9)}"
            f" AS {alias}"
        )
    return out


@register(
    "q_quantiles",
    f"""
    WITH uu AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      FROM events WHERE value IS NOT NULL
    ),
    rk AS (
      SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u)
               - 1 AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM uu
    ),
    ag AS (
      SELECT event_type, {", ".join(_quantile_agg_exprs("duck"))}
      FROM rk GROUP BY 1
    )
    SELECT event_type, {", ".join(_quantile_out_exprs("duck"))}
    FROM ag
    """,
)
def q_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per group — from EXACT order
    statistics, not the engines' native percentile()/quantile_cont():
    their interpolation formulas (lo + (hi-lo)*f vs lo*(1-f) + hi*f)
    round differently in floating point, the last '~ULP close'
    cross-engine seam of the stats family. Here values quantize to
    micro-units, a per-group rank pass picks the two bracketing sorted
    values at 0-based rank (k*(n-1)) div 100, and the linear
    interpolation runs in exact integer arithmetic until one exact
    double cast + one IEEE division — deterministic by construction.
    Plan: the rank window and the aggregate share the event_type
    partitioning (one exchange); the sort is the same per-group sort
    native exact percentile needs anyway — the production path at
    100 TB is approx_percentile/t-digest (q_approx_quantiles), which
    is not cross-engine-checkable. Semantics note vs the old native
    form: a group whose every value is NULL no longer emits a
    NULL-quantile row — the non-NULL filter removes it before
    grouping (both sides, deliberately)."""
    ev = load_table(spark, sf_dir, "events")
    uu = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("u"),
    )
    rk = uu.selectExpr(
        "event_type",
        "u",
        "row_number() OVER (PARTITION BY event_type ORDER BY u) - 1"
        " AS rn",
        "count(*) OVER (PARTITION BY event_type) AS n",
    )
    ag = rk.groupBy("event_type").agg(
        *[
            F.expr(e).alias(a)
            for e, a in _quantile_agg_pairs("spark")
        ]
    )
    return ag.selectExpr("event_type", *_quantile_out_exprs("spark"))


@register(
    "q_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bucket_sum
    FROM events GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram of the value distribution (bucket = 50)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("value"), "bucket_sum"),
    )


@register(
    "q_corpus_curation",
    f"""
    WITH stats AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS n_words,
             length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\f\\r]', '', 'g'))
               AS n_punct,
             length(text) AS n_chars_calc,
             len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
                 w -> w IN ('the','a','an','of','and','to','in','is')))
               AS n_stop,
             sha256(text) AS sha
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, n_words, sha,
             CASE WHEN abs(LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) < 1000000.0 THEN floor((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) END AS quality_score
      FROM stats
    ), gated AS (
      SELECT * FROM scored
      WHERE lang = 'en' AND quality_score >= 0.3 AND n_words >= 5
    ), exact_kept AS (
      SELECT doc_id, n_words, quality_score FROM gated
      QUALIFY ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id) = 1
    ), {_GRAMS_CTE.replace("FROM documents", "FROM documents WHERE doc_id IN (SELECT doc_id FROM exact_kept)")},
    hashed AS (
      SELECT doc_id, {_MD5_INT.format("gram")} AS gram_hash FROM grams
    ),
    params(k, a, b) AS (VALUES {_MINHASH_VALUES}),
    sigs AS (
      SELECT doc_id, k, min((a * gram_hash + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN params GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, CAST(floor(k / 4) AS INTEGER) AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS band_sig
      FROM sigs GROUP BY 1, 2
    ),
    buckets AS (
      SELECT doc_id, band_id, {_MD5_INT.format("band_sig")} AS band_hash
      FROM bands
    ),
    losers AS (
      SELECT DISTINCT b.doc_id FROM buckets a
      JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_id, n_words, quality_score FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def q_corpus_curation(spark, sf_dir):
    """The END-TO-END training-corpus curation pipeline, oracle-checked
    as one statement: language filter -> quality gate -> exact dedup
    (sha, lowest id wins) -> MinHash-LSH near-dup removal
    (operators/corpus.py curate_documents). The survivor set is
    deterministic and byte-reproducible — auditable training data."""
    from dex_data_ingestor_spark.operators.corpus import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    out = curate_documents(
        docs,
        allowed_langs=("en",),
        min_quality=0.3,
        min_words=5,
        near_dup=True,
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "quality_score",
    )


@register("q_approx_distinct")  # rows-only: HLL++ estimates are
# implementation-specific, so no cross-engine oracle exists by design —
# the deterministic KMV sketch (q_kmv_distinct) is the oracle-checked
# counterpart of this production path.
def q_approx_distinct(spark, sf_dir):
    """Production approximate distinct count: Spark's HLL++
    (approx_count_distinct, rsd=0.01) per event type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@register(
    "q_range_join",
    """
    WITH bands AS (
      SELECT r_regionkey AS band_id,
             r_regionkey * 100.0 AS lo,
             r_regionkey * 100.0 + 100.0 AS hi
      FROM region
    )
    SELECT e.event_id, b.band_id, e.value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    """,
)
def q_range_join(spark, sf_dir):
    """Interval/range join: events banded by value range. The band side
    broadcasts (tiny) so Spark plans a broadcast nested-loop join —
    right for dim-sized interval tables. For big-big range joins the
    engine strategy is bucketize-both-sides (add an equi bucket key =
    floor(value/width), join on bucket + residual range predicate),
    which turns the theta join into an equi join + narrow filter."""
    ev = load_table(spark, sf_dir, "events")
    bands = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 100.0).alias("lo"),
        (F.col("r_regionkey") * 100.0 + 100.0).alias("hi"),
    )
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .select("event_id", "band_id", "value")
    )


@register(
    "q_time_rollup",
    """
    SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE)
             AS month,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (month, day, hour)
    """,
)
def q_time_rollup(spark, sf_dir):
    """Hypertable-style hierarchical time rollup: month -> day -> hour
    continuous-aggregate levels in ONE pass via ROLLUP grouping sets
    (each level is a materializable continuous aggregate; at 100 TB the
    month/day levels are tiny and the hour level partitions by day)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hour"),
            "value",
        )
        .rollup("month", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
    )


def _stats_agg_outputs(engine: str) -> list[str]:
    """The four q_stats_agg output expressions (``expr AS alias``) over
    the exact moment columns (nv su ssu np psu psy pssu pssy psxy) —
    ONE text for both engines (only _det_to_double's div/HUGEINT
    spelling differs), so the sides cannot drift. See q_stats_agg for
    the moment contract."""
    det = lambda e: _det_to_double(e, engine)  # noqa: E731
    m_v = "(nv * ssu - su * su)"
    m_pv = "(np * pssu - psu * psu)"
    m_pu = "(np * pssy - psy * psy)"
    c_n = "(np * psxy - psu * psy)"
    var = f"{det(m_v)} / CAST(nv * (nv - 1) AS DOUBLE) / 1e12"
    covar = f"{det(c_n)} / CAST(np * (np - 1) AS DOUBLE) / 1e6"
    corr = f"{det(c_n)} / (sqrt({det(m_pv)}) * sqrt({det(m_pu)}))"
    out = [
        (f"CASE WHEN nv > 1 THEN sqrt({var}) END", "sd_value"),
        (f"CASE WHEN nv > 1 THEN {var} END", "var_value"),
        (
            f"CASE WHEN np > 1 AND {m_pv} > 0 AND {m_pu} > 0 "
            f"THEN {corr} END",
            "corr_value_user",
        ),
        (f"CASE WHEN np > 1 THEN {covar} END", "covar_value_user"),
    ]
    return [f"{_rieee(e, 9)} AS {alias}" for e, alias in out]


@register(
    "q_stats_agg",
    f"""
    WITH uu AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u,
             CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                  THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
             END AS pu,
             CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                  THEN user_id END AS py
      FROM events
    ),
    mm AS (
      SELECT event_type,
             COUNT(u) AS nv,
             SUM(CAST(u AS HUGEINT)) AS su,
             SUM(CAST(u AS HUGEINT) * u) AS ssu,
             COUNT(pu) AS np,
             SUM(CAST(pu AS HUGEINT)) AS psu,
             SUM(CAST(py AS HUGEINT)) AS psy,
             SUM(CAST(pu AS HUGEINT) * pu) AS pssu,
             SUM(CAST(py AS HUGEINT) * py) AS pssy,
             SUM(CAST(pu AS HUGEINT) * py) AS psxy
      FROM uu GROUP BY 1
    )
    SELECT event_type,
           {", ".join(_stats_agg_outputs("duck"))}
    FROM mm
    """,
)
def q_stats_agg(spark, sf_dir):
    """Statistical aggregates (stddev/variance/correlation/covariance)
    per group from EXACT integer moments — never the engines' native
    streaming-moment aggregates, whose partial-merge ORDER (a function
    of partitioning!) perturbs low bits: deterministic on a fixed rig,
    nondeterministic across layouts, and cross-engine only '~ULP
    close'. Here values quantize to micro-units by the pure-IEEE floor
    rule, all moments (sum, sum-of-squares, cross) are exact int64/
    int128 sums (order-free => partition-layout-invariant), and the
    variance/covariance/correlation algebra runs on deterministically
    converted doubles (_det_to_double) in an identical IEEE op
    sequence both sides. Native-aggregate NULL semantics preserved:
    var/sd over non-NULL values, covar/corr over pairwise-complete
    rows, NULL below 2 observations; zero-variance corr is NULL (not
    Spark's native NaN). Domain: |value|*1e6 * rows-per-group < 3e18
    keeps every moment inside DECIMAL(38)/HUGEINT (ANSI overflows
    loudly past it); at larger groups re-anchor on a first-pass
    integer mean before the second moment."""
    ev = load_table(spark, sf_dir, "events")
    u = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
    ud = u.cast("decimal(38,0)")
    pair = F.col("value").isNotNull() & F.col("user_id").isNotNull()
    pud = F.when(pair, ud)
    pyd = F.when(pair, F.col("user_id").cast("decimal(38,0)"))
    m = ev.groupBy("event_type").agg(
        F.count(ud).alias("nv"),
        F.sum(ud).alias("su"),
        F.sum(ud * ud).alias("ssu"),
        F.count(pud).alias("np"),
        F.sum(pud).alias("psu"),
        F.sum(pyd).alias("psy"),
        F.sum(pud * pud).alias("pssu"),
        F.sum(pyd * pyd).alias("pssy"),
        F.sum(pud * pyd).alias("psxy"),
    )
    return m.selectExpr("event_type", *_stats_agg_outputs("spark"))


@register(
    "q_string_agg",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
             AS types_seen
    FROM events GROUP BY user_id
    """,
)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation: each user's distinct event types as
    one sorted CSV — deterministic because the order is pinned."""
    ev = load_table(spark, sf_dir, "events")
    # a key whose every event_type is NULL has an EMPTY collect_set;
    # standard SQL string_agg (the oracle) yields NULL there, while
    # array_join would yield '' - match the SQL semantics
    joined = F.array_join(F.array_sort(F.collect_set("event_type")), ",")
    return ev.groupBy("user_id").agg(
        F.when(F.size(F.collect_set("event_type")) > 0, joined).alias(
            "types_seen"
        )
    )


@register(
    "q_json_extract",
    """
    WITH parsed AS (
      SELECT event_id, event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    SELECT CAST(floor(k / 10.0) AS INTEGER) AS k_bucket,
           COUNT(*) AS n,
           CAST(MIN(k) AS INTEGER) AS k_min,
           CAST(MAX(k) AS INTEGER) AS k_max
    FROM parsed GROUP BY 1
    """,
)
def q_json_extract(spark, sf_dir):
    """Semi-structured JSON column analytics: extract ``$.k`` from the
    props payload (get_json_object, JVM-side JSON path) and aggregate
    by decile bucket — the schema-on-read pattern for event payloads."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    return parsed.groupBy(
        F.floor(F.col("k") / 10.0).cast("int").alias("k_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").cast("int").alias("k_min"),
        F.max("k").cast("int").alias("k_max"),
    )


# =========================================================================
# Dedup clustering + corpus salience (north-star J2/J4 extensions)
# =========================================================================


@register(
    "q_dup_clusters",
    f"""
    WITH RECURSIVE {_GRAMS_CTE},
    counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM inter
      JOIN counts ca ON ca.doc_id = a_id
      JOIN counts cb ON cb.doc_id = b_id
      WHERE CASE WHEN abs(CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) END >= 0.5
    ),
    sym AS (SELECT a_id AS a, b_id AS b FROM pairs
            UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    )
    SELECT src AS doc_id, MIN(dst) AS component_id
    FROM reach GROUP BY src
    """,
)
def q_dup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: word-3-gram Jaccard pairs at
    0.5 collapsed to connected components (min-id labels) — the step
    that turns pairwise near-dup hits into survivor sets. Spark side is
    iterative min-label propagation (operators/graph.py, one shuffle
    pair per round, diameter-bounded); the oracle is the equivalent
    recursive-CTE transitive closure."""
    from dex_data_ingestor_spark.operators.graph import connected_components
    from dex_data_ingestor_spark.operators.neardup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs, src="a_id", dst="b_id")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
    )


def _cluster_split_oracle_sql() -> str:
    """Oracle for q_cluster_split: the q_dup_clusters transitive
    closure verbatim as a CTE, every document joined to its cluster
    representative (itself when unpaired), split bucket = md5 of the
    REPRESENTATIVE's text — so cluster members provably share it."""
    return f"""
    WITH comp AS ({ORACLE_SQL["q_dup_clusters"]}),
    rep AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    b AS (
      SELECT r.doc_id, r.rep_id,
             {_MD5_INT.format('rd.text')} % 100 AS bucket
      FROM rep r JOIN documents rd ON rd.doc_id = r.rep_id
    )
    SELECT doc_id, rep_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """


@register("q_cluster_split", _cluster_split_oracle_sql())
def q_cluster_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/corpus.py
    leakage_safe_split): q_hash_split's reproducible content-hash
    assignment, lifted from documents to NEAR-DUP CLUSTERS — two
    near-identical docs split independently leak train content into
    eval ~2·p·(1-p) of the time; here the whole Jaccard-connected
    component rides the hash of its min-id representative's text, so
    near-dups (and any re-ingested near-copy that joins the cluster)
    land in one split BY CONSTRUCTION. Plan = the q_dup_clusters
    stages + one keyed join to the representative text + a narrow
    hash."""
    from dex_data_ingestor_spark.operators.corpus import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "q_tfidf",
    r"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, score FROM (
      SELECT doc_id, term,
             CAST(tf AS DOUBLE) * n / df AS score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(tf AS DOUBLE) * n / df DESC, term) AS rn
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def q_tfidf(spark, sf_dir):
    """Per-document top-3 salient terms by tf-idf with a RATIONAL idf
    (tf * N / df, no log): every input is an exact integer so the one
    double division is bit-stable cross-engine — libm log is not (see
    module determinism rules). Document frequency is a COUNT window over
    the tf result, not a second aggregate off the raw corpus — Catalyst
    has no cross-aggregate CSE, so the join form tokenizes and explodes
    the whole corpus twice; the window form scans it once. Three
    shuffles — (doc, term) counts, term window, per-doc rank (partial
    top-3 pre-shuffle via WindowGroupLimit) — plus a broadcast of the
    1-row corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), WS)).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", F.col("tf").cast("double") * F.col("n") / F.col("df")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score")
    )


@register(
    "q_neardup_incremental",
    f"""
    WITH {_MINHASH_BUCKETS_CTE}
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS indexed_id
    FROM buckets n
    JOIN buckets o ON n.band_id = o.band_id AND n.band_hash = o.band_hash
    WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
    """,
)
def q_neardup_incremental(spark, sf_dir):
    """Incremental near-dup: probe a NEW batch (doc_id % 5 == 0 stands
    in for 'this hour's documents') against the LSH band-bucket INDEX
    of the already-accepted corpus — candidate pairs without ever
    self-joining the corpus (operators/neardup.py
    lsh_match_against_index). The per-batch cost the hourly pipeline
    actually pays at 100 TB."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_match_against_index,
        minhash_signatures_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    accepted = docs.filter(F.col("doc_id") % 5 != 0)
    index = lsh_band_buckets_wide(
        minhash_signatures_wide(accepted, "doc_id", "text", shingle_n=3),
        "doc_id", rows_per_band=4,
    )
    probe = lsh_band_buckets_wide(
        minhash_signatures_wide(new, "doc_id", "text", shingle_n=3),
        "doc_id", rows_per_band=4,
    )
    return lsh_match_against_index(probe, index, "doc_id")


_PROFILE_COLS = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,6))"),
)

_PROFILE_AGGS = ", ".join(
    f"COUNT({expr}) AS nn_{name}, COUNT(DISTINCT {expr}) AS nd_{name}, "
    f"CAST(MIN({expr}) AS VARCHAR) AS mn_{name}, "
    f"CAST(MAX({expr}) AS VARCHAR) AS mx_{name}"
    for name, expr in _PROFILE_COLS
)

_PROFILE_UNION = " UNION ALL ".join(
    f"SELECT '{name}' AS col_name, n AS n_rows, nn_{name} AS n_nonnull, "
    f"nd_{name} AS n_distinct, mn_{name} AS min_value, mx_{name} AS max_value "
    f"FROM a"
    for name, _ in _PROFILE_COLS
)


@register(
    "q_profile",
    f"WITH a AS (SELECT COUNT(*) AS n, {_PROFILE_AGGS} FROM orders) "
    f"{_PROFILE_UNION}",
)
def q_profile(spark, sf_dir):
    """ANALYZE-style one-pass column profile of orders (null counts,
    exact distincts, native-typed min/max rendered as strings) — the
    profiling primitive behind data-quality monitoring and optimizer
    statistics. Exact distincts cost one Expand pass (oracle-checkable);
    operators/quality.py profile_columns(approx_distinct=True) is the
    HLL++ 100 TB form of the same plan."""
    from dex_data_ingestor_spark.operators.quality import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            ("o_orderdate", F.col("o_orderdate").cast("date")),
            ("o_totalprice", F.col("o_totalprice").cast("decimal(18,6)")),
        ],
    )


_CMS_HASH = "('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || item), 1, 8))::BIGINT % 64"


@register(
    "q_cms_topk",
    f"""
    WITH src AS (SELECT event_type AS item FROM events
                 WHERE event_type IS NOT NULL),
    e AS (SELECT item, i
          FROM src CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
    cms AS (SELECT i, {_CMS_HASH} AS bucket, COUNT(*) AS cnt
            FROM e GROUP BY 1, 2),
    items AS (SELECT DISTINCT item FROM src),
    probes AS (SELECT item, i, {_CMS_HASH} AS bucket
               FROM items CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
    est AS (SELECT item, MIN(cnt) AS est
            FROM probes JOIN cms USING (i, bucket) GROUP BY 1)
    SELECT item, est FROM est ORDER BY est DESC, item LIMIT 5
    """,
)
def q_cms_topk(spark, sf_dir):
    """Heavy hitters via a count-min sketch (depth 4 × width 64,
    salted md5 rows — deterministic, engine-portable): estimate every
    observed event type's frequency from the fixed-size cell table and
    rank the top 5. The sketch is 256 cells whatever the stream
    cardinality and merges by cellwise addition — the frequency
    structure a 100 TB pipeline keeps per partition/day instead of an
    exact item groupBy."""
    from dex_data_ingestor_spark.operators.sketch import (
        countmin_estimates,
        countmin_table,
    )

    ev = load_table(spark, sf_dir, "events")
    cms = countmin_table(ev, "event_type", depth=4, width=64)
    items = (
        ev.filter(F.col("event_type").isNotNull())
        .select(F.col("event_type").alias("item"))
        .distinct()
    )
    est = countmin_estimates(cms, items, "item", depth=4, width=64)
    return est.orderBy(F.col("est").desc(), "item").limit(5)


@register(
    "q_shipping_priority",
    """
    SELECT l.l_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1997-01-01'
    GROUP BY 1, 2
    ORDER BY revenue DESC, orderkey LIMIT 10
    """,
)
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): selective dim filter
    broadcast into a fact-fact join, decimal-exact revenue rollup,
    TakeOrderedAndProject top-10 (no global sort). The classic
    3-table analytics plan the reference's row-at-a-time loops cannot
    express."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1997-01-01")
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


@register(
    "q_salted_join",
    """
    SELECT s.s_suppkey, s.s_name,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
)
def q_salted_join(spark, sf_dir):
    """Salted skew join proven semantics-identical to the plain join:
    the big side scatters each key over 8 salt buckets and the small
    side is replicated 8-fold, so one pathological hot key fans out
    over 8 reducers instead of melting one (operators/skew.py). The
    oracle is the UNSALTED join — same rows, different physical
    distribution, which is the whole point."""
    from dex_data_ingestor_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    j = salted_join(li, sup, ["s_suppkey"], salt_buckets=8)
    return j.groupBy("s_suppkey", "s_name").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_late_arrivals",
    """
    WITH seq AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             MAX(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM events
    ),
    late AS (
      SELECT CASE WHEN prev_max IS NULL OR prev_max <= ts THEN 0
                  ELSE date_diff('microsecond', ts, prev_max) END
               AS late_us
      FROM seq
    )
    SELECT CAST(floor(late_us / 60000000.0) AS INTEGER) AS late_minutes,
           COUNT(*) AS n_events
    FROM late GROUP BY 1
    """,
)
def q_late_arrivals(spark, sf_dir):
    """Watermark-design audit: per-key event-time lateness vs arrival
    order (running max over the ingest sequence, ROWS .. 1 PRECEDING),
    bucketed into minutes — the histogram that tells you what
    ``withWatermark`` delay actually bounds your keyed state. Lateness
    is measured in microseconds (integral in both engines; engine
    second-truncation semantics differ) and bucketed with an explicit
    floor. The window partitions by key, so the plan scales — a GLOBAL
    running max would be a single-partition window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "ts", F.max("ts").over(w).alias("prev_max")
    )
    late = seq.select(
        F.when(
            F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("ts")),
            F.lit(0).cast("long"),
        )
        .otherwise(F.expr("timestampdiff(MICROSECOND, ts, prev_max)"))
        .alias("late_us")
    )
    return late.groupBy(
        F.floor(F.col("late_us") / 60000000.0).cast("int").alias(
            "late_minutes"
        )
    ).agg(F.count(F.lit(1)).alias("n_events"))


def _seg_sql(col: str, i: int, nseg: int) -> str:
    start = f"((length({col}) * {i}) // {nseg}) + 1"
    stop = f"((length({col}) * {i + 1}) // {nseg})"
    return f"substr({col}, {start}, {stop} - ({start}) + 1)"


_ENTITY_SEGS = " UNION ALL ".join(
    f"SELECT c_custkey AS id, c_name AS s, length(c_name) AS len, "
    f"{i} AS seg_i, {_seg_sql('c_name', i, 2)} AS seg FROM customer"
    for i in range(2)
)


@register(
    "q_entity_match",
    f"""
    WITH blocked AS ({_ENTITY_SEGS}),
    cands AS (
      SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.s AS a_s, b.s AS b_s
      FROM blocked a
      JOIN blocked b ON a.len = b.len AND a.seg_i = b.seg_i
                    AND a.seg = b.seg
      WHERE a.id < b.id
    )
    SELECT a_id, b_id, CAST(levenshtein(a_s, b_s) AS INTEGER) AS dist
    FROM cands WHERE levenshtein(a_s, b_s) <= 1
    """,
)
def q_entity_match(spark, sf_dir):
    """Entity resolution by edit distance with PassJoin segment
    blocking (operators/entity.py): customer names within one
    substitution of each other, found via a (segment, position,
    length) equi-join — never an all-pairs scan. The exact levenshtein
    filter makes reported pairs precise; the block confines the
    quadratic work to same-segment groups."""
    from dex_data_ingestor_spark.operators.entity import edit_distance_pairs

    cust = load_table(spark, sf_dir, "customer")
    pairs = edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=1)
    return pairs.select(
        "a_id", "b_id", F.col("dist").cast("int").alias("dist")
    )


@register(
    "q_table_diff",
    """
    WITH old_t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS in_old
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new_t AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice, 1 AS in_new
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.in_old IS NULL THEN 'added'
                  WHEN n.in_new IS NULL THEN 'removed'
                  WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                    OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                  THEN 'changed' ELSE 'same' END AS status,
             CASE WHEN o.in_old IS NULL OR n.in_new IS NULL
                  THEN ''
                  ELSE array_to_string(list_sort(list_filter(LIST_VALUE(
                    CASE WHEN o.o_orderstatus IS DISTINCT FROM
                              n.o_orderstatus
                         THEN 'o_orderstatus' END,
                    CASE WHEN o.o_totalprice IS DISTINCT FROM
                              n.o_totalprice
                         THEN 'o_totalprice' END), x -> x IS NOT NULL)),
                    ',') END AS changed_cols
      FROM old_t o FULL OUTER JOIN new_t n
        ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey
    )
    SELECT o_orderkey, status, changed_cols
    FROM j WHERE status <> 'same'
    """,
)
def q_table_diff(spark, sf_dir):
    """Migration validator: |delta|-sized diff of two keyed table
    versions (added / removed / changed + which columns) via one
    key-partitioned full-outer join (operators/merge.py table_diff) —
    the check you run when switching a warehouse from the reference
    engine to this one. The simulated drift: ~1/7 of keys removed,
    ~1/5 added, 1/3 of surviving prices changed."""
    from dex_data_ingestor_spark.operators.merge import table_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return table_diff(old, new, keys=["o_orderkey"])


@register(
    "q_embed_stats",
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    x AS (
      SELECT i AS dim, CAST(floor(v[i] * 1000000.0 + 0.5) AS BIGINT) AS u
      FROM e, unnest(range(1, len(v)+1)) AS ui(i)
    ),
    agg AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(u * u) AS BIGINT) AS ssu
      FROM x GROUP BY 1
    ),
    d AS (
      SELECT dim, n,
             CAST(su AS DOUBLE) AS s, CAST(ssu AS DOUBLE) AS ss,
             CAST(n AS DOUBLE) AS nd
      FROM agg
    )
    SELECT dim, n,
           CASE WHEN abs(s / nd / 1000000.0) < 1000000.0
                THEN floor((s / nd / 1000000.0) * 1000000000.0 + 0.5)
                     / 1000000000.0
                ELSE (s / nd / 1000000.0) END AS mean_val,
           CASE WHEN abs((ss - s * s / nd) / nd / 1000000000000.0)
                     < 1000000.0
                THEN floor(((ss - s * s / nd) / nd / 1000000000000.0)
                           * 1000000000.0 + 0.5) / 1000000000.0
                ELSE ((ss - s * s / nd) / nd / 1000000000000.0)
           END AS var_val
    FROM d
    """,
)
def q_embed_stats(spark, sf_dir):
    """Embedding-column QA: per-dimension count/mean/variance over the
    corpus (posexplode -> groupBy dim) — the drift/degeneracy check a
    training pipeline runs on its vector features (a collapsed or
    shifted dimension shows up here before it poisons a model).

    Addends quantize to BIGINT micro-units via the pure-IEEE rule
    ``floor(x*1e6 + 0.5)`` — NOT ``CAST(x AS DECIMAL(18,6))``: the
    decimal cast rounds Spark's shortest-decimal repr but DuckDB's
    binary digits, and at sf0.1 two float components landed in the
    gap (sweep-caught 1e-9 mean divergence on dim 64; the module
    rulebook now records the class). Both moment sums are exact
    BIGINTs (|x| < ~3e3 keeps u*u in int64 at any corpus size the
    schema allows; ANSI overflows loudly past it), the BIGINT->DOUBLE
    casts are correctly rounded in both engines (unlike the
    DECIMAL(38) cast q_twap had to decompose around), and the
    mean/variance arithmetic is the identical IEEE op sequence on
    both sides, finished with the shared round_ieee."""
    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    x = em.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "xv"
        )
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("xv") * F.lit(1000000.0) + F.lit(0.5)).alias("u"),
    )
    agg = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("ssu"),
    )
    s = F.col("su").cast("double")
    ss = F.col("ssu").cast("double")
    nd = F.col("n").cast("double")
    return agg.select(
        "dim",
        "n",
        round_ieee(s / nd / F.lit(1000000.0), 9).alias("mean_val"),
        round_ieee(
            (ss - s * s / nd) / nd / F.lit(1000000000000.0), 9
        ).alias("var_val"),
    )


@register(
    "q_neardup_verified",
    f"""
    WITH {_MINHASH_BUCKETS_CTE},
    {_CAPPED_PAIRS_CTE},
    cands AS (SELECT a_id, b_id FROM cand_pairs),
    counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT c.a_id, c.b_id, count(*) AS n_inter
      FROM cands c
      JOIN grams ga ON ga.doc_id = c.a_id
      JOIN grams gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CASE WHEN abs(CAST(n_inter AS DOUBLE)
                 / (ca.n_grams + cb.n_grams - n_inter)) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE)
                 / (ca.n_grams + cb.n_grams - n_inter)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE)
                 / (ca.n_grams + cb.n_grams - n_inter)) END AS jaccard
    FROM inter
    JOIN counts ca ON ca.doc_id = a_id
    JOIN counts cb ON cb.doc_id = b_id
    WHERE CASE WHEN abs(CAST(n_inter AS DOUBLE)
                / (ca.n_grams + cb.n_grams - n_inter)) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE)
                / (ca.n_grams + cb.n_grams - n_inter)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE)
                / (ca.n_grams + cb.n_grams - n_inter)) END >= 0.5
    """,
)
def q_neardup_verified(spark, sf_dir):
    """The full production near-dup pipeline: LSH band buckets generate
    CANDIDATE pairs (sub-quadratic), exact n-gram Jaccard then VERIFIES
    each candidate — the candidates-then-verify shape every large-scale
    dedup runs (LSH alone has false positives; all-pairs Jaccard is
    quadratic; the composition is neither). Verification cost is
    O(candidates), and only candidate docs' gram sets are re-joined."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    buckets = lsh_band_buckets_wide(
        minhash_signatures_wide(docs, "doc_id", "text", shingle_n=3),
        "doc_id", rows_per_band=4,
    )
    cands = lsh_candidate_pairs(buckets, "doc_id")
    grams = shingles(docs, "doc_id", "text", n=3)
    counts = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    ga = grams.select(F.col("doc_id").alias("a_id"), "gram")
    gb = grams.select(F.col("doc_id").alias("b_id"), "gram")
    inter = (
        cands.join(ga, "a_id")
        .join(gb, ["b_id", "gram"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("a_id"), F.col("n_grams").alias("a_grams")
    )
    cb = counts.select(
        F.col("doc_id").alias("b_id"), F.col("n_grams").alias("b_grams")
    )
    jac = round_ieee(
        F.col("n_inter").cast("double")
        / (F.col("a_grams") + F.col("b_grams") - F.col("n_inter")),
        9,
    )
    return (
        inter.join(ca, "a_id")
        .join(cb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("a_id", "b_id", "jaccard")
    )


@register(
    "q_dedup_survivors",
    f"""
    WITH RECURSIVE {_GRAMS_CTE},
    counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM inter
      JOIN counts ca ON ca.doc_id = a_id
      JOIN counts cb ON cb.doc_id = b_id
      WHERE CASE WHEN abs(CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE)
                  / (ca.n_grams + cb.n_grams - n_inter)) END >= 0.5
    ),
    sym AS (SELECT a_id AS a, b_id AS b FROM pairs
            UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    labels AS (SELECT src AS doc_id, MIN(dst) AS component
               FROM reach GROUP BY src)
    SELECT d.doc_id, d.lang
    FROM documents d
    LEFT JOIN labels l ON l.doc_id = d.doc_id
    WHERE l.doc_id IS NULL OR l.doc_id = l.component
    """,
)
def q_dedup_survivors(spark, sf_dir):
    """The deduplicated corpus itself: collapse near-dup clusters
    ([q_dup_clusters]) to their min-id survivor and anti-join the
    non-survivors away — the materialization a training pipeline
    actually writes out after dedup. Docs outside any cluster pass
    through untouched."""
    from dex_data_ingestor_spark.operators.graph import connected_components
    from dex_data_ingestor_spark.operators.neardup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = connected_components(pairs, src="a_id", dst="b_id")
    rejects = labels.filter(
        F.col("node") != F.col("component")
    ).select(F.col("node").alias("doc_id"))
    return docs.join(rejects, "doc_id", "left_anti").select(
        "doc_id", "lang"
    )


@register(
    "q_seq_packing",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
      FROM toks
    )
    SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(floor(start_offset / 512.0) AS BIGINT) AS bin
    FROM packed
    """,
)
def q_seq_packing(spark, sf_dir):
    """Training-batch sequence packing (concatenate-and-chop, 512-token
    chunks, per-language streams): one cumulative-sum window assigns
    every document the chunk its start offset falls in
    (operators/corpus.py pack_sequences). The partition key keeps the
    pack sort distributed — the shape this op must have at 100 TB."""
    from dex_data_ingestor_spark.operators.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), WS)).alias("n_toks"),
    )
    return pack_sequences(
        toks, "doc_id", "n_toks", budget=512, partition_col="lang"
    ).select(
        "doc_id", "lang",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "bin",
    )


#: Target language mix for the resampling-weight query — fixed literals
#: shared verbatim with the oracle SQL.
_MIX_TARGETS = (("en", 0.4), ("de", 0.15), ("fr", 0.15),
                ("es", 0.15), ("zh", 0.15))

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS
) + " ELSE 0.0 END"


@register(
    "q_mix_weights",
    f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS total FROM documents)
    SELECT lang, n_docs,
           CASE WHEN abs({_MIX_CASE} * total / n_docs) < 1000000.0 THEN floor(({_MIX_CASE} * total / n_docs) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ({_MIX_CASE} * total / n_docs) END AS weight
    FROM counts CROSS JOIN tot
    """,
)
def q_mix_weights(spark, sf_dir):
    """Data-mixing weights: per-language resampling factor
    target_share * total / actual_count — multiply by it (or feed it to
    [q_stratified_sample]'s keep-rates) and the corpus lands on the
    declared mix. Integer inputs times a shared literal keep the one
    multiply/divide chain bit-stable cross-engine; 9-dp rounded."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = docs.agg(F.count(F.lit(1)).alias("total"))
    target = F.lit(0.0)
    for k, v in reversed(_MIX_TARGETS):
        target = F.when(F.col("lang") == k, F.lit(v)).otherwise(target)
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        round_ieee(target * F.col("total") / F.col("n_docs"), 9).alias(
            "weight"
        ),
    )


def _corr_output(engine: str) -> str:
    """q_corr's output expression over the exact cent-unit moment
    columns (n sx sy sxx syy sxy) — one text for both engines. The
    1e2 unit scales cancel exactly in the Pearson ratio, so no
    rescale divisions appear."""
    det = lambda e: _det_to_double(e, engine)  # noqa: E731
    m_x = "(n * sxx - sx * sx)"
    m_y = "(n * syy - sy * sy)"
    c_n = "(n * sxy - sx * sy)"
    corr = f"{det(c_n)} / (sqrt({det(m_x)}) * sqrt({det(m_y)}))"
    guarded = (
        f"CASE WHEN n > 1 AND {m_x} > 0 AND {m_y} > 0 THEN {corr} END"
    )
    return f"{_rieee(guarded, 9)} AS corr_qty_price"


@register(
    "q_corr",
    f"""
    WITH uu AS (
      SELECT l_returnflag,
             CASE WHEN l_quantity IS NOT NULL
                       AND l_extendedprice IS NOT NULL
                  THEN CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)
             END AS ux,
             CASE WHEN l_quantity IS NOT NULL
                       AND l_extendedprice IS NOT NULL
                  THEN CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             END AS uy
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             COUNT(ux) AS n,
             SUM(CAST(ux AS HUGEINT)) AS sx,
             SUM(CAST(uy AS HUGEINT)) AS sy,
             SUM(CAST(ux AS HUGEINT) * ux) AS sxx,
             SUM(CAST(uy AS HUGEINT) * uy) AS syy,
             SUM(CAST(ux AS HUGEINT) * uy) AS sxy
      FROM uu GROUP BY 1
    )
    SELECT l_returnflag, n, {_corr_output("duck")}
    FROM m
    """,
)
def q_corr(spark, sf_dir):
    """Statistical aggregate family: per-group Pearson correlation
    built from EXACT integer cent-unit moments (sum, sum-of-squares,
    cross-moment) recombined via _det_to_double in identical IEEE
    double arithmetic — never the engine's native corr(), whose
    streaming co-moment update order differs between engines (and
    between partitionings!). The r9 upgrade from decimal-sum moments:
    CAST(DECIMAL(38,s) AS DOUBLE) stops being portable once the
    underlying scaled integer passes ~2^63 (DuckDB leaves its int64
    fast path for the non-correctly-rounded int128 one — probed: 20
    of 80 random casts differ at 1e19+), and this query's sxy/syy sat
    only 2x under that cliff at sf0.1. The exact-moments form is
    order-free, so the result is independent of parallelism — which
    is also why it is the RIGHT form at 100 TB. sqrt is IEEE-exact
    (unlike pow/log), so it stays bit-stable. Pairwise-complete NULL
    semantics (native corr convention); zero-variance groups yield
    NULL by guard."""
    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    ux = F.when(
        pair,
        F.floor(F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)),
    ).cast("decimal(38,0)")
    uy = F.when(
        pair,
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)),
    ).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(ux).alias("n"),
        F.sum(ux).alias("sx"),
        F.sum(uy).alias("sy"),
        F.sum(ux * ux).alias("sxx"),
        F.sum(uy * uy).alias("syy"),
        F.sum(ux * uy).alias("sxy"),
    )
    return m.selectExpr("l_returnflag", "n", _corr_output("spark"))




# =========================================================================
# Round-7 additions: sessionization, TPC-H composites, outliers, BM25
# =========================================================================


@register(
    "q_sessionize",
    """
    WITH seq AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lag(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN prev_ts IS NULL
                  OR date_diff('microsecond', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY 1, 2
    """,
)
def q_sessionize(spark, sf_dir):
    """Batch gaps-and-islands sessionization (the batch complement of
    q_stream_session): per user, a new session starts after a >30 min
    event-time gap; sessions roll up to start/end/count/value. Gap
    arithmetic is integral microseconds (engine second-truncation
    semantics differ — see q_late_arrivals). Both window passes and
    the final aggregate partition by user_id, so the plan is one hash
    exchange end-to-end; no global window."""
    from dex_data_ingestor_spark.operators.timeseries import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    sess = sessionize(
        ev, ["user_id"], "ts", gap_us=1_800_000_000,
        order_tiebreak=["event_id"],
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        _dec_sum(F.col("value"), "sum_value"),
    )


@register(
    "q_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-table star join where
    customer and supplier must share a nation inside the filtered
    region. Plan shape for 100 TB: region/nation/supplier fold into
    one broadcast dim (region filter prunes it first), lineitem joins
    orders with a shuffle on orderkey, then customer on custkey; the
    s_nationkey = c_nationkey predicate rides the broadcast join, so
    the only big exchanges are the two fact-key shuffles."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q_promo_revenue",
    """
    WITH j AS (
      SELECT date_trunc('month', CAST(l.l_shipdate AS DATE)) AS month,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,6)) AS rev,
             p.p_type = 'PROMO' AS is_promo
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT month,
           CAST(SUM(CASE WHEN is_promo THEN rev ELSE 0 END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           100.0 * CAST(SUM(CASE WHEN is_promo THEN rev ELSE 0 END)
                        AS DOUBLE)
                 / NULLIF(CAST(SUM(rev) AS DOUBLE), 0) AS promo_pct
    FROM j GROUP BY 1
    """,
)
def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): monthly share of revenue
    from PROMO-type parts — conditional decimal-exact aggregation over
    a fact-dim join. The part dim broadcasts; promo_pct is computed in
    IEEE double FROM the two exact sums (mult + div of bit-identical
    doubles is deterministic cross-engine), so no rounding is needed."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
        rev.alias("rev"),
        "is_promo",
    )
    agg = j.groupBy("month").agg(
        _dec_sum(
            F.when(F.col("is_promo"), F.col("rev")).otherwise(F.lit(0.0)),
            "promo_revenue",
        ),
        _dec_sum(F.col("rev"), "total_revenue"),
    )
    return agg.select(
        "month",
        "promo_revenue",
        "total_revenue",
        (
            # a month whose every line is fully discounted has zero
            # total revenue: promo share is undefined -> NULL (ANSI
            # double/0 is an error in Spark, inf in DuckDB)
            F.when(
                F.col("total_revenue") != 0,
                F.lit(100.0)
                * F.col("promo_revenue")
                / F.col("total_revenue"),
            )
        ).alias("promo_pct"),
    )


def _exact_mean_sd_outputs(engine: str) -> list[str]:
    """Per-group mean_v / sd_v (``expr AS alias``) from the exact
    micro-unit moment columns (nv su ssu) — the q_stats_agg discipline
    (exact order-free integer moments, deterministic double
    conversion, shared IEEE round), one text for both engines."""
    det = lambda e: _det_to_double(e, engine)  # noqa: E731
    m_v = "(nv * ssu - su * su)"
    mean = f"CASE WHEN nv > 0 THEN {det('su')} / CAST(nv AS DOUBLE) / 1e6 END"
    sd = (
        f"CASE WHEN nv > 1 THEN sqrt({det(m_v)}"
        f" / CAST(nv * (nv - 1) AS DOUBLE) / 1e12) END"
    )
    return [
        f"{_rieee(mean, 9)} AS mean_v",
        f"{_rieee(sd, 9)} AS sd_v",
    ]


@register(
    "q_outlier_events",
    f"""
    WITH uu AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      FROM events
    ),
    mm AS (
      SELECT event_type,
             COUNT(u) AS nv,
             SUM(CAST(u AS HUGEINT)) AS su,
             SUM(CAST(u AS HUGEINT) * u) AS ssu
      FROM uu GROUP BY 1
    ),
    stats AS (
      SELECT event_type,
             {", ".join(_exact_mean_sd_outputs("duck"))}
      FROM mm
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN abs((e.value - s.mean_v) / s.sd_v) < 1000000.0 THEN floor(((e.value - s.mean_v) / s.sd_v) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ((e.value - s.mean_v) / s.sd_v) END AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sd_v > 0
      AND abs((e.value - s.mean_v) / s.sd_v) > 2.5
    """,
)
def q_outlier_events(spark, sf_dir):
    """Per-group z-score outlier screen (the numeric-column quality
    gate a training pipeline runs next to the text ones): events whose
    value sits >2.5 sample standard deviations from their type's mean.
    Two-pass shape — tiny per-type stats aggregate, broadcast back
    onto the fact, filter — NOT a window over the full table, so at
    100 TB the only full-data pass is the final scan+filter. Mean and
    sd come from exact micro-unit moments (the q_stats_agg
    discipline: order-free integer sums, deterministic double
    conversion — stddev_samp's partial-merge order would perturb low
    bits across partition layouts), rounded 9 dp BEFORE the z
    computation on both engines so the filter threshold compares
    bit-identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    u = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
    ud = u.cast("decimal(38,0)")
    m = ev.groupBy("event_type").agg(
        F.count(ud).alias("nv"),
        F.sum(ud).alias("su"),
        F.sum(ud * ud).alias("ssu"),
    )
    stats = m.selectExpr("event_type", *_exact_mean_sd_outputs("spark"))
    z = (F.col("value") - F.col("mean_v")) / F.col("sd_v")
    # sd == 0 (a constant-valued group) must be excluded EXPLICITLY:
    # Spark's non-ANSI x/0.0 is NULL (rows silently drop) while
    # DuckDB's IEEE division yields inf/NaN which compare > 2.5 (rows
    # all emit) — the one divergence this filter closes. NULL sd
    # (single-row groups) already agrees: NULL predicates are false
    # in both engines.
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sd_v") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id", "event_type", "value", round_ieee(z, 9).alias("z")
        )
    )


#: BM25 parameters (Robertson et al.; k1 tf-saturation, b length norm).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "table", "query")


def _bm25_contrib_sql(t: str) -> str:
    """One term's BM25 contribution (DuckDB SQL). idf is rounded to
    9 dp right after the ln so both engines sum identical doubles."""
    return (
        f"CASE WHEN tf_{t} = 0 THEN 0.0 ELSE "
        f"CASE WHEN abs(LN((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)) < 1000000.0 THEN floor((LN((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (LN((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)) END "
        f"* (tf_{t} * {_BM25_K1 + 1.0}) "
        f"/ (tf_{t} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)) "
        f"END"
    )


@register(
    "q_bm25",
    rf"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS term
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS dl,
             COUNT(*) FILTER (term = 'spark') AS tf_spark,
             COUNT(*) FILTER (term = 'table') AS tf_table,
             COUNT(*) FILTER (term = 'query') AS tf_query
      FROM w GROUP BY 1
    ),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n,
             COUNT(*) FILTER (tf_spark > 0) AS df_spark,
             COUNT(*) FILTER (tf_table > 0) AS df_table,
             COUNT(*) FILTER (tf_query > 0) AS df_query
      FROM per_doc
    )
    SELECT doc_id,
           CASE WHEN abs({_bm25_contrib_sql("spark")}
                 + {_bm25_contrib_sql("table")}
                 + {_bm25_contrib_sql("query")}) < 1000000.0 THEN floor(({_bm25_contrib_sql("spark")}
                 + {_bm25_contrib_sql("table")}
                 + {_bm25_contrib_sql("query")}) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ({_bm25_contrib_sql("spark")}
                 + {_bm25_contrib_sql("table")}
                 + {_bm25_contrib_sql("query")}) END AS bm25
    FROM per_doc CROSS JOIN stats
    WHERE tf_spark + tf_table + tf_query > 0
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 relevance scores for a fixed conjunctive query
    ('spark table query') over the documents corpus — the retrieval
    scorer a data pipeline uses for query-targeted corpus selection.
    One tokenize/explode pass yields per-doc length AND per-term
    frequencies together (conditional aggregation, no per-term join);
    corpus stats (N, avgdl, per-term df) reduce to ONE row broadcast
    back. Term contributions are summed in a fixed order with the idf
    rounded to 9 dp right after the ln — ln is the one libm call, and
    its argument set is tiny (one distinct double per term), so the
    9 dp round makes the sum bit-stable cross-engine (verified at
    sf0.001 + sf0.01). At 100 TB the explode pass dominates and is
    embarrassingly parallel; everything after it is a broadcast."""
    return _bm25_scores(load_table(spark, sf_dir, "documents"))


def _bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for the fixed ``_BM25_TERMS`` query — the exact
    plan documented on q_bm25, factored so q_rrf_fusion can rank the
    same scores without duplicating the float discipline."""
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), WS)).alias("term"),
    )
    tf_cols = [
        F.count(F.when(F.col("term") == t, 1)).alias(f"tf_{t}")
        for t in _BM25_TERMS
    ]
    per_doc = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def contrib(t: str):
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = round_ieee(
            F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0), 9
        )
        k1, b = _BM25_K1, _BM25_B
        score = (
            idf
            * (tf * F.lit(k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf == 0, F.lit(0.0)).otherwise(score)

    scored = per_doc.crossJoin(F.broadcast(stats))
    total = contrib("spark") + contrib("table") + contrib("query")
    return scored.filter(
        sum(F.col(f"tf_{t}") for t in _BM25_TERMS) > 0
    ).select("doc_id", round_ieee(total, 9).alias("bm25"))




@register(
    "q_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
      GROUP BY 1
    )
    SELECT 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
    UNION ALL
    SELECT 'view>click', (SELECT COUNT(*) FROM c)
    UNION ALL
    SELECT 'view>click>purchase', (SELECT COUNT(*) FROM p)
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered 3-stage event funnel (view -> later click -> later
    purchase): how many users reach each stage IN ORDER — the event-
    analytics staple the reference's hourly rollups can't express.
    Each stage is a per-user MIN aggregate joined back on user_id, so
    all three stages shuffle on the same key (AQE co-locates them);
    no window over the full event stream, no cross product. Events
    per user bound stage-join fan-out."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts).alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(ts > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min(ts).alias("t2"))
    )
    pch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(ts > F.col("t2"))
        .select("user_id")
        .distinct()
    )
    count = F.count(F.lit(1)).alias("n_users")
    return (
        v.agg(count).select(F.lit("view").alias("stage"), "n_users")
        .unionByName(
            c.agg(count).select(F.lit("view>click").alias("stage"), "n_users")
        )
        .unionByName(
            pch.agg(count).select(
                F.lit("view>click>purchase").alias("stage"), "n_users"
            )
        )
    )


@register(
    "q_retention",
    """
    WITH firstw AS (
      SELECT user_id,
             date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort
      FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    )
    SELECT CAST(f.cohort AS DATE) AS cohort_week,
           CAST(date_diff('day', f.cohort, a.wk) / 7 AS INTEGER)
             AS week_offset,
           COUNT(*) AS n_users
    FROM act a JOIN firstw f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by the week of their
    first event; for each (cohort, week offset) how many were active.
    Week offset is (days between week-truncated dates) / 7 — exact in
    both engines (both truncate weeks to Monday; the day diff is a
    multiple of 7). The per-user first-event aggregate and the
    distinct (user, week) activity set shuffle on user_id; the final
    rollup is tiny (weeks x offsets)."""
    ev = load_table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    j = act.join(firstw, "user_id")
    return j.groupBy(
        F.to_date("cohort").alias("cohort_week"),
        (
            F.datediff(F.to_date("wk"), F.to_date("cohort")) / 7
        ).cast("int").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))




@register(
    "q_salted_agg",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q_salted_agg(spark, sf_dir):
    """Two-stage salted aggregation (operators/skew.py
    salted_sum_count) hash-matched against the UNSALTED plain GROUP BY
    oracle — redistribution without semantic drift, the groupBy
    complement of q_salted_join. events has only 5 distinct
    event_type values, the genuinely skew-shaped case where map-side
    partials still converge on 5 reducers; salting spreads each hot
    key's reduce-side combine over 16 salt buckets first. Exactness:
    count and decimal sums are associative, so the salted result is
    bit-identical however rows scatter."""
    from dex_data_ingestor_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value", salt_buckets=16)




@register(
    "q_rolling_dau",
    """
    WITH days AS (
      SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    )
    SELECT d.day,
           COUNT(DISTINCT a.user_id) AS dau7
    FROM days d
    JOIN active a
      ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY 1
    """,
)
def q_rolling_dau(spark, sf_dir):
    """7-day rolling distinct active users per day — the windowed
    COUNT DISTINCT the product dashboards run. Sliding distinct does
    not decompose into window partials, so the scalable plan EXPLODES
    each distinct (user, day) activity pair into the <=7 target days
    it contributes to, then counts distinct users per target day:
    input to the heavy stage is the (user, day) DISTINCT set (bounded
    by users x days, far below raw events), the fan-out is a fixed
    7x, and both stages shuffle on small keys. The oracle uses the
    equivalent range join. Emitted days are restricted to days that
    EXIST in the data (join with the distinct-day set), so engine and
    oracle agree on the domain."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    contributes = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("target_day"),
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    return (
        contributes.join(
            days, contributes.target_day == days.day, "inner"
        )
        .groupBy(F.col("day"))
        .agg(F.countDistinct("user_id").alias("dau7"))
    )


@register(
    "q_source_quality",
    """
    WITH d AS (
      SELECT source, lang, length(text) AS n_chars,
             count(*) OVER (PARTITION BY sha256(text)) AS c
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CASE WHEN abs(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*)) < 1000000.0 THEN floor((CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*)) END AS dup_rate,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM d GROUP BY 1
    """,
)
def q_source_quality(spark, sf_dir):
    """Per-source crawl-curation report: document volume, corpus-wide
    exact-duplicate rate (how much of the source is copies of content
    seen anywhere), bytes, and language spread — the table a crawl
    pipeline thresholds to blocklist low-value sources BEFORE paying
    per-document processing. Two shuffles: one on the content digest
    for the duplicate count (count-over-window keeps the rows — same
    single-pass shape as q_dup_substrings), one partial-aggregated
    rollup to sources. The integer dup counts make dup_rate a
    round(int/int, 9) — bit-stable cross-engine."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    c = F.count(F.lit(1)).over(
        Window.partitionBy(F.sha2(F.col("text"), 256))
    )
    d = docs.select(
        "source", "lang", F.length("text").alias("n_chars"), c.alias("c")
    )
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dup.cast("bigint").alias("n_dup_docs"),
        round_ieee(
            dup.cast("double") / F.count(F.lit(1)), 9
        ).alias("dup_rate"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "q_token_budget",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 20000
    """,
)
def q_token_budget(spark, sf_dir):
    """Token-budget corpus selection: per language, keep documents in
    deterministic priority order (token count desc, id) until the
    language's training-token budget is exhausted — the selection
    that turns mix weights (q_mix_weights) into an actual document
    set. One cumulative-sum window partitioned by language (the
    pack_sequences shape): a single hash exchange, integer arithmetic
    throughout. At 100 TB the per-language window is the sort to
    watch — shard the priority order by a salt and budget per shard
    when one language dominates."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), WS))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return c.filter(F.col("cum_tokens") <= 20000)


@register(
    "q_returned_items",
    """
    WITH r AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue_lost
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o.o_orderdate AS DATE) < DATE '1996-07-01'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, nation, revenue_lost
    FROM r ORDER BY revenue_lost DESC, c_custkey LIMIT 20
    """,
)
def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a half-year window. The returnflag +
    date filters push to the fact scans; nation broadcasts; the final
    top-20 is a TakeOrdered (no global sort). revenue_lost DESC with
    c_custkey as tiebreak keeps the LIMIT deterministic cross-engine
    (the sums are decimal-exact doubles, so ordering compares
    bit-identical values)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "nation").agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "revenue_lost",
        )
    )
    return agg.orderBy(
        F.col("revenue_lost").desc(), F.col("c_custkey")
    ).limit(20)


@register(
    "q_parts_supplier_count",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    excluded AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS n_suppliers
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_size <= 25
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
    GROUP BY 1, 2
    """,
)
def q_parts_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship count): distinct
    suppliers per (brand, size) for small parts, EXCLUDING a supplier
    blacklist — the NOT IN becomes a broadcast anti-join. The
    part-supplier association is the distinct (partkey, suppkey)
    projection of lineitem (this schema has no partsupp table): one
    distinct shuffle, then a broadcast dim join and a count-distinct
    aggregate. Null-safety note: NOT IN with NULLs in the subquery
    would differ from an anti-join, but s_suppkey is a non-null key."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= 25
    ).select("p_partkey", "p_brand", "p_size")
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select(F.col("s_suppkey"))
    kept = ps.join(
        F.broadcast(excluded),
        ps.l_suppkey == excluded.s_suppkey,
        "left_anti",
    )
    return (
        kept.join(F.broadcast(part), kept.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


def _xxh64_mul_const(x: str, c: int) -> str:
    """(x * c) mod 2**64 as DuckDB SQL, for ``x`` a column holding a
    HUGEINT in [0, 2**64) and ``c`` a Python constant: 32-bit split so
    no partial product exceeds HUGEINT range (a direct 64x64 multiply
    can reach 2**128 and overflow the signed 128-bit HUGEINT)."""
    lo_c, hi_c = c & 0xFFFFFFFF, c >> 32
    return (
        f"((({x} & 4294967295) * {lo_c}"
        f" + (((({x} & 4294967295) * {hi_c} + ({x} >> 32) * {lo_c})"
        f" & 4294967295) << 32)) & 18446744073709551615)"
    )


def _xxh64_rotl(x: str, r: int) -> str:
    return (
        f"(((({x}) << {r}) & 18446744073709551615)"
        f" | (({x}) >> {64 - r}))"
    )


def _xxh64_20_ctes(src_cte: str, carry: str) -> tuple[str, str]:
    """MATERIALIZED-CTE chain computing Spark's ``xxhash64`` (XXH64,
    seed 42) of ``src_cte``'s 20-char ASCII column ``gram`` — the
    cross-engine twin DuckDB lacks natively, expressed as closed-form
    64-bit arithmetic over the gram's bytes (fixed 20-byte input =
    two 8-byte laps + one 4-byte tail + avalanche; little-endian word
    loads match Spark-on-x86). Validated bit-exact against
    F.xxhash64 on random printable grams (tests/test_corpus.py).
    MATERIALIZED is load-bearing: plain CTEs/lateral aliases inline
    textually and the multiply/rotate fan-out makes the planner's
    expression tree grow exponentially (a measured planner hang).
    ASCII is a precondition (ascii(substring(..)) reads code points,
    Spark hashes UTF-8 bytes) — the documents fixture is ASCII-only at
    every SF; a non-ASCII future fixture fails the hash comparison
    loudly rather than mis-pruning. Returns (cte_fragment,
    final_cte_name); the final CTE exposes ``carry`` + gram + ``h``
    (signed BIGINT, bit-identical to Spark)."""
    p1, p2, p3 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                  0x165667B19E3779F9)
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def word(start, nbytes):
        return "(" + " + ".join(
            f"ascii(substring(gram, {start + j}, 1))::HUGEINT * "
            f"{1 << (8 * j)}"
            for j in range(nbytes)
        ) + ")"

    a0 = (42 + p5 + 20) & ((1 << 64) - 1)
    steps = [(
        "hx0",
        f"SELECT {carry}, gram, {word(1, 8)} AS w0, {word(9, 8)} AS w1,"
        f" {word(17, 4)} AS w2, {a0}::HUGEINT AS acc FROM {src_cte}",
    )]
    n, prev, keep = 1, "hx0", f"{carry}, gram"

    def step(expr_cols):
        nonlocal n, prev
        steps.append((f"hx{n}", f"SELECT {expr_cols} FROM {prev}"))
        prev = f"hx{n}"
        n += 1

    for wcol in ("w0", "w1"):
        step(f"{keep}, w0, w1, w2, acc,"
             f" {_xxh64_mul_const(wcol, p2)} AS k")
        step(f"{keep}, w0, w1, w2, acc, {_xxh64_rotl('k', 31)} AS k")
        step(f"{keep}, w0, w1, w2,"
             f" xor(acc, {_xxh64_mul_const('k', p1)}) AS acc")
        step(f"{keep}, w0, w1, w2,"
             f" (({_xxh64_mul_const(_xxh64_rotl('acc', 27), p1)}"
             f" + {p4}) & 18446744073709551615) AS acc")
    # 4-byte tail (w2 < 2**32: the direct multiply fits HUGEINT)
    step(f"{keep}, xor(acc, (w2 * {p1}) & 18446744073709551615) AS acc")
    step(f"{keep}, (({_xxh64_mul_const(_xxh64_rotl('acc', 23), p2)}"
         f" + {p3}) & 18446744073709551615) AS acc")
    step(f"{keep}, xor(acc, acc >> 33) AS acc")
    step(f"{keep}, {_xxh64_mul_const('acc', p2)} AS acc")
    step(f"{keep}, xor(acc, acc >> 29) AS acc")
    step(f"{keep}, {_xxh64_mul_const('acc', p3)} AS acc")
    step(f"{keep}, xor(acc, acc >> 32) AS acc")
    step(f"{keep}, (CASE WHEN acc >= 9223372036854775808"
         f" THEN acc - 18446744073709551616 ELSE acc END)::BIGINT AS h")
    frag = ",\n    ".join(
        f"{name} AS MATERIALIZED ({sql})" for name, sql in steps
    )
    return frag, prev


def _winnowed_spans_oracle_sql() -> str:
    """Oracle for q_dup_substrings_winnowed (VERDICT r11 #8 — the
    rows-only tier drained): the winnowing SELECTION is replayed
    exactly. Per document, every sliding window of w=10 consecutive
    gram-hashes picks its argmin by (hash, pos) — Spark compares the
    struct with h as a SIGNED long and pos breaking ties upward, which
    the single HUGEINT key ``h * 2**63 + p`` reproduces for ANY p that
    fits a BIGINT (h*2**63 spans [-2**126, 2**126) inside HUGEINT's
    +-2**127, and consecutive h values sit 2**63 apart, beyond any
    position; review r12 widened the multiplier from 2**21 so a future
    >2M-char document cannot silently bleed position bits into the
    hash ordering) — window starts run 1..greatest(m-9, 1) like
    Spark's ``slice`` loop (a short document yields one truncated
    window). Selected positions then flow through the shared
    :func:`_span_stats_tail_sql` CTE tail; dup-counting keys on the
    raw gram string where Spark keys on its hash — identical output
    absent a 64-bit collision, the exact path's documented argument."""
    hash_ctes, hfinal = _xxh64_20_ctes("pos", "doc_id, n, p")
    return f"""
    WITH base AS (
      SELECT doc_id, text AS t, length(text) AS n
      FROM documents WHERE length(text) >= 20
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, n, CAST(i AS INTEGER) AS p,
             substring(t, CAST(i AS INTEGER), 20) AS gram
      FROM base, unnest(range(1, n - 18)) AS u(i)
    ),
    {hash_ctes},
    keyed AS MATERIALIZED (
      SELECT doc_id, n, p, gram,
             h::HUGEINT * 9223372036854775808 + p AS hp
      FROM {hfinal}
    ),
    wins AS MATERIALIZED (
      SELECT doc_id, n, p,
             arg_min(p, hp) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS selp
      FROM keyed
    ),
    sel AS (
      SELECT DISTINCT doc_id, selp AS p
      FROM wins WHERE p <= greatest(n - 28, 1)
    ),
    spos AS (
      SELECT k.doc_id, k.n, k.p, k.gram
      FROM keyed k JOIN sel s ON k.doc_id = s.doc_id AND k.p = s.p
    ),
    {_span_stats_tail_sql("spos")}
    """


@register("q_dup_substrings_winnowed", _winnowed_spans_oracle_sql())
def q_dup_substrings_winnowed(spark, sf_dir):
    """The SCALE configuration of q_dup_substrings: same repeated-
    substring span statistics, but positions are winnowed (w=10
    content-defined argmin sampling over the xxhash64 gram array) so
    only ~2/(w+1) of character positions explode and shuffle —
    measured 5.5x row reduction (tests/test_scale_stress.py).
    Oracle-paired as of r12: the winnowed selection set IS
    cross-engine expressible after all — Spark's seeded xxhash64 is
    plain XXH64(seed=42) over UTF-8 bytes, closed-form for fixed
    20-byte ASCII grams, so the oracle replays the hash bit-exactly in
    DuckDB SQL (see :func:`_xxh64_20_ctes`) and the selection argmin
    on top of it. The pytest properties (tests/test_corpus.py: winnowed
    dup positions subset of exact, every repeat >= min_len + w - 1
    detected, span boundaries within w-1 chars) remain as the
    semantic bounds."""
    from dex_data_ingestor_spark.operators.corpus import (
        repeated_substring_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_substring_spans(
        docs, "doc_id", "text", min_len=20, winnow=10
    )


@register(
    "q_scd2",
    """
    SELECT user_id, event_id, event_type, value,
           CAST(ts AS TIMESTAMP) AS effective_from,
           lead(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS effective_to,
           lead(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
             AS is_current
    FROM events
    """,
)
def q_scd2(spark, sf_dir):
    """Slowly-Changing-Dimension Type 2 build
    (operators/timeseries.scd2_intervals): the events changelog
    becomes versioned dimension rows with half-open validity
    intervals — effective_from = the change's timestamp,
    effective_to = the key's next change (NULL while live),
    is_current on the latest version. The warehouse materialization
    the reference's row-at-a-time upserts overwrite away
    (Bifrost.py keeps only the latest row; SCD2 keeps history).
    ONE window pass partitioned by the dimension key — a single
    hash exchange, no self-join; event_id tiebreak makes
    same-timestamp updates deterministic."""
    from dex_data_ingestor_spark.operators.timeseries import (
        scd2_intervals,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    return scd2_intervals(
        ev, ["user_id"], "ts", ["event_id", "event_type", "value"],
        order_tiebreak=["event_id"],
    )


@register(
    "q_market_share",
    """
    WITH j AS (
      SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS yr,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,6)) AS rev,
             n.n_name = 'NATION_2' AS is_target
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT yr,
           CAST(SUM(CASE WHEN is_target THEN rev ELSE 0 END)
                AS DOUBLE) AS nation_revenue,
           CAST(SUM(rev) AS DOUBLE) AS region_revenue,
           CAST(SUM(CASE WHEN is_target THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM j GROUP BY 1
    """,
)
def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): one nation's yearly
    share of its region's supplier revenue. region/nation/supplier
    fold into one broadcast dim (region filter prunes first); the
    only big exchange is lineitem-orders on orderkey; the share is
    IEEE division of two decimal-exact sums (bit-stable without
    rounding, as q_promo_revenue)."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .select(
            "s_suppkey", (F.col("n_name") == "NATION_2").alias("is_target")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.to_date("o_orderdate")).cast("int").alias("yr"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select("yr", rev.alias("rev"), "is_target")
    )
    agg = j.groupBy("yr").agg(
        _dec_sum(
            F.when(F.col("is_target"), F.col("rev")).otherwise(F.lit(0.0)),
            "nation_revenue",
        ),
        _dec_sum(F.col("rev"), "region_revenue"),
    )
    return agg.select(
        "yr",
        "nation_revenue",
        "region_revenue",
        (F.col("nation_revenue") / F.col("region_revenue")).alias(
            "mkt_share"
        ),
    )


@register(
    "q_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): supplier(s) with the maximum
    quarterly revenue — the scalar-subquery-on-an-aggregate pattern.
    Plan: one partial-aggregated shuffle on suppkey builds the
    quarterly revenue table; its one-row MAX broadcasts back as the
    filter (no window over all suppliers, no second shuffle); the
    supplier dim broadcasts. Equality on the decimal-exact revenue
    doubles is deterministic cross-engine, so ties emit all
    max-revenue suppliers identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "total_rev",
        )
    )
    top = rev.agg(F.max("total_rev").alias("__mx"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("__mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q_waiting_suppliers",
    """
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM l1 l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY 1
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finalized multi-supplier orders, count the late line items whose
    supplier was the ONLY late one — the dual correlated
    EXISTS / NOT EXISTS self-reference on the fact table, the
    hardest-to-plan TPC-H shape. Lateness is adapted to this schema
    (no commit/receipt dates): shipped more than 90 days after the
    order date.

    Spark form: the late set l1 is built once (lineitem⋈orders with
    the residual date predicate); the EXISTS becomes a LEFT SEMI join
    of l1 against the raw lineitem scan on orderkey with a
    suppkey-inequality residual, the NOT EXISTS a LEFT ANTI join of
    the survivors against l1 itself — equi-join + residual, never a
    cartesian. All three fact-side joins share the l_orderkey key, so
    under one orderkey-hash partitioning the semi, the anti, and the
    late-set build co-locate (one exchange family; AQE reuses the l1
    exchange for its second appearance). The supplier dim broadcasts;
    the top-10 is TakeOrdered with the total (numwait DESC, s_name)
    tie-break, so the emitted SET is deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.to_date("l_shipdate")
            > F.date_add(F.to_date("o_orderdate"), 90)
        )
        .select("l_orderkey", "l_suppkey")
    )
    a = l1.alias("a")
    multi = a.join(
        li.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    sole_late = multi.alias("m").join(
        l1.alias("c"),
        (F.col("m.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("m.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    counts = sole_late.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return (
        counts.join(
            F.broadcast(supp), counts.l_suppkey == supp.s_suppkey
        )
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation pair): the
    disjunctive two-direction join predicate that defeats naive
    pushdown — (supp=A and cust=B) OR (supp=B and cust=A).

    Spark form: the nation filter is applied to EACH dim
    independently first (a supplier or customer outside {A, B} can
    never satisfy either disjunct — the derivable prefilter the OR
    hides from a naive planner), so the broadcast supplier join
    prunes lineitem to the two nations' ~8% BEFORE the orderkey
    shuffle against orders; the exact pair predicate then rides the
    customer join as a residual. At 100 TB the only fact-sized
    exchanges are lineitem⋈orders (orderkey) and ⋈customer (custkey)
    — both unavoidable — and each carries only prefiltered rows."""
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year(F.to_date("l_shipdate")).alias("l_year"),
    ).agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "revenue",
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q_min_cost_supplier",
    """
    WITH eligible AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(CAST(FLOOR(l.l_extendedprice / l.l_quantity
                            * 1000000.0 + 0.5) AS BIGINT)) AS unit_units
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_units FROM eligible
      QUALIFY ROW_NUMBER() OVER (PARTITION BY l_partkey
                                 ORDER BY unit_units ASC,
                                          l_suppkey ASC) = 1
    )
    SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
           p.p_partkey, p.p_name, b.unit_units
    FROM best b
    JOIN part p ON b.l_partkey = p.p_partkey
    JOIN supplier s ON b.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s.s_acctbal DESC, nation ASC, s.s_name ASC, p.p_partkey ASC
    LIMIT 100
    """,
)
def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part in a region): the
    correlated per-group MIN that joins back to pick the winning row.
    Adapted to this schema (no partsupp table): a supplier's offer
    price for a part is its cheapest observed unit price in lineitem,
    quantized to exact micro-units by the portable
    floor(x*1e6 + 0.5) rule (ext/qty is ONE IEEE division —
    bit-identical cross-engine — and the argmin then runs on exact
    BIGINTs, so the winner can never flip on a float margin; ties to
    the lowest suppkey).

    Plan: the region filter folds into the broadcast supplier dim
    BEFORE the fact scan (the Q2 trick — eligibility prunes first);
    one explicit partkey repartition then serves BOTH the
    (partkey, suppkey) aggregate (partkey-hash satisfies the
    clustering) and the per-part argmin window — one fact exchange
    end-to-end, then broadcast joins to part/supplier/nation and a
    TakeOrdered 100."""
    from pyspark.sql import Window

    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    unit_units = F.floor(
        F.col("l_extendedprice")
        / F.col("l_quantity")
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    eligible = (
        li.join(
            F.broadcast(supp_dim.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit_units).alias("unit_units"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "unit_units", "l_suppkey"
    )
    best = (
        eligible.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name"
    )
    return (
        best.join(
            F.broadcast(part), best.l_partkey == part.p_partkey
        )
        .join(
            F.broadcast(supp_dim),
            best.l_suppkey == supp_dim.s_suppkey,
        )
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_name",
            "unit_units",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "nation", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q_part_promotion",
    """
    WITH sp AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)) AS supp_qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'small%'
        AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2
    ),
    qual AS (
      SELECT DISTINCT l_suppkey FROM (
        SELECT l_suppkey, supp_qty,
               SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
        FROM sp)
      WHERE 2 * supp_qty > part_qty
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM qual q
    JOIN supplier s ON q.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s.s_suppkey ASC
    """,
)
def q_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape (suppliers qualified for a part promotion):
    the nested threshold semi-join — a supplier qualifies if, for
    some name-matched part in the window, it shipped MORE THAN HALF
    of that part's total shipped quantity. Adapted to this schema
    (no partsupp.availqty): the Q20 'availqty > half of demand'
    correlated subquery becomes 'supplier share > half of part
    total', preserving the per-group-threshold -> semi-join ->
    entity-list shape. Quantities sum as exact BIGINTs
    (floor(q + 0.5): portable, and a long cast is NOT — Spark
    truncates where DuckDB rounds half-even).

    Plan: the name-LIKE part filter broadcasts into the fact scan
    first; ONE fact-sized exchange (the explicit partkey repartition)
    serves the (partkey, suppkey) aggregate AND the per-part total
    window (the q_min_cost_supplier exchange-reuse pattern); the
    threshold is a row-local compare. The remaining two exchanges —
    the suppkey distinct and the final sort — carry only
    supplier-cardinality rows (dim-sized at any scale)."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
    )
    sp = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5))
            ).alias("supp_qty")
        )
    )
    part_qty = F.sum("supp_qty").over(
        Window.partitionBy("l_partkey")
    )
    qual = (
        sp.withColumn("part_qty", part_qty)
        .filter(2 * F.col("supp_qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        qual.join(
            F.broadcast(supp), qual.l_suppkey == supp.s_suppkey
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "nation")
        .orderBy("s_suppkey")
    )


@register(
    "q_chunk_documents",
    """
    SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
           CAST(k * 150 + 1 AS INTEGER) AS chunk_start,
           substring(text, CAST(k * 150 + 1 AS INTEGER), 200)
             AS chunk_text
    FROM documents,
         unnest(range(0, CAST(ceil(length(text) / 150.0) AS INTEGER)))
           AS u(k)
    WHERE length(text) > 0
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Overlapping-window document chunking
    (operators/corpus.chunk_documents): 200-char chunks every 150
    chars (50-char overlap) with 0-based chunk ids and 1-based start
    offsets — the RAG-indexing / embedding-prep materialization.
    Pure narrow transform + explode: zero shuffles; the byte
    amplification is the explicit chunk_size/stride overlap cost."""
    from dex_data_ingestor_spark.operators.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_size=200, stride=150
    )


# =========================================================================
# Third round-7 batch: remaining TPC-H composite shapes (Q4, Q7, Q9,
# Q13, Q17, Q18, Q19, Q22 — the ones this schema can express; Q2/Q11/
# Q20/Q21 need partsupp / commitdate columns the testdata lacks)
# =========================================================================


@register(
    "q_order_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + 90
      )
    GROUP BY 1
    """,
)
def q_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): count orders per
    priority that had at least one LATE lineitem (shipped > 90 days
    after the order date; this schema has no commitdate/receiptdate,
    so lateness is defined against o_orderdate). The EXISTS becomes a
    LEFT SEMI join on orderkey with the lateness predicate as a join
    condition — one shuffle on the key, the quarter filter pushed to
    the orders scan, and semi-join short-circuits per key (no
    dedup-then-join). Date arithmetic is whole days on DATE-truncated
    values, exact cross-engine."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            F.to_date(li.l_shipdate)
            > F.date_add(F.to_date(orders.o_orderdate), 90)
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "q_nation_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS INTEGER) AS yr,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): bilateral trade volume
    between two nations by ship year. Plan for 100 TB: supplier and
    customer each pre-join their nation BROADCAST and pre-filter to
    the two nations of interest — so the fact rows that survive to
    the pair-disjunction filter are already the ~2/25 slice on each
    side; the only big exchanges are lineitem-orders (orderkey) and
    the customer shuffle (custkey). The OR of nation pairs is applied
    after both dims attach (it needs both sides), but each side's
    IN-list prefilter keeps the joined cardinality minimal."""
    pair = ["NATION_1", "NATION_2"]
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(pair)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        # broadcast supplier prune FIRST: only lineitems of the two
        # nations' suppliers (~2/25) ride the orderkey and custkey
        # exchanges — Spark does not reorder inner joins, so the
        # written order IS the executed order
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year(F.to_date("l_shipdate")).cast("int").alias("yr"),
    ).agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"
        )
    )


@register(
    "q_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS yr,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): revenue from parts whose
    name matches a pattern, by supplier nation and order year (this
    schema has no partsupp.supplycost, so profit = discounted
    revenue). The part filter runs FIRST and the filtered part keys
    broadcast into lineitem — at 100 TB that broadcast prunes the
    fact scan to the matching-part slice before the orderkey shuffle;
    supplier+nation fold into a second broadcast dim."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.to_date("o_orderdate")).cast("int").alias("yr"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    return j.groupBy("nation", "yr").agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit"
        )
    )


@register(
    "q_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY 1
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY 1
    """,
)
def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed how many (non-low-priority) orders — INCLUDING
    the zero-order customers, which is why the join must be LEFT
    OUTER with the priority predicate INSIDE the join condition (a
    WHERE would silently drop the NULL-extended rows and the zero
    bucket with them). Two aggregations: the first shuffles on
    custkey (same key as the join — one exchange serves both under
    AQE), the second is a tiny histogram shuffle on n_orders."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "5-LOW"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders")
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "q_small_qty_revenue",
    """
    WITH avg_qty AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                         AS DOUBLE) / COUNT(*)) AS qty_threshold
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)))
                AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < a.qty_threshold
    """,
)
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from
    lineitems whose quantity is below 20% of the part's average.
    The correlated AVG subquery becomes a per-part aggregate joined
    back on partkey — both sides shuffle on the SAME key, so AQE
    plans one exchange per side and a co-partitioned join, never a
    recompute-per-row correlated loop. The brand filter broadcasts.
    Threshold determinism: avg = decimal-exact sum cast double / n,
    then *0.2 in IEEE double — bit-identical both engines, so the
    strict < picks identical rows."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (_dec_sum_expr(F.col("l_quantity")) / F.count(F.lit(1)))
        ).alias("qty_threshold")
    ).select(F.col("l_partkey").alias("a_partkey"), "qty_threshold")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    small = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return small.agg(
        (_dec_sum_expr(F.col("l_extendedprice")) / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_small"),
    )


@register(
    "q_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             > 150.0
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, with their customers. The
    HAVING is a partial-aggregated shuffle on orderkey; the surviving
    order keys are a tiny fraction, so the orders join downstream of
    it is skew-safe and AQE shrinks it to broadcast at runtime when
    the filtered side fits. Quantity sums are decimal-exact doubles,
    so the > 150.0 cut is bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 150.0)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


@register(
    "q_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_matched
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 30
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 21 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    GROUP BY ALL
    """,
)
def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of three (brand, size-range, quantity-range) clauses across
    a joined pair. The part-only conjuncts (brand OR-union, size
    OR-union) are IMPLIED disjunction-wide, so Catalyst can push the
    derived part filter below the join and the quantity envelope
    (1..40) to the lineitem scan, leaving the exact mixed disjunction
    as the post-join residual — the classic Q19 plan. The filtered
    part side broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(11, 30)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(21, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(cond).agg(
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        ),
        F.count(F.lit(1)).alias("n_matched"),
    )


@register(
    "q_inactive_customers",
    """
    WITH thresh AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             AS total_bal
    FROM customer c, thresh t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q_inactive_customers(spark, sf_dir):
    """TPC-H Q22 shape (global-sales-opportunity): well-funded
    customers with NO RECENT orders (none since 2000 — every customer
    in this data has *some* order, so recency defines churn), by
    market segment. Two classic subquery decorrelations: the scalar
    AVG becomes a one-row broadcast crossed into the filter (never a
    recompute per row), and NOT EXISTS becomes a LEFT ANTI join on
    custkey with the date filter pushed to the orders scan BEFORE the
    anti join (shrinking its build side). At 100 TB the anti join
    shuffles on the key once; the average's strict > compares
    bit-identical doubles (decimal-exact sum / count)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    thresh = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (_dec_sum_expr(F.col("c_acctbal")) / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    inactive = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dec_sum(F.col("c_acctbal"), "total_bal"),
    )


@register(
    "q_curate_stripped",
    f"""
    WITH {_STRIP_CTES},
    curate_src AS (
      SELECT s.doc_id, s.text, d.lang
      FROM stripped_docs s JOIN documents d USING (doc_id)
    ),
    stats AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS n_words,
             length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\f\\r]', '', 'g'))
               AS n_punct,
             length(text) AS n_chars_calc,
             len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'),
                 w -> w IN ('the','a','an','of','and','to','in','is')))
               AS n_stop,
             sha256(text) AS sha
      FROM curate_src
    ), scored AS (
      SELECT doc_id, lang, n_words, sha,
             CASE WHEN abs(LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) < 1000000.0 THEN floor((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + (1.0 - LEAST((CAST(n_punct AS DOUBLE) / NULLIF(n_chars_calc, 0)) * 4.0,
                              1.0)) * 0.25
               + LEAST((CAST(n_stop AS DOUBLE) / n_words) * 5.0, 1.0) * 0.25) END AS quality_score
      FROM stats
    ), gated AS (
      SELECT * FROM scored
      WHERE lang = 'en' AND quality_score >= 0.3 AND n_words >= 5
    ), exact_kept AS (
      SELECT doc_id, n_words, quality_score FROM gated
      QUALIFY ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id) = 1
    ), {_GRAMS_CTE.replace("FROM documents", "FROM curate_src WHERE doc_id IN (SELECT doc_id FROM exact_kept)")},
    hashed AS (
      SELECT doc_id, {_MD5_INT.format("gram")} AS gram_hash FROM grams
    ),
    params(k, a, b) AS (VALUES {_MINHASH_VALUES}),
    sigs AS (
      SELECT doc_id, k, min((a * gram_hash + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN params GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, CAST(floor(k / 4) AS INTEGER) AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS band_sig
      FROM sigs GROUP BY 1, 2
    ),
    buckets AS (
      SELECT doc_id, band_id, {_MD5_INT.format("band_sig")} AS band_hash
      FROM bands
    ),
    losers AS (
      SELECT DISTINCT b.doc_id FROM buckets a
      JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_id, n_words, quality_score FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def q_curate_stripped(spark, sf_dir):
    """The FULL boilerplate-aware curation pipeline, oracle-checked as
    one statement: corpus-wide repeated-span STRIP first (>= 20-char
    spans excised, first occurrence wins; full duplicates vanish at
    this stage — operators/corpus.py strip_repeated_substrings wired
    through curate_documents' strip_substrings_min_len gate), THEN
    language filter -> quality gate -> exact dedup -> MinHash-LSH
    near-dup removal, all computed ON THE STRIPPED TEXT. This is the
    composition a training-data pipeline actually runs: shared
    license headers / templates must not count toward quality scores
    or shingle signatures, or boilerplate-heavy near-dups evade the
    LSH stage. winnow stays 1 (the exact, oracle-checkable path);
    production at 100 TB flips span_winnow to ~10 for the strided
    scale plan (q_dup_substrings_winnowed records that path's cost).

    Scale note on the single-statement form: the exact-dedup window
    and the LSH candidate/anti-join branches form a diamond over the
    strip output, so the declarative plan re-evaluates the strip
    subtree once per branch (~2x since r11's one-pass segment rebuild
    cut the strip-internal re-evaluation; 71→61 initial-plan
    exchanges, 35→25 source scans — the residual diamond is the
    LSH/anti-join pair, irreducible declaratively because per-branch
    column pruning defeats exchange reuse).
    At 100 TB you would not do that: the stripped corpus is itself a
    product artifact — write it (snapshot table / parquet), then run
    curation over the materialized copy, paying the strip exactly
    once. curate_documents does exactly that BY DEFAULT now
    (strip_materialize_dir="auto"); this entry passes None to keep
    the whole pipeline oracle-checkable as one statement, and
    q_curate_materialized benches the default against the same
    oracle.
    """
    from dex_data_ingestor_spark.operators.corpus import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    out = curate_documents(
        docs,
        allowed_langs=("en",),
        min_quality=0.3,
        min_words=5,
        near_dup=True,
        strip_substrings_min_len=20,
        strip_materialize_dir=None,
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "quality_score",
    )


# Output is bit-identical to q_curate_stripped (a parquet round-trip
# of the strip stage is lossless), so it shares that oracle verbatim.
@register("q_curate_materialized", None)
def q_curate_materialized(spark, sf_dir):
    """q_curate_stripped's DEFAULT-path twin: curate_documents with
    strip_materialize_dir="auto", which pays the corpus-wide
    repeated-span strip ONCE (write the stripped corpus, curate from
    the materialized copy) instead of once per dedup branch of the
    single-statement diamond (~3x strip re-evaluation — the r7 bench's
    most expensive entry at 8.0 s). Registered so the scale-default
    path holds both a driver correctness row and a bench number next
    to the one-statement form. At 100 TB the materialize target is a
    warehouse table, not scratch (operators/corpus.py
    _auto_strip_dir)."""
    from dex_data_ingestor_spark.operators.corpus import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    out = curate_documents(
        docs,
        allowed_langs=("en",),
        min_quality=0.3,
        min_words=5,
        near_dup=True,
        strip_substrings_min_len=20,
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "quality_score",
    )


ORACLE_SQL["q_curate_materialized"] = ORACLE_SQL["q_curate_stripped"]


# q_contamination's oracle verbatim: the Bloom prefilter is a superset
# filter followed by the same exact join, so its output is
# BIT-IDENTICAL to the unpruned path — one oracle checks both.
@register("q_bloom_contamination", None)
def q_bloom_contamination(spark, sf_dir):
    """q_contamination's scale plan: the train-side gram stream is
    prefiltered through an explicit broadcast Bloom bitmap of the
    eval gram set (operators/bloom.py) BEFORE its distinct shuffle —
    the dominant exchange of the sweep (measured 9.7x row reduction
    at sf0.01). Spark's automatic runtime bloom filter cannot inject
    here because the gram key is born inside a Generate (no scan
    lineage — boundary asserted in tests/test_plans_physical.py);
    this operator is the explicit equivalent for exactly such plans.
    Output is bit-identical to q_contamination (superset prefilter +
    exact join), so it shares that query's oracle."""
    from dex_data_ingestor_spark.operators.corpus import (
        contamination_by_lang,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_by_lang(
        docs, "doc_id", "text", "lang", n=3, bloom_prune=True
    )


ORACLE_SQL["q_bloom_contamination"] = ORACLE_SQL["q_contamination"]


@register(
    "q_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_qualifying
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    GROUP BY ALL
    """,
)
def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): pure
    scan-filter-aggregate with three range predicates — the query
    whose entire cost is how much of the scan the predicates prune.
    All three predicates push to the parquet scan (date + two
    numeric ranges -> row-group min/max pruning at 100 TB); no join,
    no wide operator, one partial-aggregated exchange of a single
    row per task. The discount BETWEEN bounds (0.02/0.04) are exact
    binary fractions' nearest doubles in BOTH engines' literals, so
    the boundary comparisons are bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dec_sum(
            F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"
        ),
        F.count(F.lit(1)).alias("n_qualifying"),
    )


@register(
    "q_vwap",
    """
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS vwap,
           COUNT(*) AS n_trades
    FROM lineitem
    WHERE l_partkey % 50 = 0
    GROUP BY 1
    """,
)
def q_vwap(spark, sf_dir):
    """Volume-weighted average price — THE canonical market metric
    the reference's price tables feed (lineitem read as a trade tape:
    extendedprice = notional, quantity = size, so VWAP = sum(notional)
    / sum(size) without ever materializing a per-trade price ratio —
    the per-row division would lose exactness AND force a second
    aggregate). Both sums are decimal-exact (order-free), the final
    division is one IEEE op — bit-stable cross-engine. One
    partially-aggregated shuffle on the instrument key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 50 == 0
    )
    return li.groupBy("l_partkey").agg(
        (
            _dec_sum_expr(F.col("l_extendedprice"))
            / _dec_sum_expr(F.col("l_quantity"))
        ).alias("vwap"),
        F.count(F.lit(1)).alias("n_trades"),
    )


@register(
    "q_twap",
    """
    WITH seq AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lead(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_units,
             date_diff('microsecond', ts, nxt) AS dur_us
      FROM seq WHERE nxt IS NOT NULL
    ),
    agg AS (
      SELECT user_id,
             CAST(SUM(CAST(v_units AS DECIMAL(38,0))
                      * CAST(dur_us AS DECIMAL(38,0))) AS HUGEINT) AS num,
             CAST(SUM(CAST(dur_us AS DECIMAL(38,0))) AS HUGEINT) AS den,
             COUNT(*) AS n_segments
      FROM seg GROUP BY 1
    )
    SELECT user_id,
           (CAST(num // NULLIF(den, 0) AS DOUBLE)
            + CAST(num % NULLIF(den, 0) AS DOUBLE)
              / CAST(NULLIF(den, 0) AS DOUBLE))
             / 1000000.0 AS twap,
           n_segments
    FROM agg
    """,
)
def q_twap(spark, sf_dir):
    """Time-weighted average price: each observation holds until the
    key's next event, so its weight is the microsecond gap to the
    successor (the final observation has no duration and drops — the
    standard TWAP convention). Cross-engine exactness is engineered at
    the two lossy seams the r7 judge flagged red:

    1. Quantization: ``v_units = floor(value*1e6 + 0.5)`` — pure IEEE
       multiply/add/floor, bit-identical in every engine. A
       double→DECIMAL(18,6) cast here is NOT portable: Spark rounds
       the double's shortest-decimal repr HALF_UP, DuckDB rounds the
       binary value half-to-even, and tie-valued doubles land 1 unit
       apart (tests/test_timeseries.py pins a tie grid).
    2. Final division: the exact DECIMAL(38,0) numerator exceeds 2^53
       (≈1.6e20 at sf0.001), and huge-decimal→double conversion is
       correctly rounded in Spark (BigDecimal) but NOT in DuckDB
       (int128 limb arithmetic — observed 2 ULP off). So the quotient
       is decomposed exactly first: ``twap = (q + r/den) / 1e6`` with
       ``q = num div den``, ``r = num mod den`` (exact integer ops on
       the decimals; q ≤ max v_units and r < den are both < 2^53, so
       every remaining cast is exact and the three IEEE ops are
       bit-identical cross-engine). Precondition: value ≥ 0 (div/mod
       sign conventions diverge on negatives).

    Plan: one window pass and the aggregate share the user_id
    partitioning — a single exchange end-to-end; the q+r decomposition
    is post-aggregation scalar math on one row per key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    v_units = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
    # timestampdiff works on both NTZ and tz-aware encodings (the
    # sessionize convention) — a long cast of TIMESTAMP_NTZ does not
    dur_us = F.expr("timestampdiff(MICROSECOND, ts, nxt)")
    seg = seq.select(
        "user_id",
        v_units.alias("v_units"),
        dur_us.alias("dur_us"),
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(
            F.col("v_units").cast("decimal(38,0)")
            * F.col("dur_us").cast("decimal(38,0)")
        ).alias("num"),
        F.sum(F.col("dur_us").cast("decimal(38,0)")).alias("den"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    # Spark `div` on decimals truncates to BIGINT; `%` stays decimal.
    # den = 0 (every observation of a key at the same instant: zero
    # total span) makes TWAP undefined -> NULL, not an ANSI
    # divide-by-zero crash; the oracle mirrors with NULLIF.
    twap = F.when(
        F.col("den") > 0,
        (
            F.expr("num div den").cast("double")
            + F.expr("num % den").cast("double")
            / F.col("den").cast("double")
        )
        / F.lit(1000000.0),
    )
    return agg.select("user_id", twap.alias("twap"), "n_segments")


@register(
    "q_ohlc_bars",
    """
    WITH ticks AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_start,
             value,
             date_diff('microsecond',
                       date_trunc('hour', CAST(ts AS TIMESTAMP)),
                       CAST(ts AS TIMESTAMP)) * 2097152 + event_id AS okey
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, bar_start,
           arg_min(value, okey) AS open_px,
           max(value) AS high_px,
           min(value) AS low_px,
           arg_max(value, okey) AS close_px,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS volume_units
    FROM ticks GROUP BY 1, 2
    """,
)
def q_ohlc_bars(spark, sf_dir):
    """Hourly OHLC candlestick bars — the market-metrics family's
    third leg (TWAP = time-weighted level, VWAP = volume-weighted
    level, OHLC = the bar series every charting/backtest consumer
    reads). Reference analog: the hourly scheduler window over the
    price stream (main.py:54-66, SqlDbEtl.py:98-99).

    Cross-engine determinism: open/close SELECT a stored double (no
    arithmetic — bit-exact by construction) under a total order. The
    ordering key is packed into ONE BIGINT because DuckDB's
    arg_min/arg_max take only scalar keys: ``us_into_hour * 2^21 +
    event_id``. us_into_hour < 3.6e9 and event_id < 2^21 at every
    shipped SF (max observed 99,999 at sf0.1; 2^21 headroom holds to
    sf≈20), so the key < 2^53 — exact BIGINT on both engines, ties
    broken by event_id. The id domain is ENFORCED loudly (an
    out-of-range id would silently misorder ticks, not overflow):
    operators/timeseries.packed_tick_order raises via assert_true on
    any event_id outside [0, 2^21), identical value inside it.
    high/low are plain min/max of stored doubles
    (exact); the bar's traded volume uses the q_twap micro-unit rule
    ``floor(value*1e6+0.5)`` summed as BIGINT (bar sums ≤ ~1e13 at
    sf1 — far under 2^53; DuckDB's HUGEINT sum is cast back).

    Plan: ONE partially-aggregated exchange on (event_type,
    bar_start) — min_by/max_by/min/max/count/sum all carry map-side
    partial state, so the shuffle moves one row per (group, task).
    At 100 TB this is the plan you want: no window function, no
    second pass; with the tape date-partitioned, bars even aggregate
    partition-locally."""
    # a NULL price is not a tick: without the filter, open/close pick
    # engine-specific NULL handling (Spark min_by carries the NULL,
    # DuckDB arg_min skips it) and the bar hashes diverge
    from dex_data_ingestor_spark.operators.timeseries import (
        packed_tick_order,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    okey = packed_tick_order("ts", "event_id", "hour")
    ticks = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts"))
        .cast("timestamp_ntz")
        .alias("bar_start"),
        "value",
        okey.alias("okey"),
    )
    return ticks.groupBy("event_type", "bar_start").agg(
        F.min_by("value", "okey").alias("open_px"),
        F.max("value").alias("high_px"),
        F.min("value").alias("low_px"),
        F.max_by("value", "okey").alias("close_px"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(
            F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        ).alias("volume_units"),
    )


@register(
    "q_realized_var",
    """
    WITH clean AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE value > 0
    ),
    rets AS (
      SELECT event_type, ts,
             CAST(FLOOR(ln(value / lag(value) OVER w) * 1000000.0
                        + 0.5) AS BIGINT) AS lnu
      FROM clean
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    seg AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start, lnu
      FROM rets WHERE lnu IS NOT NULL
    ),
    agg AS (
      SELECT event_type, bar_start,
             COUNT(*) AS n_returns,
             CAST(SUM(lnu) AS BIGINT) AS net_ret_units,
             CAST(SUM(lnu * lnu) AS HUGEINT) AS num
      FROM seg GROUP BY 1, 2
    )
    SELECT event_type, bar_start, n_returns, net_ret_units,
           CAST(num // 1000000000000 AS DOUBLE)
             + CAST(num % 1000000000000 AS DOUBLE) / 1000000000000.0
             AS realized_var
    FROM agg
    """,
)
def q_realized_var(spark, sf_dir):
    """Hourly realized variance — the risk leg of the market-metrics
    family (level = TWAP/VWAP, bars = OHLC, flow = tick rule,
    risk = RV): the sum of squared log returns between consecutive
    ticks of each instrument, each return assigned to the hour of its
    later tick; ``net_ret_units`` (the exact signed sum) is the
    bar's net log return. Non-positive prints are excluded up front
    (a zero price is a bad tick, and ln requires positivity — sf0.1
    contains real zeros).

    Exactness composes three established disciplines: each log return
    takes ONE IEEE division + one libm ln, quantized to integer
    micro-log-units by floor(x*1e6 + 0.5) (the unigram/twap rule);
    squares (≤ ~1.2e14 — exact longs) accumulate in DECIMAL(38,0) /
    HUGEINT since a hot bar's sum can exceed 2^63; and the final
    value comes out through the q_twap q+r decomposition against
    10^12 (q ≤ ~2e7 and r < 10^12 are both < 2^53, so the two casts
    and two IEEE ops are bit-identical — a direct huge-decimal→double
    cast is NOT, the r7 lesson).

    Plan: the same single event_type exchange as q_tick_rule_flow —
    one window pass for the lag, and the hourly aggregate rides the
    subset partitioning with no second exchange. The same
    instrument-key scale note applies."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select("event_type", "ts", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lnu = F.floor(
        F.log(F.col("value") / F.lag("value").over(w)) * F.lit(1000000.0)
        + F.lit(0.5)
    )
    seg = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("bar_start"),
            lnu.alias("lnu"),
        )
        .filter(F.col("lnu").isNotNull())
    )
    agg = seg.groupBy("event_type", "bar_start").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.sum("lnu").cast("bigint").alias("net_ret_units"),
        F.sum(
            (F.col("lnu") * F.col("lnu")).cast("decimal(38,0)")
        ).alias("num"),
    )
    rv = (
        F.expr("num div 1000000000000").cast("double")
        + F.expr("num % 1000000000000").cast("double")
        / F.lit(1000000000000.0)
    )
    return agg.select(
        "event_type",
        "bar_start",
        "n_returns",
        "net_ret_units",
        rv.alias("realized_var"),
    )


@register(
    "q_markout",
    """
    WITH clean AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE value > 0
    ),
    path AS (
      SELECT event_type, ts, epoch_us(ts) AS us,
             MAX(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
               AS p_units
      FROM clean GROUP BY 1, 2, 3
    ),
    sgn AS (
      SELECT event_type, ts, us, p_units,
             CASE WHEN p_units > lag(p_units) OVER w THEN 1
                  WHEN p_units < lag(p_units) OVER w THEN -1
                  ELSE NULL END AS dir,
             last_value(p_units) OVER (
               PARTITION BY event_type ORDER BY us
               RANGE BETWEEN 1 FOLLOWING AND 300000000 FOLLOWING
             ) AS fwd_units
      FROM path
      WINDOW w AS (PARTITION BY event_type ORDER BY us)
    ),
    carried AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start,
             p_units, fwd_units,
             last_value(dir IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS side
      FROM sgn
    )
    SELECT event_type, bar_start,
           COUNT(CASE WHEN side IS NOT NULL
                       AND fwd_units IS NOT NULL THEN 1 END)
             AS n_marked,
           CAST(SUM(CASE WHEN side IS NOT NULL
                          AND fwd_units IS NOT NULL
                         THEN side * (fwd_units - p_units)
                         ELSE 0 END) AS BIGINT) AS markout_units
    FROM carried GROUP BY 1, 2
    """,
)
def q_markout(spark, sf_dir):
    """Signed 5-minute markout — the canonical transaction-cost /
    adverse-selection metric: for each print, the tick-rule side
    times the price move to the last print within the next 5 minutes
    (positive = flow keeps pushing prices its own way = toxic flow).
    Composes the tick-rule classifier with a forward RANGE-frame
    price lookup, summed per (instrument, hour) in exact micro-units.

    Determinism hinges on ONE modeling choice: the tape is first
    consolidated to a PRICE PATH — max price per (instrument, µs)
    (the documented tie convention; sub-µs print order is not
    defined on this tape anyway). That makes the path's µs order key
    UNIQUE per instrument, so every window (lag, carried sign,
    forward last_value over RANGE (1, 300e6] µs FOLLOWING) is
    deterministic with SCALAR order keys in both engines — no packed
    tie-break needed, unlike q_ohlc_bars where ties survive into the
    aggregation. Prints with no forward observation (tape end) or no
    sign yet (leading run) contribute zero and are excluded from
    n_marked. All arithmetic is integer micro-units; the sign comes
    from integer comparisons.

    Plan: the consolidation groupBy, all three window passes, and
    the hourly aggregate ALL ride one event_type-subset hash
    partitioning — a single exchange end-to-end (plan-asserted),
    same instrument-key scale posture as q_tick_rule_flow."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select("event_type", "ts", "value")
    )
    us = F.expr(
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    # one explicit instrument-keyed exchange up front: the windows
    # force HashPartitioning(event_type) anyway, and subset
    # partitioning satisfies the consolidation groupBy's clustering —
    # without this, Catalyst hashes the groupBy on its full
    # (event_type, ts, us) key and re-exchanges for the window (two
    # shuffles of the same rows).
    path = (
        ev.withColumn("us", us)
        .repartition("event_type")
        .groupBy("event_type", "ts", "us")
        .agg(
            F.max(
                F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
            ).alias("p_units")
        )
    )
    w = Window.partitionBy("event_type").orderBy("us")
    dirc = (
        F.when(F.col("p_units") > F.lag("p_units").over(w), F.lit(1))
        .when(F.col("p_units") < F.lag("p_units").over(w), F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    fwd = F.last("p_units").over(w.rangeBetween(1, 300_000_000))
    sgn = path.select(
        "event_type",
        "ts",
        "us",
        "p_units",
        dirc.alias("dir"),
        fwd.alias("fwd_units"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = sgn.select(
        "event_type",
        F.date_trunc("hour", F.col("ts"))
        .cast("timestamp_ntz")
        .alias("bar_start"),
        "p_units",
        "fwd_units",
        F.last("dir", ignorenulls=True).over(wrun).alias("side"),
    )
    ok = F.col("side").isNotNull() & F.col("fwd_units").isNotNull()
    return carried.groupBy("event_type", "bar_start").agg(
        F.count(F.when(ok, 1)).alias("n_marked"),
        F.sum(
            F.when(
                ok, F.col("side") * (F.col("fwd_units") - F.col("p_units"))
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("markout_units"),
    )


@register(
    "q_ohlc_daily",
    """
    WITH ticks AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             value,
             date_diff('microsecond',
                       date_trunc('day', CAST(ts AS TIMESTAMP)),
                       CAST(ts AS TIMESTAMP)) * 2097152 + event_id AS okey
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(d AS DATE) AS bar_date,
           arg_min(value, okey) AS open_px,
           max(value) AS high_px,
           min(value) AS low_px,
           arg_max(value, okey) AS close_px,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS volume_units
    FROM ticks GROUP BY 1, 2
    """,
)
def q_ohlc_daily(spark, sf_dir):
    """Daily OHLC bars built by ROLLING UP the hourly bars — the
    hierarchical pre-aggregation pattern every bar store runs at
    scale (hourly bars materialize once; daily/weekly/monthly derive
    from them, never re-reading the tape). The oracle computes daily
    bars DIRECTLY from raw ticks, so bitwise parity here proves the
    bar-merge algebra: open = first sub-bar's open (min_by on
    bar_start), close = last sub-bar's close, high/low = min/max of
    sub-bar extremes, tick and volume counts add. All six states are
    mergeable — the same property that makes the streaming build
    (streaming/jobs.py ohlc_bars) incremental.

    Plan: the hourly exchange on (event_type, bar_start) plus one
    tiny exchange on (event_type, day) over the BAR rows (a ~24x
    reduction has already happened); at 100 TB the first stage reads
    the materialized hourly table instead and the tape is never
    rescanned."""
    # direct call, not QUERIES["q_ohlc_bars"]: the registry dict is
    # rebuilt/reordered at module bottom and may be wrapped or pruned
    # by a driver — a plain function call expresses the same reuse
    # with no dependency on registry contents at call time
    hourly = q_ohlc_bars(spark, sf_dir)
    return (
        hourly.groupBy(
            "event_type",
            F.to_date("bar_start").alias("bar_date"),
        )
        .agg(
            F.min_by("open_px", "bar_start").alias("open_px"),
            F.max("high_px").alias("high_px"),
            F.min("low_px").alias("low_px"),
            F.max_by("close_px", "bar_start").alias("close_px"),
            F.sum("n_ticks").cast("bigint").alias("n_ticks"),
            F.sum("volume_units").cast("bigint").alias("volume_units"),
        )
    )


@register(
    "q_tick_rule_flow",
    """
    WITH seq AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN value > lag(value) OVER w THEN 1
                  WHEN value < lag(value) OVER w THEN -1
                  ELSE NULL END AS dir
      FROM events
      WINDOW w AS (PARTITION BY event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    signed AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_units,
             last_value(dir IGNORE NULLS) OVER (
               PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS side
      FROM seq
    )
    SELECT event_type, bar_start,
           COUNT(CASE WHEN side = 1 THEN 1 END) AS buy_ticks,
           COUNT(CASE WHEN side = -1 THEN 1 END) AS sell_ticks,
           CAST(SUM(CASE WHEN side IS NULL THEN 0
                         ELSE side * v_units END) AS BIGINT)
             AS flow_units
    FROM signed GROUP BY 1, 2
    """,
)
def q_tick_rule_flow(spark, sf_dir):
    """Order-flow imbalance via the tick rule (Lee-Ready without
    quotes — the standard trade-sign classifier when only the trade
    tape exists, exactly this table's shape): an uptick marks a buy,
    a downtick a sell, and an equal price CARRIES the previous
    nonzero sign forward. Hourly net signed flow per instrument is
    the canonical toxicity/pressure input (VPIN et al.).

    Cross-engine determinism: the sign comes from comparisons of
    stored doubles under the total (ts, event_id) order — no
    arithmetic — and the carried sign is last_value IGNORE NULLS over
    the same order; flow sums signed micro-units
    (floor(value*1e6+0.5)) as exact BIGINTs. Leading unclassified
    ticks (before the first price change) contribute zero flow and
    land in neither tick count.

    Plan: ONE event_type-keyed exchange serves both window passes
    (lag, then the carried last_value — same partitioning and order)
    AND the hourly aggregate: HashPartitioning(event_type) satisfies
    the (event_type, bar_start) clustering, so the groupBy adds no
    exchange (plan-asserted). Scale note: the per-key sequential
    window means one task per instrument — fine when instruments
    number in the thousands (the real DEX key is the pool/pair);
    event_type's 5 values stand in for that here, and a 100 TB
    deploy keys the window by the instrument column exactly as
    sessionize does by user."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dirc = (
        F.when(F.col("value") > F.lag("value").over(w), F.lit(1))
        .when(F.col("value") < F.lag("value").over(w), F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    seq = ev.withColumn("dir", dirc)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signed = seq.select(
        "event_type",
        F.date_trunc("hour", F.col("ts"))
        .cast("timestamp_ntz")
        .alias("bar_start"),
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).alias(
            "v_units"
        ),
        F.last("dir", ignorenulls=True).over(wrun).alias("side"),
    )
    return signed.groupBy("event_type", "bar_start").agg(
        F.count(F.when(F.col("side") == 1, 1)).alias("buy_ticks"),
        F.count(F.when(F.col("side") == -1, 1)).alias("sell_ticks"),
        F.sum(
            F.when(F.col("side").isNull(), F.lit(0)).otherwise(
                F.col("side") * F.col("v_units")
            )
        )
        .cast("bigint")
        .alias("flow_units"),
    )


@register(
    "q_revenue_share",
    """
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    total AS (
      SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS t
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT nation, revenue,
           revenue / t AS share,
           CAST(RANK() OVER (ORDER BY revenue DESC, nation)
                AS BIGINT) AS rev_rank
    FROM rev, total
    """,
)
def q_revenue_share(spark, sf_dir):
    """Ratio-to-report: each nation's share of total revenue plus its
    rank. The rank window runs over the ALREADY-AGGREGATED 25-row
    nation table, so the single-partition window exchange moves 25
    rows, not the fact table (the mistake to avoid at 100 TB is
    windowing before aggregating). Determinism: the denominator is
    NOT ``SUM(revenue) OVER ()`` — re-adding the per-nation doubles
    follows each engine's own iteration order and diverged in the
    last ULP at sf0.01 — but a decimal-EXACT grand total computed
    straight from the fact rows (order-free) and attached as a
    one-row broadcast; the share division is then bit-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("nation")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
    )
    total = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "t"
            )
        )
    )
    from pyspark.sql import Window

    w_rank = Window.partitionBy().orderBy(
        F.col("revenue").desc(), F.col("nation")
    )
    return rev.join(F.broadcast(total)).select(
        "nation",
        "revenue",
        (F.col("revenue") / F.col("t")).alias("share"),
        F.rank().over(w_rank).cast("bigint").alias("rev_rank"),
    )


@register(
    "q_chunk_dedup",
    """
    WITH chunks AS (
      SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
             CAST(k * 150 + 1 AS INTEGER) AS chunk_start,
             substring(text, CAST(k * 150 + 1 AS INTEGER), 200)
               AS chunk_text
      FROM documents,
           unnest(range(0, CAST(ceil(length(text) / 150.0) AS INTEGER)))
             AS u(k)
      WHERE length(text) > 0
    )
    SELECT doc_id, chunk_id, chunk_start, chunk_text
    FROM chunks
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY sha256(chunk_text)
      ORDER BY doc_id, chunk_id) = 1
    """,
)
def q_chunk_dedup(spark, sf_dir):
    """RAG-index chunk dedup: chunk every document (200-char windows,
    150-char stride) then keep ONE copy of each distinct chunk text —
    the materialization an embedding pipeline runs so duplicated
    boilerplate is embedded once, not once per source document.
    Survivor rule is deterministic (lowest (doc_id, chunk_id)).
    Scale: the chunk explode is narrow; the dedup groups on
    sha256(chunk_text) — a fixed-width key through the one shuffle,
    never the 200-char text (same hash-key discipline as the exact
    doc dedup and the span family)."""
    from dex_data_ingestor_spark.operators.corpus import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_size=200, stride=150)
    keyed = chunks.withColumn("__sha", F.sha2(F.col("chunk_text"), 256))
    return dedup_first(
        keyed, ["__sha"], [F.col("doc_id"), F.col("chunk_id")]
    ).drop("__sha")


@register("q_bpe_tokens")  # rows-only BY DESIGN: iterative merge
# learning (each round depends on the last) is the driver contract's
# explicit non-SQL-expressible category; the learned merge sequence
# and the encoding fold are golden-pinned in test_vector_text.py on
# the hand-derivable Sennrich corpus.
def q_bpe_tokens(spark, sf_dir):
    """Tokenizer training + encoding end-to-end (operators/bpe.py):
    learn 6 BPE merges from the English documents' word-frequency
    table (ONE corpus shuffle; every training round after that runs
    on the vocabulary-sized table — the classic BPE observation),
    then encode the same documents in one narrow pass and report
    per-doc token counts. Deterministic: pair selection tie-breaks
    (count DESC, left, right), so the learned vocabulary — the model
    — is byte-reproducible across runs and partitionings. Driver
    state is the 6-entry merge list only.

    r14 (VERDICT r13 #4), two changes, output byte-identical:

    - merge_batch=2 halves the driver round-trips (3 rounds of paired
      symbol-disjoint merges instead of 6 sequential ones). The
      batched learner accepts a same-round pair only when
      symbol-disjoint from every earlier acceptance, so the learned
      list can differ from classic BPE only when a merge-created pair
      would outrank a later acceptance; measured on the shipped
      corpora the k=2 merge lists are IDENTICAL to k=1 at sf0.001,
      sf0.01 AND sf0.1 (k=3 diverges at sf0.001, k=6 at all three —
      tested before flipping, and pinned by
      test_bpe_tokens_batch2_matches_classic).
    - the encode runs on the DISTINCT-WORD vocabulary instead of per
      word occurrence (guide §8: the expensive transform on the
      deduplicated proxy): merges never cross the end-of-word
      sentinel, so a document's token count is the sum of its words'
      counts, and each distinct word is encoded ONCE (vocab-sized
      HOF work, ~40x fewer encodes here, unboundedly fewer at scale)
      then joined back onto the word instances — the q_rare_word_score
      join shape. Wordless documents keep their 0 via the left join;
      a NULL text keeps the NULL the narrow form produced
      (size(null)). Verified set-equal to the per-occurrence form at
      all three shipped SFs; 6.0 -> 2.0 s at sf0.1."""
    from dex_data_ingestor_spark.functions.scalars import WS
    from dex_data_ingestor_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    )
    merges = learn_bpe_merges(
        word_frequencies(docs), n_merges=6, merge_batch=2
    )
    words = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), WS), lambda w: w != ""
    )
    inst = docs.select("doc_id", F.explode(words).alias("__w"))
    wtok = apply_bpe(
        inst.select("__w").distinct(), merges, text_col="__w"
    ).select("__w", F.size("bpe_tokens").alias("__nt"))
    counts = (
        inst.join(wtok, "__w")
        .groupBy("doc_id")
        .agg(F.sum("__nt").cast("bigint").alias("__n"))
    )
    return (
        docs.select("doc_id", "text")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("text").isNotNull(),
                F.coalesce(F.col("__n"), F.lit(0)),
            )
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


@register(
    "q_rare_word_score",
    """
    WITH inst AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    freq AS (
      SELECT w, COUNT(*) AS n FROM inst GROUP BY 1
    ),
    common AS (SELECT w FROM freq WHERE n >= 50)
    SELECT i.doc_id,
           COUNT(*) AS n_inst,
           CAST(SUM(CASE WHEN c.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN c.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_frac
    FROM inst i LEFT JOIN common c USING (w)
    GROUP BY 1
    """,
)
def q_rare_word_score(spark, sf_dir):
    """Corpus-relative rarity score (the Gopher-style 'unusual words'
    quality signal): per document, the fraction of word instances
    whose corpus-wide frequency is below 50. Plan for 100 TB: the
    COMMON vocabulary (freq >= 50) is a SMALL set by Zipf's law, so
    it broadcasts and the rarity test is a broadcast left join on the
    exploded instances — the per-doc aggregate then shuffles on
    doc_id once. The frequency count itself is one word-keyed
    shuffle with map-side partial aggregation. No raw-text keys
    anywhere past the explode."""
    docs = load_table(spark, sf_dir, "documents")
    inst = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), WS)).alias("w"),
    )
    common = (
        inst.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
        .select(F.col("w").alias("cw"))
    )
    j = inst.join(F.broadcast(common), inst.w == F.col("cw"), "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_inst"),
        F.sum(F.when(F.col("cw").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        (
            F.sum(F.when(F.col("cw").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("rare_frac"),
    )


@register(
    "q_dsir_weights",
    rf"""
    WITH inst AS (
      SELECT doc_id, source,
             {_MD5_INT.format('w')} % 4096 AS f
      FROM (SELECT doc_id, source,
                   unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS w
            FROM documents WHERE length(trim(text)) > 0)
    ),
    feat AS (
      SELECT f, COUNT(*) AS s_f,
             COUNT(*) FILTER (source IN ('src0', 'src1')) AS t_f
      FROM inst GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(s_f) AS BIGINT) AS big_s,
             CAST(SUM(t_f) AS BIGINT) AS big_t
      FROM feat
    ),
    w AS (
      SELECT f,
             CAST(FLOOR(ln(
               ((t_f + 0.5) * (big_s + 2048.0))
               / ((s_f + 0.5) * (big_t + 2048.0))
             ) * 1000000.0 + 0.5) AS BIGINT) AS w_f
      FROM feat CROSS JOIN tot
    )
    SELECT i.doc_id,
           COUNT(*) AS n_inst,
           CAST(SUM(w.w_f) AS BIGINT) AS num,
           CAST(SUM(w.w_f) AS DOUBLE) / 1000000.0 AS importance
    FROM inst i JOIN w USING (f)
    GROUP BY 1
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-document
    log-likelihood ratio between a TARGET distribution (here the
    src0/src1 slice standing in for a curated corpus) and the raw
    pool, over hashed word features — the standard
    select-web-data-that-looks-like-wikipedia operator. Sampling
    proportional to exp(importance) is then plain q_hash_split-style
    thresholding.

    Cross-engine float engineering (the q_twap + q_bm25 disciplines
    composed): every ln argument is a ratio of EXACT half-integer
    products (counts + 0.5 smoothing, all < 2^53 — the one division
    is IEEE on identical operands), and each feature's log-ratio is
    quantized to integer micro-units via pure-IEEE
    floor(ln(r)*1e6 + 0.5) BEFORE aggregation — so the per-doc sum is
    an order-free exact BIGINT sum (float summation order across
    partitions can never reorder it), and only the display division
    by 1e6 is IEEE. ln is the one libm call; its argument set is tiny
    (<= 4096 distinct feature ratios) and micro-unit quantization
    absorbs last-ULP libm divergence (verified sf0.001 + sf0.01).

    Plan: the fit collects the bounded (f, s_f, t_f) count table in
    ONE corpus pass (conditional agg gives raw and target counts
    together; <= 4096 rows — model state like the IVF centroids,
    never data-sized; totals are exact driver-side integer sums and
    the log-ratio runs on the collected local relation), the weight
    table broadcasts onto the instance stream, and one doc_id
    exchange aggregates: the returned plan scores in ONE further
    corpus pass."""
    from dex_data_ingestor_spark.operators.text import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(
        docs, F.col("source").isin("src0", "src1"), n_buckets=4096
    )


_DSIR_SAMPLE_K = 100


def _dsir_sample_oracle_sql() -> str:
    """Oracle for q_dsir_sample: the q_dsir_weights SQL verbatim as a
    CTE, plus the content-hash Gumbel key and the deterministic
    top-k. The Gumbel perturbation is quantized to integer micro-units
    (floor(g*1e6 + 0.5)) so the selection key num + g_units is an
    exact BIGINT — ordering can never flip on libm last-ULP noise."""
    return f"""
    WITH dsir AS ({ORACLE_SQL["q_dsir_weights"]}),
    keyed AS (
      SELECT d.doc_id, d.n_inst, d.num,
             d.num + CAST(FLOOR(
               -ln(-ln(({_MD5_INT.format('doc.text')} + 0.5)
                        / 4294967296.0))
               * 1000000.0 + 0.5) AS BIGINT) AS key_units
      FROM dsir d JOIN documents doc USING (doc_id)
    )
    SELECT doc_id, n_inst, num, key_units,
           CAST(key_units AS DOUBLE) / 1000000.0 AS sample_key
    FROM keyed
    ORDER BY key_units DESC, doc_id
    LIMIT {_DSIR_SAMPLE_K}
    """


@register("q_dsir_sample", _dsir_sample_oracle_sql())
def q_dsir_sample(spark, sf_dir):
    """The RESAMPLING step that completes DSIR: select k documents
    WITHOUT REPLACEMENT with probability proportional to
    exp(importance), via the Gumbel-top-k identity — add an
    independent Gumbel(0,1) to each document's log-weight and take
    the k largest keys. No RNG state anywhere: the Gumbel is derived
    from the document's CONTENT hash (u = (md5_64(text)+0.5)/2^32 —
    an exact dyadic rational, so u is bit-identical cross-engine;
    g = -ln(-ln(u))), which makes the sample reproducible on any
    cluster size and stable under re-ingestion, the q_hash_split
    property lifted to weighted sampling.

    Exactness: the importance numerator is already integer micro-units
    (q_dsir_weights); the Gumbel quantizes to the same units via the
    pure-IEEE floor(g*1e6 + 0.5) rule, so the selection key is an
    exact BIGINT sum and the (key DESC, doc_id) top-k is pure integer
    ordering — the two libm ln calls sit behind the quantization
    exactly as in q_bm25/q_unigram_logloss. The micro-unit
    perturbation of the true Gumbel is O(1e-6) in log-space —
    statistically negligible, determinism absolute. Plan: the dsir
    subplan + one doc_id-keyed join for the text hash +
    TakeOrderedAndProject (no global sort)."""
    from dex_data_ingestor_spark.functions.scalars import md5_int64
    from dex_data_ingestor_spark.operators.text import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    scores = dsir_importance(
        docs, F.col("source").isin("src0", "src1"), n_buckets=4096
    ).select("doc_id", "n_inst", "num")
    u = (md5_int64(F.col("text")) + F.lit(0.5)) / F.lit(4294967296.0)
    g_units = F.floor(-F.log(-F.log(u)) * 1000000.0 + F.lit(0.5))
    keyed = scores.join(
        docs.select("doc_id", g_units.alias("g_units")), "doc_id"
    ).select(
        "doc_id",
        "n_inst",
        "num",
        (F.col("num") + F.col("g_units")).alias("key_units"),
    )
    return (
        keyed.select(
            "*",
            (F.col("key_units").cast("double") / 1000000.0).alias(
                "sample_key"
            ),
        )
        .orderBy(F.col("key_units").desc(), "doc_id")
        .limit(_DSIR_SAMPLE_K)
    )


@register(
    "q_unigram_logloss",
    rf"""
    WITH inst AS (
      SELECT doc_id, {_MD5_INT.format('w')} % 65536 AS f
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS w
            FROM documents WHERE length(trim(text)) > 0)
    ),
    feat AS (SELECT f, COUNT(*) AS c_f FROM inst GROUP BY 1),
    tot AS (SELECT CAST(SUM(c_f) AS BIGINT) AS big_n FROM feat),
    w AS (
      SELECT f,
             CAST(FLOOR(-ln(CAST(c_f AS DOUBLE) / big_n) * 1000000.0
                        + 0.5) AS BIGINT) AS nll_f
      FROM feat CROSS JOIN tot
    )
    SELECT i.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(w.nll_f) AS BIGINT) AS nll_units,
           CAST(SUM(w.nll_f) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_nll
    FROM inst i JOIN w USING (f)
    GROUP BY 1
    """,
)
def q_unigram_logloss(spark, sf_dir):
    """Per-document cross-entropy under a corpus unigram language
    model — the perplexity-filtering quality signal (CCNet, Wenzek et
    al. 2020: keep web text the LM finds unsurprising; production
    uses a KenLM 5-gram — this is the honest unigram hashed-feature
    form, same pipeline role, avg_nll in nats). High avg_nll = rare/
    garbled tokens; low = boilerplate.

    Same exactness scaffold as q_dsir_weights: each hashed feature's
    negative log-probability -ln(c_f / N) has exact integer operands
    (one IEEE division), is quantized to integer micro-nats via
    pure-IEEE floor(x*1e6 + 0.5) (<= 65536 distinct libm args,
    absorbed by the quantum), and per-doc totals are order-free exact
    BIGINT sums; the final avg division is one IEEE op on exact
    < 2^53 operands. Plan: the fit collects the bounded (f, c_f)
    table in ONE corpus pass (65536 rows no matter the corpus size;
    THE reason to hash rather than broadcast a raw 10^8-word vocab),
    totals it driver-side (exact integer sum) and evaluates _nll_units
    on the collected local relation; the returned plan is ONE corpus
    scan + one doc_id exchange."""
    from dex_data_ingestor_spark.operators.text import unigram_logloss

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logloss(docs, n_buckets=65536)


@register(
    "q_embed_gram",
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    x AS (
      SELECT i, j,
             CAST(v[i] AS DECIMAL(18,6)) * CAST(v[j] AS DECIMAL(18,6))
               AS p
      FROM e,
           unnest(range(1, len(v)+1)) AS u(i),
           unnest(range(1, len(v)+1)) AS w(j)
      WHERE j >= i
    )
    SELECT i, j, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS gram
    FROM x GROUP BY 1, 2
    """,
)
def q_embed_gram(spark, sf_dir):
    """Exact second-moment (gram) matrix of the embedding corpus —
    the input to whitening / PCA / ZCA, the standard preprocessing
    before semantic dedup or clustering (decorrelated dimensions make
    cosine thresholds meaningful). Upper triangle only (the matrix is
    symmetric): d(d+1)/2 = 2080 cells at d=64.

    Exactness is q_embed_stats' discipline composed: each component
    quantizes to DECIMAL(18,6) (a float tie at 6 dp would need a
    dyadic 5e-7 — impossible), products are exact DECIMAL(38,12), and
    per-cell sums stay exact; the final double cast is exact because
    |cell| ≤ n * max|x|² ≈ 5.6e14 scaled units < 2^53 at every
    shipped SF (re-derive before sf ≥ 10 — then emit q+r like
    q_twap).

    Plan: this is the 100 TB shape to copy — NO self-join (the naive
    gram is explode ⋈ explode on vec_id): each row expands to its own
    upper-triangle products with one nested-transform + flatten +
    explode (narrow), partial aggregation folds every task to ≤ 2080
    cells BEFORE the single (i, j)-keyed exchange, so shuffle bytes
    are O(tasks · d²) — independent of corpus size."""
    em = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").cast("array<double>").alias("v"))
    )
    # Quantize ONCE per component (d decimal casts per row), then run
    # the d(d+1)/2 pairwise products as exact BIGINT micro-unit
    # multiplies. The previous form evaluated the DECIMAL(18,6) cast
    # inside the nested transform and multiplied into DECIMAL(38,12) —
    # 104M BigDecimal allocations per run at sf0.1 (precision > 18
    # leaves Spark's compact-long fast path). Bit-identical by
    # construction: the quantization rule is the SAME decimal cast
    # (HALF_UP), a 6-dp decimal times 1e6 is exactly integral, the
    # unit products and per-cell sums are exact in BIGINT (|cell| ≤
    # 5.6e14 units at shipped SFs, far under 2^63 AND 2^53), and
    # double(sum)/1e12 is the correctly-rounded double of the same
    # exact rational the old DECIMAL(38,12)->DOUBLE cast rounded.
    # Measured: 8.44 s -> (see OPTIMIZATION_r13.md) at sf0.1.
    #
    # SCALE CEILING (ADVICE r13): the BIGINT path lowers the exact
    # range from the decimal form's ~1e26 to 2^53 (~9.2e6 in value
    # terms per cell: sum over n rows of |x_i * x_j| * 1e12 units).
    # Crossing 2^53 drifts the last ulp vs the oracle (driver red —
    # loud); crossing 2^63 would WRAP SILENTLY with ANSI off. Before
    # running a corpus where n * max|x|^2 * 1e12 can approach 2^53
    # (roughly n * max|x|^2 > 9e3 — e.g. sf >= 10 of this testbed, or
    # unnormalized embeddings), re-derive the bound and either emit
    # quotient+remainder legs like q_twap or revert this cell sum to
    # DECIMAL(38,12).
    units = F.expr(
        "transform(v, x -> CAST(CAST(x AS DECIMAL(18,6)) * 1000000"
        " AS BIGINT))"
    )
    pairs = F.expr(
        """
        flatten(transform(u, (xi, i) ->
          transform(slice(u, i + 1, size(u) - i), (xj, k) ->
            struct(CAST(i + 1 AS BIGINT) AS i, CAST(i + k + 1 AS BIGINT) AS j,
                   xi * xj AS p))))
        """
    )
    x = em.select(units.alias("u")).select(F.explode(pairs).alias("c")).select(
        "c.i", "c.j", "c.p"
    )
    return x.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("p").cast("double") / F.lit(1e12)).alias("gram"),
    )


@register("q_embed_gram_fast", ORACLE_SQL["q_embed_gram"])
def q_embed_gram_fast(spark, sf_dir):
    """The gram matrix through the sanctioned BLAS kernel
    (operators/vector.gram_matrix_fast) — SAME oracle as
    q_embed_gram, bit-identical output (exact integer micro-unit
    products; the kernel's floor rule equals the expression form's
    decimal cast absent 6-dp repr ties, which float32-origin values
    cannot be — equality pinned by test at both driver SFs). Benched
    NEXT TO the expression form so the measured 18x (0.36 s vs
    6.6 s at sf0.1) is a recorded number: the 104M per-cell
    multiplies run as one numpy int64 matmul per Arrow batch instead
    of 104M Catalyst struct allocations, while the shuffle story is
    unchanged (each task folds to <= 2080 cells before the single
    (i, j) exchange). The expression form stays registered as the
    no-Python, plan-asserted shape; this is the one to run at
    100 TB."""
    from dex_data_ingestor_spark.operators.vector import (
        gram_matrix_fast,
    )

    em = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").cast("array<double>").alias("v"))
    )
    return gram_matrix_fast(em, "v", _IVF_DIM)


@register(
    "q_bigram_logloss",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    pairs AS (
      SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
        SELECT doc_id, unnest(list_zip(t[1:-2], t[2:])) AS z
        FROM toks WHERE len(t) >= 2
      )
    ),
    inst AS (
      SELECT doc_id,
             {_MD5_INT.format('prev')} % 16384 AS f1,
             {_MD5_INT.format("prev || chr(31) || cur")} % 65536 AS f2
      FROM pairs
    ),
    num AS (SELECT f2, COUNT(*) AS c2 FROM inst GROUP BY 1),
    den AS (SELECT f1, COUNT(*) AS c1 FROM inst GROUP BY 1),
    scored AS (
      SELECT doc_id,
             CAST(FLOOR(-ln(CAST(c2 AS DOUBLE) / c1) * 1000000.0
                        + 0.5) AS BIGINT) AS nll
      FROM inst JOIN num USING (f2) JOIN den USING (f1)
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(nll) AS BIGINT) AS nll_units,
           CAST(SUM(nll) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_nll
    FROM scored GROUP BY 1
    """,
)
def q_bigram_logloss(spark, sf_dir):
    """Per-document conditional cross-entropy under a corpus
    hashed-BIGRAM LM — the next rung of the CCNet perplexity ladder
    after q_unigram_logloss (production KenLM is a 5-gram; the bigram
    is the first order that sees word ORDER, so shuffled or stitched
    text keeps its unigram score but pays here). Each adjacent pair
    scores -ln(c(prev,cur)/c(prev,*)), both counts over the
    pair-instance stream, so probabilities normalize per predecessor
    bucket and no smoothing is needed for self-scoring.

    Exactness is the unigram scaffold verbatim: exact integer counts,
    one IEEE division, one libm ln quantized to integer micro-nats
    (floor(x*1e6 + 0.5)), order-free BIGINT per-doc sums, one final
    IEEE division. Pair keys join through the ASCII unit separator so
    ("ab","c") vs ("a","bc") cannot collide pre-hash; single-token
    documents have no pairs and drop (documented contract).

    Plan: the fit explodes each pair instance into its two count roles
    (f2 pair / f1 predecessor — the period_over_period role-explode
    trick) so ONE corpus pass + one bounded aggregate (65536 pair +
    16384 prev rows no matter the corpus size — the hashing's whole
    point) yields BOTH model tables, collected and split driver-side
    (exact integer counts -> value-identical); the returned plan is
    ONE corpus scan + two broadcast joins + one doc_id exchange."""
    from dex_data_ingestor_spark.operators.text import bigram_logloss

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logloss(docs)


@register(
    "q_backoff_logloss",
    rf"""
    WITH docs AS (
      SELECT doc_id, text, {_MD5_INT.format('text')} % 100 AS bucket
      FROM documents WHERE length(trim(text)) > 0
    ),
    ttoks AS (
      SELECT string_split_regex(trim(text), '[ \t\n\f\r]+') AS t
      FROM docs WHERE bucket < 5
    ),
    uni AS (
      SELECT fu, COUNT(*) AS cu FROM (
        SELECT {_MD5_INT.format('w')} AS fu
        FROM (SELECT unnest(t) AS w FROM ttoks))
      GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS big_n FROM uni),
    tinst AS (
      SELECT {_MD5_INT.format('z[1]')} AS f1,
             {_MD5_INT.format("z[1] || chr(31) || z[2]")} AS f2
      FROM (SELECT unnest(list_zip(t[1:-2], t[2:])) AS z
            FROM ttoks WHERE len(t) >= 2)
    ),
    num AS (SELECT f2, COUNT(*) AS c2 FROM tinst GROUP BY 1),
    den AS (SELECT f1, COUNT(*) AS c1 FROM tinst GROUP BY 1),
    hinst AS (
      SELECT doc_id,
             {_MD5_INT.format('z[1]')} AS f1,
             {_MD5_INT.format("z[1] || chr(31) || z[2]")} AS f2,
             {_MD5_INT.format('z[2]')} AS fu
      FROM (
        SELECT doc_id, unnest(list_zip(t[1:-2], t[2:])) AS z FROM (
          SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS t
          FROM docs WHERE bucket >= 90)
        WHERE len(t) >= 2)
    ),
    scored AS (
      SELECT doc_id,
             CASE WHEN c2 IS NOT NULL AND c1 IS NOT NULL
               THEN CAST(FLOOR(-ln(CAST(c2 AS DOUBLE) / c1)
                               * 1000000.0 + 0.5) AS BIGINT)
               ELSE CAST(FLOOR(-ln(CAST(0.4 AS DOUBLE)
                                   * (CAST(COALESCE(cu, 1) AS DOUBLE)
                                      / big_n))
                               * 1000000.0 + 0.5) AS BIGINT)
             END AS nll,
             CASE WHEN c2 IS NOT NULL AND c1 IS NOT NULL
                  THEN 0 ELSE 1 END AS backed
      FROM hinst
      LEFT JOIN num USING (f2)
      LEFT JOIN den USING (f1)
      LEFT JOIN uni USING (fu)
      CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(backed) AS BIGINT) AS n_backoff,
           CAST(SUM(nll) AS BIGINT) AS nll_units,
           CAST(SUM(nll) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_nll
    FROM scored GROUP BY 1
    """,
)
def q_backoff_logloss(spark, sf_dir):
    """HELD-OUT cross-entropy with Stupid Backoff (Brants et al.,
    EMNLP 2007) — the rung the self-scored LM queries cannot reach:
    the bigram model fits on a REFERENCE split (the q_hash_split
    content-hash rule) and scores the TEST split (bucket >= 90), so
    unseen pairs are real and the backoff path — alpha * unigram, one
    multiplicative penalty, no discount tuning (what made it THE
    web-scale scheme) — carries weight. n_backoff / n_bigrams is
    itself the signal production pipelines threshold on (high
    backoff rate = text unlike the reference corpus).

    Two fixture-driven calibrations, both measured: (1) keys are
    EXACT md5-int64 events, NOT hashed buckets — a bounded feature
    space saturates ("unseen" never fires: 0 of 2677 held-out pairs
    backed off under 65536 buckets); (2) the reference is the
    bucket < 5 slice, because this fixture's 31-word vocabulary has
    only ~961 possible bigrams and ANY large reference split covers
    them all (bucket < 80 ref: 1 of 2188 pairs backs off; bucket < 5:
    629 of 2188 at sf0.001, 328 of 2677 at sf0.01 — both branches
    load-bearing at both driver scales).

    Exactness: the q_unigram_logloss discipline on both branches —
    exact integer counts, explicit parenthesization of the two IEEE
    ops feeding the single libm ln, micro-nat quantization BEFORE the
    order-free BIGINT per-doc sum.

    Plan / 100 TB: exact keys price the model tables at
    distinct-event size — Brants et al.'s distributed n-gram servers,
    here keyed tables whose join strategy Catalyst/AQE picks:
    broadcast while the reference model fits, hash-keyed shuffle
    join beyond (no skew — the keys are hashes). One doc_id exchange
    closes the scoring."""
    from dex_data_ingestor_spark.operators.text import backoff_logloss

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    bucket = md5_int64(F.col("text")) % 100
    train = docs.filter(bucket < 5)
    test = docs.filter(bucket >= 90)
    return backoff_logloss(test, train)


@register(
    "q_drawdown",
    """
    WITH clean AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_units
      FROM events WHERE value > 0
    ),
    path AS (
      SELECT event_type, v_units,
             max(v_units) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS peak_units
      FROM clean
    )
    SELECT event_type,
           max(peak_units) AS high_units,
           max(peak_units - v_units) AS max_dd_units,
           CASE WHEN abs(max(CAST(peak_units - v_units AS DOUBLE)
                     / CAST(peak_units AS DOUBLE))) < 1000000.0 THEN floor((max(CAST(peak_units - v_units AS DOUBLE)
                     / CAST(peak_units AS DOUBLE))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (max(CAST(peak_units - v_units AS DOUBLE)
                     / CAST(peak_units AS DOUBLE))) END AS max_dd_frac,
           COUNT(*) AS n_ticks
    FROM path GROUP BY 1
    """,
)
def q_drawdown(spark, sf_dir):
    """Maximum drawdown per instrument — the risk-of-ruin statistic
    every backtest and risk report carries next to realized variance:
    the deepest peak-to-trough fall of the price path, both in
    absolute micro-units and as a fraction of the running peak.

    Cross-engine exactness: the price path quantizes by the q_twap
    rule ``floor(value*1e6 + 0.5)`` (pure IEEE), the running peak and
    every drawdown difference are exact BIGINTs, and the fractional
    drawdown is ONE IEEE division per row on exact < 2^53 operands
    (v_units ≤ 3.3e8 here; re-derive if prices ever approach 9e15
    micro-units) — the max over bit-identical doubles picks the same
    row on both engines, rounded to 9 dp last. value > 0 is the
    q_realized_var hygiene gate (a zero/negative print is a bad tick,
    and peak > 0 keeps the division total).

    Plan: the running-max window and the final aggregate share the
    event_type partitioning — ONE exchange end-to-end, the q_twap
    shape. A cumulative max needs no second pass at 100 TB: with the
    tape date-partitioned, each partition's running peak seeds from
    the prior partition's high water mark (a one-row-per-key
    bootstrap, the incremental-MIN pattern)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    clean = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).alias(
            "v_units"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    path = clean.withColumn("peak_units", F.max("v_units").over(w))
    dd = F.col("peak_units") - F.col("v_units")
    return path.groupBy("event_type").agg(
        F.max("peak_units").alias("high_units"),
        F.max(dd).alias("max_dd_units"),
        round_ieee(
            F.max(dd.cast("double") / F.col("peak_units").cast("double")), 9
        ).alias("max_dd_frac"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


@register(
    "q_return_corr",
    """
    WITH clean AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE value > 0
    ),
    closes AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start,
             arg_max(value,
                     date_diff('microsecond', date_trunc('hour', ts), ts)
                       * 2097152 + event_id) AS close_px
      FROM clean GROUP BY 1, 2
    ),
    rets AS (
      SELECT event_type, bar_start,
             CAST(FLOOR((close_px / lag(close_px) OVER w - 1.0)
                        * 10000.0 + 0.5) AS BIGINT) AS r_bp
      FROM closes
      WINDOW w AS (PARTITION BY event_type ORDER BY bar_start)
    ),
    r AS (SELECT * FROM rets WHERE r_bp IS NOT NULL),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.r_bp AS x, b.r_bp AS y
      FROM r a JOIN r b ON a.bar_start = b.bar_start
                       AND a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, COUNT(*) AS n_hours,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM j GROUP BY 1, 2
    ),
    d AS (
      SELECT type_a, type_b, n_hours,
             n_hours * sxy - sx * sy AS num,
             n_hours * sxx - sx * sx AS denx,
             n_hours * syy - sy * sy AS deny
      FROM m
    )
    SELECT type_a, type_b, n_hours,
           CASE WHEN abs((CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END
              * (CAST(ABS(num) // 1000000000000 AS DOUBLE)
                   * 1000000000000.0
                 + CAST(ABS(num) % 1000000000000 AS DOUBLE)))
             / (sqrt(CAST(denx // 1000000000000 AS DOUBLE)
                       * 1000000000000.0
                     + CAST(denx % 1000000000000 AS DOUBLE))
                * sqrt(CAST(deny // 1000000000000 AS DOUBLE)
                         * 1000000000000.0
                       + CAST(deny % 1000000000000 AS DOUBLE)))) < 1000000.0 THEN floor(((CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END
              * (CAST(ABS(num) // 1000000000000 AS DOUBLE)
                   * 1000000000000.0
                 + CAST(ABS(num) % 1000000000000 AS DOUBLE)))
             / (sqrt(CAST(denx // 1000000000000 AS DOUBLE)
                       * 1000000000000.0
                     + CAST(denx % 1000000000000 AS DOUBLE))
                * sqrt(CAST(deny // 1000000000000 AS DOUBLE)
                         * 1000000000000.0
                       + CAST(deny % 1000000000000 AS DOUBLE)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ((CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END
              * (CAST(ABS(num) // 1000000000000 AS DOUBLE)
                   * 1000000000000.0
                 + CAST(ABS(num) % 1000000000000 AS DOUBLE)))
             / (sqrt(CAST(denx // 1000000000000 AS DOUBLE)
                       * 1000000000000.0
                     + CAST(denx % 1000000000000 AS DOUBLE))
                * sqrt(CAST(deny // 1000000000000 AS DOUBLE)
                         * 1000000000000.0
                       + CAST(deny % 1000000000000 AS DOUBLE)))) END AS corr
    FROM d WHERE denx > 0 AND deny > 0
    """,
)
def q_return_corr(spark, sf_dir):
    """Pairwise Pearson correlation of hourly close-to-close returns
    across instruments — the cross-asset dependence matrix portfolio
    risk and pairs-trading screens read; completes the market-metrics
    family's risk leg next to q_realized_var (own-variance) and
    q_drawdown (path risk).

    Exactness, composed from three prior lessons: (1) hourly closes
    select a STORED double under the q_ohlc_bars packed
    (us_into_hour * 2^21 + event_id) total order — no arithmetic;
    (2) returns quantize to integer basis points via one IEEE chain
    ``floor((close/prev - 1)*1e4 + 0.5)`` (the q_twap rule at 1e4
    scale), so every moment sum (Σx, Σx², Σxy) is an exact
    HUGEINT/DECIMAL(38,0); (3) the correlation's numerator and the
    two variance terms exceed 2^53, and huge-decimal→double casts are
    NOT correctly rounded in DuckDB — so each is decomposed exactly
    as ``double(v div 10^12)*1e12 + double(v mod 10^12)`` (both
    halves < 2^53 → exact casts; the recombine is the same two IEEE
    ops on both engines — deterministic even where not perfectly
    rounded). num can be negative and div/mod sign conventions
    diverge, so the decomposition runs on ABS(num) with the sign
    reapplied as a factor. The final ``num / (sqrt(denx)*sqrt(deny))``
    is IEEE ops only (sqrt IS correctly rounded — IEEE 754 requires
    it, unlike libm pow/ln), rounded to 9 dp last. Constant series
    (denx or deny = 0) drop rather than divide by zero.

    Plan: one (event_type, bar) partial-aggregated exchange over the
    raw tape (the dominant cost — identical to q_ohlc_bars), then all
    window/join/moment work runs on the BAR table (≤ types x hours
    rows, orders of magnitude smaller; AQE broadcasts the self-join
    at any realistic scale). At 100 TB the tape scan dominates and
    everything downstream is bar-sized — the correct shape."""
    from pyspark.sql import Window

    from dex_data_ingestor_spark.operators.timeseries import (
        packed_tick_order,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    okey = packed_tick_order("ts", "event_id", "hour")
    closes = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("bar_start"),
            "value",
            okey.alias("okey"),
        )
        .groupBy("event_type", "bar_start")
        .agg(F.max_by("value", "okey").alias("close_px"))
    )
    w = Window.partitionBy("event_type").orderBy("bar_start")
    rets = closes.select(
        "event_type",
        "bar_start",
        F.floor(
            (F.col("close_px") / F.lag("close_px").over(w) - F.lit(1.0))
            * F.lit(10000.0)
            + F.lit(0.5)
        ).alias("r_bp"),
    ).filter(F.col("r_bp").isNotNull())
    a = rets.select(
        F.col("event_type").alias("type_a"),
        "bar_start",
        F.col("r_bp").alias("x"),
    )
    b = rets.select(
        F.col("event_type").alias("type_b"),
        "bar_start",
        F.col("r_bp").alias("y"),
    )
    j = a.join(b, "bar_start").filter(F.col("type_a") < F.col("type_b"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = j.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    d = m.select(
        "type_a",
        "type_b",
        "n_hours",
        (dec(F.col("n_hours")) * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("num"),
        (dec(F.col("n_hours")) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("denx"),
        (dec(F.col("n_hours")) * F.col("syy") - F.col("sy") * F.col("sy"))
        .alias("deny"),
    )
    corr = F.expr(
        """
        round(
          (CASE WHEN num < 0 THEN -1.0D ELSE 1.0D END
           * (CAST(abs(num) div 1000000000000 AS DOUBLE)
                * 1000000000000.0D
              + CAST(abs(num) % 1000000000000 AS DOUBLE)))
          / (sqrt(CAST(denx div 1000000000000 AS DOUBLE)
                    * 1000000000000.0D
                  + CAST(denx % 1000000000000 AS DOUBLE))
             * sqrt(CAST(deny div 1000000000000 AS DOUBLE)
                      * 1000000000000.0D
                    + CAST(deny % 1000000000000 AS DOUBLE))),
          9)
        """
    )
    return (
        d.filter((F.col("denx") > 0) & (F.col("deny") > 0))
        .select("type_a", "type_b", "n_hours", corr.alias("corr"))
    )


@register(
    "q_nb_classify",
    rf"""
    WITH tr AS (
      SELECT lang, text FROM documents
      WHERE length(trim(text)) > 0
        AND {_MD5_INT.format('text')} % 100 < 80
    ),
    te AS (
      SELECT doc_id, text FROM documents
      WHERE length(trim(text)) > 0
        AND {_MD5_INT.format('text')} % 100 >= 90
    ),
    classes AS (SELECT lang, COUNT(*) AS n_docs FROM tr GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM classes),
    priors AS (
      SELECT lang,
             CAST(FLOOR(-ln(CAST(n_docs AS DOUBLE) / n_total)
                        * 1000000.0 + 0.5) AS BIGINT) AS prior_units
      FROM classes CROSS JOIN tot
    ),
    tr_tok AS (
      SELECT lang, {_MD5_INT.format('w')} % 4096 AS f
      FROM (SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS w
            FROM tr)
    ),
    cf AS (SELECT lang, f, COUNT(*) AS c_cf FROM tr_tok GROUP BY 1, 2),
    tot_c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS t_c FROM tr_tok GROUP BY 1
    ),
    grid AS (
      SELECT c.lang, r.range AS f FROM classes c CROSS JOIN range(4096) r
    ),
    model AS (
      SELECT g.lang, g.f,
             CAST(FLOOR(-ln(CAST(COALESCE(cf.c_cf, 0) + 1 AS DOUBLE)
                            / (tc.t_c + 4096)) * 1000000.0 + 0.5)
                  AS BIGINT) AS nll
      FROM grid g
      LEFT JOIN cf ON cf.lang = g.lang AND cf.f = g.f
      JOIN tot_c tc ON tc.lang = g.lang
    ),
    te_tok AS (
      SELECT doc_id, {_MD5_INT.format('w')} % 4096 AS f
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS w
            FROM te)
    ),
    scored AS (
      SELECT t.doc_id, m.lang, CAST(SUM(m.nll) AS BIGINT) AS like_units
      FROM te_tok t JOIN model m USING (f)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT s.doc_id, s.lang,
             s.like_units + p.prior_units AS score_units,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY s.like_units + p.prior_units,
                                         s.lang) AS rk
      FROM scored s JOIN priors p USING (lang)
    )
    SELECT doc_id, lang AS pred, score_units FROM ranked WHERE rk = 1
    """,
)
def q_nb_classify(spark, sf_dir):
    """Multinomial Naive Bayes document classification
    (operators/text.nb_classify) — the model-BASED filter rung of the
    curation ladder: fastText-style classifiers routed GPT-3/LLaMA
    pretraining data by quality/domain; this is the exact-arithmetic,
    oracle-checkable form of that role. Fit on the hash-bucket < 80
    labeled split (labels = lang), predict the argmin-NLL class for
    every bucket ≥ 90 document.

    Exactness: Laplace-smoothed likelihoods -ln((c+1)/(t_c+B)) and
    document-frequency priors quantize to integer micro-nats via the
    shared _nll_units rule, so per-(doc, class) scores are order-free
    exact BIGINT sums and the argmin is an exact integer comparison;
    ties break to the lexicographically smallest class (struct min /
    row_number mirror). The model is DENSE over the class x 4096
    bucket grid so unseen features contribute the smoothed count-1
    likelihood instead of silently dropping.

    Plan / 100 TB: model = O(classes x buckets) rows, broadcast;
    scoring fans each token row out x classes, folded map-side before
    ONE doc-keyed exchange; the fit is one (class, f) shuffle."""
    from dex_data_ingestor_spark.operators.text import nb_classify

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_int64(F.col("text")) % 100
    return nb_classify(
        docs.filter(bucket < 80),
        docs.filter(bucket >= 90),
        label_col="lang",
        n_buckets=4096,
    )


@register(
    "q_ngram_containment_fast",
    f"""
    WITH {_GRAMS_CTE},
    hashed AS (
      SELECT doc_id, {_MD5_INT.format('gram')} AS gram FROM grams
    ),
    counts AS (SELECT doc_id, count(*) AS n_grams FROM hashed GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM hashed a JOIN hashed b USING (gram)
      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT a_id, b_id,
             CASE WHEN abs(CAST(n_inter AS DOUBLE) / ca.n_grams) < 1000000.0 THEN floor((CAST(n_inter AS DOUBLE) / ca.n_grams) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(n_inter AS DOUBLE) / ca.n_grams) END AS containment
      FROM inter JOIN counts ca ON ca.doc_id = a_id
    ) WHERE containment >= 0.5
    """,
)
def q_ngram_containment_fast(spark, sf_dir):
    """q_ngram_containment through HASHED gram keys — the span-dedup
    shuffle-key lesson applied to the pair metrics: the corpus-wide
    shared-gram equi-join carries an 8-byte md5-int64 per row instead
    of a ~20-char gram string (~3x exchange-byte cut, BIGINT key
    compares), which is the lever that matters when the gram exchange
    is the bottleneck at 100 TB. The hash is a pure key substitution
    (no re-distinct — see _gram_pair_intersection's contract), and the
    oracle hashes with the SAME function, so parity is bitwise; a
    cross-doc collision merges grams conservatively (~n²/2³² odds,
    inflating containment toward more dedup, never less). Benched
    NEXT TO the exact-string form so the win is a recorded number."""
    from dex_data_ingestor_spark.operators.neardup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, hashed_keys=True
    )


@register("q_semdedup_fast", ORACLE_SQL["q_semdedup"])
def q_semdedup_fast(spark, sf_dir):
    """q_semdedup through the BLAS pair kernel (operators/vector.
    semantic_dedup_fast) — SAME oracle, same survivor set: the
    assignment pass is identical and the within-cell cosine stage
    runs one matmul per cell under applyInPandas with the HOF form's
    round-to-9dp-then-threshold rule (the kernel-twin pattern of
    q_embed_gram_fast: expression form = the no-Python plan-asserted
    baseline; this = the production path when cells are
    dense-embedding-sized). Benched NEXT TO q_semdedup so the win is
    a recorded number."""
    from dex_data_ingestor_spark.operators.vector import (
        seeded_centroids,
        semantic_dedup_fast,
        usable_embeddings,
    )

    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = seeded_centroids(_IVF_DIM, _IVF_NCELLS, seed=_IVF_SEED)
    out = semantic_dedup_fast(
        em, "vec_id", "embedding", cents,
        threshold=_SEMDEDUP_THRESHOLD,
    )
    return out.select("vec_id", "cell")


from dex_data_ingestor_spark.operators.text import (  # noqa: E402
    GOPHER_MAX_AVG_WORD_LEN as _G_MAX_AWL,
    GOPHER_MAX_BULLET_LINE_FRAC as _G_MAX_BULLET,
    GOPHER_MAX_ELLIPSIS_LINE_FRAC as _G_MAX_ELL,
    GOPHER_MAX_SYMBOL_RATIO as _G_MAX_SYM,
    GOPHER_MAX_WORDS as _G_MAX_W,
    GOPHER_MIN_ALPHA_WORD_FRAC as _G_MIN_ALPHA,
    GOPHER_MIN_AVG_WORD_LEN as _G_MIN_AWL,
    GOPHER_MIN_STOPWORD_HITS as _G_MIN_STOP,
    GOPHER_MIN_WORDS as _G_MIN_W,
    GOPHER_STOPWORDS as _G_STOPS,
)

_G_STOP_LIST = ", ".join(f"'{s}'" for s in _G_STOPS)


@register(
    "q_gopher_rules",
    rf"""
    WITH d AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '[ \t\n\f\r]+') AS w,
             string_split(text, chr(10)) AS lines
      FROM documents WHERE length(trim(text)) > 0
    ),
    m AS (
      SELECT doc_id,
             len(w) AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
               / len(w) AS avg_wl,
             ((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) / 3)
               / len(w) AS symbol_ratio,
             CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
               / len(lines) AS bullet_frac,
             CAST(len(list_filter(lines,
                    l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS DOUBLE)
               / len(lines) AS ellipsis_frac,
             CAST(len(list_filter(w,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / len(w) AS alpha_frac,
             len(list_intersect(
                   list_distinct(list_transform(w, x -> lower(x))),
                   [{_G_STOP_LIST}])) AS stop_hits
      FROM d
    )
    SELECT doc_id,
           n_words >= {_G_MIN_W} AND n_words <= {_G_MAX_W}
             AS ok_word_count,
           avg_wl >= {_G_MIN_AWL} AND avg_wl <= {_G_MAX_AWL}
             AS ok_word_len,
           symbol_ratio <= {_G_MAX_SYM} AS ok_symbols,
           bullet_frac <= {_G_MAX_BULLET} AS ok_bullets,
           ellipsis_frac <= {_G_MAX_ELL} AS ok_ellipsis,
           alpha_frac >= {_G_MIN_ALPHA} AS ok_alpha,
           stop_hits >= {_G_MIN_STOP} AS ok_stopwords,
           (n_words >= {_G_MIN_W} AND n_words <= {_G_MAX_W})
             AND (avg_wl >= {_G_MIN_AWL} AND avg_wl <= {_G_MAX_AWL})
             AND symbol_ratio <= {_G_MAX_SYM}
             AND bullet_frac <= {_G_MAX_BULLET}
             AND ellipsis_frac <= {_G_MAX_ELL}
             AND alpha_frac >= {_G_MIN_ALPHA}
             AND stop_hits >= {_G_MIN_STOP} AS keep
    FROM m
    """,
)
def q_gopher_rules(spark, sf_dir):
    """The Gopher quality-rule set (Rae et al. 2021, App. A1.1) as
    per-document gates (operators/text.gopher_rules) — the PUBLISHED
    heuristic filter battery implemented faithfully and
    oracle-checked, completing the curation ladder's heuristic rung
    beside the model-based gates (CCNet perplexity, DSIR, NB). Flags
    are exact integer/string computations plus single IEEE divisions
    compared to literal thresholds — boolean-deterministic
    cross-engine with no rounding step. Entirely narrow: zero
    shuffles at any corpus size."""
    from dex_data_ingestor_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return gopher_rules(docs, "doc_id", "text")


@register(
    "q_c4_filters",
    """
    WITH d AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id,
           CAST(len(list_filter(lines,
                  l -> regexp_matches(rtrim(l), '[.!?"]$'))) AS DOUBLE)
             / len(lines) AS terminal_line_frac,
           len(regexp_extract_all(text, '[.!?]')) AS n_sentences,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           len(list_filter(lines,
                 l -> contains(lower(l), 'javascript'))) AS n_js_lines,
           len(regexp_extract_all(text, '[.!?]')) >= 3
             AND NOT contains(text, '{')
             AND NOT contains(lower(text), 'lorem ipsum') AS keep
    FROM d
    """,
)
def q_c4_filters(spark, sf_dir):
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2) as
    per-document gates (operators/text.c4_filters): terminal-
    punctuation line fraction, sentence-count floor, code/placeholder
    rejection (curly brace, lorem ipsum), javascript line count. The
    second published filter set beside q_gopher_rules; same
    narrow-only, boolean-deterministic posture."""
    from dex_data_ingestor_spark.operators.text import c4_filters

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return c4_filters(docs, "doc_id", "text")


@register(
    "q_char_entropy",
    """
    WITH d AS (
      SELECT doc_id, trim(text) AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    chars AS (
      SELECT doc_id, substr(t, u.i, 1) AS ch
      FROM d, unnest(range(1, length(t) + 1)) AS u(i)
    ),
    counts AS (
      SELECT doc_id, ch, COUNT(*) AS n_c FROM chars GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(n_c) AS BIGINT) AS n_chars,
             COUNT(*) AS n_distinct_chars
      FROM counts GROUP BY 1
    )
    SELECT c.doc_id, t.n_chars, t.n_distinct_chars,
           CAST(SUM(CAST(FLOOR(
                 (-ln(CAST(n_c AS DOUBLE) / t.n_chars)
                  * (CAST(n_c AS DOUBLE) / t.n_chars))
                 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS entropy_units,
           CAST(SUM(CAST(FLOOR(
                 (-ln(CAST(n_c AS DOUBLE) / t.n_chars)
                  * (CAST(n_c AS DOUBLE) / t.n_chars))
                 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
             AS entropy
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY 1, 2, 3
    """,
)
def q_char_entropy(spark, sf_dir):
    """Per-document Shannon character entropy (nats) — the
    information-theoretic quality gate beside the heuristic batteries:
    near-zero entropy flags degenerate repetition (aaaa..., padding),
    abnormally high entropy flags random/gibberish or binary-ish
    text; CCNet-era pipelines pair it with perplexity because it
    needs NO model. Entropy = -Σ p_c ln p_c over the character
    histogram of the trimmed text.

    Exactness: each character class's term -p·ln(p) is quantized to
    integer micro-nats with one explicitly-parenthesized IEEE chain
    (div → ln → negate → multiply → scale → floor; ≤ distinct-char
    classes of libm args per doc, absorbed by the quantum — the
    _nll_units discipline), so per-doc sums are order-free exact
    BIGINTs; the final display division is one IEEE op. The p=1
    single-character edge lands exactly on floor(-0.0 + 0.5) = 0 in
    both engines.

    Plan: one (doc_id, ch) exchange for the histogram (partial
    map-side counts fold the per-task character space first), one
    doc-keyed exchange for the totals — both shuffle rows bounded by
    docs x alphabet, far under the corpus's character count."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    ).select("doc_id", F.trim(F.col("text")).alias("t"))
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(t)), i -> substring(t, i, 1))"
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    tot = counts.groupBy("doc_id").agg(
        F.sum("n_c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )
    p = F.col("n_c").cast("double") / F.col("n_chars")
    term = F.floor(
        ((-F.log(p)) * p) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    joined = counts.join(tot, "doc_id")
    units = F.sum(term).cast("bigint")
    return joined.groupBy("doc_id", "n_chars", "n_distinct_chars").agg(
        units.alias("entropy_units"),
        (units.cast("double") / F.lit(1000000.0)).alias("entropy"),
    )




# =========================================================================
# Round-8 continuation additions: edit-distance verify, rolling vol,
# inverted index, random projection
# =========================================================================

#: the shingle->minhash->band->bucket oracle prefix shared by the LSH
#: pair queries (kept verbatim-equal to the inline copies above).



@register(
    "q_edit_distance",
    f"""
    WITH {_MINHASH_BUCKETS_CTE},
    {_CAPPED_PAIRS_CTE},
    t AS (SELECT doc_id, text, length(text) AS ln FROM documents),
    v AS (
      SELECT c.a_id, c.b_id,
             CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
             CASE WHEN abs(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                   / CAST(greatest(ta.ln, tb.ln) AS DOUBLE)) < 1000000.0 THEN floor((1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                   / CAST(greatest(ta.ln, tb.ln) AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                   / CAST(greatest(ta.ln, tb.ln) AS DOUBLE)) END
               AS edit_sim
      FROM cand_pairs c
      JOIN t ta ON ta.doc_id = c.a_id
      JOIN t tb ON tb.doc_id = c.b_id
      WHERE greatest(ta.ln, tb.ln) > 0
    )
    SELECT a_id, b_id, edit_dist, edit_sim FROM v WHERE edit_sim >= 0.6
    """,
)
def q_edit_distance(spark, sf_dir):
    """Character-level near-dup verification: LSH candidate pairs
    (sub-quadratic, hot-bucket-capped) verified by unit-cost
    Levenshtein similarity ``1 - lev/max(len)`` >= 0.6 — the edit-
    distance rung of the verify ladder (word-gram Jaccard is blind to
    sub-word edits: typo farms, template fills, OCR noise). Both
    division inputs are exact integers, so the one IEEE division is
    bit-stable (q_tfidf's rational-score discipline); the DuckDB
    byte-vs-Spark-codepoint levenshtein seam is ASCII-safe and pinned
    with a non-ASCII divergence witness in tests/test_neardup.py.
    Verification cost is O(candidates x len^2) JVM-side — safe only
    downstream of the LSH generator, never all-pairs."""
    from dex_data_ingestor_spark.operators.neardup import (
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
        verify_pairs_edit_distance,
    )

    docs = load_table(spark, sf_dir, "documents")
    buckets = lsh_band_buckets_wide(
        minhash_signatures_wide(docs, "doc_id", "text", shingle_n=3),
        "doc_id",
        rows_per_band=4,
    )
    cands = lsh_candidate_pairs(buckets, "doc_id")
    out = verify_pairs_edit_distance(
        cands, docs, "doc_id", "text", threshold=0.6
    )
    return out.withColumn("edit_dist", F.col("edit_dist").cast("bigint"))


@register(
    "q_rolling_vol",
    """
    WITH clean AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE value > 0
    ),
    rets AS (
      SELECT event_type, ts,
             CAST(FLOOR(ln(value / lag(value) OVER w) * 1000000.0
                        + 0.5) AS BIGINT) AS lnu
      FROM clean
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    seg AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_start, lnu
      FROM rets WHERE lnu IS NOT NULL
    ),
    bars AS (
      SELECT event_type, bar_start,
             CAST(SUM(lnu * lnu) AS HUGEINT) AS num
      FROM seg GROUP BY 1, 2
    ),
    roll AS (
      SELECT event_type, bar_start,
             COUNT(*) OVER w24 AS n_bars,
             CAST(SUM(num) OVER w24 AS HUGEINT) AS rnum
      FROM bars
      WINDOW w24 AS (PARTITION BY event_type ORDER BY bar_start
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bar_start, CAST(n_bars AS BIGINT) AS n_bars,
           CAST(rnum // 1000000000000 AS DOUBLE)
             + CAST(rnum % 1000000000000 AS DOUBLE) / 1000000000000.0
             AS rv_24h,
           CASE WHEN abs(sqrt(CAST(rnum // 1000000000000 AS DOUBLE)
             + CAST(rnum % 1000000000000 AS DOUBLE)
               / 1000000000000.0)) < 1000000.0 THEN floor((sqrt(CAST(rnum // 1000000000000 AS DOUBLE)
             + CAST(rnum % 1000000000000 AS DOUBLE)
               / 1000000000000.0)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (sqrt(CAST(rnum // 1000000000000 AS DOUBLE)
             + CAST(rnum % 1000000000000 AS DOUBLE)
               / 1000000000000.0)) END AS vol_24h
    FROM roll
    """,
)
def q_rolling_vol(spark, sf_dir):
    """Trailing-24-bar realized volatility per instrument — the
    rolling-risk leg beside q_realized_var's per-bar variance:
    hourly squared-log-return bars roll under a 24-row window
    (ROWS, not RANGE: gap hours carry the window across, documented)
    and ``vol_24h = sqrt(rv)``. Exactness is q_realized_var's
    composed discipline end-to-end — micro-log-unit returns, squares
    summed in DECIMAL(38,0)/HUGEINT through BOTH the bar aggregate
    and the rolling window sum (a hot day exceeds 2^63), the q+r
    exit against 10^12, and sqrt is IEEE-correctly-rounded in both
    engines (the q_return_corr precedent; libm pow/ln are not).

    Plan: ONE event_type exchange — the lag window, the hourly bar
    aggregate and the rolling window all ride the same hash
    partitioning (bar rows are tape-rows/3600 before the rolling
    pass touches them). Same instrument-key scale note as the other
    market legs."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select("event_type", "ts", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lnu = F.floor(
        F.log(F.col("value") / F.lag("value").over(w)) * F.lit(1000000.0)
        + F.lit(0.5)
    )
    seg = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("bar_start"),
            lnu.alias("lnu"),
        )
        .filter(F.col("lnu").isNotNull())
    )
    bars = seg.groupBy("event_type", "bar_start").agg(
        F.sum(
            (F.col("lnu") * F.col("lnu")).cast("decimal(38,0)")
        ).alias("num")
    )
    w24 = (
        Window.partitionBy("event_type")
        .orderBy("bar_start")
        .rowsBetween(-23, 0)
    )
    roll = bars.select(
        "event_type",
        "bar_start",
        F.count(F.lit(1)).over(w24).alias("n_bars"),
        F.sum("num").over(w24).alias("rnum"),
    )
    rv = (
        F.expr("rnum div 1000000000000").cast("double")
        + F.expr("rnum % 1000000000000").cast("double")
        / F.lit(1000000000000.0)
    )
    return roll.select(
        "event_type",
        "bar_start",
        "n_bars",
        rv.alias("rv_24h"),
        round_ieee(F.sqrt(rv), 9).alias("vol_24h"),
    )


@register(
    "q_inverted_index",
    r"""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    agg AS (SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
            FROM tf GROUP BY 1),
    rk AS (SELECT term, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY term
                                     ORDER BY doc_id) AS rk
           FROM tf),
    post AS (SELECT term,
                    string_agg(CAST(doc_id AS VARCHAR), ','
                               ORDER BY doc_id) AS postings
             FROM rk WHERE rk <= 20 GROUP BY 1)
    SELECT term, df, cf, postings FROM agg JOIN post USING (term)
    """,
)
def q_inverted_index(spark, sf_dir):
    """Term-side inverted index with capped posting lists
    (operators/text.inverted_index) — the retrieval-index build the
    serving side of q_bm25 would range-read. The cap (first 20 doc
    ids ascending) is applied by a rank window BEFORE collect_list,
    so no stopword posting list ever materializes unbounded on an
    executor; ``df`` reports the true document frequency, making the
    truncation explicit. One (doc, term) exchange; the rank, df/cf
    aggregate and bounded collection all ride term partitioning."""
    from dex_data_ingestor_spark.operators.text import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", max_postings=20)


def _rp_values_sql(matrix_units) -> str:
    return ", ".join(
        "(%d, [%s])"
        % (c + 1, ",".join(f"{v}::BIGINT" for v in row))
        for c, row in enumerate(matrix_units)
    )


_RP_UNITS = _projection_matrix_units(64, 16, seed=29)


@register(
    "q_random_project",
    f"""
    WITH x AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    u AS (
      SELECT vec_id, list_transform(v, e ->
               CAST(FLOOR(e * 1000000.0 + 0.5) AS BIGINT)) AS uu
      FROM x WHERE len(v) = 64
    ),
    comps(comp, r) AS (VALUES {{_rp_vals}}),
    proj AS (
      SELECT vec_id, comp,
             CAST(list_sum(list_transform(range(1, 65),
                    i -> uu[i] * r[i])) AS BIGINT) AS proj_units
      FROM u CROSS JOIN comps
    )
    SELECT vec_id, comp, proj_units,
           CAST(proj_units AS DOUBLE) / 1000000000000.0 AS proj
    FROM proj
    """.replace("{_rp_vals}", _rp_values_sql(_RP_UNITS)),
)
def q_random_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 -> 16 over the
    embedding corpus (operators/vector.random_project) — the
    dimensionality-reduction rung of the vector family (JL preserves
    pairwise distances within 1 +/- eps; the data-adapted twin is
    pca_fit/pca_project, property-tested rather than oracle-paired
    because its basis is data-derived). The seeded projection matrix
    is quantized once to integer micro-units and shared verbatim
    with the oracle (the IVF-centroid pattern), so every projected
    component is an exact int64 dot product — zero cross-engine
    float caveat, like the PQ family. Entirely narrow: zero shuffles
    at any corpus size."""
    from dex_data_ingestor_spark.operators.vector import random_project

    em = load_table(spark, sf_dir, "embeddings")
    return random_project(em, "embedding", _RP_UNITS, id_cols=("vec_id",))




@register(
    "q_pmi_collocations",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    cu AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
    nu AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_uni FROM cu),
    pr AS (
      SELECT t[i] AS a, t[i+1] AS b
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    np AS (SELECT COUNT(*) AS n_pairs FROM pr),
    cp AS (SELECT a, b, COUNT(*) AS c_ab FROM pr GROUP BY 1, 2
           HAVING COUNT(*) >= 5),
    scored AS (
      SELECT cp.a, cp.b, cp.c_ab, ca.c_w AS c_a, cb.c_w AS c_b,
             CAST(FLOOR(ln(
               (CAST(cp.c_ab AS DOUBLE) * CAST(n_uni AS DOUBLE)
                * CAST(n_uni AS DOUBLE))
               / (CAST(n_pairs AS DOUBLE) * CAST(ca.c_w AS DOUBLE)
                  * CAST(cb.c_w AS DOUBLE))
             ) * 1000000.0 + 0.5) AS BIGINT) AS pmi_units
      FROM cp
      JOIN cu ca ON ca.w = cp.a
      JOIN cu cb ON cb.w = cp.b
      CROSS JOIN nu CROSS JOIN np
    )
    SELECT a, b, c_ab, c_a, c_b, pmi_units,
           CAST(pmi_units AS DOUBLE) / 1000000.0 AS pmi
    FROM scored
    ORDER BY pmi_units DESC, a, b
    LIMIT 50
    """,
)
def q_pmi_collocations(spark, sf_dir):
    """Top-50 adjacent-word collocations by PMI
    (operators/text.pmi_collocations) — phrase mining over the corpus
    (vocabulary induction's first pass, next to the BPE trainer's
    frequency merges). Counts are exact integers; the PMI argument is
    one canonical IEEE expression tree on both engines; micro-nat
    quantization under the shared floor rule; the top-50 cut is a
    unique total order executed as TakeOrdered, never a full sort."""
    from dex_data_ingestor_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "doc_id", "text", min_count=5, k=50)




@register(
    "q_incremental_agg",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_l_quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_l_extendedprice
    FROM lineitem
    WHERE (CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
           AND l_orderkey % 7 <> 0)
       OR (CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
           AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1998-01-01')
    GROUP BY 1, 2
    """,
)
def q_incremental_agg(spark, sf_dir):
    """Incremental materialized-aggregate maintenance PROVEN against
    the from-scratch oracle (the q_ohlc_daily pattern — the engine
    takes the incremental path, the oracle recomputes, bitwise parity
    proves the maintenance algebra): a Q1-shaped roll-up seeded on
    the pre-1997 window, then maintained with simulated deletes
    (orderkey % 7 of the base) and the 1997 window's inserts via
    operators/matview.maintain_grouped_sums. Decimal(18,6) addends
    make maintain == recompute an exact equality — the discipline
    that lets a 100 TB pipeline refresh a roll-up at |delta| cost
    forever without drift. One |delta| groupBy + one group-keyed
    full-outer join; nothing rescans the retained base rows.

    The maintained sums stay exact DECIMAL(38,6) INSIDE matview (the
    maintenance algebra's correctness discipline); this query casts
    them to DOUBLE at its output boundary -- the registry's portable
    sum convention (r9 driver red: DECIMAL results hash
    type-divergently across engines even when bitwise-equal, the
    decimal twin of r8's HUGEINT lesson). Scaled values here top out
    ~2.1e14, far inside the 2^63 correctly-rounded-cast domain."""
    from dex_data_ingestor_spark.operators.matview import (
        grouped_sums,
        maintain_grouped_sums,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        F.col("l_shipdate").cast("timestamp_ntz").alias("sd"),
    )
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    gcols = ["l_returnflag", "l_linestatus"]
    ms = ["l_quantity", "l_extendedprice"]
    base_rows = li.filter(F.col("sd") < lo)
    base = grouped_sums(base_rows, gcols, ms)
    removed = base_rows.filter(F.col("l_orderkey") % 7 == 0)
    added = li.filter((F.col("sd") >= lo) & (F.col("sd") < hi))
    out = maintain_grouped_sums(base, removed, added, gcols, ms)
    return out.select(
        *gcols,
        "n_rows",
        *[F.col(f"sum_{m}").cast("double").alias(f"sum_{m}") for m in ms],
    )


# =========================================================================
# Round-8 continuation: PageRank, hybrid retrieval fusion, A/B testing
# =========================================================================

#: PageRank iteration count / damping for q_pagerank (shared by the
#: Spark loop and the generated unrolled-CTE oracle below).
_PR_ITER = 5
_PR_DAMP = 85


def _pagerank_oracle_sql() -> str:
    """Oracle for q_pagerank: the identical integer-unit update
    unrolled as one chained CTE per iteration. Every step is BIGINT
    arithmetic (``//`` floor division on nonnegative values == Spark's
    ``div``), so parity is exact with zero float caveat — DuckDB's
    HUGEINT SUM is folded back by the outer CAST."""
    base = (100 - _PR_DAMP) * 10_000
    its = []
    for k in range(1, _PR_ITER + 1):
        its.append(f"""
    p{k} AS (
      SELECT n.node,
             CAST({base} + ({_PR_DAMP} * COALESCE(i.s, 0)) // 100
                  AS BIGINT) AS units
      FROM nodes n LEFT JOIN (
        SELECT e.dst, SUM(p.units // d.outdeg) AS s
        FROM edges e
        JOIN p{k - 1} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY 1) i ON n.node = i.dst
    )""")
    chain = ",".join(its)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS units FROM nodes),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS node_key,
           units AS pr_units,
           CAST(units AS DOUBLE) / 1000000.0 AS pr
    FROM p{_PR_ITER}
    ORDER BY pr_units DESC, node_type, node_key
    LIMIT 20
    """


@register("q_pagerank", _pagerank_oracle_sql())
def q_pagerank(spark, sf_dir):
    """Top-20 PageRank centrality over the symmetrized
    customer<->supplier trade graph (edges = distinct pairs through
    orders |><| lineitem) — the graph-centrality rung beside connected
    components (operators/graph.pagerank_units). The entire iteration
    is exact BIGINT micro-unit arithmetic (contribution = units div
    outdeg, update = 150000 + 85%*inflow div 100), so the unrolled
    oracle is bit-identical with NO float discipline needed anywhere —
    the PQ/twap integer rule carried to an iterative algorithm. At
    100 TB each round is one dst-keyed shuffle with map-side combine;
    lineage is checkpoint-truncated; driver state is zero."""
    from dex_data_ingestor_spark.operators.graph import pagerank_units

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    pr = pagerank_units(edges, n_iter=_PR_ITER, damping_pct=_PR_DAMP)
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            F.col("units").alias("pr_units"),
            (F.col("units").cast("double") / F.lit(1000000.0)).alias("pr"),
        )
        .orderBy(F.col("pr_units").desc(), "node_type", "node_key")
        .limit(20)
    )


#: Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60) and
#: per-list depth for q_rrf_fusion.
_RRF_K = 60
_RRF_DEPTH = 50


def _rrf_oracle_sql() -> str:
    """Oracle for q_rrf_fusion: BM25 ranks (the q_bm25 CTE verbatim)
    fused with cosine ranks (the q_vector_topk scoring) by exact
    integer RRF units — 10^12 // (k + rank) per list, summed as
    BIGINTs, so fusion and the final ordering carry zero float
    caveat; only the two input rankings lean on the established
    9-dp disciplines."""
    return rf"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS term
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS dl,
             COUNT(*) FILTER (term = 'spark') AS tf_spark,
             COUNT(*) FILTER (term = 'table') AS tf_table,
             COUNT(*) FILTER (term = 'query') AS tf_query
      FROM w GROUP BY 1
    ),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n,
             COUNT(*) FILTER (tf_spark > 0) AS df_spark,
             COUNT(*) FILTER (tf_table > 0) AS df_table,
             COUNT(*) FILTER (tf_query > 0) AS df_query
      FROM per_doc
    ),
    bm AS (
      SELECT doc_id,
             CASE WHEN abs({_bm25_contrib_sql("spark")}
                   + {_bm25_contrib_sql("table")}
                   + {_bm25_contrib_sql("query")}) < 1000000.0 THEN floor(({_bm25_contrib_sql("spark")}
                   + {_bm25_contrib_sql("table")}
                   + {_bm25_contrib_sql("query")}) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ({_bm25_contrib_sql("spark")}
                   + {_bm25_contrib_sql("table")}
                   + {_bm25_contrib_sql("query")}) END AS bm25
      FROM per_doc CROSS JOIN stats
      WHERE tf_spark + tf_table + tf_query > 0
    ),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM bm QUALIFY r <= {_RRF_DEPTH}
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    cs AS (
      SELECT e.vec_id AS doc_id,
             CASE WHEN abs(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qe, q.qe)))) < 1000000.0 THEN floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qe, q.qe)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qe, q.qe)))) END AS cos_sim
      FROM embeddings e, qv q
      WHERE e.embedding IS NOT NULL
        AND list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])) > 0
    ),
    vec AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r
      FROM cs QUALIFY r <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             CAST(l.r AS BIGINT) AS lex_rank,
             CAST(v.r AS BIGINT) AS vec_rank,
             CAST(COALESCE(1000000000000 // ({_RRF_K} + l.r), 0)
                  + COALESCE(1000000000000 // ({_RRF_K} + v.r), 0)
                  AS BIGINT) AS rrf_units
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_units,
           CAST(rrf_units AS DOUBLE) / 1000000000000.0 AS rrf
    FROM fused
    ORDER BY rrf_units DESC, doc_id
    LIMIT 20
    """


@register("q_rrf_fusion", _rrf_oracle_sql())
def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: BM25 top-50 and cosine top-50 fused by
    reciprocal rank fusion (Cormack et al. 2009) — the standard
    lexical+dense combiner for query-targeted corpus selection,
    composing q_bm25's scorer with q_vector_topk's dense ranking over
    the aligned doc_id==vec_id corpus. RRF is carried in EXACT
    integer units (10^12 // (k + rank), summed as BIGINTs), so the
    fused ordering has zero cross-engine float exposure; the two
    input rankings each end in a unique (score DESC, doc_id) total
    order under their established 9-dp disciplines. At 100 TB both
    candidate lists are TakeOrdered top-50 cuts (no global sort, no
    full-corpus window — the row_number windows run on 50 rows), and
    the fusion join touches at most 2*depth rows."""
    from pyspark.sql import Window

    from dex_data_ingestor_spark.operators.vector import cosine

    docs = load_table(spark, sf_dir, "documents")
    bm = _bm25_scores(docs)
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        bm.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))
    )

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    # same hygiene gate as q_vector_topk/q_embed_auc
    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    q = em.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qe")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    cs = em.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        round_ieee(cosine(v, F.col("qe")), 9).alias("cos_sim"),
    )
    w_vec = Window.orderBy(F.col("cos_sim").desc(), "doc_id")
    vec = (
        cs.orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", F.row_number().over(w_vec).alias("vec_rank"))
    )

    fused = lex.join(vec, ["doc_id"], "full_outer").select(
        "doc_id",
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("vec_rank").cast("long").alias("vec_rank"),
        F.expr(
            f"coalesce(1000000000000L div ({_RRF_K} + lex_rank), 0L)"
            f" + coalesce(1000000000000L div ({_RRF_K} + vec_rank), 0L)"
        ).alias("rrf_units"),
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            "rrf_units",
            (F.col("rrf_units").cast("double") / F.lit(1.0e12)).alias(
                "rrf"
            ),
        )
        .orderBy(F.col("rrf_units").desc(), "doc_id")
        .limit(20)
    )


@register(
    "q_ab_test",
    """
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS grp,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
      FROM u
    ),
    rates AS (
      SELECT n_a, x_a, n_b, x_b,
             CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
             CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
             CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p
      FROM agg
    )
    SELECT n_a, x_a, n_b, x_b,
           CASE WHEN abs(p_a) < 1000000.0 THEN floor((p_a) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (p_a) END AS rate_a,
           CASE WHEN abs(p_b) < 1000000.0 THEN floor((p_b) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (p_b) END AS rate_b,
           CASE WHEN n_a > 0 AND n_b > 0
                 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
                THEN CASE WHEN abs((p_a - p_b)
                           / sqrt(p * (1.0 - p)
                                  * (1.0 / CAST(n_a AS DOUBLE)
                                     + 1.0 / CAST(n_b AS DOUBLE)))) < 1000000.0 THEN floor(((p_a - p_b)
                           / sqrt(p * (1.0 - p)
                                  * (1.0 / CAST(n_a AS DOUBLE)
                                     + 1.0 / CAST(n_b AS DOUBLE)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ((p_a - p_b)
                           / sqrt(p * (1.0 - p)
                                  * (1.0 / CAST(n_a AS DOUBLE)
                                     + 1.0 / CAST(n_b AS DOUBLE)))) END
                ELSE NULL END AS z
    FROM rates
    """,
)
def q_ab_test(spark, sf_dir):
    """Two-sample proportions z-test over a hash-randomized user
    split: variant = md5 parity of user_id (the q_hash_split
    assignment rule), conversion = the user ever fired a high-value
    purchase (value >= 150 — an exact double-vs-literal comparison;
    plain 'any purchase' saturates the fixtures to 100% conversion
    and degenerates z). The counts are exact BIGINTs from one user-keyed
    aggregate; the z statistic is ONE shared IEEE expression tree
    (three exact-count divisions, one correctly-rounded sqrt — no
    libm pow/ln anywhere) so parity needs no quantization beyond the
    9-dp display round. Degenerate splits (empty arm, zero or total
    conversion) return NULL z identically on both engines — Spark's
    non-ANSI x/0.0-is-NULL vs DuckDB's IEEE inf never gets to
    differ. At 100 TB this is one user-keyed shuffle (map-side
    combined) and a 4-value final reduce."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150.0),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    grp = md5_int64(F.col("user_id").cast("string")) % 2
    agg = u.select(grp.alias("grp"), "conv").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    rates = agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        (F.col("x_a").cast("double") / F.col("n_a").cast("double")).alias(
            "p_a"
        ),
        (F.col("x_b").cast("double") / F.col("n_b").cast("double")).alias(
            "p_b"
        ),
        (
            (F.col("x_a") + F.col("x_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ).alias("p"),
    )
    p, p_a, p_b = F.col("p"), F.col("p_a"), F.col("p_b")
    n_a, n_b = F.col("n_a"), F.col("n_b")
    z = (p_a - p_b) / F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / n_a.cast("double")
            + F.lit(1.0) / n_b.cast("double")
        )
    )
    x_tot = F.col("x_a") + F.col("x_b")
    n_tot = F.col("n_a") + F.col("n_b")
    return rates.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        round_ieee(p_a, 9).alias("rate_a"),
        round_ieee(p_b, 9).alias("rate_b"),
        F.when(
            (n_a > 0) & (n_b > 0) & (x_tot > 0) & (x_tot < n_tot),
            round_ieee(z, 9),
        ).alias("z"),
    )


@register(
    "q_embed_auc",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, label AS qlabel
               FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    scored AS (
      SELECT CAST(FLOOR(
               CASE WHEN abs(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qe, q.qe)))) < 1000000.0 THEN floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qe, q.qe)))) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qe, q.qe)))) END
               * 1000000000.0 + 0.5) AS BIGINT) AS u,
             CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS pos
      FROM embeddings e, q
      WHERE e.embedding IS NOT NULL
        AND list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])) > 0
    ),
    g AS (
      SELECT u, COUNT(*) AS cnt, CAST(SUM(pos) AS BIGINT) AS np
      FROM scored GROUP BY 1
    ),
    ranked AS (
      SELECT u, cnt, np,
             CAST(COALESCE(SUM(cnt) OVER (
               ORDER BY u ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS cum_less
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(np * (2 * cum_less + cnt + 1)) AS BIGINT) AS r2,
             CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - np) AS BIGINT) AS n_neg
      FROM ranked
    )
    SELECT n_pos, n_neg,
           CASE WHEN abs(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE)) < 1000000.0 THEN floor((CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 ELSE (CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE)) END AS auc
    FROM agg
    """,
)
def q_embed_auc(spark, sf_dir):
    """Exact ROC AUC of 'cosine similarity to the query vector
    predicts sharing the query's label' — the retrieval-quality /
    embedding-coherence evaluation a training-data pipeline runs over
    its ANN index (the eval rung next to the PQ recall bounds).
    Computed in the Mann-Whitney rank-sum form with proper tie
    handling: scores quantize to integer nano-units by the pure-IEEE
    floor rule, tie groups get average ranks via the doubled-rank
    identity 2*rank_avg = 2*cum_less + cnt + 1, and every sum is an
    exact BIGINT — AUC is one final IEEE division of two exact
    int64s (int64->double casts are correctly rounded on both
    engines, unlike the DECIMAL(38) seam q_twap closed; exact up to
    ~3e9 rows). At 100 TB the score pass is embarrassingly parallel
    and the rank pass runs over the GROUPED distinct-score table via
    a TWO-LEVEL range-bucketed prefix sum (vector.
    exclusive_prefix_sum): the within-bucket running totals window is
    PARTITIONED (parallel), and the only single-partition window left
    is over the 1024-row bucket-offset table — bounded however large
    the score table grows. Bit-identical to the global-window form
    (exact integer sums; property-tested)."""
    from dex_data_ingestor_spark.operators.vector import (
        cosine,
        dot,
        exclusive_prefix_sum,
    )

    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    # hygiene gate (mirrored in the oracle WHERE): NULL or zero-norm
    # embeddings have no cosine — unguarded they'd produce a NULL
    # quantized score, which exclusive_prefix_sum's bucket equi-join
    # would silently drop (its contract requires non-NULL keys).
    # Applied BEFORE the query-row extraction so a degenerate anchor
    # empties BOTH legs the same way the oracle's gated q CTE does —
    # an ungated zero-norm anchor hits the Spark-NULL-vs-DuckDB-inf
    # division seam instead.
    em = em.filter(F.col("embedding").isNotNull() & (dot(v, v) > 0))
    q = em.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qe"),
        F.col("label").alias("qlabel"),
    )
    scored = em.crossJoin(F.broadcast(q)).select(
        F.floor(
            round_ieee(cosine(v, F.col("qe")), 9) * 1000000000.0 + 0.5
        ).alias("u"),
        F.when(F.col("label") == F.col("qlabel"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    g = scored.groupBy("u").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("pos").cast("long").alias("np"),
    )
    ranked = exclusive_prefix_sum(
        g, "u", "cnt", "cum_less", lo=-(10**9), hi=10**9
    )
    agg = ranked.agg(
        F.sum(
            F.col("np") * (2 * F.col("cum_less") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r2"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("np")).cast("long").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        round_ieee(
            (
                F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            9,
        ).alias("auc"),
    )


#: MMR constants (Carbonell & Goldstein 1998): select k from a
#: depth-candidate shortlist with lambda = lam10/10.
_MMR_K = 10
_MMR_DEPTH = 50
_MMR_LAM10 = 7


def _mmr_oracle_sql() -> str:
    """Oracle for q_mmr_rerank: the same greedy argmax unrolled as one
    CTE pair (pick + accumulated set) per selection step. Relevance
    and pairwise similarities quantize to integer nano-units by the
    shared floor rule, the marginal score is pure BIGINT arithmetic,
    and every argmax is a unique (score DESC, doc_id) total order —
    bit-identical with the driver-side greedy by construction. The
    pairs CTE is complete over the shortlist, so the correlated MAX
    can never be NULL."""
    lam, mu = _MMR_LAM10, 10 - _MMR_LAM10
    cos = (
        "list_dot_product(e.v, q.qe)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(q.qe, q.qe)))"
    )
    pair_cos = (
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    steps = []
    for k in range(2, _MMR_K + 1):
        steps.append(f""",
    s{k} AS (
      SELECT CAST({k} AS BIGINT) AS sel_rank, doc_id,
             CAST(m AS BIGINT) AS mmr_units
      FROM (
        SELECT c.doc_id,
               {lam} * c.rel - {mu} * (
                 SELECT MAX(p.s) FROM pairs p
                 WHERE (p.a = c.doc_id
                        AND p.b IN (SELECT doc_id FROM a{k - 1}))
                    OR (p.b = c.doc_id
                        AND p.a IN (SELECT doc_id FROM a{k - 1}))
               ) AS m
        FROM c2 c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM a{k - 1})
      ) ORDER BY m DESC, doc_id LIMIT 1
    ),
    a{k} AS MATERIALIZED (SELECT * FROM a{k - 1} UNION ALL SELECT * FROM s{k})""")
    return f"""
    WITH qv AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS qe
                FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL
                 AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) > 0),
    cand AS MATERIALIZED (
      SELECT e.vec_id AS doc_id, e.v, CASE WHEN abs({cos}) < 1000000.0 THEN floor(({cos}) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ({cos}) END AS cos
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL
               AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])) > 0) e, qv q
      ORDER BY cos DESC, doc_id LIMIT {_MMR_DEPTH}
    ),
    c2 AS MATERIALIZED (
      SELECT doc_id, v,
             CAST(FLOOR(cos * 1000000000.0 + 0.5) AS BIGINT) AS rel
      FROM cand
    ),
    pairs AS MATERIALIZED (
      SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(FLOOR(CASE WHEN abs({pair_cos}) < 1000000.0 THEN floor(({pair_cos}) * 1000000000.0 + 0.5) / 1000000000.0 ELSE ({pair_cos}) END * 1000000000.0 + 0.5)
                  AS BIGINT) AS s
      FROM c2 x JOIN c2 y ON x.doc_id < y.doc_id
    ),
    s1 AS (
      SELECT CAST(1 AS BIGINT) AS sel_rank, doc_id,
             CAST({lam} * rel AS BIGINT) AS mmr_units
      FROM c2 ORDER BY {lam} * rel DESC, doc_id LIMIT 1
    ),
    a1 AS MATERIALIZED (SELECT * FROM s1){"".join(steps)}
    SELECT sel_rank, doc_id, mmr_units
    FROM a{_MMR_K} ORDER BY sel_rank
    """


def _mmr_shortlist(spark, sf_dir):
    """The distributed stage of MMR: score every embedding against the
    query vector (broadcast single-row cross join), cut to the
    top-_MMR_DEPTH shortlist (TakeOrdered, never a global sort), and
    quantize relevance to integer nano-units. Separated so the plan
    test can assert the cut shape before the localCheckpoint barrier
    erases it."""
    from dex_data_ingestor_spark.operators.vector import cosine

    from dex_data_ingestor_spark.operators.vector import usable_embeddings

    # hygiene gate (q_embed_auc convention): NULL or zero-norm rows
    # have no cosine — one engine crashes, the other ranks them
    em = usable_embeddings(load_table(spark, sf_dir, "embeddings"))
    q = em.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qe")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (
        em.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            v.alias("v"),
            round_ieee(cosine(F.col("v"), F.col("qe")), 9).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(_MMR_DEPTH)
        .select(
            "doc_id",
            "v",
            F.floor(F.col("cos") * 1000000000.0 + 0.5).alias("rel"),
        )
    )


@register("q_mmr_rerank", _mmr_oracle_sql())
def q_mmr_rerank(spark, sf_dir):
    """Diversity-aware selection: greedy maximal marginal relevance
    (lambda=0.7) picking 10 of the cosine top-50 shortlist — the
    redundancy-suppressing rung of the retrieval family (the
    curation use: pick exemplars that COVER a region of embedding
    space instead of 10 near-copies of the best hit). The corpus-
    scale work is distributed (scoring + TakeOrdered top-depth cut +
    the shortlist's pairwise similarities); the greedy argmax runs
    driver-side over the collected O(depth^2) INTEGER tables — the
    bounded-model-state pattern of the IVF centroids, corpus-size-
    independent by construction (operators/vector.mmr_greedy_units).
    Everything after the 9-dp cosine rounds is exact BIGINT
    arithmetic, so the unrolled oracle is bit-identical."""
    import math

    from dex_data_ingestor_spark.operators.vector import (
        _py_dot,
        mmr_greedy_units,
    )

    # ONE collect of the depth-50 shortlist (the corpus-scale work —
    # scan + score + TakeOrdered — stays distributed); the O(depth^2)
    # pairwise similarities are computed driver-side with the exact
    # IEEE sequence the previous self-join expression executed:
    # left-fold dot (_py_dot == the aggregate fold, same seed/order),
    # Math.sqrt norms, round_ieee's floor(x*1e9+0.5)/1e9 under the
    # |x|<1e6 guard, then the unit floor — bit-identical by
    # construction (every op is a correctly-rounded IEEE primitive
    # both runtimes share). This replaces a localCheckpoint (eager
    # materialization at construction), a 50x50 join job and a second
    # collect with in-process arithmetic over 1,225 integer pairs —
    # the bounded-model-state pattern the greedy itself already uses.
    rows = [
        (r["doc_id"], r["v"], r["rel"])
        for r in _mmr_shortlist(spark, sf_dir).collect()
    ]

    def _units(x: float) -> int:
        if abs(x) < 1e6:
            x = math.floor(x * 1e9 + 0.5) / 1e9
        return int(math.floor(x * 1e9 + 0.5))

    norms = {d: math.sqrt(_py_dot(v, v)) for d, v, _ in rows}
    sims: dict[tuple[int, int], int] = {}
    for i, (da, va, _) in enumerate(rows):
        for db, vb, _ in rows[i + 1:]:
            a, b = (da, db) if da < db else (db, da)
            sims[(a, b)] = _units(
                _py_dot(va, vb) / (norms[da] * norms[db])
            )
    cands = [(d, rel) for d, _, rel in rows]
    selected = mmr_greedy_units(
        cands, sims, k=_MMR_K, lam10=_MMR_LAM10
    )
    return spark.createDataFrame(
        selected, "sel_rank long, doc_id long, mmr_units long"
    )


@register("q_approx_quantiles")  # rows-only: Greenwald-Khanna sketch
# outputs are implementation-specific (DuckDB's approx_quantile is a
# t-digest with different guarantees), so no cross-engine oracle exists
# by design — q_quantiles is the exact oracle-checked twin, and the
# pytest bound pins every estimate between the exact order statistics
# at target_rank +- n/accuracy per group (test_vector_text.py).
def q_approx_quantiles(spark, sf_dir):
    """Per-group approximate quantiles through the MERGEABLE
    Greenwald-Khanna sketch (approx_percentile, accuracy=1000 — rank
    error <= n/1000) — the production path q_quantiles' docstring
    names: exact percentile() sorts every group's values, while the
    sketch is one-pass, bounded-memory, and partial-aggregable
    map-side, which is what survives a 100 TB group. Rows-only by
    contract; the error bound is pinned in pytest against the exact
    twin."""
    ev = load_table(spark, sf_dir, "events")
    q = F.expr(
        "approx_percentile(value, array(0.5, 0.9, 0.99), 1000)"
    )
    return ev.groupBy("event_type").agg(q.alias("q")).select(
        "event_type",
        F.col("q")[0].alias("p50"),
        F.col("q")[1].alias("p90"),
        F.col("q")[2].alias("p99"),
    )


@register(
    "q_debounce",
    """
    WITH seq AS (
      SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
             lag(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, event_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR date_diff('microsecond', prev_ts, ts) > 86400000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
    )
    SELECT user_id, event_type, event_id, ts
    FROM flagged WHERE is_new = 1
    """,
)
def q_debounce(spark, sf_dir):
    """Burst debounce: per (user, event type), keep only the FIRST
    event of each burst under the 24 h ROLLING-extension rule (each
    sub-gap event extends the burst, so an arbitrarily long chain of
    rapid-fire duplicates collapses to one survivor) — the ingest
    throttle for retry storms and double-submits, the keep-first
    sibling of q_dedup_first (which needs exact key equality) and
    q_sessionize (which aggregates islands instead of filtering
    them). A burst's leader is exactly the row the island rule flags
    as NEW, so operators/timeseries.debounce is one lag window + a
    filter; gap arithmetic is integral microseconds. One
    (user_id, event_type) hash exchange, one window function
    (plan-asserted)."""
    from dex_data_ingestor_spark.operators.timeseries import debounce

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    out = debounce(
        ev,
        ["user_id", "event_type"],
        "ts",
        gap_us=86_400_000_000,
        order_tiebreak=["event_id"],
    )
    return out.select("user_id", "event_type", "event_id", "ts")


@register(
    "q_important_stock",
    """
    WITH supp AS (
      SELECT s.s_suppkey
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_12'
    ),
    pv AS (
      SELECT l.l_partkey AS partkey,
             CAST(SUM(CAST(FLOOR(
               l.l_extendedprice * (1 - l.l_discount) * 1000000.0 + 0.5
             ) AS BIGINT)) AS BIGINT) AS value_units
      FROM lineitem l JOIN supp s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CAST(value_units AS HUGEINT)) AS DECIMAL(38,0))
               AS total_units
      FROM pv
    )
    SELECT p.partkey, p.value_units
    FROM pv p, tot t
    WHERE CAST(p.value_units AS DECIMAL(38,0)) * 10000 > t.total_units
    """,
)
def q_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (important stock identification): per-part
    value held by one nation's suppliers, kept where a part exceeds a
    fixed fraction (1/10000) of the NATION-WIDE total — the
    scalar-subquery-threshold shape (a global aggregate gates a
    grouped aggregate of the same facts). Adapted to this schema (no
    partsupp): a part's value is the discounted revenue its suppliers
    shipped, quantized per-row to exact micro-units by the portable
    floor(x*1e6+0.5) rule, so both the per-part sums and the global
    total are exact integers and the threshold test is a pure integer
    comparison (DECIMAL(38,0) both sides — value*10000 can clear
    int64) that can never flip on a float margin.

    Plan for 100 TB: the nation prunes the supplier dim BEFORE the
    fact scan (broadcast semi-join, the Q2 trick), ONE partkey
    exchange builds the per-part sums, and the global total
    aggregates FROM that same exchange — the executed adaptive plan
    collapses the two branches into a ReusedExchange (plan-asserted),
    so the facts are scanned, pruned, and shuffled exactly once; the
    one-row total then broadcasts back for the threshold filter.
    Completes the 22/22 TPC-H query-shape sweep alongside Q12
    (q_priority_lateness)."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_12"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    value_units = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    pv = (
        li.join(
            F.broadcast(supp),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        # decimal(38,0) accumulator, long only at the boundary: the
        # oracle sums in HUGEINT, and a plain long sum would WRAP
        # silently past 2^63 on a hot part while DuckDB stays exact —
        # the module-wide exact-sum discipline (ANSI would catch the
        # decimal overflow loudly instead)
        .agg(
            F.sum(value_units.cast("decimal(38,0)"))
            .cast("long")
            .alias("value_units")
        )
    )
    tot = pv.agg(
        F.sum(F.col("value_units").cast("decimal(38,0)")).alias(
            "total_units"
        )
    )
    return pv.crossJoin(F.broadcast(tot)).filter(
        F.col("value_units").cast("decimal(38,0)") * 10000
        > F.col("total_units")
    ).select("partkey", "value_units")


@register(
    "q_priority_lateness",
    """
    SELECT l.l_returnflag AS flag_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + 90
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q_priority_lateness(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes / order priority): among LATE
    lineitems shipped in one year, count high-priority vs low-priority
    orders per class — the conditional-aggregation-over-join shape.
    Adapted to this schema: no l_shipmode column, so the class key is
    l_returnflag; no commit/receipt dates, so late = shipped more than
    90 days after the order date (the Q4/Q21 lateness rule). The year
    filter is sargable on the lineitem scan; the lateness predicate
    needs both sides so it rides the orderkey join as a residual.
    Counts are exact integers; date arithmetic is whole days on
    DATE-truncated values, exact cross-engine."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (
            F.to_date(li.l_shipdate)
            > F.date_add(F.to_date(orders.o_orderdate), 90)
        ),
    )
    return j.groupBy(F.col("l_returnflag").alias("flag_class")).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
            "high_line_count"
        ),
        F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
            "low_line_count"
        ),
    )
