"""Reference-domain ETL pipelines, re-expressed as declarative Spark.

Each reference task (SURVEY.md §3: ~300 lines of per-row loops with
8-10 network round trips per source row) becomes a ~15-line DataFrame
composition over the engine operators: incremental window -> filters ->
broadcast dim join -> derived columns -> windowed dedup -> merge_upsert.

The warehouse is a parquet directory per table (Delta's MERGE INTO is
the lakehouse path; the parquet form is oracle-checkable and carries
identical semantics through operators.merge.merge_upsert).

Testbed stand-ins follow FIXTURES.md §2: ``events`` plays the raw
append-only source (``ts`` = created_at cursor, ``user_id`` = token
natural key, ``value`` = price/volume), ``nation`` plays ``dim_chains``.

Scale notes (100 TB posture):
- facts are written partitioned by ``date`` so incremental merges
  rewrite only touched partitions and YoY/QoQ self-joins prune to two
  date ranges;
- dimension joins broadcast (dims are small by construction);
- every step is a narrow transform or a single keyed shuffle; nothing
  collects rows to the driver.
"""

from __future__ import annotations

import datetime as dt
import functools
import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dex_data_ingestor_spark import schemas
from dex_data_ingestor_spark.functions.scalars import (
    apy_compound_monthly,
    derived_tvl,
    pct_to_fraction,
)
from dex_data_ingestor_spark.io import load_table
from dex_data_ingestor_spark.operators.asof import latest_per_key
from dex_data_ingestor_spark.operators.dedup import dedup_first
from dex_data_ingestor_spark.operators.incremental import (
    Bookmark,
    incremental_window,
    ntz_lit,
)
from dex_data_ingestor_spark.operators.merge import merge_upsert
from dex_data_ingestor_spark.operators.pct import period_over_period
from dex_data_ingestor_spark.operators.surrogate import surrogate_key_hash


class DexWarehouse:
    """Parquet star-schema warehouse + per-task bookmarks.

    The reference's local MySQL warehouse (SURVEY.md §1.1) with
    set-oriented writes. One directory per table under ``root``.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    @functools.cached_property
    def bookmark(self) -> Bookmark:
        # Built on first use: the bookmark store is local-only and
        # rejects a remote root, which must not stop merge_write into
        # a remote warehouse from working.
        return Bookmark(os.path.join(self.root, "etl_control"))

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, table: str, schema=None) -> DataFrame | None:
        """The stored table, or None if it does not exist. A table named
        in ``schemas.WAREHOUSE`` is read with its declared schema, so
        no parquet schema-inference job runs."""
        from dex_data_ingestor_spark.io import table_exists

        p = self.path(table)
        # Hadoop-FS check, not os.path.exists: with a scheme-qualified
        # warehouse root (s3a://, hdfs://) a local check returns False
        # for every table, and merge_write's "initial write" branch
        # would then overwrite the remote table with just the current
        # window's rows on every run.
        if not table_exists(self.spark, p):
            return None
        if schema is None:
            schema = schemas.WAREHOUSE.get(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(p)

    def merge_write(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        update_cols: list[str] | None = None,
        partition_col: str | None = None,
    ) -> int:
        """merge_upsert into the stored table; returns the number of
        ``updates`` rows merged.

        The count costs no job of its own: on the merge path it is
        observed (``DataFrame.observe``) on ``updates`` while the
        staged write runs, and the initial write takes it from the
        emptiness check it needs anyway. Callers return this number
        rather than counting ``updates`` themselves, which would rerun
        the whole window plan.

        With ``partition_col`` (must be one of ``keys``), the merge is
        partition-pruned: only the partitions present in ``updates``
        are read, merged, and dynamically overwritten — cold partitions
        are never touched. This is the 100 TB write path (the
        reference's hourly window only ever touches 1-2 dates).
        """
        existing = self.read(table)
        if existing is None:
            # an EMPTY initial batch (a cron window before the first
            # event) must not initialize the table: zero rows write a
            # file-less directory that every later read fails to infer
            # a schema from; the first non-empty window initializes
            n = updates.count()
            if n == 0:
                return 0
            writer = updates.write.mode("overwrite")
            if partition_col is not None:
                writer = writer.partitionBy(partition_col)
            writer.parquet(self.path(table))
            return n
        # The staging copy below removes read-your-own-lineage hazards,
        # but the final overwrite is NOT crash-atomic on parquet (the
        # target is deleted before it is rewritten); a failure in that
        # window needs the staging dir or a re-run to restore. The
        # crash-atomic production sink is the snapshot table's
        # manifest commit (snapshots.py; streaming twin
        # foreach_batch_merge_snapshots).
        #
        # The observation is filled by the staging write's job. A write
        # that raises propagates before ``obs.get``, which would
        # otherwise block on metrics that never arrive.
        obs = Observation()
        observed = updates.observe(obs, F.count(F.lit(1)).alias("rows"))
        staging = self.path(table) + "._staging"
        if partition_col is None:
            merged = merge_upsert(existing, observed, keys, update_cols)
            merged.write.mode("overwrite").parquet(staging)
            self.spark.read.schema(merged.schema).parquet(staging).write.mode(
                "overwrite"
            ).parquet(self.path(table))
            return obs.get["rows"]
        # Partition-pruned merge: semi-join restricts the existing scan
        # to touched partitions (partition filter pushes to the file
        # index); dynamic overwrite replaces exactly those partitions.
        # ``touched`` comes from the un-observed ``updates`` so the
        # observed node appears once in the plan.
        touched = updates.select(partition_col).distinct()
        existing_touched = existing.join(
            F.broadcast(touched), partition_col, "left_semi"
        )
        merged = merge_upsert(existing_touched, observed, keys, update_cols)
        merged.write.mode("overwrite").parquet(staging)
        prev_mode = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            self.spark.read.schema(merged.schema).parquet(staging).write.mode(
                "overwrite"
            ).partitionBy(partition_col).parquet(self.path(table))
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        return obs.get["rows"]


# ---------------------------------------------------------------------------
# Task pipelines (reference task -> declarative composition)
# ---------------------------------------------------------------------------


def sync_dim_tokens(
    wh: DexWarehouse, source: DataFrame, window_lo, window_hi
) -> int:
    """dim_tokens upsert (reference: Bifrost.py:116-130 per-row upsert +
    surrogate readback; Stellar.py:84-99). Natural key = (chain_id,
    address); surrogate = xxhash64 — no readback round trip exists or
    is needed.

    Testbed mapping: user_id -> address, event_type -> symbol."""
    batch = incremental_window(source, "ts", window_lo, window_hi)
    tokens = (
        batch.filter(
            F.col("user_id").isNotNull() & (F.col("event_type") != "")
        )
        .select(
            F.lit(1).alias("chain_id"),
            F.col("user_id").cast("string").alias("address"),
            F.col("event_type").alias("symbol"),
            F.col("ts"),
        )
    )
    # first-wins within the batch (reference's `processed` set semantics,
    # deterministically ordered)
    first = dedup_first(
        tokens, ["chain_id", "address"], [F.col("ts"), F.col("symbol")]
    )
    dim = surrogate_key_hash(first, ["chain_id", "address"], "id").select(
        "id",
        "chain_id",
        "address",
        "symbol",
        F.col("symbol").alias("name"),
        F.lit(18).alias("decimals"),
        F.lit(1).alias("asset_type_id"),
        F.col("ts").alias("updated_at"),
    )
    # merge_write returns the row count of ``dim``, observed during
    # the write; a separate count would rerun the window plan.
    return wh.merge_write(
        "dim_tokens",
        dim,
        keys=["chain_id", "address"],
        update_cols=["symbol", "name", "decimals", "asset_type_id", "updated_at"],
    )


def _daily_recompute_window(
    source: DataFrame, window_lo, window_hi
) -> DataFrame:
    """Incremental window widened to the FULL first day: ``(day_floor(
    lo) - 1µs, hi]``. Daily-fact tasks aggregate per calendar day but
    merge with REPLACE semantics (the reference's ``ON DUPLICATE KEY
    UPDATE volume = VALUES(volume)``, Hydration.py:236), so a window
    finer than one day — the documented hourly cron — must never
    aggregate only its own slice: that would replace the stored day
    with the last hour's numbers. Recomputing from the day floor makes
    the merged row "the full day as of hi" at ANY window granularity
    (hourly runs converge to the exact day total at day end, re-runs
    are idempotent). The widened scan is bounded by window + 1 day and
    stays partition-prunable on a date-partitioned source. The 1 µs
    underhang also closes the midnight sliver: with day-aligned
    ``(lo, hi]`` windows a tick at exactly midnight lands in the
    PREVIOUS window yet belongs to the new day, and the next window's
    recompute would otherwise drop it."""
    day_lo = dt.datetime.combine(
        window_lo.date(), dt.time.min
    ) - dt.timedelta(microseconds=1)
    return incremental_window(
        source, "ts", min(window_lo, day_lo), window_hi
    )


def sync_token_daily_stats(
    wh: DexWarehouse, source: DataFrame, window_lo, window_hi
) -> int:
    """fact_token_daily_stats (reference: Hydration.py:191-241 /
    Stellar.py:105-148): daily rollup + latest price + 14d/7d
    period-over-period, merged on (token_id, date) with the partial
    update set volume/volume_usd/yoy/qoq/txns/price. The window is
    widened to the full first day (_daily_recompute_window) so
    sub-daily cron windows replace each day with its true
    running-day aggregate, never an hour slice."""
    batch = _daily_recompute_window(source, window_lo, window_hi)
    token_id = F.xxhash64(F.lit(1), F.col("user_id").cast("string"))
    daily = (
        batch.groupBy(
            token_id.alias("token_id"), F.to_date("ts").alias("date")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("txns_count"),
        )
        .withColumn("volume_usd", F.col("volume"))
    )
    latest_price = latest_per_key(
        batch, ["user_id"], "ts", ["event_id"]
    ).select(
        F.xxhash64(F.lit(1), F.col("user_id").cast("string")).alias("token_id"),
        F.col("value").cast("decimal(38,18)").alias("price_usd"),
    )
    # period-over-period against already-stored history + this batch
    existing = wh.read("fact_token_daily_stats")
    history = (
        daily
        if existing is None
        else existing.select("token_id", "date", "volume").unionByName(
            daily.select("token_id", "date", "volume")
        )
    )
    history = dedup_first(
        history, ["token_id", "date"], [F.col("volume").desc()]
    )
    pop = period_over_period(
        history, ["token_id"], "date", ["volume"], 14, suffix="_yoy"
    )
    pop = period_over_period(
        pop.select("token_id", "date", "volume", "volume_yoy"),
        ["token_id"],
        "date",
        ["volume"],
        7,
        suffix="_qoq",
    ).select("token_id", "date", "volume_yoy", "volume_qoq")

    fact = (
        daily.join(pop, ["token_id", "date"], "left")
        .join(F.broadcast(latest_price), "token_id", "left")
        .select(
            "token_id",
            "date",
            "volume",
            "volume_usd",
            "volume_yoy",
            "volume_qoq",
            "txns_count",
            F.lit(None).cast("double").alias("txns_yoy"),
            F.lit(None).cast("double").alias("txns_qoq"),
            "price_usd",
            ntz_lit(window_hi).alias("created_at"),
        )
    )
    return wh.merge_write(
        "fact_token_daily_stats",
        fact,
        keys=["token_id", "date"],
        update_cols=[
            "volume",
            "volume_usd",
            "volume_yoy",
            "volume_qoq",
            "txns_count",
            "price_usd",
            "created_at",
        ],
        partition_col="date",
    )


def sync_yield_stats(
    wh: DexWarehouse, source: DataFrame, window_lo, window_hi
) -> int:
    """fact_yield_stats (reference: Bifrost.py:270-295 staking APY/TVL;
    Hydration.py:286-306): APR -> compounded APY (capped DECIMAL(10,2)),
    TVL = supply*price with null->0, merged on
    (token_id, pool_address, date). Full-first-day window for the
    same reason as sync_token_daily_stats: avg/max/sum per day must
    be recomputed from the day floor, or an hourly window's slice
    replaces the stored day."""
    batch = _daily_recompute_window(source, window_lo, window_hi)
    token_id = F.xxhash64(F.lit(1), F.col("user_id").cast("string"))
    daily = batch.groupBy(
        token_id.alias("token_id"), F.to_date("ts").alias("date")
    ).agg(
        F.avg(F.col("value")).alias("apr_pct"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
            "supply"
        ),
        F.max("value").alias("price"),
    )
    fact = daily.select(
        "token_id",
        F.lit(1).alias("return_type_id"),
        F.lit("").alias("pool_address"),
        "date",
        apy_compound_monthly(pct_to_fraction(F.col("apr_pct"))).alias("apy"),
        derived_tvl(F.col("supply"), F.col("price")).alias("tvl"),
        derived_tvl(F.col("supply"), F.col("price")).alias("tvl_usd"),
        ntz_lit(window_hi).alias("created_at"),
    )
    return wh.merge_write(
        "fact_yield_stats",
        fact,
        keys=["token_id", "pool_address", "date"],
        update_cols=["apy", "tvl", "tvl_usd", "created_at"],
        partition_col="date",
    )


TASKS = {
    "sync_dim_tokens": sync_dim_tokens,
    "sync_token_daily_stats": sync_token_daily_stats,
    "sync_yield_stats": sync_yield_stats,
}


def etl_job_till_now(
    wh: DexWarehouse,
    task_name: str,
    source: DataFrame,
    now: dt.datetime,
) -> tuple[int, dt.datetime]:
    """One scheduled run of one task (reference: SqlDbEtl.py:90-110):
    window = (last_run, now-truncated-to-hour]; bootstrap from the
    source MIN when no bookmark; watermark advances monotonically."""
    end_time = now.replace(minute=0, second=0, microsecond=0)
    last_run = wh.bookmark.get_last_run(task_name)
    if last_run is None:
        # bootstrap: MIN(ts) - 1s (reference: SqlDbEtl.py:133-140).
        row = source.agg(F.min("ts").alias("m")).collect()[0]
        if row.m is None:
            return 0, end_time
        last_run = row.m - dt.timedelta(seconds=1)
    count = TASKS[task_name](wh, source, last_run, end_time)
    wh.bookmark.set_last_run(task_name, end_time)
    return count, end_time


def run_catchup(
    spark: SparkSession,
    sf_dir: str,
    warehouse_root: str,
    now: dt.datetime,
    tasks: list[str] | None = None,
) -> dict[str, int]:
    """Boot-time catch-up (reference: main.py:40-50) — the scheduler
    loop as one deterministic batch entry point. Live deployments run
    the same pipelines under Structured Streaming (streaming/jobs.py:
    AvailableNow per cycle + foreachBatch merge).

    Defaults to the three BASE pipelines, not the whole TASKS registry:
    the five reference-named composite tasks each wrap these same base
    pipelines for a DIFFERENT upstream source (main.py wires one API
    per task), so iterating the full registry against one source would
    run each base pipeline up to four times over identical rows —
    idempotent but pure wasted work (each run is a full scan plus a
    staged merge rewrite). Per-source deployments pass their own task
    list with one source wired per task."""
    wh = DexWarehouse(spark, warehouse_root)
    events = load_table(spark, sf_dir, "events")
    names = tasks if tasks is not None else [
        "sync_dim_tokens",
        "sync_token_daily_stats",
        "sync_yield_stats",
    ]
    return {
        name: etl_job_till_now(wh, name, events, now)[0] for name in names
    }


# ---------------------------------------------------------------------------
# 1:1 task parity with the reference's five active sync tasks
# (reference: src/main.py:56-62). Each is a thin declarative composition;
# testbed stand-ins per FIXTURES.md §2.
# ---------------------------------------------------------------------------


def sync_bifrost_site_task(wh, source, lo, hi) -> int:
    """Bifrost site table sync (reference: Bifrost.py:31-185): dim
    upsert + daily fact + yield stats from the site-shaped source."""
    n = sync_dim_tokens(wh, source, lo, hi)
    sync_yield_stats(wh, source, lo, hi)
    return n


def sync_bifrost_staking_task(wh, source, lo, hi) -> int:
    """Bifrost staking sync (reference: Bifrost.py:188-300): derived
    price (price*exchangeRatio) and tvl (supply*price) into the daily
    fact + yield stats."""
    n = sync_token_daily_stats(wh, source, lo, hi)
    sync_yield_stats(wh, source, lo, hi)
    return n


def sync_hydration_price_task(wh, source, lo, hi) -> int:
    """Hydration price sync (reference: Hydration.py:18-106): latest
    price per symbol into fact_token_daily_stats.price_usd (partial
    update)."""
    return sync_token_daily_stats(wh, source, lo, hi)


def sync_hydration_data_task(wh, source, lo, hi) -> int:
    """Hydration pool-data sync (reference: Hydration.py:109-323):
    volume/tvl/apr rollups + period-over-period into both facts."""
    n = sync_token_daily_stats(wh, source, lo, hi)
    sync_yield_stats(wh, source, lo, hi)
    return n


def sync_stellar_pool_task(
    wh: DexWarehouse, source: DataFrame, window_lo, window_hi
) -> int:
    """StellaSwap pool sync (reference: Stellar.py:16-266) including
    the Uniswap-V3 sqrt_price_x96 pricing via the exact 50-digit
    decimal pandas UDF (functions/decimalq96.py — the reference's
    utils.py:130-171 contract).

    Testbed mapping: user_id -> pool token pair id; a synthetic
    sqrt_price_x96 = (user_id+1) * 2^91 exercises the decimal path with
    power-of-two-exact inputs.
    """
    from dex_data_ingestor_spark.functions.decimalq96 import (
        token_prices_q96_exact,
    )

    batch = incremental_window(source, "ts", window_lo, window_hi)
    pools = (
        batch.groupBy(
            F.xxhash64(F.lit(1), F.col("user_id").cast("string")).alias(
                "token_id"
            ),
            F.to_date("ts").alias("date"),
            F.col("user_id"),
        )
        .agg(F.max("value").alias("token0_usd"))
        .withColumn(
            "sqrt_price_x96",
            (
                (F.col("user_id") + 1).cast("decimal(38,0)")
                * F.expr(f"CAST({2**91} AS DECIMAL(38,0))")
            ).cast("decimal(38,0)"),
        )
        .withColumn("d0", F.lit(18))
        .withColumn("d1", F.lit(18))
    )
    priced = pools.withColumn(
        "prices",
        token_prices_q96_exact(
            "sqrt_price_x96",
            "d0",
            "d1",
            "token0_usd",
            F.lit(None).cast("double"),
        ),
    ).select(
        "token_id",
        "date",
        F.col("prices.token1_price_usd").alias("price_usd"),
    )
    fact = priced.select(
        "token_id",
        "date",
        F.lit(None).cast("double").alias("volume"),
        F.lit(None).cast("double").alias("volume_usd"),
        F.lit(None).cast("double").alias("volume_yoy"),
        F.lit(None).cast("double").alias("volume_qoq"),
        F.lit(None).cast("long").alias("txns_count"),
        F.lit(None).cast("double").alias("txns_yoy"),
        F.lit(None).cast("double").alias("txns_qoq"),
        "price_usd",
        ntz_lit(window_hi).alias("created_at"),
    )
    return wh.merge_write(
        "fact_token_daily_stats",
        fact,
        keys=["token_id", "date"],
        update_cols=["price_usd", "created_at"],
        partition_col="date",
    )


TASKS.update(
    {
        "sync_bifrost_site": sync_bifrost_site_task,
        "sync_bifrost_staking": sync_bifrost_staking_task,
        "sync_hydration_price": sync_hydration_price_task,
        "sync_hydration_data": sync_hydration_data_task,
        "sync_stellar_pool": sync_stellar_pool_task,
    }
)


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    partition_col: str,
    target_files_per_partition: int = 1,
) -> None:
    """Small-file compaction for a partitioned table.

    Incremental merges leave one file per write per partition; this
    rewrites each partition into at most ``target_files_per_partition``
    files and dynamically overwrites. Run it periodically, like any
    lakehouse OPTIMIZE — at 100 TB target the hot (recently merged)
    partitions only by filtering first.

    Shuffle shape: rows hash by (partition value, salt) where salt is
    a deterministic row hash mod target. ``repartition(n, col)`` would
    be wrong twice over: every row of one partition value lands in ONE
    task (so the target-files knob silently does nothing) and n=1
    funnels the whole table through a single task — the salt keys give
    each partition value up to ``target`` writers while values spread
    across the full shuffle parallelism.
    """
    df = spark.read.parquet(table_path)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(max(1, target_files_per_partition)),
    )
    compacted = (
        df.withColumn("__salt", salt)
        .repartition(F.col(partition_col), F.col("__salt"))
        .drop("__salt")
    )
    staging = table_path + "._compact"
    compacted.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.read.parquet(staging).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def etl_backfill(
    wh: DexWarehouse,
    task_name: str,
    source: DataFrame,
    start: dt.datetime,
    end: dt.datetime,
    step: dt.timedelta = dt.timedelta(days=7),
) -> list[dict]:
    """Chunked historical backfill: replay ``[start, end)`` as
    consecutive half-open windows of ``step`` (the reference's
    boot-time catch-up, main.py:40-50, generalized from one giant
    window to bounded chunks so each merge touches a bounded partition
    set and a failure resumes from the bookmark, not from zero).

    Boundary arithmetic: incremental_window is ``lo < ts <= hi``, so
    each chunk passes ``(bound - 1µs)`` for both ends — at the tape's
    microsecond resolution ``{ts : lo-1µs < ts <= hi-1µs}`` is exactly
    ``[lo, hi)``. Without the shift a row stamped exactly ``start``
    is excluded from chunk 1 and from every later chunk — dropped
    forever — while a row at exactly ``end`` is wrongly included. The
    stored bookmark is likewise ``hi - 1µs``, so a following
    incremental run picks up at exactly ``ts == end`` with no gap and
    no overlap.

    Returns one metrics dict per chunk: window bounds, rows written,
    wall seconds.
    """
    import time

    us = dt.timedelta(microseconds=1)
    reports: list[dict] = []
    bookmark = wh.bookmark  # a remote root raises here, before any merge
    lo = start
    while lo < end:
        hi = min(lo + step, end)
        t0 = time.perf_counter()
        count = TASKS[task_name](wh, source, lo - us, hi - us)
        bookmark.set_last_run(task_name, hi - us)
        reports.append(
            {
                "task": task_name,
                "window_lo": lo.isoformat(),
                "window_hi": hi.isoformat(),
                "rows": count,
                "seconds": round(time.perf_counter() - t0, 3),
            }
        )
        lo = hi
    return reports
