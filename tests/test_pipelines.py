"""End-to-end reference-domain pipeline tests: catch-up run, watermark
advance, incremental windows, idempotent replay (reference entry points
SURVEY.md §3 re-expressed)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dex_data_ingestor_spark.plans.pipelines import (
    DexWarehouse,
    etl_job_till_now,
    run_catchup,
)
from dex_data_ingestor_spark.io import load_table

NOW = dt.datetime(2024, 2, 1, 12, 30)


def _tables(spark, root):
    wh = DexWarehouse(spark, root)
    return {
        t: wh.read(t)
        for t in ("dim_tokens", "fact_token_daily_stats", "fact_yield_stats")
    }


def _snap(df):
    # None-safe total order: sort by repr, compare the tuples themselves
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_catchup_builds_warehouse(spark, sf_dir, tmp_path):
    counts = run_catchup(spark, sf_dir, str(tmp_path / "wh"), NOW)
    assert all(c > 0 for c in counts.values()), counts
    tables = _tables(spark, str(tmp_path / "wh"))
    dim = tables["dim_tokens"]
    fact = tables["fact_token_daily_stats"]
    # surrogate ids unique per natural key
    assert dim.count() == dim.select("chain_id", "address").distinct().count()
    # fact PK holds
    assert (
        fact.count()
        == fact.select("token_id", "date").distinct().count()
    )
    # every fact token exists in the dim (referential integrity)
    missing = fact.join(dim, fact.token_id == dim.id, "left_anti").count()
    assert missing == 0


def test_rerun_is_idempotent_and_watermark_monotone(spark, sf_dir, tmp_path):
    root = str(tmp_path / "wh")
    run_catchup(spark, sf_dir, root, NOW)
    first = {t: _snap(df) for t, df in _tables(spark, root).items()}
    wh = DexWarehouse(spark, root)
    wm1 = wh.bookmark.get_last_run("sync_token_daily_stats")
    # second catch-up at the same wall clock: empty window, no changes
    counts = run_catchup(spark, sf_dir, root, NOW)
    second = {t: _snap(df) for t, df in _tables(spark, root).items()}
    assert first == second
    assert wh.bookmark.get_last_run("sync_token_daily_stats") == wm1
    # and watermark never regressed
    assert wm1 == NOW.replace(minute=0, second=0, microsecond=0)


def test_incremental_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Processing in two windows must equal one catch-up run for the
    windowed merge columns (the reference's exactly-once contract)."""
    events = load_table(spark, sf_dir, "events")
    mid = dt.datetime(2024, 1, 15, 0, 0)

    root_a = str(tmp_path / "wh_a")
    wh_a = DexWarehouse(spark, root_a)
    etl_job_till_now(wh_a, "sync_yield_stats", events, mid)
    etl_job_till_now(wh_a, "sync_yield_stats", events, NOW)

    root_b = str(tmp_path / "wh_b")
    wh_b = DexWarehouse(spark, root_b)
    etl_job_till_now(wh_b, "sync_yield_stats", events, NOW)

    a = _snap(
        wh_a.read("fact_yield_stats").select(
            "token_id", "pool_address", "date", "apy"
        )
    )
    b = _snap(
        wh_b.read("fact_yield_stats").select(
            "token_id", "pool_address", "date", "apy"
        )
    )
    # ALL days agree, including the split day: the second window widens
    # to its first day's floor (_daily_recompute_window), so the split
    # day is recomputed in full instead of being replaced by its
    # post-mid slice.
    assert a == b and len(a) > 0


def test_partitioned_merge_prunes_and_preserves(spark, sf_dir, tmp_path):
    """Date-partitioned merge_write: untouched partitions survive
    byte-identically; touched partitions take the update."""
    import os

    from dex_data_ingestor_spark.io import load_table
    from pyspark.sql import functions as F

    wh = DexWarehouse(spark, str(tmp_path / "whp"))
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(
            F.to_date("l_shipdate").alias("date"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.count(F.lit(1)).alias("txns"))
    )
    base = daily.filter(F.col("date") <= F.lit("1997-01-01"))
    wh.merge_write("fact", base, ["date", "suppkey"], partition_col="date")
    n_partitions_before = len(
        [d for d in os.listdir(wh.path("fact")) if d.startswith("date=")]
    )

    upd = (
        daily.filter(
            (F.col("date") > F.lit("1996-12-01"))
            & (F.col("date") <= F.lit("1997-01-01"))
        )
        .withColumn("txns", F.col("txns") * 1000)
    )
    wh.merge_write("fact", upd, ["date", "suppkey"], partition_col="date")

    stored = wh.read("fact")
    # untouched partition rows unchanged
    old = stored.filter(F.col("date") <= F.lit("1996-12-01"))
    ref = base.filter(F.col("date") <= F.lit("1996-12-01"))
    assert sorted(map(tuple, old.select("date", "suppkey", "txns").collect())) == sorted(
        map(tuple, ref.select("date", "suppkey", "txns").collect())
    )
    # touched partitions reflect the update
    new = stored.filter(F.col("date") > F.lit("1996-12-01")).agg(
        F.min("txns").alias("m")
    ).collect()[0]
    assert new.m >= 1000
    # partition count unchanged (no partitions dropped)
    n_partitions_after = len(
        [d for d in os.listdir(wh.path("fact")) if d.startswith("date=")]
    )
    assert n_partitions_after == n_partitions_before


def test_five_reference_tasks_run(spark, sf_dir, tmp_path):
    """All five reference-named sync tasks execute over the testbed
    stand-in source, including the Q96 exact-decimal pricing path."""
    import datetime as dt

    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.plans.pipelines import TASKS

    wh = DexWarehouse(spark, str(tmp_path / "wh5"))
    events = load_table(spark, sf_dir, "events")
    names = [
        "sync_bifrost_site",
        "sync_bifrost_staking",
        "sync_hydration_price",
        "sync_hydration_data",
        "sync_stellar_pool",
    ]
    for name in names:
        count, end = etl_job_till_now(wh, name, events, NOW)
        assert count > 0, name
    fact = wh.read("fact_token_daily_stats")
    # stellar task wrote exact-decimal prices: price_usd = 1/ratio where
    # ratio = ((uid+1)*2^91 / 2^96)^2 = ((uid+1)/32)^2; uid=7 -> ratio
    # 1/16 -> token1 price = token0_usd * 1/16... check decimal type
    assert dict(fact.dtypes)["price_usd"] == "decimal(38,18)"
    assert fact.filter(F.col("price_usd").isNotNull()).count() > 0


def test_quality_checks_on_warehouse(spark, sf_dir, tmp_path):
    from dex_data_ingestor_spark.operators import quality as Q

    root = str(tmp_path / "whq")
    run_catchup(spark, sf_dir, root, NOW)
    wh = DexWarehouse(spark, root)
    dim = wh.read("dim_tokens")
    fact = wh.read("fact_token_daily_stats")
    results = Q.check_all(
        {
            "dim_pk_unique": Q.violations_duplicate_key(
                dim, ["chain_id", "address"]
            ),
            "fact_pk_unique": Q.violations_duplicate_key(
                fact, ["token_id", "date"]
            ),
            "fact_token_fk": Q.violations_ref_integrity(
                fact, dim, ["token_id"], ["id"]
            ),
            "fact_not_null": Q.violations_null(fact, ["token_id", "date"]),
            "volume_nonneg": Q.violations_range(fact, "volume", lo=0.0),
        },
        fail_fast=False,
    )
    assert all(n == 0 for n in results.values()), results


def test_backfill_chunks_equal_single_window(spark, sf_dir, tmp_path):
    """Chunked backfill over January == one catch-up window — for ALL
    days, including chunk-boundary days: each chunk's window widens to
    its first day's floor (_daily_recompute_window), so a boundary day
    split across two chunks is recomputed in full by the later chunk
    instead of being replaced by its post-boundary slice. The stored
    bookmark is end - 1µs, placing the NEXT incremental window's first
    covered instant at exactly ``end`` (no gap, no overlap with the
    backfill's half-open [start, end))."""
    import datetime as dt

    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.plans.pipelines import etl_backfill

    events = load_table(spark, sf_dir, "events")
    start, end = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)

    wh_a = DexWarehouse(spark, str(tmp_path / "bf_a"))
    reports = etl_backfill(
        wh_a, "sync_yield_stats", events, start, end, dt.timedelta(days=10)
    )
    assert len(reports) == 4  # 10+10+10+1 days
    assert all(r["rows"] >= 0 and r["seconds"] >= 0 for r in reports)
    assert wh_a.bookmark.get_last_run(
        "sync_yield_stats"
    ) == end - dt.timedelta(microseconds=1)

    wh_b = DexWarehouse(spark, str(tmp_path / "bf_b"))
    etl_job_till_now(wh_b, "sync_yield_stats", events, end)

    a = {
        (r.token_id, r.date): r.apy
        for r in wh_a.read("fact_yield_stats").collect()
    }
    b = {
        (r.token_id, r.date): r.apy
        for r in wh_b.read("fact_yield_stats").collect()
    }
    assert a == b and len(a) > 0


_TICK_TASKS = ["sync_dim_tokens", "sync_token_daily_stats", "sync_yield_stats"]
_MERGE_WRITE_CALLERS = _TICK_TASKS + ["sync_stellar_pool"]


def test_merge_write_callers_return_observed_update_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Each task that calls merge_write returns exactly the row count of
    the ``updates`` it merged: on the initial write, on a merging tick,
    and 0 on an empty re-run."""
    expected: list[int] = []
    original = DexWarehouse.merge_write

    def counting(self, table, updates, *args, **kwargs):
        # counted before the write, against the pre-write table
        expected.append(updates.count())
        return original(self, table, updates, *args, **kwargs)

    monkeypatch.setattr(DexWarehouse, "merge_write", counting)
    events = load_table(spark, sf_dir, "events")
    wh = DexWarehouse(spark, str(tmp_path / "wh"))
    seen = []
    for now in (dt.datetime(2024, 1, 15, 6, 20), NOW, NOW):
        got = []
        for task in _MERGE_WRITE_CALLERS:
            expected.clear()
            n, _ = etl_job_till_now(wh, task, events, now)
            assert expected == [n], (task, now)
            got.append(n)
        seen.append(got)
    first, tick, rerun = seen
    assert all(n > 0 for n in first + tick), seen
    assert rerun == [0, 0, 0, 0], seen


def test_tick_job_count(spark, sf_dir, tmp_path):
    """One hourly tick of the three tasks runs at most 28 Spark jobs
    here (sf0.001, local[8]; 64 when the bookmark went through Spark
    and each task counted its updates). The bookmark reads and
    advances run on the driver, the row counts are observed on the
    staged writes, and stored tables and staging copies are read with
    their schemas, so no collect, count or schema-inference job is
    left in the tick."""
    events = load_table(spark, sf_dir, "events")
    wh = DexWarehouse(spark, str(tmp_path / "wh"))
    for task in _TICK_TASKS:
        etl_job_till_now(wh, task, events, dt.datetime(2024, 1, 20, 3))
    sc, group = spark.sparkContext, "test-tick-job-count"
    sc.setJobGroup(group, group)
    try:
        counts = [
            etl_job_till_now(wh, t, events, dt.datetime(2024, 1, 21, 5, 10))[0]
            for t in _TICK_TASKS
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(n > 0 for n in counts[1:]), counts
    assert jobs <= 28, jobs


def test_stored_tables_match_declared_schemas(spark, sf_dir, tmp_path):
    """Every table the pipelines write carries exactly the columns and
    types ``schemas.WAREHOUSE`` declares, read back without a schema
    (DexWarehouse.read relies on the declaration)."""
    from dex_data_ingestor_spark import schemas

    root = str(tmp_path / "wh")
    run_catchup(spark, sf_dir, root, NOW)
    wh = DexWarehouse(spark, root)
    for t in ("dim_tokens", "fact_token_daily_stats", "fact_yield_stats",
              "etl_control"):
        stored = dict(spark.read.parquet(wh.path(t)).dtypes)
        declared = {f.name: f.dataType.simpleString() for f in schemas.WAREHOUSE[t]}
        assert stored == declared, t
        # and the declared read keeps the stored column order
        assert wh.read(t).columns == spark.read.parquet(wh.path(t)).columns, t


@pytest.mark.slow
@pytest.mark.parametrize(
    "task",
    [
        "sync_dim_tokens",
        "sync_token_daily_stats",
        "sync_yield_stats",
        "sync_bifrost_site",
        "sync_bifrost_staking",
        "sync_hydration_price",
        "sync_hydration_data",
        "sync_stellar_pool",
    ],
)
@pytest.mark.slow
def test_cron_equals_catchup_per_task_family(spark, sf_dir, tmp_path, task):
    """Catch-up-vs-cron bitwise parity for EVERY task family (VERDICT
    r10 #7): the r10 tz-seam and REPLACE-clobber bugs both lived in
    exactly this seam — a window-at-a-time cron producing different
    stored rows than one full catch-up — and were caught by an ad-hoc
    version of this check on two families only. Each family now runs
    the real fixture tape through a 66-hour cron (a non-divisor of 24,
    so window bounds land at rotating hours and cross midnights
    unevenly — partial first/last days, the sliver case) against one
    single-window catch-up in a separate warehouse, comparing every
    produced table row-for-row (None-safe total order). Separate
    warehouses per family so a composite task re-running a base
    pipeline cannot mask a base-family divergence."""
    from dex_data_ingestor_spark.plans.pipelines import TASKS

    assert task in TASKS
    events = load_table(spark, sf_dir, "events")
    start = dt.datetime(2024, 1, 2, 3, 0)  # mid-day start: partial day
    end = dt.datetime(2024, 2, 1, 1, 0)

    wh_a = DexWarehouse(spark, str(tmp_path / "cron"))
    now = start
    while now <= end:
        etl_job_till_now(wh_a, task, events, now)
        now += dt.timedelta(hours=66)
    etl_job_till_now(wh_a, task, events, end)  # tail window

    wh_b = DexWarehouse(spark, str(tmp_path / "catchup"))
    etl_job_till_now(wh_b, task, events, end)

    tables = ("dim_tokens", "fact_token_daily_stats", "fact_yield_stats")
    produced = 0
    for t in tables:
        a, b = wh_a.read(t), wh_b.read(t)
        assert (a is None) == (b is None), (task, t)
        if a is None:
            continue
        # Some columns are RUN-HISTORY state by REFERENCE semantics,
        # not day-content, and legitimately differ between cadences:
        # - created_at stamps the window that wrote the row;
        # - price_usd is "the current price as of the sync run"
        #   written onto every row the window touches (Hydration.py's
        #   partial update / latest_per_key over the batch) — under a
        #   cron each day keeps the price of the last window that
        #   touched it;
        # - dim symbol/name/updated_at: the reference's per-batch
        #   upsert (Bifrost.py:116-130 ON DUPLICATE KEY UPDATE)
        #   rewrites mutable dim attributes to EACH batch's first
        #   occurrence, so their final value depends on the window
        #   history, faithfully mirrored by merge_write update_cols.
        # Everything else (keys, volumes, counts, yoy/qoq, apy, tvl,
        # decimals/asset_type constants) is content and must be
        # bitwise-identical.
        run_state = {"created_at", "price_usd"}
        if t == "dim_tokens":
            run_state |= {"symbol", "name", "updated_at"}
        cols = [c for c in a.columns if c not in run_state]
        assert _snap(a.select(*cols)) == _snap(b.select(*cols)), (task, t)
        if "price_usd" in a.columns:
            # weak pin for the excluded column: same keyed rows carry
            # a price on both sides (nullability is day-content even
            # though the value is run-history)
            nn = lambda df: _snap(  # noqa: E731
                df.select(*[c for c in ("token_id", "date") if c in
                            df.columns],
                          F.col("price_usd").isNotNull())
            )
            assert nn(a) == nn(b), (task, t, "price_usd nullability")
        produced += 1
    assert produced > 0, task


def test_run_history_columns_golden_cadence_semantics(spark, tmp_path):
    """VERDICT r11 #7: the cron-parity sweep EXCLUDES created_at /
    price_usd / dim mutable attrs as run-history state. This golden
    test replaces the blanket exclusion with pinned REFERENCE-FAITHFUL
    cadence semantics on a hand-built two-window tape:

    - created_at = the window_hi of the LAST window that touched the
      row (the reference stamps sync time; merge update_cols rewrite
      it on every touch) — rows untouched by a later window keep their
      earlier stamp;
    - price_usd = the latest value per token WITHIN the last touching
      window's batch (Hydration.py's 'current price as of the sync
      run' via latest_per_key over the batch) — NOT the global latest:
      a day row only touched by window 1 keeps window 1's price even
      though a later price exists on the tape, while a single catch-up
      stamps the overall latest everywhere;
    - dim symbol/name/updated_at = the last touching BATCH's first
      occurrence (Bifrost.py ON DUPLICATE KEY UPDATE per batch +
      first-wins 'processed' set within the batch), so the final value
      is cadence-dependent by reference design: the cron ends on
      window 2's first symbol, the catch-up on the tape's first."""
    from pyspark.sql import functions as F

    from dex_data_ingestor_spark.plans.pipelines import (
        sync_dim_tokens,
        sync_token_daily_stats,
    )

    events = spark.createDataFrame(
        [
            # token "1": two W1 events (day 01-01), two W2 (day 01-05)
            (1, 1, "AAA", 10.0, dt.datetime(2024, 1, 1, 1, 0)),
            (2, 1, "AA2", 11.0, dt.datetime(2024, 1, 1, 2, 0)),
            (3, 1, "AX1", 20.0, dt.datetime(2024, 1, 5, 1, 0)),
            (4, 1, "AX2", 22.0, dt.datetime(2024, 1, 5, 3, 0)),
            # token "2": W1 only
            (5, 2, "BBB", 5.0, dt.datetime(2024, 1, 1, 5, 0)),
        ],
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp_ntz",
    )
    lo = dt.datetime(2023, 12, 31, 0, 0)
    hi1 = dt.datetime(2024, 1, 2, 0, 0)
    hi2 = dt.datetime(2024, 1, 6, 0, 0)
    tid = {
        r.a: r.t
        for r in spark.createDataFrame([("1",), ("2",)], "a string")
        .select("a", F.xxhash64(F.lit(1), F.col("a")).alias("t"))
        .collect()
    }

    # --- cron: two windows ---
    wh = DexWarehouse(spark, str(tmp_path / "cron"))
    for a, b in ((lo, hi1), (hi1, hi2)):
        sync_dim_tokens(wh, events, a, b)
        sync_token_daily_stats(wh, events, a, b)
    dim = {r.address: r for r in wh.read("dim_tokens").collect()}
    # window 2's batch first occurrence wins for the re-seen token
    assert (dim["1"].symbol, dim["1"].name) == ("AX1", "AX1")
    assert dim["1"].updated_at == dt.datetime(2024, 1, 5, 1, 0)
    # token absent from window 2 keeps window 1's values
    assert dim["2"].symbol == "BBB"
    assert dim["2"].updated_at == dt.datetime(2024, 1, 1, 5, 0)

    fact = {
        (r.token_id, str(r.date)): r
        for r in wh.read("fact_token_daily_stats").collect()
    }
    a_d1 = fact[(tid["1"], "2024-01-01")]
    a_d5 = fact[(tid["1"], "2024-01-05")]
    b_d1 = fact[(tid["2"], "2024-01-01")]
    # created_at = hi of the LAST window that touched the row
    assert a_d1.created_at == hi1 and b_d1.created_at == hi1
    assert a_d5.created_at == hi2
    # price_usd = latest within the last TOUCHING window's batch: the
    # 01-01 row keeps window 1's 11.0 although 22.0 exists later
    assert float(a_d1.price_usd) == 11.0
    assert float(a_d5.price_usd) == 22.0
    assert float(b_d1.price_usd) == 5.0
    # day content for completeness
    assert (a_d1.volume, a_d1.txns_count) == (21.0, 2)
    assert (a_d5.volume, a_d5.txns_count) == (42.0, 2)

    # --- catch-up: one window over the same tape ---
    wh2 = DexWarehouse(spark, str(tmp_path / "catchup"))
    sync_dim_tokens(wh2, events, lo, hi2)
    sync_token_daily_stats(wh2, events, lo, hi2)
    dim2 = {r.address: r for r in wh2.read("dim_tokens").collect()}
    # single batch: the TAPE's first occurrence wins instead
    assert dim2["1"].symbol == "AAA"
    assert dim2["1"].updated_at == dt.datetime(2024, 1, 1, 1, 0)
    fact2 = {
        (r.token_id, str(r.date)): r
        for r in wh2.read("fact_token_daily_stats").collect()
    }
    # one window touched everything: uniform stamp, global-latest price
    for key, row in fact2.items():
        assert row.created_at == hi2, key
    assert float(fact2[(tid["1"], "2024-01-01")].price_usd) == 22.0
    assert float(fact2[(tid["2"], "2024-01-01")].price_usd) == 5.0
    # the EXCLUDED columns diverge between cadences exactly as the
    # parity test's exclusion rationale states; content columns match
    for key in fact:
        for c in ("volume", "volume_usd", "txns_count"):
            assert getattr(fact[key], c) == getattr(fact2[key], c), (
                key, c
            )


def test_ntz_lit_is_timezone_free(spark):
    """Pins the tz class behind the r10 pipelines fix: the engine
    session pins Asia/Hong_Kong (reference parity) while this process
    runs UTC, and ``F.lit(naive_datetime)`` round-trips through an
    INSTANT (python-local tz in, session tz out) — a naive midnight
    becomes 08:00 wall time, shifting every window bound and stamped
    column by the tz offset. ntz_lit builds the literal textually, so
    the wall time must survive verbatim; incremental_window must select
    by NTZ wall-clock, not by shifted instants."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dex_data_ingestor_spark.operators.incremental import (
        incremental_window,
        ntz_lit,
    )

    assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Hong_Kong"
    naive = dt.datetime(2024, 1, 10, 0, 0, 0)

    got = spark.range(1).select(ntz_lit(naive).alias("t")).collect()[0].t
    assert got == naive  # the F.lit form renders 08:00 here

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 10, 6, 33),)], "ts timestamp_ntz"
    )
    # 06:33 is AFTER midnight in wall-clock terms; the shifted-instant
    # form excluded it (bound became 08:00)
    assert incremental_window(df, "ts", naive, naive + dt.timedelta(days=1)).count() == 1
    # aware datetimes are rejected loudly rather than guessed at
    import pytest

    with pytest.raises(ValueError, match="naive"):
        ntz_lit(naive.replace(tzinfo=dt.timezone.utc))


def test_period_over_period_timestamp_key_and_loud_reject(spark):
    """date_add returns DATE even for TIMESTAMP input, so the shifted
    join key silently never matched a non-midnight timestamp fact —
    every _chg output NULL, indistinguishable from 'no prior row'.
    The shift now preserves the column type; non-date/timestamp keys
    are rejected by name."""
    import datetime as dtm

    import pytest

    from dex_data_ingestor_spark.operators.pct import (
        period_over_period,
        period_over_period_multi,
    )

    T = dtm.datetime
    fact = spark.createDataFrame(
        [(1, T(2024, 1, 1, 13, 0), 100.0), (1, T(2024, 1, 8, 13, 0), 150.0)],
        "k long, d timestamp_ntz, v double",
    )
    out = {
        r.d: r.v_chg
        for r in period_over_period(fact, ["k"], "d", ["v"], 7).collect()
    }
    assert out[T(2024, 1, 8, 13, 0)] == 50.0  # (150-100)/100*100
    assert out[T(2024, 1, 1, 13, 0)] is None

    multi = {
        r.d: r.v_yoy
        for r in period_over_period_multi(
            fact, ["k"], "d", "v", {"_yoy": 7}
        ).collect()
    }
    assert multi[T(2024, 1, 8, 13, 0)] == 50.0

    bad = spark.createDataFrame([(1, "2024-01-01", 1.0)], "k long, d string, v double")
    with pytest.raises(ValueError, match="DATE or TIMESTAMP"):
        period_over_period(bad, ["k"], "d", ["v"], 7)


def test_surrogate_key_hash_rejects_null_key_components(spark):
    """Spark's multi-column xxhash64 skips null children, so natural
    keys differing only in WHICH component is NULL collide into one
    surrogate id — silently merging dimension members. The operator
    now raises on NULL key parts (values bit-identical for non-null
    keys, pinned here against the raw expression)."""
    import pytest
    from pyspark.sql import functions as FF

    from dex_data_ingestor_spark.operators.surrogate import (
        surrogate_key_hash,
    )

    ok = spark.createDataFrame(
        [(1, "a"), (2, "b")], "chain long, addr string"
    )
    got = {
        (r.chain, r.addr): r.id
        for r in surrogate_key_hash(ok, ["chain", "addr"]).collect()
    }
    raw = {
        (r.chain, r.addr): r.id
        for r in ok.withColumn(
            "id", FF.xxhash64(FF.col("chain"), FF.col("addr"))
        ).collect()
    }
    assert got == raw  # guard is value-invisible on non-null keys

    # the silent-collision regime raises instead
    bad = spark.createDataFrame(
        [("a", None), (None, "a")], "x string, y string"
    )
    with pytest.raises(Exception, match="surrogate_key_hash"):
        surrogate_key_hash(bad, ["x", "y"]).collect()


def test_violations_null_rejects_empty_column_list(spark):
    import pytest

    from dex_data_ingestor_spark.operators import quality as Q

    df = spark.range(3)
    with pytest.raises(ValueError, match="empty column list"):
        Q.violations_null(df, [])
