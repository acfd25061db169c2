"""merge_upsert semantics + idempotence property (reference H4:
re-running a window is harmless; SURVEY.md §5 strategy 3)."""

import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from dex_data_ingestor_spark.operators.merge import merge_upsert

SCHEMA = "k bigint, a double, b string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _as_map(df):
    return {r.k: (r.a, r.b) for r in df.collect()}


def test_full_row_replace(spark):
    existing = _df(spark, [(1, 1.0, "x"), (2, 2.0, "y")])
    updates = _df(spark, [(2, 20.0, None), (3, 3.0, "z")])
    out = _as_map(merge_upsert(existing, updates, ["k"]))
    # conflict: full new row wins, including its explicit NULL
    assert out == {1: (1.0, "x"), 2: (20.0, None), 3: (3.0, "z")}


def test_partial_update_subset(spark):
    existing = _df(spark, [(1, 1.0, "x"), (2, 2.0, "y")])
    updates = _df(spark, [(2, 20.0, "IGNORED"), (3, 3.0, "z")])
    out = _as_map(merge_upsert(existing, updates, ["k"], update_cols=["a"]))
    # conflict: only 'a' refreshes; new key inserts the full row
    assert out == {1: (1.0, "x"), 2: (20.0, "y"), 3: (3.0, "z")}


def test_partial_update_null_overwrites(spark):
    # MySQL ON DUPLICATE KEY UPDATE col=VALUES(col) sets NULL too
    existing = _df(spark, [(1, 1.0, "x")])
    updates = _df(spark, [(1, None, "q")])
    out = _as_map(merge_upsert(existing, updates, ["k"], update_cols=["a"]))
    assert out == {1: (None, "x")}


def test_updates_may_omit_kept_columns(spark):
    existing = _df(spark, [(1, 1.0, "x")])
    updates = spark.createDataFrame([(1, 9.0)], "k bigint, a double")
    out = _as_map(merge_upsert(existing, updates, ["k"], update_cols=["a"]))
    assert out == {1: (9.0, "x")}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    existing=st.dictionaries(
        st.integers(0, 9),
        st.tuples(
            st.floats(allow_nan=False) | st.none(), st.text(max_size=3) | st.none()
        ),
        max_size=6,
    ),
    updates=st.dictionaries(
        st.integers(0, 9),
        st.tuples(
            st.floats(allow_nan=False) | st.none(), st.text(max_size=3) | st.none()
        ),
        max_size=6,
    ),
    partial=st.booleans(),
)
def test_merge_idempotent(spark, existing, updates, partial):
    """merge(merge(E,U),U) == merge(E,U) for both full and partial modes."""
    e = _df(spark, [(k, a, b) for k, (a, b) in existing.items()])
    u = _df(spark, [(k, a, b) for k, (a, b) in updates.items()])
    cols = ["a"] if partial else None
    once = merge_upsert(e, u, ["k"], cols)
    twice = merge_upsert(once, u, ["k"], cols)
    assert _as_map(once) == _as_map(twice)
    # and the merged keyset is the union
    assert set(_as_map(once)) == set(existing) | set(updates)


def test_bookmark_monotone_advance(spark, tmp_path):
    """Watermark only moves forward (reference: SqlDbEtl.py:106-108)."""
    import datetime as dt

    from dex_data_ingestor_spark.operators.incremental import Bookmark

    bm = Bookmark(str(tmp_path / "etl_control"))
    assert bm.get_last_run("t") is None
    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 1, 11)
    bm.set_last_run("t", t2)
    bm.set_last_run("t", t1)  # must NOT regress
    assert bm.get_last_run("t") == t2


def test_bookmark_no_tmp_leak_and_crash_recovery(spark, tmp_path):
    """The staging dir is swapped away after each write (ADVICE r01:
    one leaked tmp dir per bookmark forever), and a crash between the
    live-dir removal and the rename is recovered on next read."""
    import datetime as dt
    import os
    import shutil

    from dex_data_ingestor_spark.operators.incremental import Bookmark

    path = str(tmp_path / "etl_control")
    bm = Bookmark(path)
    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 1, 11)
    bm.set_last_run("a", t1)
    bm.set_last_run("b", t2)
    assert not os.path.exists(path + "._tmp")
    assert bm.get_last_run("a") == t1 and bm.get_last_run("b") == t2
    # Simulate the crash window: staged snapshot exists, live dir gone.
    shutil.copytree(path, path + "._tmp")
    shutil.rmtree(path)
    assert bm.get_last_run("a") == t1 and bm.get_last_run("b") == t2
    assert os.path.exists(path) and not os.path.exists(path + "._tmp")
    # Writes keep working after a recovery.
    bm.set_last_run("other", t1)
    assert bm.get_last_run("other") == t1
    assert bm.get_last_run("a") == t1 and bm.get_last_run("b") == t2


@pytest.fixture
def new_york_process_tz(monkeypatch):
    """Process TZ away from UTC (and from the Asia/Hong_Kong session
    zone), so a naive-datetime conversion through local time shows."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_bookmark_reads_spark_written_table(spark, tmp_path, new_york_process_tz):
    """An etl_control directory written through Spark (part file plus
    _SUCCESS and .crc side files) reads back through Bookmark with the
    same wall-clock values, and advances from there."""
    import datetime as dt
    import os

    from dex_data_ingestor_spark import schemas
    from dex_data_ingestor_spark.operators.incremental import Bookmark

    assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Hong_Kong"
    path = str(tmp_path / "etl_control")
    t_a, t_b = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 3, 10, 2, 30, 0, 5)
    spark.createDataFrame([("a", t_a), ("b", t_b)], schemas.ETL_CONTROL).coalesce(
        1
    ).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    bm = Bookmark(path)
    assert bm.get_last_run("a") == t_a and bm.get_last_run("b") == t_b
    bm.set_last_run("a", t_a + dt.timedelta(hours=1))
    assert bm.get_last_run("a") == t_a + dt.timedelta(hours=1)
    assert bm.get_last_run("b") == t_b


def test_bookmark_table_reads_through_spark(spark, tmp_path, new_york_process_tz):
    """The driver-written table keeps Spark's layout: read with
    ``schemas.ETL_CONTROL`` it yields the same wall-clock last_run, both
    collected and as rendered by Spark itself."""
    import datetime as dt

    from dex_data_ingestor_spark import schemas
    from dex_data_ingestor_spark.operators.incremental import Bookmark

    path = str(tmp_path / "etl_control")
    t = dt.datetime(2024, 3, 10, 2, 30, 0, 5)  # a New York DST-gap hour
    Bookmark(path).set_last_run("task", t)
    df = spark.read.schema(schemas.ETL_CONTROL).parquet(path)
    rows = df.select(
        "task_name",
        "last_run",
        F.date_format("last_run", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("wall"),
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("task", t, "2024-03-10 02:30:00.000005")
    ]
    # without a schema Spark infers the same types
    assert spark.read.parquet(path).dtypes == [
        ("task_name", "string"),
        ("last_run", "timestamp_ntz"),
    ]


@pytest.mark.parametrize(
    "root", ["s3a://bucket/warehouse", "hdfs://localhost:8020/wh", "file:///tmp/wh"]
)
def test_bookmark_rejects_scheme_qualified_path(spark, sf_dir, tmp_path, root):
    """The driver-side store is local-only. A remote path raises
    ValueError naming it, and a task against a remote warehouse root
    raises before any merge is written."""
    import datetime as dt

    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.incremental import Bookmark
    from dex_data_ingestor_spark.plans.pipelines import (
        DexWarehouse,
        etl_backfill,
        etl_job_till_now,
    )

    path = root + "/etl_control"
    with pytest.raises(ValueError, match=re.escape(path)):
        Bookmark(path)
    wh = DexWarehouse(spark, root)
    events = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match=re.escape(path)):
        etl_job_till_now(wh, "sync_yield_stats", events, dt.datetime(2024, 2, 1))
    with pytest.raises(ValueError, match=re.escape(path)):
        etl_backfill(
            wh, "sync_yield_stats", events,
            dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
        )
    # a local path with a colon is not a scheme
    Bookmark(str(tmp_path / "a:b")).set_last_run("t", dt.datetime(2024, 1, 1))


def test_cdc_apply_delete_and_tie_semantics(spark):
    from dex_data_ingestor_spark.operators.merge import cdc_apply

    rows = [
        # key 1: upsert then delete -> absent
        (1, 1, 10.0, "U"), (1, 2, 11.0, "D"),
        # key 2: delete then upsert -> present with last value
        (2, 1, 20.0, "D"), (2, 2, 21.0, "U"),
        # key 3: tie on order -> delete wins -> absent
        (3, 5, 30.0, "U"), (3, 5, 31.0, "D"),
        # key 4: single upsert
        (4, 9, 40.0, "U"),
    ]
    df = spark.createDataFrame(
        rows, "k long, seq long, value double, op string"
    )
    out = {
        r["k"]: r["value"]
        for r in cdc_apply(df, ["k"], ["seq"], "op").collect()
    }
    assert out == {2: 21.0, 4: 40.0}


def test_merge_apply_cdc_incremental_equals_whole_log(spark, sf_dir):
    """Fold over ordered batches == compact the concatenated log."""
    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.operators.merge import (
        cdc_apply,
        merge_apply_cdc,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    # split the changelog into 3 ORDERED batches by event-id tercile
    qs = ev.approxQuantile("event_id", [0.33, 0.66], 0.0)
    ordered_batches = [
        ev.filter(F.col("event_id") <= qs[0]),
        ev.filter((F.col("event_id") > qs[0]) & (F.col("event_id") <= qs[1])),
        ev.filter(F.col("event_id") > qs[1]),
    ]
    # event_id must be monotone with ts for batch ordering to be valid;
    # enforce by ordering batches on event_id only.
    state = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp_ntz, value double"
    )
    for b in ordered_batches:
        state = merge_apply_cdc(
            state, b, ["user_id"], ["event_id"], "op"
        )
    got = {r["user_id"]: r["value"] for r in state.collect()}
    want_df = cdc_apply(ev, ["user_id"], ["event_id"], "op")
    want = {r["user_id"]: r["value"] for r in want_df.collect()}
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# Delta-backed MERGE parity (runs only when delta-spark is importable)
# ---------------------------------------------------------------------------

_DELTA_CASES = [
    # (existing, updates, update_cols)
    ([(1, 1.0, "x"), (2, 2.0, "y")], [(2, 20.0, None), (3, 3.0, "z")], None),
    ([(1, 1.0, "x"), (2, 2.0, "y")], [(2, 20.0, "IGN"), (3, 3.0, "z")], ["a"]),
    ([(1, 1.0, "x")], [(1, None, "q")], ["a"]),
]


@pytest.mark.parametrize("existing,updates,update_cols", _DELTA_CASES)
def test_delta_merge_parity_with_parquet_path(
    spark, tmp_path, existing, updates, update_cols
):
    """merge_upsert_delta must resolve every case exactly as the
    pure-parquet merge_upsert — same conflicts, same NULL-overwrite
    rule, same kept columns. Skips with a reason when delta-spark is
    not importable (this sandbox); runs for real on any session built
    with the Delta extension."""
    from dex_data_ingestor_spark.operators.delta import (
        delta_available,
        merge_upsert_delta,
    )

    if not delta_available():
        pytest.skip(
            "delta-spark not importable: Delta MERGE parity is asserted "
            "only where the lakehouse dependency exists"
        )
    path = str(tmp_path / "delta_target")
    _df(spark, existing).write.format("delta").save(path)
    merge_upsert_delta(
        spark, path, _df(spark, updates), ["k"], update_cols=update_cols
    )
    got = _as_map(spark.read.format("delta").load(path))
    want = _as_map(
        merge_upsert(_df(spark, existing), _df(spark, updates), ["k"],
                     update_cols=update_cols)
    )
    assert got == want


def test_table_diff_null_keys_match_null_safely(spark):
    """A NULL-key row present identically in both versions (the state
    merge_upsert's NULL-safe key semantics legitimately create) must
    produce NO diff rows — the == join reported it as phantom
    'removed' + 'added' on every diff, feeding spurious deltas to the
    CDF and the incremental aggregate refresh."""
    from dex_data_ingestor_spark.operators.merge import table_diff

    old = spark.createDataFrame(
        [(None, 1.0), (1, 2.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(None, 1.0), (1, 2.0), (2, 3.0)], "k long, v double"
    )
    out = {(r.k, r.status) for r in table_diff(old, new, ["k"]).collect()}
    assert out == {(2, "added")}

    # a CHANGED null-key row still surfaces
    new2 = spark.createDataFrame([(None, 9.0)], "k long, v double")
    old2 = spark.createDataFrame([(None, 1.0)], "k long, v double")
    got = table_diff(old2, new2, ["k"]).collect()
    assert len(got) == 1 and got[0].status == "changed"
