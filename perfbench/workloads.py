"""The benchmark's workloads.

Each workload is a closed loop: one client runs its next operation only
after the previous one has completed. A workload first warms up with
one untimed pass (its set-up ends there), then runs whole operations
until ``ctx.seconds`` have elapsed, then checks its outputs outside the
timed loop.

Every workload calls only the package's public entry points: the query
registry, ``plans.pipelines``, ``streaming.jobs``, ``snapshots`` and
``io.load_table``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from tracing import Tracer, median, rebind, restore

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.1
#: byte-for-byte copies of the repository's shipped sf0.1 test tables
INPUTS = os.path.join(HERE, "data", f"sf{SF}")

#: warehouse reads in the reference's domain: fixed per-query cost
ANALYTICS = [
    "q_flagship_daily_revenue",
    "q_group_agg",
    "q_dim_broadcast_join",
    "q_asof_price",
    "q_yoy_qoq",
]
#: LLM-data-pipeline operators: execution-dominated, CPU-dense stages
CURATION = ["q_minhash_pairs", "q_edit_distance"]
ETL_TASKS = ["sync_dim_tokens", "sync_token_daily_stats", "sync_yield_stats"]


def table_rows(name: str) -> int:
    return pq.read_metadata(os.path.join(INPUTS, f"{name}.parquet")).num_rows


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer | None
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


@dataclass
class Result:
    ops: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    #: when the warm-up pass ended, i.e. when set-up was done
    setup_end: float = 0.0
    rows: float = 0.0
    rows_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    #: per-layer count name -> windows whose Spark jobs it counts
    job_windows: dict[str, list[tuple[float, float]]] = field(default_factory=dict)

    def op(self, start: float, end: float) -> None:
        self.ops.append(end - start)
        self.windows.append((start, end))

    def fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems


def _dir_bytes(root: str, since: float = 0.0) -> int:
    """Bytes of data files under ``root`` modified at or after ``since``."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _first_day(events: pa.Table) -> dt.datetime:
    first = events["ts"][0].as_py()
    return dt.datetime(first.year, first.month, first.day)


def setup_tables(spark, names) -> None:
    """Load the tables through the program's IO layer (footers read)."""
    from dex_data_ingestor_spark.io import load_table

    for name in names:
        load_table(spark, INPUTS, name)


# ---------------------------------------------------------------------------
# queries: a battery of registry queries
# ---------------------------------------------------------------------------


def battery(ctx: Ctx, names: list[str], con, compare) -> Result:
    """One operation is one pass over ``names`` in a seeded order: the
    queries' times differ by 15x, so a median over single queries jumps
    between neighbours from run to run while a pass time does not. Each
    query's own time is kept in ``info`` and, traced, per layer."""
    from dex_data_ingestor_spark import io
    from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES

    res = Result()
    spark, sf = ctx.spark, INPUTS

    # warm-up, untimed: one pass the way the timed passes run each
    # query, then the output check. One pass leaves the next one about
    # a fifth slower than the pass after it (the JIT is still
    # compiling); the check is the second. The first pass records the
    # source rows each query reads (the tables it loads) for rows_per_s.
    rows_read: dict[str, int] = {}
    loader = io.load_table
    for q in names:
        seen: set[str] = set()

        def counting(spark_, sf_dir, name, *a, **k):
            seen.add(name)
            return loader(spark_, sf_dir, name, *a, **k)

        rebound = rebind("dex_data_ingestor_spark", loader, counting)
        res.attempted += 1
        try:
            QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failing query is a failed operation
            res.fail([f"{q} raised {exc!r}"])
        finally:
            restore(rebound)
        rows_read[q] = sum(table_rows(t) for t in seen)
    # output check: every query once against its DuckDB oracle
    for q in names:
        res.attempted += 1
        try:
            problems = compare(QUERIES[q](spark, sf), con, ORACLE_SQL[q])
        except Exception as exc:
            problems = [f"raised {exc!r}"]
        if problems:
            res.fail([f"{q}: {p}" for p in problems])
    res.setup_end = time.time()

    build: dict[str, list[float]] = {q: [] for q in names}
    plan: dict[str, list[float]] = {q: [] for q in names}
    execute: dict[str, list[float]] = {q: [] for q in names}
    op_s: dict[str, list[float]] = {q: [] for q in names}
    t_start = time.time()
    passes = 0
    # at least two passes, so a slow run still times every query twice
    while passes < 2 or time.time() - t_start < ctx.seconds:
        passes += 1
        pass_t0 = time.time()
        for q in ctx.rng.permutation(names):
            q = str(q)
            res.attempted += 1
            t0 = time.time()
            try:
                with ctx.span("testbed.build"):
                    df = QUERIES[q](spark, sf)
                t1 = time.time()
                if ctx.tracer:
                    with ctx.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                res.fail([f"{q} raised {exc!r}"])
                continue
            t3 = time.time()
            op_s[q].append(t3 - t0)
            build[q].append(t1 - t0)
            plan[q].append(t2 - t1)
            execute[q].append(t3 - t2)
            res.rows += rows_read[q]
        res.op(pass_t0, time.time())
    res.rows_s = sum(res.ops)
    res.info.update(passes=passes, qps=sum(map(len, op_s.values())) / res.rows_s,
                    query_s={q: median(v) for q, v in op_s.items()})

    if ctx.tracer:
        n = max(len(res.ops), 1)
        res.layer["testbed.build_s"] = sum(map(sum, build.values())) / n
        res.layer["spark.plan_s"] = sum(map(sum, plan.values())) / n
        for q in names:
            res.layer[f"{q}.exec_s"] = median(execute[q])
    return res


def run_queries(ctx: Ctx, con, compare) -> Result:
    res = battery(ctx, ANALYTICS + CURATION, con, compare)
    curation_pass_s = sum(res.info["query_s"][q] for q in CURATION)
    res.info["docs_per_s"] = table_rows("documents") / curation_pass_s if curation_pass_s else 0.0
    return res


# ---------------------------------------------------------------------------
# ingest: the hourly batch ETL and its streaming twin side by side
# ---------------------------------------------------------------------------

#: per timed hour: drains of the streaming twin, then one batch ETL tick
DRAINS_PER_HOUR = 6
#: fresh events per drain, about ten minutes' worth (100k events in 30 days)
DRAIN_EVENTS = 24
#: untimed drains after the warm-up day, past the JIT's first slope
WARM_DRAINS = 2


class _Deliveries:
    """The seeded deliveries of the streaming twin: each one holds the
    next events in time order plus a ~5% re-delivery of earlier events
    with a changed ``value``."""

    def __init__(self, ctx: Ctx, events: pa.Table, start: dt.datetime):
        self.rng = ctx.rng
        self.table = events
        self.ts = events["ts"].to_numpy()
        self.at = int(np.searchsorted(self.ts, np.datetime64(start)))
        self.ids: list[int] = []

    def next(self, count: int) -> pa.Table:
        lo, hi = self.at, self.at + count
        self.at = hi
        fresh = self.table.slice(lo, count)
        parts = [fresh]
        k = min(len(self.ids), round(0.05 * (hi - lo)))
        if k:
            again = self.table.take(pa.array(self.rng.choice(self.ids, k, replace=False)))
            bump = self.rng.integers(1, 10_000, k) / 100.0
            value = np.round(again["value"].to_numpy() + bump, 2)
            parts.append(again.set_column(4, "value", pa.array(value)))
        self.ids.extend(fresh["event_id"].to_pylist())
        return pa.concat_tables(parts)


class _Stream:
    """Delivered files drained by an append sink (the raw tape) and a
    merge sink keyed on event_id (current state)."""

    def __init__(self, ctx: Ctx):
        from dex_data_ingestor_spark.streaming import jobs

        self.jobs, self.spark = jobs, ctx.spark
        self.base = os.path.join(ctx.work, "stream")
        self.src, self.tape, self.state = (
            os.path.join(self.base, d) for d in ("src", "tape", "state"))
        os.makedirs(self.src)
        self.stream = None
        self.files = 0

    def drain(self, batch: pa.Table) -> list:
        """Publish one file and drain it; returns the queries' progress."""
        pq.write_table(batch, os.path.join(self.src, f"f{self.files:06d}.parquet"))
        self.files += 1
        if self.stream is None:
            self.stream = self.jobs.events_stream_from_parquet(
                self.spark, self.src, max_files_per_trigger=1)
        q1 = self.jobs.foreach_batch_append_snapshots(
            self.stream, os.path.join(self.base, "ck_tape"), self.tape, self.spark)
        q1.awaitTermination()
        q2 = self.jobs.foreach_batch_merge_snapshots(
            self.stream, os.path.join(self.base, "ck_state"), self.state,
            ["event_id"], self.spark)
        q2.awaitTermination()
        return q1.recentProgress + q2.recentProgress


def run_ingest(ctx: Ctx, con, compare) -> Result:
    """The warm-up backfills a fresh ``DexWarehouse`` with one seeded day
    (``etl_backfill``, one daily chunk per task), delivers that day to
    the streaming twin as one file, and drains two more small files.
    Each timed hour then runs six drains and one tick:

    - a drain publishes a file of the next 24 events (about ten
      minutes' worth) plus a ~5% re-delivery, and drains it with
      ``AvailableNow`` through the append sink and the merge sink. The
      merge sink rewrites the whole table per batch, so its cost grows
      over the run; the append sink writes only the batch.
    - a tick runs ``etl_job_till_now`` for the three tasks in order, a
      seeded 0-59 minutes after the hour it closes.

    So ``op_s.p50`` is a drain, ``op_s.tail`` the tick, and
    ``rows_per_s`` the rows delivered over the drains' time. A file
    holds a fixed count of events, so rows_per_s does not move with
    how many events the seed's hour happens to hold."""
    from pyspark.sql import functions as F

    from dex_data_ingestor_spark import snapshots
    from dex_data_ingestor_spark.io import load_table
    from dex_data_ingestor_spark.plans.pipelines import (
        DexWarehouse,
        etl_backfill,
        etl_job_till_now,
    )

    res = Result()
    spark = ctx.spark
    events = load_table(spark, INPUTS, "events")
    table = pq.read_table(os.path.join(INPUTS, "events.parquet"))
    day0 = _first_day(table) + dt.timedelta(days=1 + int(ctx.rng.integers(0, 20)))
    day1 = day0 + dt.timedelta(days=1)
    wh = DexWarehouse(spark, os.path.join(ctx.work, "warehouse"))
    deliveries = _Deliveries(ctx, table, day0)
    stream = _Stream(ctx)
    delivered: list[tuple] = []

    def drain(count: int) -> list:
        batch = deliveries.next(count)
        progress = stream.drain(batch)
        delivered.extend(tuple(r.values()) for r in batch.to_pylist())
        return progress

    t0 = time.time()
    for task in ETL_TASKS:
        res.attempted += 1
        try:
            etl_backfill(wh, task, events, day0, day1, step=dt.timedelta(days=1))
        except Exception as exc:
            res.fail([f"backfill {task} raised {exc!r}"])
    backfill_s = time.time() - t0
    backfill_rows = int(np.searchsorted(deliveries.ts, np.datetime64(day1))) - deliveries.at
    res.attempted += 1
    try:
        drain(backfill_rows)
        for _ in range(WARM_DRAINS):
            drain(DRAIN_EVENTS)
    except Exception as exc:
        res.fail([f"stream warm-up raised {exc!r}"])
    res.setup_end = time.time()

    live = ["dim_tokens", "fact_token_daily_stats", "fact_yield_stats"]
    per_task: dict[str, list[float]] = {t: [] for t in ETL_TASKS}
    drain_s, ticks, start_stop, progress = [], [], [], []
    rows_merged = etl_written = etl_landed = snap_written = tape_written = 0
    hour, last_tick = day1, None
    t_start = time.time()
    while not res.failed and (not ticks or time.time() - t_start < ctx.seconds):
        for _ in range(DRAINS_PER_HOUR):
            res.attempted += 1
            n = len(delivered)
            t0 = time.time()
            try:
                ps = drain(DRAIN_EVENTS)
            except Exception as exc:
                res.fail([f"drain raised {exc!r}"])
                break
            t1 = time.time()
            res.op(t0, t1)
            drain_s.append(t1 - t0)
            res.rows += len(delivered) - n
            if ctx.tracer:
                progress += ps
                start_stop.append((t1 - t0) - sum(
                    p["durationMs"].get("triggerExecution", 0) for p in ps) / 1000)
                tape = _dir_bytes(stream.tape, t0)
                tape_written += tape
                snap_written += tape + _dir_bytes(stream.state, t0)
        if res.failed:
            break
        hour += dt.timedelta(hours=1)
        now = hour + dt.timedelta(minutes=int(ctx.rng.integers(0, 60)))
        res.attempted += 1
        t0 = time.time()
        for task in ETL_TASKS:
            t = time.time()
            try:
                merged, last_tick = etl_job_till_now(wh, task, events, now)
            except Exception as exc:
                res.fail([f"tick {task} raised {exc!r}"])
                break
            per_task[task].append(time.time() - t)
            rows_merged += merged
        t1 = time.time()
        res.op(t0, t1)
        ticks.append((t0, t1))
        if ctx.tracer:
            etl_written += _dir_bytes(wh.root, t0)
            etl_landed += sum(_dir_bytes(wh.path(t), t0) for t in live)
    res.rows_s = sum(drain_s)
    res.job_windows["pipelines.jobs_per_tick"] = ticks
    res.info.update(day0=day0.isoformat(), ticks=len(ticks), drains=len(drain_s),
                    delivered=len(delivered), backfill_s=backfill_s,
                    backfill_rows=backfill_rows, drain_s=median(drain_s),
                    tick_s=median([b - a for a, b in ticks]))

    if last_tick is not None:
        dims = [tuple(r) for r in wh.read("dim_tokens").select("id", "chain_id", "address").collect()]
        facts = [
            tuple(r) for r in wh.read("fact_token_daily_stats")
            .filter(F.col("date") == F.lit(day0.date()))
            .select("token_id", "date", "volume", "txns_count").collect()
        ]
        bookmark = {t: wh.bookmark.get_last_run(t) for t in ETL_TASKS}
        problems = checks.check_etl(
            con, os.path.join(INPUTS, "events.parquet"), facts, dims,
            bookmark, day0, last_tick)
        state = [tuple(r) for r in snapshots.snapshot_read(spark, stream.state).collect()]
        problems += checks.check_stream(
            state, delivered, snapshots.snapshot_read(spark, stream.tape).count(),
            {"tape": len(snapshots.snapshot_versions(stream.tape)),
             "state": len(snapshots.snapshot_versions(stream.state))},
            stream.files,
        )
        res.attempted += 1
        if problems:
            res.fail(problems)

    if ctx.tracer:
        n_ticks, n_drains = max(len(ticks), 1), max(len(drain_s), 1)

        def per_batch(*keys):
            return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / max(len(progress), 1)

        for task in ETL_TASKS:
            res.layer[f"pipelines.{task}_s"] = median(per_task[task])
        res.layer.update({
            "pipelines.backfill_rows_per_s": backfill_rows / backfill_s,
            "pipelines.merge_write_s": ctx.tracer.total("pipelines.merge_write", t_start) / n_ticks,
            "pipelines.rows_merged": rows_merged / n_ticks,
            "pipelines.bytes_written": etl_written / n_ticks,
            "pipelines.write_amp": etl_written / max(etl_landed, 1),
            "incremental.bookmark_s": ctx.tracer.total("incremental.bookmark", t_start) / n_ticks,
            "snapshots.commit_s": ctx.tracer.total("snapshots.commit", t_start) / n_drains,
            "snapshots.versions": ctx.tracer.count("snapshots.commit", t_start) / n_drains,
            "snapshots.bytes_written": snap_written / n_drains,
            "snapshots.write_amp": snap_written / max(tape_written, 1),
            "streaming.add_batch_ms": per_batch("addBatch"),
            "streaming.planning_ms": per_batch("queryPlanning"),
            "streaming.offset_log_ms": per_batch("walCommit", "commitOffsets"),
            "streaming.latest_offset_ms": per_batch("latestOffset"),
            "streaming.batches": len(progress) / n_drains,
            "streaming.start_stop_s": median(start_stop),
        })
    return res


#: name -> (run function, the input tables its set-up loads)
WORKLOADS = {
    "queries": (run_queries, ("region", "nation", "customer", "supplier",
                              "part", "orders", "lineitem", "events", "documents")),
    "ingest": (run_ingest, ("events",)),
}
