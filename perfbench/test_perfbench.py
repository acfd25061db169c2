"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SAMPLE_LOG = os.path.join(HERE, "testdata", "eventlog-q_group_agg.jsonl")


# -- event-log fold --------------------------------------------------------


def _sample_events():
    with open(SAMPLE_LOG, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def test_fold_counts_every_job_stage_and_task_of_the_window():
    events = _sample_events()
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stages = [e for e in events if e["Event"] == "SparkListenerStageCompleted"]
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    lo = min(e["Submission Time"] for e in jobs) / 1000 - 1
    hi = max(e["Completion Time"] for e in events if e["Event"] == "SparkListenerJobEnd") / 1000 + 1

    folded = tracing.fold_event_log(SAMPLE_LOG, [(lo, hi)], cores=4)

    assert folded["jobs"] == len(jobs) > 0
    assert folded["stages"] == len(stages) > 0
    assert folded["tasks"] == len(task_ends)
    assert folded["executor_run_ms"] == sum(
        e["Task Metrics"]["Executor Run Time"] for e in task_ends)
    assert folded["executor_cpu_ms"] == pytest.approx(sum(
        e["Task Metrics"]["Executor CPU Time"] for e in task_ends) / 1e6)
    written = sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                  for e in task_ends)
    assert folded["shuffle_write_bytes"] == written > 0
    assert folded["shuffle_read_bytes"] > 0
    assert 0 < folded["exec_s"] <= hi - lo
    for rec in folded["stage_records"]:
        assert rec["max_task_ms"] >= rec["median_task_ms"]
    assert folded["task_skew"] >= 1.0


def test_fold_ignores_jobs_outside_the_window():
    folded = tracing.fold_event_log(SAMPLE_LOG, [(0.0, 1.0)], cores=4)
    assert folded["jobs"] == folded["stages"] == folded["tasks"] == 0
    assert folded["exec_s"] == 0.0


def test_serial_cpu_stage_is_flagged(tmp_path):
    def stage(sid, tasks, cpu_ms):
        lines = [{"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": 1000}}]
        lines += [{"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                   "Task Metrics": {"Executor Run Time": cpu_ms,
                                    "Executor CPU Time": cpu_ms * 1_000_000}}] * tasks
        return lines

    lines = [{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
             {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000}]
    lines += stage(1, 1, 900) + stage(2, 4, 10)
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    folded = tracing.fold_event_log(str(path), [(0.5, 3.0)], cores=4)
    assert folded["serial_cpu_stages"] == 1
    assert folded["cpu_busy_frac"] == pytest.approx(940 / (1000 * 4))


# -- tail percentile rule ----------------------------------------------------


@pytest.mark.parametrize("n", [20, 21, 33, 57, 100, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct = tracing.tail(values)
    beyond = sum(1 for v in values if v > value)
    assert beyond >= 10
    # the next percentile up would leave fewer than ten
    assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_is_p90_at_100_samples():
    assert tracing.tail([float(i) for i in range(1, 101)]) == (90.0, 90)


def test_tail_is_the_maximum_below_twenty_samples():
    assert tracing.tail([3.0, 1.0, 2.0]) == (3.0, 100)


# -- output checks reject corrupted results ---------------------------------


def _flip(x: float) -> float:
    return math.nextafter(x, math.inf)


ROWS = [(1, 0.1, "a"), (2, 0.2, "b"), (3, 0.30000000000000004, "c")]


def test_rows_equal_passes():
    assert checks.diff_rows(list(reversed(ROWS)), ROWS, "t") == []


@pytest.mark.parametrize("corrupt", [
    lambda r: r[:-1],                                   # dropped row
    lambda r: [(1, _flip(0.1), "a")] + r[1:],           # changed float bit
    lambda r: r + [r[0]],                               # duplicated row
])
def test_rows_corruption_is_rejected(corrupt):
    assert checks.diff_rows(corrupt(list(ROWS)), ROWS, "t")


def test_duplicate_key_is_rejected():
    assert checks.unique_keys([(1, "a"), (1, "b")], "k") == []
    assert checks.unique_keys([(1, "a"), (1, "a")], "k")


class FakeFrame:
    """The slice of the DataFrame API that tests/oracle_check.compare uses."""

    def __init__(self, rows, cols=("k", "v")):
        self.rows, self.columns = rows, list(cols)
        self.dtypes = [("k", "bigint"), ("v", "double")]

    def collect(self):
        return self.rows


@pytest.mark.parametrize("corrupt", [
    lambda r: r[:-1],
    lambda r: [(1, _flip(0.5))] + r[1:],
    lambda r: r + [r[-1]],
])
def test_query_check_rejects_corruption(corrupt):
    from tests.oracle_check import compare

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.5::DOUBLE), (2, 0.25::DOUBLE)) t(k, v)"
    good = [(1, 0.5), (2, 0.25)]
    assert compare(FakeFrame(good), con, sql) == []
    assert compare(FakeFrame(corrupt(good)), con, sql)


@pytest.fixture
def tiny_events(tmp_path):
    day = dt.datetime(2024, 1, 5)
    table = pa.table({
        "event_id": pa.array([0, 1, 2, 3], pa.int64()),
        "ts": pa.array([day + dt.timedelta(hours=h) for h in (1, 2, 3, 26)],
                       pa.timestamp("us")),
        "user_id": pa.array([7, 7, 8, 9], pa.int64()),
        "value": [1.25, 2.5, 3.0, 4.0],
    })
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    facts = [(70, day.date(), 3.75, 2), (80, day.date(), 3.0, 1)]
    dims = [(70, 1, "7"), (80, 1, "8"), (90, 1, "9")]
    tick = day + dt.timedelta(days=1, hours=3)
    bookmark = {"a": tick, "b": tick}
    return path, day, facts, dims, bookmark, tick


def test_etl_check_passes(tiny_events):
    path, day, facts, dims, bookmark, tick = tiny_events
    assert checks.check_etl(duckdb.connect(), path, facts, dims, bookmark, day, tick) == []


@pytest.mark.parametrize("corrupt", [
    lambda f, d, b: (f[:-1], d, b),                                   # dropped row
    lambda f, d, b: ([f[0][:2] + (_flip(f[0][2]), 2)] + f[1:], d, b), # float bit
    lambda f, d, b: ([(80,) + f[0][1:], (70,) + f[1][1:]], d, b),     # tokens swapped
    lambda f, d, b: ([(99,) + f[0][1:]] + f[1:], d, b),               # unknown token
    lambda f, d, b: (f, d + [(91, 1, "9")], b),                       # duplicate key
    lambda f, d, b: (f, d[:-1], b),                                   # missing token
    lambda f, d, b: (f, d, {**b, "a": b["a"] - dt.timedelta(hours=1)}),  # stale bookmark
])
def test_etl_check_rejects_corruption(tiny_events, corrupt):
    path, day, facts, dims, bookmark, tick = tiny_events
    facts, dims, bookmark = corrupt(facts, dims, bookmark)
    assert checks.check_etl(duckdb.connect(), path, facts, dims, bookmark, day, tick)


DELIVERED = [(1, "x", 1.0), (2, "y", 2.0), (1, "x", 1.5)]
STATE = [(1, "x", 1.5), (2, "y", 2.0)]


def test_stream_check_passes():
    assert checks.check_stream(STATE, DELIVERED, 3, {"tape": 2, "state": 2}, 2) == []


@pytest.mark.parametrize("state,tape,versions", [
    (STATE[:1], 3, 2),                          # dropped row
    ([(1, "x", _flip(1.5)), STATE[1]], 3, 2),   # changed float bit
    (STATE + [STATE[0]], 3, 2),                 # duplicate key
    ([(1, "x", 1.0), STATE[1]], 3, 2),          # first write kept, not the last
    (STATE, 2, 2),                              # tape lost a row
    (STATE, 3, 3),                              # a version per empty batch
])
def test_stream_check_rejects_corruption(state, tape, versions):
    assert checks.check_stream(state, DELIVERED, tape, {"tape": 2, "state": versions}, 2)


# -- the contract file and the code agree ------------------------------------


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()

