"""Incremental-window protocol: watermarked half-open scans.

Re-expresses the reference's ``etl_control`` bookmark machinery
(reference: src/ingestion/SqlDbEtl.py:22-29,72-127) as engine
utilities:

- half-open window predicate ``lo < ts <= hi`` (reference: Bifrost.py:90
  and every task's WHERE clause) — pushed down to the parquet scan by
  Catalyst, so at 100 TB a date-partitioned layout prunes partitions
  before reading;
- bootstrap-from-MIN when no bookmark exists (``MIN(created_at) - 1s``,
  reference: SqlDbEtl.py:133-140);
- a tiny parquet-backed bookmark store with the reference's
  monotone-advance rule (advance only if ``new_last > last_run``,
  reference: SqlDbEtl.py:106-108).

The bookmark table is a handful of rows (one per task); reading and
writing it is O(tasks), never O(data). It is read and written on the
driver with ``pyarrow.parquet``, so it costs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

# ``schemas.ETL_CONTROL`` as Arrow. Fields stay nullable: Spark writes
# its columns optional, and the dataset reader casts files to this.
_ARROW_ETL_CONTROL = pa.schema(
    [("task_name", pa.string()), ("last_run", pa.timestamp("us"))]
)


def ntz_lit(v):
    """TIMESTAMP_NTZ literal from a naive datetime / ISO string, built
    TEXTUALLY so it is timezone-free. ``F.lit(naive_datetime)`` is NOT:
    py4j converts the naive value to an instant via the Python
    process's local timezone, then Spark renders that instant in the
    SESSION timezone — under the engine's pinned Asia/Hong_Kong
    session (reference parity, session.py get_session) a naive
    midnight from a UTC process becomes 08:00 wall time, silently
    shifting every window bound and stamped column by the tz offset.
    The string round-trip has no instant in the middle, so the wall
    time survives any (process tz, session tz) combination. Columns
    pass through untouched."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            raise ValueError(
                "ntz_lit takes naive wall-clock datetimes; convert "
                f"aware datetimes explicitly (got {v!r})"
            )
        return F.to_timestamp_ntz(F.lit(v.isoformat(sep=" ")))
    if isinstance(v, str):
        return F.to_timestamp_ntz(F.lit(v))
    return F.lit(v)


def incremental_window(df: DataFrame, ts_col: str, lo, hi) -> DataFrame:
    """Half-open incremental scan ``lo < ts <= hi``.

    ``lo`` may be None (bootstrap: no lower bound beyond the data's own
    minimum). Exactly the reference's no-overlap/no-gap window contract.
    Bounds go through ``ntz_lit`` — naive datetimes mean NTZ wall-clock
    time, independent of the process and session timezones."""
    cond = F.col(ts_col) <= ntz_lit(hi)
    if lo is not None:
        cond = (F.col(ts_col) > ntz_lit(lo)) & cond
    return df.filter(cond)


def bootstrap_start(df: DataFrame, ts_col: str):
    """``MIN(ts) - 1 second`` — the initial cursor when no bookmark
    exists (reference: SqlDbEtl.py:133-140). Returns a 1-row DataFrame
    (column ``bootstrap_ts``); callers in a driver context may collect
    the single value — that is O(1), not a data-path collect."""
    return df.agg(
        F.expr(f"timestampadd(SECOND, -1, min({ts_col}))").alias("bootstrap_ts")
    )


def truncate_to_hour(ts: dt.datetime) -> dt.datetime:
    """Window end = wall clock truncated to the hour
    (reference: SqlDbEtl.py:98-99)."""
    return ts.replace(minute=0, second=0, microsecond=0)


class Bookmark:
    """Per-task watermark store (``etl_control`` analog), kept on the
    driver.

    One row per task_name; last-writer-wins on rewrite. The reference's
    single-row REPLACE INTO (SqlDbEtl.py:84-88) becomes a rewrite of a
    task-count-sized table: a directory holding one parquet file with
    ``schemas.ETL_CONTROL``'s columns, ``last_run`` as a naive
    microsecond timestamp (TIMESTAMP_NTZ to Spark). ``pyarrow.parquet``
    reads and writes it in the driver process, so a bookmark read or
    advance schedules no Spark job: for a few rows, a Spark collect or
    write is all fixed per-job cost, and a tick does several of each.
    The layout is Spark's, so ``spark.read.schema(ETL_CONTROL)`` reads
    the table, and directories Spark wrote load here.

    The store is local-filesystem only: a scheme-qualified path
    (``s3a://``, ``hdfs://``, ``file:``) raises ``ValueError`` at
    construction rather than after a task's merge has been written.
    """

    def __init__(self, path: str):
        if len(urlsplit(path).scheme) > 1:  # one letter: a drive, not a scheme
            raise ValueError(
                "Bookmark stores its table on the driver's local "
                f"filesystem; got scheme-qualified path {path!r}"
            )
        self.path = path

    def _read(self) -> dict[str, dt.datetime]:
        # Crash recovery: if a previous swap died between removing the
        # live dir and renaming the staged one, the staged dir holds the
        # complete new snapshot — finish the swap now.
        tmp = self.path + "._tmp"
        if not os.path.exists(self.path) and os.path.exists(tmp):
            os.replace(tmp, self.path)
        if not os.path.exists(self.path):
            return {}
        # Dataset discovery skips Spark's _SUCCESS and .crc side files.
        table = pq.read_table(self.path, schema=_ARROW_ETL_CONTROL)
        return dict(
            zip(
                table.column("task_name").to_pylist(),
                table.column("last_run").to_pylist(),
            )
        )

    def get_last_run(self, task_name: str) -> dt.datetime | None:
        return self._read().get(task_name)

    def set_last_run(self, task_name: str, last_run: dt.datetime) -> None:
        """Monotone advance: only moves the watermark forward
        (reference: SqlDbEtl.py:106-108)."""
        rows = self._read()
        current = rows.pop(task_name, None)
        if current is not None and last_run <= current:
            return
        rows[task_name] = last_run
        table = pa.table(
            [
                pa.array(list(rows), pa.string()),
                pa.array(list(rows.values()), pa.timestamp("us")),
            ],
            schema=_ARROW_ETL_CONTROL,
        )
        # Stage the full snapshot, then swap via rename. The file is
        # written under a hidden name (readers skip it) and renamed
        # inside the staging dir, so a staged dir never holds a torn
        # file. The only crash window is between rmtree and replace,
        # and _read() recovers from the staged dir there.
        tmp = self.path + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        staged = os.path.join(tmp, ".inprogress")
        pq.write_table(table, staged)
        os.replace(staged, os.path.join(tmp, "part-00000.parquet"))
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.replace(tmp, self.path)
