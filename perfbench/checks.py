"""Output checks, run outside the timed loop.

Each check returns a list of problems; an empty list means the output
is correct. Row comparisons are order-insensitive multisets and compare
floats bit for bit, like ``tests/oracle_check.py`` does for the query
registry.
"""

from __future__ import annotations

import datetime as dt
import math
import struct
from collections import Counter


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("float", "nan") if math.isnan(v) else ("float", struct.pack("<d", v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (dt.datetime, dt.date)):
        return ("time", v.isoformat())
    return (type(v).__name__, str(v))


def diff_rows(actual, expected, what: str) -> list[str]:
    """Problems if two row collections differ as multisets."""
    a = Counter(tuple(_canon(x) for x in row) for row in actual)
    e = Counter(tuple(_canon(x) for x in row) for row in expected)
    if a == e:
        return []
    only_a = sum((a - e).values())
    only_e = sum((e - a).values())
    sample = list((a - e).items())[:2] + list((e - a).items())[:2]
    return [
        f"{what}: {sum(a.values())} rows vs {sum(e.values())} expected; "
        f"{only_a} unexpected, {only_e} missing; sample {sample}"
    ]


def unique_keys(rows, what: str) -> list[str]:
    dup = [k for k, c in Counter(rows).items() if c > 1]
    return [f"{what}: duplicate keys {dup[:3]}"] if dup else []


def check_etl(con, events_path: str, facts, dims, bookmark, day: dt.datetime, last_tick: dt.datetime) -> list[str]:
    """The warehouse after a daily backfill of ``day`` and hourly ticks.

    ``facts``: (token_id, date, volume, txns_count) rows of
    fact_token_daily_stats for ``day``; ``dims``: (id, chain_id,
    address) rows of dim_tokens; ``bookmark``: {task: last_run}. Each
    fact's token_id is mapped through dim_tokens to its address (the
    source's user_id), so a fact under the wrong token fails the
    compare with the recompute.
    """
    src = f"read_parquet('{events_path}')"
    lo = f"TIMESTAMP '{day.isoformat(sep=' ')}'"
    next_day = f"TIMESTAMP '{(day + dt.timedelta(days=1)).isoformat(sep=' ')}'"
    expected = con.sql(
        f"""
        SELECT CAST(user_id AS VARCHAR) AS address, CAST(ts AS DATE) AS date,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
               COUNT(*) AS txns_count
        FROM {src} WHERE ts >= {lo} AND ts < {next_day}
        GROUP BY user_id, CAST(ts AS DATE)
        """
    ).fetchall()
    address = {token_id: addr for token_id, _, addr in dims}
    keyed = [(address.get(token_id),) + tuple(rest) for token_id, *rest in facts]
    problems = diff_rows(keyed, expected, "fact_token_daily_stats by token")
    problems += unique_keys([d[1:] for d in dims], "dim_tokens (chain_id, address)")
    (n_tokens,) = con.sql(
        f"""
        SELECT COUNT(DISTINCT user_id) FROM {src}
        WHERE ts >= {lo} AND ts <= TIMESTAMP '{last_tick.isoformat(sep=' ')}'
        """
    ).fetchone()
    if len(dims) != n_tokens:
        problems.append(f"dim_tokens has {len(dims)} rows, {n_tokens} tokens seen")
    for task, last_run in bookmark.items():
        if last_run != last_tick:
            problems.append(f"bookmark {task} = {last_run}, last tick {last_tick}")
    return problems


def check_stream(state, delivered, tape_rows: int, versions: dict[str, int], batches: int) -> list[str]:
    """The snapshot tables after the stream cycles.

    ``state``: rows of the merge table; ``delivered``: every delivered
    row in delivery order, keyed on its first field (event_id).
    ``versions``: manifest count per table; ``batches``: non-empty
    micro-batches each sink saw.
    """
    last = {}
    for row in delivered:
        last[row[0]] = row
    problems = diff_rows(state, list(last.values()), "merge table vs last write per event_id")
    if tape_rows != len(delivered):
        problems.append(f"tape has {tape_rows} rows, {len(delivered)} delivered")
    for table, n in versions.items():
        if n != batches:
            problems.append(f"{table}: {n} manifest versions for {batches} batches")
    return problems
