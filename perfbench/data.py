"""Seeded input tables for the benchmark.

Tables are generated with NumPy from ``default_rng(seed)`` and written as
Parquet with pyarrow, so one seed gives the same files on every run and
no Spark job runs before the timed set-up. The shapes follow the
TPC-H-style ``lineitem``/``orders`` pair and the ``events`` stream table
the engine's tests use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: events span [EVENTS_START, EVENTS_START + EVENTS_DAYS days)
EVENTS_START = "2024-01-01 00:00:00"
EVENTS_DAYS = 10
#: user ids stay under the theta sketch's exact budget (2^12), so the
#: overlap route is provably exact and can serve the overlap template
EVENT_USERS = 2000
PARTS = 20_000
#: lineitem ship dates and order dates: 2500 days from 1995-01-01
DATES_FROM_US = 788_918_400 * 10**6
DAY_US = 86_400 * 10**6
TS = pa.timestamp("us", tz="UTC")


def _choice(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    type=pa.string())


def lineitem(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return pa.table({
        "l_orderkey": rng.integers(0, rows // 4, rows),
        "l_partkey": rng.integers(0, PARTS, rows),
        "l_suppkey": rng.integers(0, 1000, rows),
        "l_linenumber": (np.arange(rows) % 7 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 104_900, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], rows),
        "l_linestatus": _choice(rng, ["O", "F"], rows),
        "l_shipdate": pa.array(DATES_FROM_US + rng.integers(0, 2500, rows) * DAY_US, TS),
    })


def orders(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    return pa.table({
        "o_orderkey": np.arange(rows, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, rows),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], rows),
        "o_totalprice": np.round(rng.uniform(800, 450_800, rows), 2),
        "o_orderdate": pa.array(DATES_FROM_US + rng.integers(0, 2500, rows) * DAY_US, TS),
        "o_orderpriority": _choice(rng, PRIORITIES, rows),
    })


def events(rows: int, seed: int, start_us: int, span_s: int, first_id: int = 0) -> pa.Table:
    """``rows`` events with ids from ``first_id`` and timestamps uniform
    over ``[start_us, start_us + span_s seconds)``."""
    rng = np.random.default_rng([seed, 3, first_id])
    return pa.table({
        "event_id": np.arange(first_id, first_id + rows, dtype=np.int64),
        "ts": pa.array(start_us + rng.integers(0, span_s * 10**6, rows), TS),
        "user_id": rng.integers(0, EVENT_USERS, rows),
        "event_type": _choice(rng, EVENT_TYPES, rows),
        "value": np.round(rng.uniform(0, 200, rows), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def events_start_us() -> int:
    import datetime as dt

    t0 = dt.datetime.fromisoformat(EVENTS_START).replace(tzinfo=dt.timezone.utc)
    return int(t0.timestamp()) * 10**6


def write(table: pa.Table, path: str, files: int = 4, name: str = "part") -> int:
    """Write ``table`` as ``files`` Parquet files under directory ``path``
    (appending when it exists); return the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    written = 0
    for i in range(files):
        out = os.path.join(path, f"{name}-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), out)
        written += os.path.getsize(out)
    return written


def write_tables(root: str, seed: int, scale: float) -> str:
    """Write lineitem/orders/events at ``scale`` (1.0 = TPC-H sf0.1 row
    counts) under ``root``; return ``root``."""
    write(lineitem(int(600_000 * scale), seed), os.path.join(root, "lineitem"))
    write(orders(int(150_000 * scale), seed), os.path.join(root, "orders"))
    write(events(int(100_000 * scale), seed, events_start_us(), EVENTS_DAYS * 86_400),
          os.path.join(root, "events"))
    return root
