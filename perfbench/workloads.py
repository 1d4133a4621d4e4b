"""The workloads: their question templates, inputs and synopses.

A template is one question shape with the route it is meant to take; its
literals are drawn once per run from the run's seed. ``build`` is the
synopsis set-up a workload needs, timed as part of ``setup_s``;
``prepare`` writes the inputs and is not timed.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field
from typing import Callable

import data


@dataclass(frozen=True)
class Template:
    name: str
    route: str  # the route the template is meant to take
    sql: Callable[[random.Random], str]
    params: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    loop: str  # "mix": closed loop over the question pool; "ingest": cycles
    tail: int  # the latency_tail_ms percentile
    templates: tuple[Template, ...]
    prepare: Callable[[str, int], str]
    build: Callable[[object, int], None]


def _ts(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


EVENTS_T0 = dt.datetime.fromisoformat(data.EVENTS_START)


def _hour(rng: random.Random, lo_h: int, hi_h: int) -> dt.datetime:
    return EVENTS_T0 + dt.timedelta(hours=rng.randrange(lo_h, hi_h))


def _window(rng: random.Random) -> str:
    start = rng.randrange(0, data.EVENTS_DAYS * 24 - 72)
    a = EVENTS_T0 + dt.timedelta(hours=start)
    b = a + dt.timedelta(hours=rng.randrange(44, 52))
    return f"ts >= {_ts(a)} AND ts < {_ts(b)}"


def _shipdate(rng: random.Random) -> str:
    day = dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(1800, 2100))
    return _ts(day)


# -- dashboard ------------------------------------------------------------

DASHBOARD = (
    Template(
        "exact_agg", "exact",
        lambda r: "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "COUNT(*) AS n FROM lineitem WHERE l_shipdate < " + _shipdate(r)
        + " GROUP BY l_returnflag, l_linestatus",
        {"prefer_exact": True},
    ),
    Template(
        "exact_join", "exact",
        lambda r: "SELECT o.o_orderpriority, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"WHERE l.l_quantity < {r.randrange(20, 26)} GROUP BY o.o_orderpriority",
        {"prefer_exact": True},
    ),
    Template(
        "sample_sum", "sample",
        lambda r: "SELECT l_returnflag, SUM(l_extendedprice) AS revenue, COUNT(*) AS n "
        f"FROM lineitem WHERE l_quantity < {r.randrange(40, 46)} GROUP BY l_returnflag",
        {"max_rel_error": 0.1},
    ),
    Template(
        "sketch_distinct", "sketch",
        lambda r: "SELECT COUNT(DISTINCT l_orderkey) AS orders FROM lineitem "
        f"WHERE l_quantity < {r.randrange(40, 46)}",
        {"max_rel_error": 0.05},
    ),
    Template(
        "rollup_sum", "rollup",
        lambda r: "SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events "
        f"WHERE {_window(r)} GROUP BY event_type",
    ),
    Template(
        "rollup_hll", "rollup",
        lambda r: "SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events "
        f"WHERE {_window(r)} GROUP BY event_type",
        {"max_rel_error": 0.05},
    ),
    Template(
        "overlap", "overlap",
        lambda r: "SELECT COUNT(DISTINCT a.user_id) AS both_users FROM events a "
        "JOIN events b ON a.user_id = b.user_id WHERE a.event_type = '{}' "
        "AND b.event_type = '{}'".format(*r.sample(data.EVENT_TYPES, 2)),
    ),
)


def prepare_dashboard(work: str, seed: int) -> str:
    return data.write_tables(os.path.join(work, "data"), seed, scale=1.0)


def build_dashboard(eng, seed: int) -> None:
    eng.analyze_table("lineitem", ["l_quantity", "l_shipdate"])
    eng.analyze_table("events", ["user_id"])
    eng.create_sample("lineitem", 0.01, seed=seed)
    eng.create_sketch("lineitem", "l_orderkey", "hll")
    eng.create_rollup(
        "events", "ts", "1 hour", dims=["event_type"], measures=["value"],
        distinct_cols=["user_id"], theta_cols=["user_id"],
    )


# -- ingest_refresh ---------------------------------------------------------

INGEST_BASE_ROWS = 100_000
#: each cycle appends 1% of the base table, so every timed cycle is alike:
#: maintenance re-counts the table and refreshes the rollup's tail, while
#: the sample and sketch stay under its 10% drift threshold for a run's
#: length. Runs that fit different numbers of cycles then measure the same
#: mix; a periodic rebuild would land in some runs and not in others.
INGEST_BATCH_ROWS = 1_000
INGEST_BATCH_SPAN_S = 6 * 3600

INGEST = (
    Template(
        "rollup_sum", "rollup",
        lambda r: "SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events "
        f"WHERE ts >= {_ts(_hour(r, 24 * (data.EVENTS_DAYS - 4), 24 * data.EVENTS_DAYS))} "
        "GROUP BY event_type",
    ),
    Template(
        "rollup_hll", "rollup",
        lambda r: "SELECT event_type, COUNT(DISTINCT user_id) AS users FROM events "
        f"WHERE ts >= {_ts(_hour(r, 24 * (data.EVENTS_DAYS - 4), 24 * data.EVENTS_DAYS))} "
        "GROUP BY event_type",
        {"max_rel_error": 0.05},
    ),
    Template(
        "sample_sum", "sample",
        lambda r: "SELECT event_type, SUM(value) AS total, COUNT(*) AS n FROM events "
        f"WHERE value < {r.randrange(100, 201)} GROUP BY event_type",
        {"max_rel_error": 0.1},
    ),
    Template(
        "exact_recent", "exact",
        lambda r: "SELECT COUNT(*) AS n, MAX(ts) AS last_ts FROM events "
        f"WHERE user_id < {r.randrange(100, 2000)}",
        {"prefer_exact": True},
    ),
)


def prepare_ingest(work: str, seed: int) -> str:
    root = os.path.join(work, "data")
    data.write(data.events(INGEST_BASE_ROWS, seed, data.events_start_us(),
                           data.EVENTS_DAYS * 86_400), os.path.join(root, "events"))
    return root


def build_ingest(eng, seed: int) -> None:
    eng.analyze_table("events", ["user_id", "value"])
    eng.create_sample("events", 0.05, seed=seed)
    eng.create_sketch("events", "user_id", "hll")
    eng.create_rollup(
        "events", "ts", "1 hour", dims=["event_type"], measures=["value"],
        distinct_cols=["user_id"],
    )


def ingest_batch(events_dir: str, seed: int, cycle: int) -> int:
    """Append cycle ``cycle``'s seeded batch (1-based) to ``events_dir``:
    its rows follow every earlier row in time and id. Returns its size in
    bytes on disk."""
    rows = INGEST_BATCH_ROWS
    start_us = (data.events_start_us() + data.EVENTS_DAYS * 86_400 * 10**6
                + (cycle - 1) * INGEST_BATCH_SPAN_S * 10**6)
    batch = data.events(rows, seed, start_us, INGEST_BATCH_SPAN_S,
                        first_id=INGEST_BASE_ROWS + (cycle - 1) * rows)
    return data.write(batch, events_dir, files=1, name=f"batch{cycle:04d}")


#: Tails: dashboard's p75 is the highest percentile with 10 of its ~40
#: timed asks beyond it. ingest_refresh has 40 and would allow p75 too, but
#: its 8 questions (4 before and 4 after maintenance) come in equal shares,
#: so p75 falls on the border between the two slowest and jumps between
#: them from run to run; p70 falls inside the second slowest.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("dashboard", loop="mix", tail=75,
                 templates=DASHBOARD,
                 prepare=prepare_dashboard, build=build_dashboard),
        Workload("ingest_refresh", loop="ingest", tail=70,
                 templates=INGEST,
                 prepare=prepare_ingest, build=build_ingest),
    )
}
