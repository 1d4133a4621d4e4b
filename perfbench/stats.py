"""Pure helpers of the benchmark: percentiles, the tail choice, failure
counting, oracle row matching and route classification. No Spark here,
so ``test_stats.py`` checks all of it in well under a second."""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Any

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10
#: relative tolerance for float cells of exact answers (summation order)
FLOAT_RTOL = 1e-9


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[min(rank, len(ordered)) - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


def supported_tail(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples above it, or None when even the median does not."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    return p if p >= 50 else None


@dataclass
class Outcome:
    """One request's verdict: counted as attempted, failed or not."""

    ok: bool
    reason: str = ""


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    reasons: dict[str, int] = field(default_factory=dict)

    def add(self, outcome: Outcome) -> None:
        self.attempted += 1
        if not outcome.ok:
            self.failed += 1
            self.reasons[outcome.reason] = self.reasons.get(outcome.reason, 0) + 1

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def judge(status_code: int, body: dict[str, Any] | None, exact_match: bool | None) -> Outcome:
    """A request fails on a non-200 response, a ``status`` other than
    ``ok``, or an exact-plan answer whose rows differ from the oracle's
    (``exact_match`` False; None means the answer is approximate)."""
    if status_code != 200:
        return Outcome(False, f"http {status_code}")
    if not body or body.get("status") != "ok":
        return Outcome(False, "status not ok")
    if exact_match is False:
        return Outcome(False, "exact rows differ from oracle")
    return Outcome(True)


def _cell_key(v: Any) -> str:
    if isinstance(v, float):
        return "f"  # floats compare by tolerance, not by sort key
    return json.dumps(v, sort_keys=True, default=str)


def _cells_equal(a: Any, b: Any) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=FLOAT_RTOL, abs_tol=1e-9)
    return a == b


def rows_match(got: list[dict[str, Any]], want: list[dict[str, Any]]) -> bool:
    """Row-for-row equality of two answers, as bags: same columns, same
    number of rows, and after ordering both by their non-float cells each
    pair of rows equal, floats within ``FLOAT_RTOL``."""
    if len(got) != len(want):
        return False
    if not want:
        return True
    cols = list(want[0])
    if any(sorted(r) != sorted(cols) for r in got + want):
        return False

    def order(rows):
        return sorted(rows, key=lambda r: tuple(_cell_key(r[c]) for c in cols) +
                      tuple(float(r[c]) for c in cols if isinstance(r[c], float)))

    return all(
        _cells_equal(g[c], w[c]) for g, w in zip(order(got), order(want)) for c in cols
    )


ROUTES = ("exact", "sample", "sketch", "rollup", "overlap")


def route_of(plan: dict[str, Any]) -> str:
    """The synopsis that served an answer, from the response's plan: the
    overlap and rollup routes name themselves in the plan reason, the
    rest are the plan type."""
    reason = plan.get("reason", "") or ""
    if reason.startswith("segment-overlap idiom"):
        return "overlap"
    if "materialized rollup" in reason:
        return "rollup"
    kind = plan.get("type", "exact")
    return kind if kind in ROUTES else "exact"


def trend(window_rates: list[float], limit: float = 0.10) -> float | None:
    """Relative change from the first to the last timed window's rate, or
    None when it stays within ``limit`` (the run is on a plateau)."""
    if len(window_rates) < 2 or window_rates[0] <= 0:
        return None
    change = window_rates[-1] / window_rates[0] - 1.0
    return change if abs(change) > limit else None
