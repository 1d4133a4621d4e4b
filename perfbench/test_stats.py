"""Tests of the benchmark's pure helpers (no Spark; well under a second).

    python3 -m pytest perfbench -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


# -- the tail percentile ------------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (10, None), (19, None), (20, 50), (40, 75), (100, 90), (200, 95),
     (1000, 99), (1001, 99)],
)
def test_supported_tail_leaves_ten_beyond(n, expected):
    assert stats.supported_tail(n) == expected


def test_supported_tail_really_has_ten_beyond():
    for n in range(20, 500):
        p = stats.supported_tail(n)
        values = list(range(n))
        cut = stats.percentile(values, p)
        assert sum(v > cut for v in values) >= stats.TAIL_BEYOND


def test_percentile_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 100) == 5.0
    assert stats.percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_median_even_and_odd():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# -- failure counting -----------------------------------------------------------

def test_judge_counts_each_failure_kind():
    ok_body = {"status": "ok"}
    assert stats.judge(200, ok_body, True).ok
    assert stats.judge(200, ok_body, None).ok  # approximate answer
    assert not stats.judge(500, {"status": "error"}, None).ok
    assert not stats.judge(200, {"status": "error"}, None).ok
    assert not stats.judge(200, None, None).ok
    assert not stats.judge(200, ok_body, False).ok


def test_tally_error_rate_is_failed_over_attempted():
    tally = stats.Tally()
    assert tally.error_rate == 0.0
    for outcome in [stats.judge(200, {"status": "ok"}, True),
                    stats.judge(500, {}, None),
                    stats.judge(200, {"status": "ok"}, False),
                    stats.judge(200, {"status": "ok"}, None)]:
        tally.add(outcome)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert tally.error_rate == 0.5
    assert tally.reasons == {"http 500": 1, "exact rows differ from oracle": 1}


# -- oracle row matching ----------------------------------------------------------

ORACLE = [{"flag": "A", "n": 3, "s": 1.5}, {"flag": "N", "n": 4, "s": 2.25}]


def test_rows_match_ignores_row_order():
    assert stats.rows_match(list(reversed(ORACLE)), ORACLE)


def test_rows_match_tolerates_summation_order_only():
    close = [{"flag": "A", "n": 3, "s": 1.5 * (1 + 1e-12)}, ORACLE[1]]
    off = [{"flag": "A", "n": 3, "s": 1.5 * (1 + 1e-6)}, ORACLE[1]]
    assert stats.rows_match(close, ORACLE)
    assert not stats.rows_match(off, ORACLE)


@pytest.mark.parametrize("got", [
    ORACLE[:1],                                              # a row missing
    ORACLE + [ORACLE[0]],                                    # a row repeated
    [{"flag": "A", "n": 3, "s": 1.5}, {"flag": "R", "n": 4, "s": 2.25}],  # key differs
    [{"flag": "A", "n": 2, "s": 1.5}, ORACLE[1]],            # integer differs
    [{"flag": "A", "n": 3, "t": 1.5}, ORACLE[1]],            # column renamed
])
def test_rows_match_rejects_different_answers(got):
    assert not stats.rows_match(got, ORACLE)


def test_rows_match_handles_nulls_and_empty():
    assert stats.rows_match([], [])
    assert stats.rows_match([{"k": None, "v": 1.0}], [{"k": None, "v": 1.0}])
    assert not stats.rows_match([{"k": None, "v": 1.0}], [{"k": "x", "v": 1.0}])


# -- route classification and trend ---------------------------------------------------

@pytest.mark.parametrize("plan, route", [
    ({"type": "exact", "reason": "prefer_exact requested"}, "exact"),
    ({"type": "sample", "reason": "pre-built uniform sample (f=0.01)"}, "sample"),
    ({"type": "sketch", "reason": "approx_count_distinct HLL++"}, "sketch"),
    ({"type": "exact", "reason": "answered from materialized rollup r (bucket 1 hour)"},
     "rollup"),
    ({"type": "sketch", "reason": "segment-overlap idiom (self_join) answered from "
      "materialized rollup r theta state"}, "overlap"),
])
def test_route_of(plan, route):
    assert stats.route_of(plan) == route


def test_trend_flags_only_beyond_limit():
    assert stats.trend([100.0, 104.0, 108.0]) is None
    assert stats.trend([100.0, 95.0, 80.0]) == pytest.approx(-0.2)
    assert stats.trend([100.0]) is None


def test_route_lines_flag_a_template_off_its_route():
    from types import SimpleNamespace

    import report

    recs = [SimpleNamespace(template="a", route="sample", ms=20.0),
            SimpleNamespace(template="a", route="rollup", ms=10.0),
            SimpleNamespace(template="b", route="exact", ms=30.0),
            SimpleNamespace(template="b", route="exact", ms=50.0)]
    lines = report._route_lines(recs, {"a": "rollup", "b": "sketch"})
    assert lines == ["route a: rollup=1, sample=1; p50 15.0 ms",
                     "route b: exact=2; p50 40.0 ms; meant to take sketch"]


def test_question_p50_weighs_each_question_the_same():
    from types import SimpleNamespace

    import report

    def recs(ms_by_question):
        return [SimpleNamespace(question=q, ms=ms)
                for q, values in ms_by_question.items() for ms in values]

    # one more slow answer moves the pooled median from 100 to 200 ms and
    # the mean of the questions' medians not at all
    fast, slow = [100.0, 100.0, 100.0], [300.0, 300.0]
    assert stats.median(fast + slow) == 100.0
    assert stats.median(fast + slow + [300.0]) == 200.0
    assert report.question_p50(recs({"f": fast, "s": slow})) == 200.0
    assert report.question_p50(recs({"f": fast, "s": slow + [300.0]})) == 200.0
    assert report.question_p50(recs({"f": [90.0, 110.0], "s": [300.0]})) == 200.0
