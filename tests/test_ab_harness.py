"""The A/B harness statistics (``tools/ab.py::verdicts``) on synthetic
runs: the gain rule (at least 10 pairs, 9/10 wins, ties for neither
side, median gap over the parent's IQR) and the no-regression verdicts
(bound on the median, unresolved spread). No Spark session."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from ab import verdicts  # noqa: E402  (tools/ script)

LOWER = {"name": "t", "better": "lower", "bound": 0.25}
HIGHER = {"name": "t", "better": "higher", "bound": 0.25}
PARENT = [100.0 + i for i in range(10)]  # median 104.5, IQR 5.5, spread 0.05


def _row(parent, change, metric=LOWER):
    (row,) = verdicts([{"t": v} for v in parent], [{"t": v} for v in change], [metric])
    return row


def test_nine_of_ten_wins_with_gap_over_iqr_is_a_gain():
    change = [v - 20 for v in PARENT[:9]] + [PARENT[9] + 1]
    row = _row(PARENT, change)
    assert (row["wins"], row["pairs"]) == (9, 10)
    assert row["gain"] and row["verdict"] == "ok"
    assert row["parent_median"] == 104.5 and row["change_median"] == 84.5
    assert row["parent_iqr"] == 5.5


def test_eight_of_ten_wins_is_not_a_gain():
    change = [v - 20 for v in PARENT[:8]] + [v + 1 for v in PARENT[8:]]
    row = _row(PARENT, change)
    assert row["wins"] == 8 and not row["gain"]


def test_fewer_than_ten_pairs_is_not_a_gain():
    row = _row(PARENT[:5], [v - 20 for v in PARENT[:5]])
    assert (row["wins"], row["pairs"]) == (5, 5) and not row["gain"]


def test_gap_within_parent_iqr_is_not_a_gain():
    row = _row(PARENT, [v - 1 for v in PARENT])
    assert row["wins"] == 10 and not row["gain"] and row["verdict"] == "ok"


def test_ties_count_for_neither_side():
    one_tie = [v - 20 for v in PARENT[:9]] + [PARENT[9]]
    assert _row(PARENT, one_tie)["wins"] == 9 and _row(PARENT, one_tie)["gain"]
    two_ties = [v - 20 for v in PARENT[:8]] + PARENT[8:]
    row = _row(PARENT, two_ties)
    assert row["wins"] == 8 and not row["gain"]


def test_median_worse_than_bound_is_regressed():
    row = _row(PARENT, [v * 1.3 for v in PARENT])
    assert row["verdict"] == "REGRESSED" and not row["gain"]
    assert _row(PARENT, [v * 1.2 for v in PARENT])["verdict"] == "ok"


def test_spread_wider_than_bound_is_unresolved_unless_change_always_better():
    wide = [40.0, 160.0] * 5  # median 100, IQR 120
    assert _row(wide, wide)["verdict"] == "UNRESOLVED"
    assert _row(PARENT, wide)["verdict"] == "UNRESOLVED"
    # every change run beats every parent run, though its own spread is wide
    assert _row(PARENT, [10.0, 90.0] * 5)["verdict"] == "ok"


def test_higher_is_better_metrics_are_handled_the_right_way_round():
    more = [v + 20 for v in PARENT]
    row = _row(PARENT, more, HIGHER)
    assert row["wins"] == 10 and row["gain"] and row["verdict"] == "ok"
    assert row["parent_median"] == 104.5 and row["change_median"] == 124.5
    assert abs(row["ratio"] - 124.5 / 104.5) < 1e-12
    assert row["parent_iqr"] == 5.5
    # a 30% drop of a higher-is-better metric regresses it
    row = _row(PARENT, [v * 0.7 for v in PARENT], HIGHER)
    assert row["wins"] == 0 and row["verdict"] == "REGRESSED"
    # and the same drop is a win when lower is better
    assert _row(PARENT, [v * 0.7 for v in PARENT])["verdict"] == "ok"
