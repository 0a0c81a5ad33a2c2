"""Verdicts of the benchmark A/B driver (``bench/ab.py``), without Spark.

``summarize`` turns paired runs into per-metric verdicts: ``gain`` only for
the claimed metric, when the change wins at least 9/10 of the pairs (ties
count for neither side) and its median is better by more than the parent's
Q3 - Q1; ``regression`` when its median is worse by more than the metric's
bound; ``unresolved`` when the parent's spread exceeds the bound and not
every change run beats every parent run; ``ok`` otherwise.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("bench_ab", os.path.join(ROOT, "bench", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

LOWER = {"name": "point_read_ms_p50", "better": "lower", "bound": 0.25}
HIGHER = {"name": "events_per_s", "better": "higher", "bound": 0.25}
PARENT = [100.0, 101.0, 102.0, 103.0, 104.0, 105.0, 106.0, 107.0, 108.0, 109.0]  # spread 0.05


def _runs(metric, parent, change, failed=(0, 0)):
    out = []
    for side, vals, n_failed in (("parent", parent, failed[0]), ("change", change, failed[1])):
        for seed, v in enumerate(vals):
            out.append({"workload": "cow_merge", "seed": seed, "side": side, "exit": 0, "correct": True,
                        "attempted": 100, "failed": n_failed if seed == 0 else 0, "metrics": {metric["name"]: v}})
    return out


def _summary(metric, parent, change, claimed=True, failed=(0, 0)):
    claim = f"cow_merge/{metric['name']}" if claimed else None
    return ab.summarize(_runs(metric, parent, change, failed), [metric], claim)["cow_merge"]["metrics"][metric["name"]]


def _scale(vals, f):
    return [v * f for v in vals]


@pytest.mark.parametrize("metric", [LOWER, HIGHER], ids=["lower", "higher"])
def test_nine_of_ten_wins_beyond_iqr_is_gain(metric):
    better = 0.8 if metric["better"] == "lower" else 1.25
    worse = 1.2 if metric["better"] == "lower" else 0.8
    change = _scale(PARENT, better)
    change[3] = PARENT[3] * worse  # the change loses one pair
    s = _summary(metric, PARENT, change)
    assert s["wins"] == {"parent": 1, "change": 9, "pairs": 10}
    assert s["verdict"] == "gain"
    # not claimed: the same runs are only "ok"
    assert _summary(metric, PARENT, change, claimed=False)["verdict"] == "ok"


@pytest.mark.parametrize("metric", [LOWER, HIGHER], ids=["lower", "higher"])
def test_eight_of_ten_wins_is_not_gain(metric):
    better = 0.8 if metric["better"] == "lower" else 1.25
    worse = 1.2 if metric["better"] == "lower" else 0.8
    change = _scale(PARENT, better)
    change[3] = PARENT[3] * worse
    change[7] = PARENT[7] * worse
    s = _summary(metric, PARENT, change)
    assert s["wins"] == {"parent": 2, "change": 8, "pairs": 10}
    assert s["verdict"] == "ok"


def test_every_pair_won_inside_parent_iqr_is_not_gain():
    change = [v - 0.5 for v in PARENT]  # 10/10 wins, median 0.5 better; parent Q3 - Q1 = 4.5
    s = _summary(LOWER, PARENT, change)
    assert s["wins"]["change"] == 10
    assert s["verdict"] == "ok"


def test_more_failed_operations_or_crashed_runs_is_not_gain():
    s = _summary(LOWER, PARENT, _scale(PARENT, 0.8), failed=(0, 1))
    assert s["wins"]["change"] == 10
    assert s["verdict"] == "ok"
    runs = _runs(LOWER, PARENT, _scale(PARENT, 0.8))
    runs.append({"workload": "cow_merge", "seed": 10, "side": "change", "exit": 1, "correct": False,
                 "attempted": 0, "failed": 0, "metrics": {}})
    s = ab.summarize(runs, [LOWER], "cow_merge/point_read_ms_p50")["cow_merge"]["metrics"]["point_read_ms_p50"]
    assert s["wins"] == {"parent": 0, "change": 10, "pairs": 10}
    assert s["verdict"] == "ok"


def test_ties_count_for_neither_side():
    change = _scale(PARENT, 0.8)
    change[0], change[5] = PARENT[0], PARENT[5]
    s = _summary(LOWER, PARENT, change)
    assert s["wins"] == {"parent": 0, "change": 8, "pairs": 10}
    assert s["verdict"] == "ok"  # 8 of 10 pairs: the ties still count as pairs
    change[5] = PARENT[5] * 0.8
    assert _summary(LOWER, PARENT, change)["verdict"] == "gain"


@pytest.mark.parametrize("metric", [LOWER, HIGHER], ids=["lower", "higher"])
def test_median_thirty_percent_worse_is_regression(metric):
    worse = 1.3 if metric["better"] == "lower" else 0.7
    s = _summary(metric, PARENT, _scale(PARENT, worse), claimed=False)
    assert s["verdict"] == "regression"
    assert s["change_over_parent"] == pytest.approx(worse)
    # 20% worse stays inside the 0.25 bound
    near = 1.2 if metric["better"] == "lower" else 0.8
    assert _summary(metric, PARENT, _scale(PARENT, near), claimed=False)["verdict"] == "ok"


@pytest.mark.parametrize("metric", [LOWER, HIGHER], ids=["lower", "higher"])
def test_wide_parent_spread_is_unresolved(metric):
    wide = [60.0, 70.0, 80.0, 90.0, 100.0, 110.0, 120.0, 130.0, 140.0, 150.0]
    s = _summary(metric, wide, list(wide), claimed=False)
    assert s["parent_spread"] > metric["bound"]
    assert s["verdict"] == "unresolved"
    # unless every change run beats every parent run
    beats = [40.0 + i for i in range(10)] if metric["better"] == "lower" else [160.0 + i for i in range(10)]
    assert _summary(metric, wide, beats, claimed=False)["verdict"] == "ok"
    assert _summary(metric, wide, beats)["verdict"] == "gain"


def test_counts_per_side_and_unpaired_failed_run():
    runs = _runs(LOWER, PARENT[:3], PARENT[:3])
    runs.append({"workload": "cow_merge", "seed": 3, "side": "change", "exit": 1, "correct": False,
                 "attempted": 0, "failed": 0, "metrics": {}})
    s = ab.summarize(runs, [LOWER])["cow_merge"]
    assert s["counts"]["parent"] == {"runs": 3, "correct": 3, "attempted": 300, "failed": 0, "exit_nonzero": 0}
    assert s["counts"]["change"] == {"runs": 4, "correct": 3, "attempted": 300, "failed": 0, "exit_nonzero": 1}
    m = s["metrics"]["point_read_ms_p50"]
    assert m["wins"] == {"parent": 0, "change": 0, "pairs": 3}
    assert (m["parent"]["median"], m["parent"]["q1"], m["parent"]["q3"]) == (101.0, 100.5, 101.5)
