"""The compare mode's parsing and its gain/regression rule."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compare import compare, load, verdict  # noqa: E402

SEEDS = range(1, 11)


def _side(values):
    return dict(zip(SEEDS, values))


def test_clear_gain_is_better():
    parent = _side([10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2])
    change = _side([v - 1.0 for v in parent.values()])
    r = verdict(parent, change, "lower", 0.1)
    assert r["verdict"] == "better" and r["wins"] == 10 and r["pairs"] == 10


def test_eight_of_ten_wins_is_not_a_gain():
    parent = _side([10.0] * 10)
    change = _side([9.0] * 8 + [10.5, 10.5])
    assert verdict(parent, change, "lower", 0.1)["verdict"] == "same"


def test_gain_within_parent_spread_is_not_a_gain():
    parent = _side([9.0, 11.0, 9.5, 10.5, 9.0, 11.0, 9.5, 10.5, 10.0, 10.0])
    change = _side([v - 0.1 for v in parent.values()])
    r = verdict(parent, change, "lower", 0.25)
    assert r["wins"] == 10 and r["verdict"] == "same"


def test_regression_beyond_bound_is_worse_and_higher_is_better_respected():
    parent = _side([100.0] * 10)
    assert verdict(parent, _side([80.0] * 10), "higher", 0.1)["verdict"] == "worse"
    assert verdict(parent, _side([95.0] * 10), "higher", 0.1)["verdict"] == "same"
    assert verdict(parent, _side([120.0] * 10), "higher", 0.1)["verdict"] == "better"


def test_spread_wider_than_bound_is_unresolved():
    parent = _side([5.0, 15.0] * 5)
    change = _side([6.0, 14.0] * 5)
    assert verdict(parent, change, "lower", 0.1)["verdict"] == "unresolved"


def test_unbounded_metric_never_unresolved():
    parent = _side([5.0, 15.0] * 5)
    assert verdict(parent, _side([6.0, 14.0] * 5), "lower", None)["verdict"] == "same"
    assert verdict(parent, _side([30.0] * 10), "lower", None)["verdict"] == "worse"


def test_load_and_compare_rows(tmp_path):
    bench = {"end_to_end": [{"name": "run_s", "unit": "s", "better": "lower", "bound": 0.1}],
             "per_layer": [{"name": "x.jobs", "unit": "count", "better": "lower"}]}
    for side, offset in (("p", 0.0), ("c", -2.0)):
        d = tmp_path / side
        d.mkdir()
        for seed in SEEDS:
            record = {"record": {"workload": "w", "seed": seed}}
            result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {
                "run_s": {"value": 10.0 + offset + seed / 100, "unit": "s"},
                "other": {"value": 1, "unit": "count"}}}
            (d / f"{seed}.out").write_text(
                "noise line\n" + json.dumps(record) + "\n" + json.dumps(result) + "\n")
    parent, change = load(str(tmp_path / "p")), load(str(tmp_path / "c"))
    assert set(parent) == {("w", "run_s"), ("w", "other")}
    rows = compare(parent, change, bench)
    assert [(r["workload"], r["metric"], r["verdict"]) for r in rows] == [("w", "run_s", "better")]
