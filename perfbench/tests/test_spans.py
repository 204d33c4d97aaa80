"""Reducer and self-time arithmetic of the traced run."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import by_name, covered, group_stats, read_event_log, span_figures  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def _span(sid, name, parent, start, end, rows=0):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end,
            "rows_out": rows}


def _events():
    """Two jobs in group a (one stage each), one in b, one with no group."""
    def job_start(jid, t, stages, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": props}

    def task(stage, run_ms, cpu_ns, gc_ms, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill}}

    return [
        job_start(0, 11_000, [0], "a"), task(0, 300, 2e8, 10, shuffle=1024 * 1024),
        task(0, 100, 1e8, 0), {"Event": "SparkListenerJobEnd", "Job ID": 0,
                               "Completion Time": 12_000},
        job_start(1, 14_000, [1], "a"), task(1, 600, 5e8, 20, spill=2 * 1024 * 1024),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 15_000},
        job_start(2, 17_000, [2], "b"), task(2, 50, 1e7, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 17_500},
        job_start(3, 19_000, [3], None), task(3, 999, 1e9, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 19_500},
    ]


def test_group_stats_attributes_jobs_and_tasks_by_group():
    stats = group_stats(_events())
    assert set(stats) == {"a", "b"}
    a = stats["a"]
    assert a["jobs"] == [(11.0, 12.0), (14.0, 15.0)]
    assert a["task_run_ms"] == [300, 100, 600]
    assert a["cpu_ns"] == 8e8 and a["gc_ms"] == 30
    assert a["shuffle_bytes"] == 1024 * 1024 and a["spill_bytes"] == 2 * 1024 * 1024


def test_self_time_is_wall_minus_children_and_driver_time_excludes_jobs():
    spans = [
        _span("root", "op", None, 10.0, 20.0),
        _span("a", "layer.x", "root", 10.5, 16.0, rows=7),
        _span("b", "layer.y", "root", 16.5, 18.0),
    ]
    figs = {f["name"]: f for f in span_figures(spans, group_stats(_events()))}
    root, x, y = figs["op"], figs["layer.x"], figs["layer.y"]
    assert root["wall_s"] == pytest.approx(10.0)
    assert root["self_s"] == pytest.approx(10.0 - 5.5 - 1.5)
    assert x["self_s"] == pytest.approx(x["wall_s"]) == pytest.approx(5.5)
    # x's jobs cover 12-11 and 15-14 of its 5.5 s; the root sees the
    # descendants' jobs (3 of them, 2.5 s) but not the ungrouped one
    assert x["driver_s"] == pytest.approx(3.5)
    assert root["driver_s"] == pytest.approx(10.0 - 2.5)
    assert (root["jobs"], root["tasks"], x["jobs"], x["tasks"]) == (3, 4, 2, 3)
    assert x["exec_cpu_s"] == pytest.approx(0.8) and x["gc_s"] == pytest.approx(0.03)
    assert x["shuffle_mb"] == pytest.approx(1.0) and x["spill_mb"] == pytest.approx(2.0)
    assert x["rows_out"] == 7 and y["jobs"] == 1


def test_by_name_sums_repeated_layers_and_recomputes_task_share():
    spans = [
        _span("a", "write", None, 10.0, 16.0, rows=2),
        _span("b", "write", None, 16.5, 18.0, rows=3),
    ]
    agg = by_name(span_figures(spans, group_stats(_events())))["write"]
    assert agg["wall_s"] == pytest.approx(7.5)
    assert agg["jobs"] == 3 and agg["tasks"] == 4 and agg["rows_out"] == 5
    assert agg["max_task_share"] == pytest.approx(600 / 1050)


def test_no_tasks_means_zero_share():
    agg = by_name(span_figures([_span("z", "idle", None, 0.0, 1.0)], {}))["idle"]
    assert agg["max_task_share"] == 0.0 and agg["driver_s"] == pytest.approx(1.0)


def test_read_event_log(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    assert len(read_event_log(str(tmp_path))) == len(_events())
    with pytest.raises(FileNotFoundError):
        read_event_log(str(tmp_path / "missing"))
