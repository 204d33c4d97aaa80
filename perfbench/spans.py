"""Spans around calls into the engine, and the reducer that turns Spark's
event log into per-span figures.

Spark runs lazily: calling a layer function only builds a plan, and the work
runs at the next action. A traced operation therefore materialises each
layer's output inside that layer's span (``LinkBatch.instrument`` in
``workloads.py``), so the layer's jobs land in its span. Each span runs under
its own Spark job group; the reducer attributes jobs, stages and tasks to
spans by that group id, read from the uncompressed event log of the session.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator

LAYER_FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
    "max_task_share", "shuffle_mb", "spill_mb", "rows_out",
)
_GROUP = "spark.jobGroup.id"
_MB = 1024 * 1024


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Records spans (name, start, end, parent); each span is a job group."""

    def __init__(self, sc, prefix: str = "span"):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.prefix}-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            "rows_out": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent["id"] if parent else None)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log in ``log_dir``."""
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    if not paths:
        raise FileNotFoundError(f"no event log in {log_dir}")
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _no_work() -> dict:
    return {"jobs": [], "task_run_ms": [], "cpu_ns": 0, "gc_ms": 0,
            "shuffle_bytes": 0, "spill_bytes": 0}


def group_stats(events: Iterable[dict]) -> dict[str, dict]:
    """Per job group: job intervals (s) and per-task executor figures."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(_no_work)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(_GROUP)
            jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"] / 1000}
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None and job["group"] is not None:
                out[job["group"]]["jobs"].append((job["start"], e["Completion Time"] / 1000))
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get(_GROUP)
            if group is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if group is None or not m:
                continue
            g = out[group]
            g["task_run_ms"].append(m.get("Executor Run Time", 0))
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def span_figures(spans: list[dict], stats: dict[str, dict]) -> list[dict]:
    """One record per span, inclusive of its descendants except ``self_s``.

    ``self_s`` is the span's wall time minus the part of it that child spans
    cover; ``driver_s`` is the wall time that no Spark job of the span's
    subtree covers.
    """
    children: dict[str | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def subtree(s: dict) -> list[dict]:
        todo, seen = [s], []
        while todo:
            cur = todo.pop()
            seen.append(cur)
            todo.extend(children.get(cur["id"], []))
        return seen

    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        kids = children.get(s["id"], [])
        groups = [stats.get(t["id"]) or _no_work() for t in subtree(s)]
        job_iv = [iv for g in groups for iv in g["jobs"]]
        runs = [r for g in groups for r in g["task_run_ms"]]
        out.append({
            "name": s["name"],
            "wall_s": hi - lo,
            "self_s": (hi - lo) - covered([(k["start"], k["end"]) for k in kids], lo, hi),
            "driver_s": (hi - lo) - covered(job_iv, lo, hi),
            "jobs": len(job_iv),
            "tasks": len(runs),
            "exec_cpu_s": sum(g["cpu_ns"] for g in groups) / 1e9,
            "gc_s": sum(g["gc_ms"] for g in groups) / 1000,
            "task_run_ms": runs,
            "shuffle_mb": sum(g["shuffle_bytes"] for g in groups) / _MB,
            "spill_mb": sum(g["spill_bytes"] for g in groups) / _MB,
            "rows_out": s["rows_out"],
        })
    return out


def by_name(figures: list[dict]) -> dict[str, dict]:
    """Sum the records of spans that share a name (a layer called twice).

    Same-name spans never nest here, so sums do not double count.
    ``max_task_share`` is the longest task's share of all executor run time
    the layer's tasks spent.
    """
    agg: dict[str, dict] = {}
    for f in figures:
        a = agg.setdefault(f["name"], {k: 0 for k in LAYER_FIELDS} | {"task_run_ms": []})
        for k in LAYER_FIELDS:
            if k != "max_task_share":
                a[k] += f[k]
        a["task_run_ms"] += f["task_run_ms"]
    for a in agg.values():
        runs = a.pop("task_run_ms")
        a["max_task_share"] = max(runs) / sum(runs) if runs and sum(runs) > 0 else 0.0
    return agg
