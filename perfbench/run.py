"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each run is its own process with one Spark
session at ``local[<usable cpus>]`` and one client running one operation at
a time (closed loop). Set-up (``setup_s``) is session start and the inputs.
Operations then run until ``--seconds`` have passed, at least
``MIN_OPS``, and ``run_s`` is the median of their wall times. Every output is
checked outside the timed region. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
record stamped with host, versions, seed, input sizes and the scoring path.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics of one traced operation. After an untimed warm-up it runs
one untraced operation and then the traced one; the difference of their
wall times is the tracing overhead, printed in the record. Everything a run
writes lives under ``.bench_build/perfbench`` in the current directory and
is removed at exit, except the cached DuckDB oracle hashes.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.getcwd()
CACHE_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEMORY = "4g"  # the host has 15 GB; get_spark's default is 16g
# a run must end within 180 s: set-up takes 10-20 s, an operation 8-25 s;
# an operation still running at this point after the start is cancelled
DEADLINE_S = 150
# A session's first operation pays code generation and JIT compilation, as
# every `cli link` process does, and the JIT finishes during the next ones.
# Over ten link_batch runs on a shared 4-CPU host, the first operation's
# wall time spread (inter-quartile range over median) by 12% and the
# second's by 13%, but their mean by 7%: how the compile work splits between
# them varies more than its total. So run_s is the median of at least two
# operations, for two their mean.
MIN_OPS = 2


def _usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    """What a workload needs from the run: session, dirs, seed, spans."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cache_dir = CACHE_DIR
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def _tree_peak_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak resident memory (VmHWM, MB) of ``root_pid`` and its descendants:
    this Python process, the driver JVM and its Python workers, by name."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid and p not in tree)
    out: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(l.split(":", 1) for l in f if ":" in l)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "addressparser_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".jar")):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _session(work: str, trace: bool, event_dir: str):
    from addressparser_spark.session import get_spark

    java_opts = f"-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            # Spark 4 writes zstd logs by default; no zstd module is installed
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(app="perfbench", cores=_usable_cpus(), driver_memory=DRIVER_MEMORY,
                     extra=extra)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class _Watchdog:
    """Cancels the running Spark jobs if an operation outlives its budget."""

    def __init__(self, sc, seconds: float):
        self.timer = threading.Timer(seconds, self._fire, args=(sc,))
        self.fired = False

    def _fire(self, sc) -> None:
        self.fired = True
        sc.cancelAllJobs()

    def __enter__(self):
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        return False


def _run_op(ctx: Ctx, wl, i: int, budget_s: float) -> tuple[float, list[str]]:
    """One operation: timed, then checked. Returns its wall time and problems."""
    ctx.spark.catalog.clearCache()
    t0 = time.monotonic()
    try:
        with _Watchdog(ctx.spark.sparkContext, max(budget_s, 1.0)) as dog:
            out = wl.op(i)
        wall = time.monotonic() - t0
    except Exception:
        wall = time.monotonic() - t0
        traceback.print_exc(file=sys.stderr)
        why = "timed out" if dog.fired else "raised"
        return wall, [f"operation {why}"]
    try:
        return wall, wl.check(out)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return wall, ["correctness check raised"]


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    t_start = time.monotonic()
    work = os.path.join(CACHE_DIR, f"run-{os.getpid()}")
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Python UDF workers import the engine package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    try:
        return _measure(workload, seed, seconds, trace, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload: str, seed: int, seconds: float, trace: bool, work: str,
             t_start: float) -> tuple[dict, dict]:
    from spans import LAYER_FIELDS, Tracer, by_name, group_stats, read_event_log, span_figures
    from workloads import LINK_LAYERS, QUERIES, WORKLOADS

    event_dir = os.path.join(work, "events")
    spark = _session(work, trace, event_dir)
    try:
        ctx = Ctx(spark, work, seed)
        wl = WORKLOADS[workload](ctx)
        sizes = wl.setup()
        setup_s = time.monotonic() - t_start
        walls, problems, failed = [], [], 0

        def op(traced: bool) -> None:
            nonlocal failed
            i = len(walls)
            ctx.tracer = Tracer(spark.sparkContext, prefix=f"op{i}") if traced else None
            with contextlib.ExitStack() as stack:
                if traced:
                    stack.enter_context(wl.instrument(ctx.tracer))
                    stack.enter_context(ctx.tracer.span("op"))
                wall, probs = _run_op(ctx, wl, i, t_start + DEADLINE_S - time.monotonic())
            walls.append(wall)
            problems.extend(f"op {i}: {p}" for p in probs)
            failed += bool(probs)

        if trace:
            # an untimed warm-up, then the untraced twin of the traced operation
            for traced in (False, False, True):
                op(traced)
        else:
            t_loop = time.monotonic()
            while len(walls) < MIN_OPS or time.monotonic() - t_loop < seconds:
                op(False)
        record = {
            "workload": workload,
            "seed": seed,
            "cpus": _usable_cpus(),
            "git_sha": _git_sha(),
            "source_sha256": _source_digest(),
            "spark": spark.version,
            "python": platform.python_version(),
            "input": sizes,
            "scoring_path": "text_sim_java" if spark.catalog.functionExists("text_sim_java")
            else "catalyst_fallback",
            "op_walls_s": walls,
            "problems": problems,
            "detail": dict(wl.detail),
            # not an end-to-end metric: the JVM's heap growth makes it vary
            # by a third between runs of one input
            "peak_rss_mb_by_process": _tree_peak_rss_mb(os.getpid()),
        }
    finally:
        _stop(spark)

    attempted = len(walls)
    if not trace:
        run_s = statistics.median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (run_s, "s"),
            "items_per_s": (wl.items / run_s, "1/s"),
            "success_ratio": ((attempted - failed) / attempted, "ratio"),
        }
    else:
        layers = by_name(span_figures(ctx.tracer.spans, group_stats(read_event_log(event_dir))))
        record["untraced_run_s"], record["traced_run_s"] = walls[1:]
        record["trace_overhead_s"] = walls[2] - walls[1]
        record["root_span"] = layers.get("op")
        metrics = {}
        for layer in LINK_LAYERS:
            figs = layers.get(layer, {})
            for field in LAYER_FIELDS:
                metrics[f"{layer}.{field}"] = (figs.get(field, 0), _unit(field))
        metrics["pairs.useful_ratio"] = (wl.useful_ratio(), "ratio")
        for q in QUERIES:
            figs = layers.get(f"queries.{q}", {})
            for field in ("wall_s", "tasks", "max_task_share"):
                metrics[f"queries.{q}.{field}"] = (figs.get(field, 0), _unit(field))
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field == "max_task_share":
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "addressparser_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    record, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
