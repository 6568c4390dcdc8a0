"""Per-layer tracing for ``run.py --trace 1``.

Two sources, both kept in memory until the run ends:

- ``Spans`` wraps the layers' public functions at every import site in
  the ``mysql2psql_spark`` package and sums the wall time spent in each
  layer while ``enabled`` is set (only the outermost call of a layer on a
  thread counts, so nested calls are not double counted; calls on
  concurrent threads all count, which is what ``plans.data_overlap``
  measures).
- ``census`` reads the run's uncompressed Spark event log and attributes
  every job, stage and task to the op whose time window holds its
  submission or launch (``[start, build_end)`` is the op's construction,
  ``[build_end, end]`` its action). Time windows rather than job groups,
  because streaming triggers run on the stream's own thread under the
  stream's own job group.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "mysql2psql_spark"
# (module, function, layer)
TARGETS = [
    ("sources.parquet", "load_table", "sources.parquet.load_s"),
    ("schema_ir", "from_dataframe", "schema_ir.introspect_s"),
    ("rules.handler", "apply_schema_changes", "rules.plan_s"),
    ("rules.handler", "apply_node_rules", "rules.plan_s"),
    ("rules.handler", "compile_dump_plan", "rules.plan_s"),
    ("plans.orchestration", "run_concurrent", "plans.data_s"),
    ("sinks.csv_sink", "write_reference_csv", "sinks.csv.write_s"),
]
# every public function defined in these modules counts toward the layer
MODULE_LAYERS = {
    "sinks.ddl": "sinks.ddl_s",
    "operators.dedup": "operators.dedup_s",
    "operators.similarity": "operators.similarity_s",
    "operators.text": "operators.text_s",
    "operators.graph": "operators.graph_s",
}


class Spans:
    def __init__(self):
        self.enabled = False
        self.totals: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = self._local.__dict__.setdefault(layer, 0)
            if not self.enabled or depth:
                return fn(*args, **kwargs)
            self._local.__dict__[layer] = 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                self._local.__dict__[layer] = 0
                with self._lock:
                    self.totals[layer] += dt

        return wrapper

    def install(self) -> None:
        """Load the whole package, then replace each target function by its
        wrapper wherever a module holds a reference to it."""
        importlib.import_module(f"{PACKAGE}.cli")
        importlib.import_module(f"{PACKAGE}.queries")
        targets = list(TARGETS)
        for mod_name, layer in MODULE_LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_"):
                    targets.append((mod_name, name, layer))
        modules = [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m is not None]
        for mod_name, attr, layer in targets:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            wrapper = self._wrap(layer, orig)
            for mod in modules:
                for key, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, key, wrapper)


def _read_events(events_dir: str):
    for path in sorted(glob.glob(f"{events_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind in (
                    "SparkListenerJobStart",
                    "SparkListenerStageSubmitted",
                    "SparkListenerTaskEnd",
                ):
                    yield kind, ev


def census(events_dir: str, ops: list[dict]) -> None:
    """Add Spark counts to each op dict in place: ``build_jobs``,
    ``action_jobs``, ``stages``, ``tasks``, ``failed_tasks``, ``run_s``,
    ``shuffle_bytes``, ``spill_bytes``."""
    ops = sorted(ops, key=lambda o: o["start_ms"])
    starts = [o["start_ms"] for o in ops]
    for op in ops:
        op.update(build_jobs=0, action_jobs=0, stages=0, tasks=0, failed_tasks=0,
                  run_s=0.0, shuffle_bytes=0, spill_bytes=0)

    def owner(ms: int):
        i = bisect.bisect_right(starts, ms) - 1
        if i >= 0 and ms <= ops[i]["end_ms"]:
            return ops[i]
        return None

    for kind, ev in _read_events(events_dir):
        if kind == "SparkListenerJobStart":
            ms = ev["Submission Time"]
            op = owner(ms)
            if op is not None:
                op["build_jobs" if ms < op["build_end_ms"] else "action_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            op = owner(ev["Stage Info"].get("Submission Time", 0))
            if op is not None:
                op["stages"] += 1
        else:
            info = ev["Task Info"]
            op = owner(info["Launch Time"])
            if op is None:
                continue
            op["tasks"] += 1
            op["failed_tasks"] += bool(info.get("Failed"))
            m = ev.get("Task Metrics") or {}
            op["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            op["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            op["spill_bytes"] += m.get("Disk Bytes Spilled", 0)


def layer_metrics(spans: Spans, passes, events_dir: str, nproc: int, *, session_start_s: float,
                  warm_s: float, gc_s: float, bytes_per_row: float, csv_read: bool) -> dict:
    """Every per-layer metric, per measured pass. Wrapped-function times
    come from the traced passes only; Spark counts cover every measured
    pass (the event log is on for the whole run)."""
    all_ops = [op for p in passes for op in p.ops]
    census(events_dir, all_ops)
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    n_traced, n = len(traced), len(passes)
    wall = sum(p.wall for p in passes)

    def per_pass(key: str, ops=all_ops) -> float:
        return sum(op[key] for op in ops) / n

    def layer(name: str) -> float:
        return spans.totals.get(name, 0.0) / n_traced

    stream_ops = [op for op in all_ops if op["name"].startswith("stream_")]
    out = {
        "session.start_s": (session_start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "session.gc_s": (gc_s, "s"),
        "sources.parquet.load_s": (layer("sources.parquet.load_s"), "s"),
        "sources.csv.read_s": (per_pass("action_s") if csv_read else 0.0, "s"),
        "schema_ir.introspect_s": (layer("schema_ir.introspect_s"), "s"),
        "rules.plan_s": (layer("rules.plan_s"), "s"),
        "sinks.ddl_s": (layer("sinks.ddl_s"), "s"),
        "plans.data_s": (layer("plans.data_s"), "s"),
        "plans.data_overlap": (
            spans.totals.get("sinks.csv.write_s", 0.0) / spans.totals["plans.data_s"]
            if spans.totals.get("plans.data_s") else 0.0, "ratio"),
        "sinks.csv.write_s": (layer("sinks.csv.write_s"), "s"),
        "sinks.csv.bytes_per_row": (bytes_per_row, "B/row"),
        "queries.build_s": (per_pass("build_s"), "s"),
        "queries.build_jobs": (per_pass("build_jobs"), "count"),
        "queries.action_s": (per_pass("action_s"), "s"),
        "queries.jobs": ((per_pass("build_jobs") + per_pass("action_jobs")), "count"),
        "queries.stages": (per_pass("stages"), "count"),
        "queries.tasks": (per_pass("tasks"), "count"),
        "queries.failed_tasks": (per_pass("failed_tasks"), "count"),
        "queries.busy_frac": (sum(op["run_s"] for op in all_ops) / (wall * nproc), "ratio"),
        "queries.shuffle_mb": (per_pass("shuffle_bytes") / 2**20, "MB"),
        "queries.spill_mb": (per_pass("spill_bytes") / 2**20, "MB"),
        "streaming.build_s": (per_pass("build_s", stream_ops), "s"),
        "streaming.jobs": (per_pass("build_jobs", stream_ops), "count"),
        "trace.overhead_s": (
            statistics.median(p.wall for p in traced) - statistics.median(p.wall for p in untraced),
            "s"),
        "op_fail_frac": (sum(not op["ok"] for op in all_ops) / len(all_ops), "ratio"),
    }
    for layer_name in MODULE_LAYERS.values():
        if layer_name.startswith("operators."):
            out[layer_name] = (layer(layer_name), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def describe(passes) -> list[str]:
    """Per-op census lines: medians over measured passes, with the job
    count's range where it varies between passes."""
    by_name: dict[str, list[dict]] = defaultdict(list)
    for p in passes:
        for op in p.ops:
            by_name[op["name"]].append(op)
    lines = ["op: build_s action_s jobs(build+action) stages tasks run_s"]
    for name, ops in by_name.items():
        jobs = [op["build_jobs"] + op["action_jobs"] for op in ops]
        span = f"{min(jobs)}" if min(jobs) == max(jobs) else f"{min(jobs)}-{max(jobs)}"
        med = lambda k: statistics.median(op[k] for op in ops)  # noqa: E731
        lines.append(
            f"{name}: {med('build_s'):.3f} {med('action_s'):.3f} {span}"
            f"({med('build_jobs'):.0f}+{med('action_jobs'):.0f}) {med('stages'):.0f} "
            f"{med('tasks'):.0f} {med('run_s'):.2f}"
        )
    return lines
