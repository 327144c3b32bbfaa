"""Spans around the engine's public entry points, and the parsers that
turn Spark's event log into per-query runtime and streaming counters.

Nothing here runs unless the benchmark is started with ``--trace 1``:
the untraced run measures the end-to-end metrics without it.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import re
import statistics
import sys
import time
from collections import defaultdict

#: Operator modules whose public functions get a span each.
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "text",
    "ml",
    "multimodal",
    "iteration",
    "sampling",
    "sketches",
)

#: Plan nodes that run Python (their "number of output rows" is the
#: row count crossing the Arrow boundary).
_PYTHON_NODE = re.compile(r"Pandas|Python|MapInArrow")


class Tracer:
    """Keeps spans in memory; ``query``/``run`` label the execution the
    spans belong to (set by the benchmark loop)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query: str | None = None
        self.run: int | None = None

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None, "parent": parent,
             "query": self.query, "run": self.run}
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, name: str):
        return _Traced(self, fn, name)


class _Traced:
    """A callable span around ``fn``.  Pickles as ``fn`` itself (looked
    up on its module), so a traced function captured by a UDF reaches
    the Python workers untraced."""

    def __init__(self, tracer: Tracer, fn, name: str) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name = tracer, fn, name

    def __call__(self, *args, **kwargs):
        idx = self._tracer.begin(self._name)
        try:
            return self._fn(*args, **kwargs)
        finally:
            self._tracer.end(idx)

    def __get__(self, obj, objtype=None):
        # keeps the wrapper usable as a method (Pipeline.run)
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def rebind(replacements: dict) -> None:
    """Point every reference to an original function, in every loaded
    engine module, at its replacement: queries import operators both as
    modules and by name, so patching the defining module alone misses
    the by-name imports."""
    by_id = {id(orig): new for orig, new in replacements.items()}
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("mapreducehs_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            new = by_id.get(id(value))
            if new is not None:
                setattr(mod, attr, new)


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every engine layer in spans.
    Call after ``mapreducehs_spark.queries`` is imported."""
    import importlib

    from mapreducehs_spark import pipeline
    from mapreducehs_spark.sources import catalog
    from mapreducehs_spark.streaming import ops

    replacements = {
        catalog.load_table: tracer.wrap(catalog.load_table, "sources.load_table"),
        catalog.build_fixture_once: tracer.wrap(catalog.build_fixture_once, "sources.fixture_build"),
        ops.run_to_batch: tracer.wrap(ops.run_to_batch, "streaming.run_to_batch"),
    }
    for short in OPERATOR_MODULES:
        mod = importlib.import_module(f"mapreducehs_spark.operators.{short}")
        for attr, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and not attr.startswith("_")
                and fn.__module__ == mod.__name__
                and not hasattr(fn, "evalType")  # pandas/python UDF objects
            ):
                replacements[fn] = tracer.wrap(fn, f"operators.{short}")
    rebind(replacements)
    pipeline.Pipeline.run = tracer.wrap(pipeline.Pipeline.run, "pipeline.run")


# ---------------------------------------------------------------------------
# per-query aggregation
# ---------------------------------------------------------------------------


def span_metrics(spans: list[dict]) -> dict[tuple, dict[str, float]]:
    """Per (query, run): call counts and self/total times per layer."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    out: dict[tuple, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        if s["query"] is None or s["end"] is None:
            continue
        m = out[(s["query"], s["run"])]
        dur = s["end"] - s["start"]
        name = s["name"]
        if name.startswith("operators."):
            nested = sum(
                spans[c]["end"] - spans[c]["start"]
                for c in children[i]
                if spans[c]["name"].startswith("operators.") and spans[c]["end"] is not None
            )
            m[f"{name}.calls"] += 1
            m[f"{name}.self_s"] += dur - nested
        elif name == "sources.load_table":
            m["sources.load_table_calls"] += 1
            m["sources.load_table_s"] += dur
        elif name == "pipeline.run":
            m["pipeline.run_calls"] += 1
    return out


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000


def _plan_accumulators(plan: dict, python_rows: set, scan_bytes: set) -> None:
    """Accumulator ids of Python nodes' output rows and of file scans'
    "size of files read" (a driver-side metric: the task input metric
    misses the parquet reader's bytes)."""
    python = _PYTHON_NODE.search(plan.get("nodeName", ""))
    for m in plan.get("metrics", []):
        if python and m.get("name") == "number of output rows":
            python_rows.add(m["accumulatorId"])
        elif m.get("name") == "size of files read":
            scan_bytes.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_accumulators(child, python_rows, scan_bytes)


def event_log_metrics(log_dir: str, windows: list[tuple]) -> dict[tuple, dict[str, float]]:
    """Per (query, run) runtime counters from the event log.

    ``windows`` lists ``(query, run, phase, start_ms, end_ms)``.  Jobs
    carry the job group ``query#run#phase`` set by the benchmark;
    micro-batch jobs run under the stream's own group, so they and the
    streaming progress events are placed by their time instead (one
    query runs at a time)."""
    events = []
    paths = glob.glob(f"{log_dir}/*")
    for path in sorted(paths):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())

    def by_time(ms: float):
        for q, r, phase, a, b in windows:
            if a <= ms <= b:
                return q, r, phase
        return None

    out: dict[tuple, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_key: dict[int, tuple] = {}
    python_accs: set = set()
    scan_accs: set = set()
    execution_start: dict[int, float] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            parts = group.split("#")
            if len(parts) == 3 and parts[1].isdigit():
                key = (parts[0], int(parts[1]), parts[2])
            else:
                key = by_time(ev["Submission Time"])
            if key is None:
                continue
            m = out[key[:2]]
            m["exec.jobs"] += 1
            m[f"queries.{key[2]}_jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            execution_start.setdefault(ev["executionId"], ev.get("time", 0))
            _plan_accumulators(ev.get("sparkPlanInfo", {}), python_accs, scan_accs)
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
            key = by_time(execution_start.get(ev["executionId"], 0))
            if key is not None:
                out[key[:2]]["exec.input_mb"] += sum(
                    v for acc, v in ev["accumUpdates"] if acc in scan_accs
                ) / 1e6
        elif kind == "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent":
            p = ev["progress"]
            key = by_time(_iso_ms(p["timestamp"]))
            if key is None:
                continue
            m = out[key[:2]]
            d = p.get("durationMs", {})
            ops_ = p.get("stateOperators", [])
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += sum(s.get("numInputRows", 0) for s in p.get("sources", []))
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            m["streaming.offset_commit_s"] += d.get("commitOffsets", 0) / 1e3
            m["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops_) / 1e3
            m["streaming.state_rows_peak"] = max(
                m["streaming.state_rows_peak"], sum(o.get("numRowsTotal", 0) for o in ops_)
            )
            m["streaming.state_mb_peak"] = max(
                m["streaming.state_mb_peak"], sum(o.get("memoryUsedBytes", 0) for o in ops_) / 1e6
            )
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                out[key[:2]]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            m = out[key[:2]]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            m["exec.tasks"] += 1
            m["exec.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["exec.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            m["exec.shuffle_write_mb"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            m["exec.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name in ("data sent to Python workers", "data returned from Python workers"):
                    m["exec.python_mb"] += float(upd) / 1e6
                elif acc.get("ID") in python_accs:
                    m["exec.python_rows"] += float(upd)
    return out


def workload_metrics(per_run: dict[tuple, dict[str, float]], runs: list[int], names: list[str]) -> dict[str, float]:
    """Sum over queries of each query's median over ``runs``; a metric a
    query never produced counts as 0."""
    total = {n: 0.0 for n in names}
    queries = {q for q, _ in per_run}
    for q in queries:
        for n in names:
            vals = [per_run.get((q, r), {}).get(n, 0.0) for r in runs]
            total[n] += statistics.median(vals) if vals else 0.0
    return total
