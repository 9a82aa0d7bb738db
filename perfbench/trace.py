"""Layer spans and Spark status counters for the traced run.

Spans are recorded from this package only: ``LayerPatch`` wraps the
public functions of each layer's module for the duration of a traced
pass. A layer is named after the repo module it wraps. Wrapping
replaces every reference to the function in the package's modules,
not only the defining module's attribute, so calls through by-name
imports (``from .gram import compute_moments``) are caught too.

Spark counters come from the status REST API of the running session
(the UI server must be on) and are attributed to spans by time: a job,
stage or SQL execution belongs to a span when it was submitted inside
it.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "var_elasticnet_bigdata_spark"

# layer -> (module under PACKAGE, function names; None = every public
# function defined in the module)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "ml.gram": ("ml.gram", None),
    "ml.solve": ("ml.elastic_net", None),
    "ml.tuning": ("ml.tuning", None),
    "harness.modeltrain": ("harness.modeltrain", None),
    "operators.stationarity": ("operators.stationarity", None),
    "functions.stats": ("functions.stats", None),
    "operators.text": ("operators.text", None),
    "operators.dedup": ("operators.dedup", None),
    "operators.similarity": ("operators.similarity", None),
    "plans.spread": ("plans.spread", None),
    "plans.pin": ("plans.cachereg", ("pin_frame",)),
    "sources.load": ("sources.tables", None),
    "sources.read_store": ("sources.bucketing", ("read_bucketed",)),
    "sources.write": ("sources.bucketing", ("write_bucketed",)),
    "sources.compact": ("sources.compaction", None),
}

# SQL plan nodes that evaluate Python on the executors
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


@dataclass
class Span:
    name: str  # "<layer>" or "<layer>:<function>"
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder for the single driver thread."""

    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0  # time spent in the wrappers' own bookkeeping
    _stack: list[int] = field(default_factory=list)

    def open(self, layer: str, name: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name or layer, layer, time.time(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {idx} closed out of order (top {popped})")

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        idx = self.open(layer, name)
        try:
            yield
        finally:
            self.close(idx)

    def in_layer(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    def wrap(self, layer: str, fn):
        """Wrapper opening a ``layer`` span around ``fn``, unless a span
        of the same layer is already open (calls between one layer's
        public functions count once)."""
        name = f"{layer}:{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            if self.in_layer(layer):
                self.overhead_s += time.perf_counter() - t0
                return fn(*args, **kwargs)
            idx = self.open(layer, name)
            t1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                self.close(idx)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

        return traced

    def reset(self) -> None:
        self.spans.clear()
        self._stack.clear()
        self.overhead_s = 0.0


def import_package() -> None:
    """Import every module of the program package so that by-name
    imports are bound before wrapping."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)


def layer_functions(layer: str) -> list[tuple[str, object]]:
    mod_name, only = LAYERS[layer]
    mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
    out = []
    for name, obj in vars(mod).items():
        if not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
            continue
        if (only is None and not name.startswith("_")) or (only and name in only):
            out.append((name, obj))
    return out


class LayerPatch:
    """Context manager: wrap every layer's functions in ``tracer`` spans,
    in every package module that holds a reference to them."""

    def __init__(self, tracer: Tracer, layers: list[str] | None = None):
        self.tracer = tracer
        self.layers = list(LAYERS) if layers is None else layers
        self._undo: list[tuple[object, str, object]] = []

    def __enter__(self) -> LayerPatch:
        import_package()
        wrappers: dict[int, tuple[object, object]] = {}
        for layer in self.layers:
            for _, fn in layer_functions(layer):
                wrappers[id(fn)] = (fn, self.tracer.wrap(layer, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")
            ):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._undo.append((mod, attr, obj))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, obj in reversed(self._undo):
            setattr(mod, attr, obj)
        self._undo.clear()


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus what its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - union_length(clip(children.get(i, []), s.start, s.end))
        for i, s in enumerate(spans)
    ]


# ---------------------------------------------------------------------------
# Spark status REST
# ---------------------------------------------------------------------------


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(
        ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


@dataclass
class StatusSnapshot:
    jobs: list[dict]
    stages: list[dict]
    executions: list[dict]


class SparkStatus:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI server is off; traced runs need it")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def snapshot(self) -> StatusSnapshot:
        jobs = self._get("jobs")
        stages = [
            s for s in self._get("stages")
            if s.get("status") in ("COMPLETE", "FAILED")
        ]
        execs = self._get("sql?details=true&planDescription=false&length=1000000")
        for j in jobs:
            j["_t0"] = _epoch(j.get("submissionTime"))
            j["_t1"] = _epoch(j.get("completionTime"))
        for s in stages:
            s["_t0"] = _epoch(s.get("submissionTime"))
        for e in execs:
            e["_t0"] = _epoch(e.get("submissionTime"))
        return StatusSnapshot(jobs, stages, execs)


def python_stage_tasks(snap: StatusSnapshot, lo: float, hi: float) -> tuple[set, int]:
    """Stages running a Python evaluator node, for SQL executions
    submitted in [lo, hi]. A node's multi-task metrics name the stage
    of their slowest task; a node whose metrics name no stage ran as a
    single task and is counted as one task without a stage."""
    stages: set[int] = set()
    single = 0
    for e in snap.executions:
        if e["_t0"] is None or not lo <= e["_t0"] <= hi:
            continue
        for node in e.get("nodes", []):
            if not node["nodeName"].startswith(PYTHON_NODES):
                continue
            refs = {
                int(m.group(1))
                for metric in node.get("metrics", [])
                for m in _STAGE_REF.finditer(metric.get("value", ""))
            }
            if refs:
                stages |= refs
            elif any(metric.get("value") not in ("0", "0 ms", "0.0 B")
                     for metric in node.get("metrics", [])):
                single += 1
    return stages, single


def window_counters(
    snap: StatusSnapshot, windows: list[tuple[float, float]], cores: int
) -> dict[str, float]:
    """Spark counters for jobs/stages submitted inside ``windows``."""

    def inside(t):
        return t is not None and any(lo <= t <= hi for lo, hi in windows)

    jobs = [j for j in snap.jobs if inside(j["_t0"])]
    stages = [s for s in snap.stages if inside(s["_t0"])]
    py_ids: set[int] = set()
    py_single = 0
    for lo, hi in windows:
        ids, single = python_stage_tasks(snap, lo, hi)
        py_ids |= ids
        py_single += single
    wall = union_length(windows)
    job_spans = [(j["_t0"], j["_t1"] or j["_t0"]) for j in jobs]
    job_cover = union_length(
        [iv for lo, hi in windows for iv in clip(job_spans, lo, hi)]
    )
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
    py_tasks = py_single + sum(s["numTasks"] for s in stages if s["stageId"] in py_ids)
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
        "spark.driver_gap_s": wall - job_cover,
        "spark.python_tasks": float(py_tasks),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_share": cpu_s / (wall * cores) if wall > 0 else 0.0,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "spark.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "spark.spill_bytes": float(sum(s["diskBytesSpilled"] for s in stages)),
        "spark.result_bytes": float(sum(s["resultSize"] for s in stages)),
        "spark.failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
        "spark.output_records": float(sum(s["outputRecords"] for s in stages)),
        "spark.output_bytes": float(sum(s["outputBytes"] for s in stages)),
    }


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith("share"):
        return "share"
    return "count"


def layer_metrics(
    spans: list[Span], snap: StatusSnapshot, pass_window: tuple[float, float],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    selfs = self_times(spans)

    def wall(layer: str) -> float:
        return union_length([(s.start, s.end) for s in spans if s.layer == layer])

    def self_s(layer: str) -> float:
        return sum(t for s, t in zip(spans, selfs) if s.layer == layer)

    def counters(layer: str) -> dict[str, float]:
        return window_counters(
            snap, [(s.start, s.end) for s in spans if s.layer == layer], cores
        )

    gram = counters("ml.gram")
    written = counters("sources.write")
    spread = [s for s in spans if s.layer == "plans.spread"]
    out = {
        "ml.gram.s": wall("ml.gram"),
        "ml.gram.python_tasks": gram["spark.python_tasks"],
        "ml.gram.result_bytes": gram["spark.result_bytes"],
        "ml.solve_s": wall("ml.solve"),
        "ml.tuning.s": wall("ml.tuning"),
        "harness.modeltrain_s": wall("harness.modeltrain"),
        "operators.stationarity_s": wall("operators.stationarity"),
        "functions.stats_s": wall("functions.stats"),
        "queries.build_s": wall("queries.build"),
        "queries.action_s": wall("queries.action"),
        "plans.spread_s": wall("plans.spread"),
        "plans.spread_calls": float(len(spread)),
        "plans.pin_s": wall("plans.pin"),
        "operators.text.self_s": self_s("operators.text"),
        "operators.dedup.self_s": self_s("operators.dedup"),
        "operators.similarity.self_s": self_s("operators.similarity"),
        "sources.load_s": wall("sources.load") + wall("sources.read_store"),
        "sources.write_s": wall("sources.write"),
        "sources.rows_written": written["spark.output_records"],
        "sources.bytes_written": written["spark.output_bytes"],
        "sources.compact_s": wall("sources.compact"),
    }
    whole = window_counters(snap, [pass_window], cores)
    for k, v in whole.items():
        if not k.startswith("spark.output_"):
            out[k] = v
    return out
