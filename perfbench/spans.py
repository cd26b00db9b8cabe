"""Tracing for the benchmark's traced run.

``Tracer`` records a span around every call into a layer's public
functions (it swaps the module attributes for wrappers while installed),
tags the Spark jobs started inside each span with the span id as their job
group, and counts the iterative rounds of each layer (every loop in the
engine ends a round with a ``DataFrame.isEmpty`` probe).  Spans stay in
memory until the run ends.

``layer_metrics`` joins the spans with Spark's event log.  A job belongs
to the span that started it.  A stage belongs to the layer named by the
Python function or the layer-specific column in its plan nodes (work that
Spark defers to the lineage write still lands on the layer that planned
it), otherwise to the layer of its job's span.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PKG = "urbanistic_polygons_spark"

# (module, attribute, layer): the public functions the workloads call,
# and the ones those call through their module globals
WRAPPED = [
    ("operators.classify", "classify_landuse_ways", "graph_build"),
    ("operators.classify", "classify_barrier_ways", "graph_build"),
    ("operators.graph_build", "classify_barriers", "graph_build"),
    ("operators.graph_build", "split_ways_to_edges", "graph_build"),
    ("operators.graph_build", "planarize_edges", "graph_build"),
    ("operators.graph_build", "build_faces_from_ways", "faces"),
    ("operators.faces", "extract_faces", "faces"),
    ("operators.landuse_join", "assign_landuse", "landuse_join"),
    ("operators.landuse_join", "dominant_type", "landuse_join"),
    ("operators.merge", "segment_resistance", "merge"),
    ("operators.merge", "merge_faces", "merge"),
    ("operators.spatial_join", "extract_geo_points", "spatial_join"),
    ("operators.spatial_join", "assign_documents", "spatial_join"),
    ("operators.knn", "knn_snap", "knn"),
    ("sources.mvt", "faces_to_mvt", "mvt"),
    ("plans.lineage", "LineageStore.checkpoint", "lineage"),
    ("plans.lineage", "LineageStore.read", "lineage"),
]

# the workload's own code between layer calls (the root span)
ROOT_LAYER = "pipeline"
LAYERS = ["graph_build", "faces", "landuse_join", "merge", "spatial_join",
          "knn", "mvt", "lineage", ROOT_LAYER]

# plan-node markers, first match wins: the Python function a node runs,
# or a column only that layer's plans carry
STAGE_MARKERS = [
    ("pip_udf(", "spatial_join"),
    ("faces_kernel(", "faces"),
    ("overlap_ratio_udf(", "landuse_join"),
    ("_proper_intersection(", "graph_build"),
    ("_edge_guids_kernel(", "graph_build"),
    ("kernel(", "mvt"),
    ("poly_cell", "knn"),
    ("i_cell", "spatial_join"),
]

PYTHON_TIME = "time to run Python workers"


@dataclass
class Span:
    id: int
    parent: int
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    rounds: int = 0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.t1 - self.t0 - self.children_s


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _saved: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, parent.id if parent else 0, name, layer,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.t1 - s.t0
                self.sc.setJobGroup(f"span-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            tracer.outputs.setdefault(name, []).append(out)
            return out
        traced.__wrapped__ = fn
        return traced

    def install(self, dataframe_cls) -> None:
        """Swap every WRAPPED attribute for its traced wrapper and count
        ``isEmpty`` probes as rounds of the innermost span."""
        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = getattr(owner, leaf)
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(fn, attr, layer))
        probe = dataframe_cls.isEmpty
        tracer = self

        def is_empty(df):
            if tracer._stack:
                tracer._stack[-1].rounds += 1
            return probe(df)
        self._saved.append((dataframe_cls, "isEmpty", probe))
        dataframe_cls.isEmpty = is_empty

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


# -- event log --------------------------------------------------------------

def read_event_log(log_dir: Path) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``."""
    files = sorted(p for p in log_dir.rglob("*")
                   if p.is_file() and not p.name.startswith(".")
                   and not p.name.startswith("appstatus"))
    return [json.loads(line) for p in files for line in p.open()]


def _plan_nodes(info: dict, acc_to_node: dict) -> None:
    for m in info.get("metrics", []):
        acc_to_node[m["accumulatorId"]] = info["simpleString"]
    for child in info.get("children", []):
        _plan_nodes(child, acc_to_node)


def _marker_layer(node_strings) -> str | None:
    for marker, layer in STAGE_MARKERS:
        if any(marker in s for s in node_strings):
            return layer
    return None


def layer_metrics(events: list[dict], spans: list[Span],
                  window_ms: tuple[float, float]) -> dict[str, float]:
    """Per-layer and engine-wide metrics of the jobs in ``window_ms``
    (epoch milliseconds)."""
    span_layer = {f"span-{s.id}": s.layer for s in spans}
    acc_to_node: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    stage_job_layer: dict[int, str] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _plan_nodes(e["sparkPlanInfo"], acc_to_node)
        elif kind == "SparkListenerJobStart":
            if not window_ms[0] <= e["Submission Time"] <= window_ms[1]:
                continue
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            layer = span_layer.get(group, ROOT_LAYER)
            job_layer[e["Job ID"]] = layer
            for sid in e["Stage IDs"]:
                stage_job_layer.setdefault(sid, layer)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tasks[e["Stage ID"]].append(e)

    out = {f"{layer}.{key}": 0.0 for layer in LAYERS
           for key in ("jobs", "stages", "tasks", "task_s", "python_s",
                       "shuffle_bytes")}
    out.update({"spark.spill_bytes": 0.0, "spatial_join.task_skew": 0.0})
    for layer in job_layer.values():
        out[f"{layer}.jobs"] += 1

    intervals = []
    pip_stage_ms = 0.0  # task time of the largest spatial_join stage
    for sid, info in stages.items():
        if sid not in stage_job_layer:
            continue  # a job outside the timed window
        accs = info.get("Accumulables", [])
        nodes = {acc_to_node[a["ID"]] for a in accs if a["ID"] in acc_to_node}
        layer = _marker_layer(nodes) or stage_job_layer[sid]
        out[f"{layer}.stages"] += 1
        durations = []
        for t in tasks.get(sid, []):
            m, ti = t["Task Metrics"], t["Task Info"]
            durations.append(ti["Finish Time"] - ti["Launch Time"])
            intervals.append((ti["Launch Time"], ti["Finish Time"]))
            out[f"{layer}.tasks"] += 1
            out[f"{layer}.task_s"] += m["Executor Run Time"] / 1000
            out[f"{layer}.shuffle_bytes"] += (
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
            out["spark.spill_bytes"] += (m["Memory Bytes Spilled"]
                                         + m["Disk Bytes Spilled"])
        out[f"{layer}.python_s"] += sum(
            float(a["Value"]) for a in accs if a.get("Name") == PYTHON_TIME) / 1000
        if layer == "spatial_join" and durations and sum(durations) > pip_stage_ms:
            pip_stage_ms = sum(durations)
            out["spatial_join.task_skew"] = (
                max(durations) / max(statistics.median(durations), 1))

    for key in ("jobs", "stages", "tasks", "task_s", "python_s"):
        out[f"spark.{key}"] = sum(out[f"{la}.{key}"] for la in LAYERS)
    out["spark.no_task_s"] = _idle_s(intervals, *window_ms) / 1000
    return out


def _idle_s(intervals, start: float, end: float) -> float:
    """Time in [start, end] that no interval covers."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return (end - start) - covered


def span_metrics(spans: list[Span]) -> dict[str, float]:
    out = {f"{layer}.{k}": 0.0 for layer in LAYERS
           for k in ("self_s", "calls", "rounds")}
    for s in spans:
        out[f"{s.layer}.self_s"] += s.self_s
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.rounds"] += s.rounds
    return out
