"""Spans around the layers ``build_kg`` calls, and their Spark cost.

The traced run wraps public functions from outside the package (the
program's own files are not edited):

=====================  ===============================================
span name              what it wraps
=====================  ===============================================
``pipeline``           the ``build_kg`` call itself (opened by the caller)
``segment``            ``run_stage('segments', ...)``
``triples``            ``run_stage('edges', ...)``
``canon``              ``canonicalize_nodes``
``storage.<table>``    ``write_partitioned`` (nodes, edges_canonical)
``lineage.read``       ``LineageLog.completed``
``lineage.record``     ``LineageLog.record``
``sparql[.plan|exec]``  the ``sparql()`` call and its ``collect()``
=====================  ===============================================

Each span sets the Spark job description and a ``perfbench.span``
local property for its duration, so every Spark job launched inside it
is tagged with the innermost open span. After the session stops,
:func:`read_event_log` reads the uncompressed Spark event log and sums
task metrics per span. A span's self time is its wall time minus the
wall time of its direct children; self times of one operation add up
to the wall time of its root span.

Spans are attributed only as far as their Spark jobs run eagerly: a
lazy DataFrame returned by a wrapped function executes in whichever
span triggers the action (e.g. the canon plan runs inside
``storage.nodes``, which writes it).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"

_STAGE_LAYER = {"segments": "segment", "edges": "triples"}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROP, str(s.sid))
        self.sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(parent.sid) if parent else None)
            self.sc.setJobDescription(parent.name if parent else None)

    def _wrap(self, fn, name_of):
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    @contextmanager
    def installed(self, op: int):
        """Wrap the layer functions for the duration of one operation."""
        from pawpaw_spark import pipeline
        from pawpaw_spark.lineage import LineageLog

        patches = [
            (pipeline, "run_stage",
             lambda spark, stage, *a, **k: _STAGE_LAYER.get(stage, stage)),
            (pipeline, "canonicalize_nodes", lambda *a, **k: "canon"),
            (pipeline, "write_partitioned",
             lambda df, table, *a, **k: "storage." + table.split(".")[-1]),
            (LineageLog, "completed", lambda *a, **k: "lineage.read"),
            (LineageLog, "record", lambda *a, **k: "lineage.record"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        self.op = op
        try:
            for (obj, attr, name_of), (_, _, orig) in zip(patches, saved):
                setattr(obj, attr, self._wrap(orig, name_of))
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)
            self.op = -1


def self_times(spans: list[Span]) -> dict[int, float]:
    out = {s.sid: s.wall for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.wall
    return out


# --------------------------------------------------------------- event log

_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_init_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "to_python_b",
    "data returned from Python workers": "from_python_b",
}


@dataclass
class SpanCost:
    jobs: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    python_init_ms: float = 0.0
    to_python_b: float = 0.0
    from_python_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    output_b: float = 0.0
    output_rows: float = 0.0


def read_event_log(log_dir: str) -> dict[int, SpanCost]:
    """Sum task metrics per ``perfbench.span`` over every event file
    under ``log_dir`` (jobs outside any span are dropped)."""
    stage_span: dict[int, int] = {}
    cost: dict[int, SpanCost] = {}
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                # cheap prefilter: only three event kinds matter
                if '"SparkListenerTaskEnd"' in line[:40]:
                    ev = json.loads(line)
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    _add_task(cost.setdefault(sid, SpanCost()), ev)
                elif '"SparkListenerJobStart"' in line[:40] or '"SparkListenerStageSubmitted"' in line[:50]:
                    ev = json.loads(line)
                    sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if sid is None:
                        continue
                    sid = int(sid)
                    if ev["Event"] == "SparkListenerJobStart":
                        cost.setdefault(sid, SpanCost()).jobs += 1
                        for st in ev.get("Stage IDs", []):
                            stage_span.setdefault(st, sid)
                    else:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
    return cost


def _add_task(c: SpanCost, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    c.tasks += 1
    c.task_ms += m.get("Executor Run Time", 0)
    c.gc_ms += m.get("JVM GC Time", 0)
    c.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c.spill_b += m.get("Disk Bytes Spilled", 0)
    out = m.get("Output Metrics") or {}
    c.output_b += out.get("Bytes Written", 0)
    c.output_rows += out.get("Records Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            setattr(c, key, getattr(c, key) + float(acc.get("Update") or 0))


# ---------------------------------------------------------- layer metrics

_MB = 1024 * 1024


def op_layer_metrics(spans: list[Span], cost: dict[int, SpanCost], op_attrs: dict) -> dict[str, float]:
    """Per-layer metrics of ONE traced operation (``spans`` = its spans)."""
    selfs = self_times(spans)
    by_layer: dict[str, list[Span]] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def total(layer, fn):
        return sum(fn(s, cost.get(s.sid, SpanCost())) for s in by_layer.get(layer, []))

    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    m: dict[str, float] = {}
    m["pipeline.self_s"] = total("pipeline", lambda s, c: selfs[s.sid])
    m["pipeline.jobs"] = total("pipeline", lambda s, c: c.jobs)
    m["lineage.read_s"] = sum(s.wall for s in named("lineage.read"))
    m["lineage.record_s"] = sum(s.wall for s in named("lineage.record"))
    m["lineage.buckets_recomputed"] = op_attrs.get("buckets_recomputed", 0)
    m["lineage.recompute_ratio"] = op_attrs.get("recompute_ratio", 0.0)
    for layer in ("segment", "triples"):
        m[f"{layer}.wall_s"] = total(layer, lambda s, c: s.wall)
        m[f"{layer}.self_s"] = total(layer, lambda s, c: selfs[s.sid])
        m[f"{layer}.task_s"] = total(layer, lambda s, c: c.task_ms / 1e3)
        m[f"{layer}.python_s"] = total(layer, lambda s, c: c.python_ms / 1e3)
        m[f"{layer}.python_init_s"] = total(layer, lambda s, c: c.python_init_ms / 1e3)
        m[f"{layer}.to_python_mb"] = total(layer, lambda s, c: c.to_python_b / _MB)
        m[f"{layer}.from_python_mb"] = total(layer, lambda s, c: c.from_python_b / _MB)
        m[f"{layer}.shuffle_write_mb"] = total(layer, lambda s, c: c.shuffle_write_b / _MB)
        m[f"{layer}.spill_mb"] = total(layer, lambda s, c: c.spill_b / _MB)
        m[f"{layer}.gc_s"] = total(layer, lambda s, c: c.gc_ms / 1e3)
        m[f"{layer}.tasks"] = total(layer, lambda s, c: c.tasks)
        m[f"{layer}.rows_out"] = total(layer, lambda s, c: c.output_rows)
    m["canon.wall_s"] = total("canon", lambda s, c: s.wall)
    m["canon.python_s"] = total("canon", lambda s, c: c.python_ms / 1e3)
    m["canon.shuffle_write_mb"] = total("canon", lambda s, c: c.shuffle_write_b / _MB)
    m["canon.spill_mb"] = total("canon", lambda s, c: c.spill_b / _MB)
    m["canon.jobs"] = total("canon", lambda s, c: c.jobs)
    m["storage.nodes_s"] = sum(s.wall for s in named("storage.nodes"))
    m["storage.edges_canonical_s"] = sum(s.wall for s in named("storage.edges_canonical"))
    m["storage.bytes_written_mb"] = total("storage", lambda s, c: c.output_b / _MB)
    m["storage.files_written"] = op_attrs.get("files_written", 0)
    m["storage.shuffle_write_mb"] = total("storage", lambda s, c: c.shuffle_write_b / _MB)
    m["storage.spill_mb"] = total("storage", lambda s, c: c.spill_b / _MB)
    m["sparql.plan_s"] = sum(s.wall for s in named("sparql.plan"))
    m["sparql.exec_s"] = sum(s.wall for s in named("sparql.exec"))
    m["sparql.jobs"] = total("sparql", lambda s, c: c.jobs)
    m["sparql.shuffle_write_mb"] = total("sparql", lambda s, c: c.shuffle_write_b / _MB)
    m["sparql.rows_out"] = op_attrs.get("answer_rows", 0)
    everything = [cost.get(s.sid, SpanCost()) for s in spans]
    m["spark.jobs"] = sum(c.jobs for c in everything)
    m["spark.tasks"] = sum(c.tasks for c in everything)
    m["spark.gc_s"] = sum(c.gc_ms for c in everything) / 1e3
    m["spark.spill_mb"] = sum(c.spill_b for c in everything) / _MB
    m["trace.self_sum_s"] = sum(selfs.values())
    return m
