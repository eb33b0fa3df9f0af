"""Spans around every engine call, and Spark's per-job metrics per span.

A span is (id, name, kind, start, end, parent, request). Spans live in
memory and are written out once, at exit. In a traced run each span also
sets a Spark job group, and the event log is parsed afterwards to charge
every job to its span: by job group, or by submission time for jobs that a
driver-side worker thread starts without the group.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

# Python kernels timed by their own plan node's SQL metric: layer -> text
# that names the node in the physical plan
KERNELS = {
    "operators.signatures": "_hash_batches(",  # signatures.py mapInArrow body
    "sources.wet": "extract_text(",  # sources/wet.py extraction UDF
}


@dataclass
class Span:
    id: str
    name: str
    kind: str | None
    start: float      # epoch seconds, comparable with Spark event times
    end: float
    parent: str | None
    request: int | None
    seconds: float    # perf_counter duration, used for every timing metric


class Recorder:
    """Records spans; with ``traced`` each span is also a Spark job group."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str, kind: str | None = None, request: int | None = None):
        sid = f"s{len(self.spans) + len(self._open)}"
        parent = self._open[-1] if self._open else None
        if self.traced:
            self.sc.setJobGroup(sid, name)
        self._open.append(sid)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            self._open.pop()
            self.spans.append(Span(sid, name, kind, start, start + seconds,
                                   parent, request, seconds))
            if self.traced:
                if parent is not None:
                    self.sc.setJobGroup(parent, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=0))


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _plan_metrics(node, out: dict) -> None:
    """accumulator id -> (metric name, plan node text) over a plan tree."""
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], node.get("simpleString", ""))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_event_log(path: Path):
    """(jobs, stages): jobs[id] = (group, submit_s, stage_ids); stages[id] =
    per-stage totals, plus ``kernel_s``: the Python worker seconds of each
    plan node in KERNELS, read from that node's own SQL metric (the plan of
    every SQL execution and of every adaptive re-plan maps the stage's
    accumulator ids to plan nodes)."""
    jobs, stages, node_of = {}, {}, {}
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    list(ev.get("Stage IDs", [])),
                )
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, node_of)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                total: dict[str, float] = defaultdict(float)
                kernel_s: dict[str, float] = defaultdict(float)
                for a in info.get("Accumulables", []):
                    try:
                        value = float(a.get("Value") or 0)
                    except (TypeError, ValueError):
                        continue
                    # a stage may run several Python nodes: sum over ids
                    total[a.get("Name")] += value
                    name, node = node_of.get(a.get("ID"), (None, ""))
                    if name == "time to run Python workers":
                        for layer, marker in KERNELS.items():
                            if marker in node:
                                kernel_s[layer] += value / 1e3
                stages[info["Stage ID"]] = {
                    "start": (info.get("Submission Time") or 0) / 1000.0,
                    "end": (info.get("Completion Time") or 0) / 1000.0,
                    "tasks": info.get("Number of Tasks", 0),
                    "run_s": total["internal.metrics.executorRunTime"] / 1e3,
                    "cpu_s": total["internal.metrics.executorCpuTime"] / 1e9,
                    "python_s": total["time to run Python workers"] / 1e3,
                    "python_bytes": total["data sent to Python workers"]
                    + total["data returned from Python workers"],
                    "shuffle_bytes": total[
                        "internal.metrics.shuffle.write.bytesWritten"],
                    "input_bytes": total["internal.metrics.input.bytesRead"],
                    "kernel_s": dict(kernel_s),
                }
    return jobs, stages


SPARK_FIELDS = ("jobs", "stages", "tasks", "driver_s", "executor_run_s",
                "executor_cpu_s", "python_s", "python_bytes",
                "shuffle_bytes", "input_bytes")


def spark_per_span(log_path: Path, spans: list[Span]):
    """({span_id: {field: value}}, {span_id: {kernel layer: seconds}}) for
    top-level spans."""
    jobs, stages = read_event_log(log_path)
    top = [s for s in spans if s.parent is None]
    by_id = {s.id: s for s in spans}
    root_of = {}
    for s in spans:
        r = s
        while r.parent is not None:
            r = by_id[r.parent]
        root_of[s.id] = r.id

    def owner(group, submit):
        if group in root_of:
            return root_of[group]
        for s in top:
            if s.start <= submit <= s.end:
                return s.id
        return None

    out = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    intervals = defaultdict(list)
    kernels = defaultdict(lambda: defaultdict(float))
    for group, submit, stage_ids in jobs.values():
        sid = owner(group, submit)
        if sid is None:
            continue
        m = out[sid]
        m["jobs"] += 1
        for st_id in stage_ids:
            st = stages.get(st_id)
            if st is None:  # skipped: its output was reused
                continue
            m["stages"] += 1
            m["tasks"] += st["tasks"]
            m["executor_run_s"] += st["run_s"]
            m["executor_cpu_s"] += st["cpu_s"]
            m["python_s"] += st["python_s"]
            m["python_bytes"] += st["python_bytes"]
            m["shuffle_bytes"] += st["shuffle_bytes"]
            m["input_bytes"] += st["input_bytes"]
            intervals[sid].append((st["start"], st["end"]))
            for layer, sec in st["kernel_s"].items():
                kernels[sid][layer] += sec
    for s in top:
        m = out[s.id]
        clipped = [(max(lo, s.start), min(hi, s.end))
                   for lo, hi in intervals[s.id] if hi > s.start and lo < s.end]
        stage_wall = _union_seconds(clipped)
        m["stage_wall_s"] = stage_wall
        m["driver_s"] = max(0.0, s.end - s.start - stage_wall)
    return dict(out), {sid: dict(k) for sid, k in kernels.items()}
