"""Spans around the benchmark's calls into the library, and the Spark
stage metrics of each span.

A span is one call into a layer: name (the library module, e.g.
``operators.burn``), the call (``op``), start and end on the
``perf_counter`` clock, its parent span, the run id and the Spark job
group its jobs ran under.  Spans are kept in memory and written out
when the run ends.

Timing spans are cheap and always recorded, so untraced runs still
know each call's wall time.  Only a traced tracer sets a Spark job
group per span; after the run, ``stage_metrics`` reads every job
group's stages from the Spark UI's REST API on localhost (the
session must have been started with ``ui=True``).
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.parse
import urllib.request
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional

MB = 1024 * 1024

STAGE_STATS = ("jobs", "tasks", "task_run_s", "jvm_cpu_s", "non_jvm_s",
               "shuffle_write_mb", "spill_mb", "task_max_over_median")


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str
    job_group: Optional[str]
    iteration: int

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; sets a Spark job group per span when ``traced``."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: List[Span] = []
        self.iteration = -1
        self._stack: List[tuple] = []
        self._next_id = 0
        self._sc = None

    def bind(self, sc) -> None:
        """Use this SparkContext for job groups (after a restart too)."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        group = f"{self.run_id}.{sid}" if self.traced else None
        self._set_group(group)
        self._stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1][1] if self._stack else None)
            self.spans.append(Span(sid, name, op, start, end, parent,
                                   self.run_id, group, self.iteration))

    def _set_group(self, group: Optional[str]) -> None:
        if not self.traced:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def iteration_spans(self, iteration: int) -> List[Span]:
        return [s for s in self.spans if s.iteration == iteration]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: Dict[int, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.span_id] = s.wall - covered
    return out


def _get_json(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.loads(resp.read().decode())


def stage_metrics(ui_url: str) -> Dict[str, Dict[str, float]]:
    """Per job group: jobs, tasks, task run time, JVM CPU time, the
    rest of the run time (Python workers plus waits), shuffle write,
    spill, and the slowest over the median task of its longest stage.

    A stage shared by several jobs ran in the first of them and is
    skipped by the rest, so it is counted once, for that job's group.
    """
    port = urllib.parse.urlparse(ui_url).port
    base = f"http://127.0.0.1:{port}/api/v1/applications"
    app = _get_json(base, "")[0]["id"]
    jobs = _get_json(base, f"/{app}/jobs")
    stages = _get_json(base, f"/{app}/stages?details=false")
    stage_group: Dict[int, str] = {}
    out: Dict[str, Dict[str, float]] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup")
        if group is None:
            continue
        acc = out.setdefault(group, dict.fromkeys(STAGE_STATS, 0.0))
        acc["jobs"] += 1
        for sid in job["stageIds"]:
            stage_group.setdefault(sid, group)
    longest: Dict[str, dict] = {}
    for st in stages:
        group = stage_group.get(st["stageId"])
        if group is None or st["status"] != "COMPLETE":
            continue
        acc = out[group]
        acc["tasks"] += st["numCompleteTasks"]
        acc["task_run_s"] += st["executorRunTime"] / 1e3
        acc["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
        acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        acc["spill_mb"] += (st["memoryBytesSpilled"]
                            + st["diskBytesSpilled"]) / MB
        best = longest.get(group)
        if best is None or st["executorRunTime"] > best["executorRunTime"]:
            longest[group] = st
    for group, st in longest.items():
        q = _get_json(base, f"/{app}/stages/{st['stageId']}/"
                      f"{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        out[group]["task_max_over_median"] = top / med if med > 0 else 1.0
    for acc in out.values():
        acc["non_jvm_s"] = max(acc["task_run_s"] - acc["jvm_cpu_s"], 0.0)
    return out


def layer_stats(spans: List[Span], groups: Dict[str, Dict[str, float]]
                ) -> Dict[str, Dict[str, float]]:
    """One iteration's spans folded per layer name: ``wall_s`` counts a
    layer's outermost spans once, ``self_s`` sums self times, and the
    stage statistics sum over the layer's job groups (the worst
    ``task_max_over_median`` is kept)."""
    by_id = {s.span_id: s for s in spans}
    selfs = self_times(spans)
    out: Dict[str, Dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s.name, dict.fromkeys(
            ("wall_s", "self_s") + STAGE_STATS, 0.0))
        acc["self_s"] += selfs[s.span_id]
        p = by_id.get(s.parent)
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent)
        if p is None:
            acc["wall_s"] += s.wall
        g = groups.get(s.job_group or "", {})
        for k in STAGE_STATS:
            if k == "task_max_over_median":
                acc[k] = max(acc[k], g.get(k, 0.0))
            else:
                acc[k] += g.get(k, 0.0)
    return out


def median_layers(per_iter: List[Dict[str, Dict[str, float]]]
                  ) -> Dict[str, Dict[str, float]]:
    """Median over iterations of each layer statistic."""
    names = {n for it in per_iter for n in it}
    out = {}
    for n in names:
        keys = {k for it in per_iter for k in it.get(n, {})}
        out[n] = {k: statistics.median(it.get(n, {}).get(k, 0.0)
                                       for it in per_iter) for k in keys}
    return out
