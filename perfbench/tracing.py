"""Spans around the benchmark's calls into each layer, and the Spark
counters behind them.

Spans (name, start, end, parent, unit) are kept in memory.  Each span
tags the Spark jobs it launches with its own job group.  After the
session stops, the uncompressed event log it wrote is read back and
every job, with its tasks' metrics, is charged to a span: to the span
named by its job group, or, for jobs on threads that set their own group
(the AvailableNow drain of a streaming stage), to the innermost span
open when the job was submitted.  A boundary's counters are inclusive of
its child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
# spans of the untimed warm-up unit carry this unit id and are left out
# of the per-layer metrics, which describe the timed region
WARMUP = "warmup"

# boundaries with the full counter set; every name is "<layer>.<boundary>".
# session.get_spark launches no jobs, so it has its wall time only.
BOUNDARIES = (
    "plans.compile",
    "sources.write",
    "plans.tlb",
    "streaming.fold",
    "streaming.read",
    "streaming.maintain",
)
FOLD_FAMILIES = ("agg", "sessions", "upsert", "cc")
COUNTERS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("parallelism", "ratio"),
    ("idle_s", "s"),
)
EXTRA = (
    ("session.get_spark_s", "s"),
    ("streaming.store_mb", "MB"),
    ("streaming.store_files", "count"),
    ("trace.wall_s", "s"),
    ("trace.unit_self_s", "s"),
)


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = {}
    for b in BOUNDARIES:
        out[f"{b}_s"] = "s"
        for c, unit in COUNTERS:
            out[f"{b}.{c}"] = unit
    for fam in FOLD_FAMILIES:
        out[f"streaming.fold.{fam}_s"] = "s"
    out.update(EXTRA)
    return out


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.unit: str | None = None
        self.sc = None  # set once the SparkContext exists
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if sid is None else f"{GROUP_PREFIX}{sid}"
            )

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "unit": self.unit,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def read_event_log(path: str) -> list[dict]:
    """Jobs of one application: submit/end (epoch s), job group, and the
    summed metrics of the tasks of the stages each job ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            head = line[:48]
            if "SparkListenerJobStart" in head:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_b": 0,
                    "spill_b": 0,
                }
                for s in ev.get("Stage IDs", ()):
                    stage_job.setdefault(s, jid)
            elif "SparkListenerJobEnd" in head:
                ev = json.loads(line)
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif "SparkListenerTaskEnd" in head:
                ev = json.loads(line)
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(spans: list[dict], jobs: list[dict], timed_wall_s: float) -> dict[str, float]:
    """Per-layer metrics from the spans of a traced run and its jobs."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def owner(job: dict) -> dict | None:
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX):
            return by_id.get(int(g[len(GROUP_PREFIX):]))
        inside = [s for s in spans if s["start"] <= job["submit"] <= s["end"]]
        return max(inside, key=lambda s: s["start"]) if inside else None

    charged: dict[int, list[dict]] = {}
    for j in jobs:
        s = owner(j)
        # charge the job to the span and every ancestor (inclusive counters)
        while s is not None:
            charged.setdefault(s["id"], []).append(j)
            s = by_id.get(s["parent"]) if s["parent"] is not None else None

    job_iv = [(j["submit"], j["end"]) for j in jobs]
    out = {name: 0.0 for name in layer_metric_units()}
    timed = [s for s in spans if s["unit"] != WARMUP]
    for s in timed:
        wall = s["end"] - s["start"]
        mine = charged.get(s["id"], [])
        name = s["name"]
        if name == "session.get_spark" or name.startswith("streaming.fold."):
            out[f"{name}_s"] += wall
            continue
        if name not in BOUNDARIES:
            continue
        out[f"{name}_s"] += wall
        out[f"{name}.jobs"] += len(mine)
        out[f"{name}.tasks"] += sum(j["tasks"] for j in mine)
        out[f"{name}.executor_run_s"] += sum(j["run_s"] for j in mine)
        out[f"{name}.executor_cpu_s"] += sum(j["cpu_s"] for j in mine)
        out[f"{name}.gc_s"] += sum(j["gc_s"] for j in mine)
        out[f"{name}.shuffle_mb"] += sum(j["shuffle_b"] for j in mine) / 2**20
        out[f"{name}.spill_mb"] += sum(j["spill_b"] for j in mine) / 2**20
        out[f"{name}.idle_s"] += wall - _covered(job_iv, s["start"], s["end"])
    for b in BOUNDARIES:
        if out[f"{b}_s"] > 0:
            out[f"{b}.parallelism"] = out[f"{b}.executor_run_s"] / out[f"{b}_s"]
    for s in timed:
        if s["name"] == "unit":
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            out["trace.unit_self_s"] += (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])
    out["trace.wall_s"] = timed_wall_s
    return out
