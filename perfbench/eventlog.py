"""Fold a Spark event log into per-span layer metrics.

Spans are named intervals stamped by the benchmark (pipeline segments or
text queries); Spark jobs and stages are matched to a span through the
``perfbench:<name>`` job description the benchmark set while that span
ran.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_DESC = "spark.job.description"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas",
                     "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                     "FlatMapCoGroupsInArrow", "AggregateInPandas",
                     "WindowInPandas", "ArrowEvalPythonUDTF",
                     "BatchEvalPythonUDTF", "PythonMapInArrow")


def read_events(log_dir: str) -> list[dict]:
    """Every event under log_dir (Spark 4 writes a directory of rolling
    event files per application)."""
    events = []
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as fh:
                events.extend(json.loads(ln) for ln in fh if ln.strip())
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _plan_counts(info: dict) -> tuple[int, int]:
    name = info.get("nodeName", "")
    ex = int(name == "Exchange")
    py = int(name in PYTHON_EVAL_NODES)
    for child in info.get("children", ()):
        e, p = _plan_counts(child)
        ex, py = ex + e, py + p
    return ex, py


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application's log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_label: dict[int, str] = {}
        self.stages_done: set[int] = set()
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: list[tuple[float, int, int]] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "label": (ev.get("Properties") or {}).get(_DESC),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None}
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                label = (ev.get("Properties") or {}).get(_DESC)
                if label:
                    self.stage_label[ev["Stage Info"]["Stage ID"]] = label
            elif kind == "SparkListenerStageCompleted":
                self.stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                self.tasks[ev["Stage ID"]].append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0)})
            elif kind == _SQL_START:
                ex, py = _plan_counts(ev.get("sparkPlanInfo") or {})
                self.plans.append((ev["time"] / 1000.0, ex, py))

    def span(self, name: str, t0: float, t1: float) -> dict:
        """Metrics of the jobs labelled ``perfbench:<name>``."""
        label = f"perfbench:{name}"
        jobs = [j for j in self.jobs.values()
                if j["label"] == label and j["end"] is not None]
        busy = _union_len([(max(j["start"], t0), min(j["end"], t1))
                           for j in jobs if j["end"] > t0 and j["start"] < t1])
        stages = [s for s, lab in self.stage_label.items()
                  if lab == label and s in self.stages_done]
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        skew = 1.0
        if stages:
            heavy = max(stages,
                        key=lambda s: sum(t["ms"] for t in self.tasks[s]))
            ms = [t["ms"] for t in self.tasks[heavy]]
            if ms:
                skew = max(ms) / max(statistics.median(ms), 1.0)
        wall = t1 - t0
        return {"wall_s": wall, "exec_s": busy, "gap_s": wall - busy,
                "jobs": len(jobs), "stages": len(stages),
                "tasks": len(tasks), "skew": skew,
                "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6}

    def plan_counts(self, t0: float, t1: float) -> tuple[int, int]:
        """(Exchange, Python-eval) node counts over the physical plans of
        the SQL executions started in [t0, t1]."""
        ex = py = 0
        for t, e, p in self.plans:
            if t0 <= t <= t1:
                ex, py = ex + e, py + p
        return ex, py
