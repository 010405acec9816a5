"""Span recording for the traced run.

A span is a plain record ``(run_id, span_id, parent_id, name, layer, start,
end, build_s, exec_s)`` kept in memory and written out with the run record.
Each span runs its Spark jobs under its own job group, so job and task
counts come from ``sc.statusTracker()`` and shuffle/spill bytes from the
Spark event log, both keyed by the span's job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: The engine's layers, named after its package modules.
LAYERS = [
    "session", "sources.read", "sources.write", "cleaning", "quality",
    "summarize", "stats", "mining", "ml", "plans",
]
COUNTERS = ["jobs", "tasks", "tasks_failed", "shuffle_write_mb", "spill_mb"]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            clear_job_group(self.sc)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def current(self) -> dict:
        return self._stack[-1]

    @contextmanager
    def span(self, name: str, layer: str):
        """Open a span; the body records ``build_s``/``exec_s`` on it."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id, "span_id": sid,
            "parent_id": parent["span_id"] if parent else None,
            "name": name, "layer": layer, "group": f"{self.run_id}-span{sid}",
            "start": time.monotonic(), "end": None, "build_s": 0.0, "exec_s": 0.0,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
            self._set_group(self._stack[-1] if self._stack else None)

    def collect_status(self) -> None:
        """Attach job/task counts from the status tracker to every span not
        yet counted."""
        for rec in self.spans:
            if "jobs" not in rec:
                rec.update(job_counts(self.sc, rec["group"]))

    def attach_event_log(self, log_dir: str) -> None:
        """Attach shuffle-write and spill MB per span from the event log
        (read after the session stopped, so the log is complete)."""
        by_group = parse_event_log(log_dir)
        for rec in self.spans:
            b = by_group.get(rec["group"], {})
            rec["shuffle_write_mb"] = b.get("shuffle_write", 0) / 2**20
            rec["spill_mb"] = b.get("spill", 0) / 2**20


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, completed tasks and failed tasks of one job group, from the
    status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}


def parse_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Sum task shuffle-write and disk-spill bytes per job group."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group and m:
                        sw = m.get("Shuffle Write Metrics") or {}
                        out[group]["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                        out[group]["spill"] += m.get("Disk Bytes Spilled", 0)
    return out


def layer_metrics(spans: list[dict], root_id: int | None) -> dict[str, float]:
    """Per-layer sums plus self time over the spans under ``root_id``.

    A span's self time is its duration minus its children's durations; the
    root's self time is reported as ``trace.unattributed_s`` so that the
    layers' self times plus the remainder add up to the root's wall time.
    The ``session`` layer lives outside the traced pass, so it reports no
    self time."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.calls"] = 0
        out[f"{layer}.build_s"] = 0.0
        out[f"{layer}.exec_s"] = 0.0
        for c in COUNTERS:
            out[f"{layer}.{c}"] = 0
        if layer != "session":
            out[f"{layer}.self_s"] = 0.0
    for s in spans:
        if s["layer"] is None:
            continue
        L = s["layer"]
        out[f"{L}.calls"] += 1
        out[f"{L}.build_s"] += s["build_s"]
        out[f"{L}.exec_s"] += s["exec_s"]
        for c in COUNTERS:
            out[f"{L}.{c}"] += s.get(c, 0)
        if L != "session":
            out[f"{L}.self_s"] += (s["end"] - s["start"]) - s["child_s"]
    if root_id is not None:
        root = spans[root_id]
        out["trace.wall_s"] = root["end"] - root["start"]
        out["trace.unattributed_s"] = out["trace.wall_s"] - root["child_s"]
    return out
