"""In-memory span recorder and Spark event-log reducer for traced runs.

A span is one timed call into a layer: name, start, end, parent span and
the pass or request it belongs to. While a span is open its Spark jobs run
under a job group of their own, so ``statusTracker()`` gives the span's job
count. Stage and task times come from Spark's event log, which a traced run
turns on at launch (see ``run.py``); :func:`read_event_log` reduces it to
the critical stage of each job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    an untraced run pays nothing but a function call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the (new) session whose jobs the spans should count."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"pb-{len(self.spans)}",
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = sorted(
                self._sc.statusTracker().getJobIdsForGroup(rec["group"])
            )
            self._open.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
            f.write("\n")


def _reduce(ev, app, group_stages, stage_wall, stage_ntasks, task_ms) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group:
            group_stages.setdefault(group, set()).update((app, s) for s in ev["Stage IDs"])
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        if "Completion Time" in info and "Submission Time" in info:
            key = (app, info["Stage ID"])
            stage_wall[key] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
            stage_ntasks[key] = info["Number of Tasks"]
    elif kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        task_ms.setdefault((app, ev["Stage ID"]), []).append(
            info["Finish Time"] - info["Launch Time"]
        )


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Reduce every uncompressed event log in ``log_dir`` to, per job
    group, its critical (longest) stage: wall seconds, task count and the
    max ÷ median task duration of that stage."""
    group_stages: dict[str, set] = {}
    stage_wall: dict[tuple, float] = {}
    stage_ntasks: dict[tuple, int] = {}
    task_ms: dict[tuple, list] = {}
    for app in sorted(os.listdir(log_dir)):
        # One log per SparkContext (one per set-up); stage ids restart at 0
        # in each, so keys carry the log's name. A rolling log is a
        # directory of ``events_*`` files.
        path = os.path.join(log_dir, app)
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("events_")]
            if os.path.isdir(path)
            else [path]
        )
        for fname in files:
            with open(fname) as f:
                for line in f:
                    _reduce(json.loads(line), app, group_stages, stage_wall, stage_ntasks, task_ms)
    out = {}
    for group, stages in group_stages.items():
        ran = [s for s in stages if s in stage_wall]
        if not ran:
            continue
        crit = max(ran, key=lambda s: stage_wall[s])
        tasks = task_ms.get(crit) or [0]
        med = statistics.median(tasks)
        out[group] = {
            "crit_stage_s": stage_wall[crit],
            "crit_stage_tasks": stage_ntasks[crit],
            "crit_task_skew": max(tasks) / med if med > 0 else 1.0,
        }
    return out
