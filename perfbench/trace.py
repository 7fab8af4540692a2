"""Spans around the benchmark's calls into the engine's public functions,
and the Spark event-log reader that attributes jobs, task time and
shuffle bytes to them.

A span is (name, start, end, parent, run id), kept in memory and written
out once at the end. Each span also tags the Spark jobs its thread
submits with ``setJobGroup(name)``, so the event log maps back to the
layer. Jobs submitted from other threads (a streaming query's
micro-batches) carry the stream's own group; every job is therefore
attributed to the innermost span that was open when it was submitted.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans; ``Tracer.off()`` gives one whose ``span`` does nothing."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._open[-1]["id"] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self.sc is not None:
                if self._open:
                    self.sc.setJobGroup(self._open[-1]["name"], self._open[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @classmethod
    def off(cls) -> Tracer:
        return cls("", enabled=False)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per job: submit time (s), task count, task-seconds and
    shuffle bytes written, from every event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                 "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev["Task Info"]
                    job["tasks"] += 1
                    job["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return list(jobs.values())


def attribute(jobs: list[dict], spans: list[dict]) -> dict[int, dict]:
    """span id -> {jobs, tasks, task_s, shuffle_bytes} over the jobs
    submitted while it was the innermost open span."""
    out = {s["id"]: {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0}
           for s in spans}
    for job in jobs:
        inner = None
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"] and (
                    inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is None:
            continue
        acc = out[inner["id"]]
        acc["jobs"] += 1
        acc["tasks"] += job["tasks"]
        acc["task_s"] += job["task_s"]
        acc["shuffle_bytes"] += job["shuffle_bytes"]
    return out
