"""Spans around calls into the program's layers, recorded from outside it.

A :class:`Tracer` wraps module-level functions and class methods of the
program by name. Each call becomes a span: name, start, end, parent span,
and the Spark jobs, stages and tasks it launched, counted through the
status tracker under a job group the span sets. A name the program no
longer has is skipped and listed in ``missing``; it never fails the run.

After the Spark session stops, :func:`parse_event_log` reads Spark's own
event log (enabled by session configuration in ``run.py``) for job
intervals, shuffle and spill bytes, and failed tasks per job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.missing: list[str] = []
        self.overhead_s = 0.0  # bookkeeping time spent in timed-phase spans
        self.phase = "setup"  # stamped on every span: "setup" or "timed"

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"perfbench-{sid}",
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group(rec)
        timed = self.phase == "timed"
        if timed:
            self.overhead_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            jobs = sorted(self.status.getJobIdsForGroup(rec["group"]))
            stages, tasks = [], 0
            for j in jobs:
                info = self.status.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            for s in stages:
                info = self.status.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            rec.update(job_ids=jobs, jobs=len(jobs), stages=len(stages), tasks=tasks)
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)
            if timed:
                self.overhead_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or class) by a spanned wrapper."""
        fn = getattr(owner, attr, None)
        if fn is None or not callable(fn):
            self.missing.append(name)
            return
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    # -- derived views ------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def inclusive(self, span: dict, key: str) -> int:
        """A count over the span and every span below it."""
        total = span.get(key, 0)
        for s in self.spans:
            if s["parent"] == span["id"]:
                total += self.inclusive(s, key)
        return total

    def descendant_groups(self, span: dict) -> set[str]:
        out = {span["group"]}
        for s in self.spans:
            if s["parent"] == span["id"]:
                out |= self.descendant_groups(s)
        return out

    def self_s(self, span: dict) -> float:
        """Duration minus the part covered by direct child spans (children
        run one after another on the single calling thread)."""
        child = sum(
            s["end"] - s["start"] for s in self.spans
            if s["parent"] == span["id"] and "end" in s
        )
        return span["end"] - span["start"] - child


def parse_event_log(events_dir: str) -> dict:
    """Jobs (interval, group), and per-group shuffle/spill bytes and failed
    tasks, from the JSON-lines event log of the one application in
    ``events_dir``. Returns empty tables when no log was written."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "group": group}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    g = groups.setdefault(
                        stage_group.get(ev["Stage ID"]),
                        {"shuffle_bytes": 0, "spill_bytes": 0, "failed_tasks": 0},
                    )
                    if (ev.get("Task Info") or {}).get("Failed"):
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "groups": groups}


def busy_s(jobs: dict, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one Spark job ran."""
    ivs = sorted(
        (max(j["start"], lo), min(j.get("end", hi), hi))
        for j in jobs.values()
        if j.get("end", hi) > lo and j["start"] < hi
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
