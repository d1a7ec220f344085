"""Span recording, span self-time arithmetic and Spark event-log attribution.

Spans are recorded by the benchmark around calls into the program's public
functions.  Each span tags the Spark jobs it starts with a job group equal
to its id, so the uncompressed event log (``spark.eventLog.enabled``)
attributes jobs, stages, tasks, executor run time, shuffle bytes and
Python-worker bytes to the span that caused them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time

ROOT_GROUP = "perfbench"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (the numpy default); ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the part of it its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self) -> None:
        if self.sc is not None:
            top = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(top["id"] if top else ROOT_GROUP,
                                top["name"] if top else ROOT_GROUP)

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. before Spark existed)."""
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.add(name, time.perf_counter(), math.nan, **attrs)
        self._stack.append(rec)
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group()

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(s, self_s=st[s["id"]]) for s in self.spans], f,
                      indent=1, default=str)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the application log(s) under ``log_dir``, single-file or
    rolling (``eventlog_v2_*/events_*``)."""
    events = []
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in paths:
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict]) -> tuple[dict[str, dict], list[dict]]:
    """Per job group: jobs, stages, tasks, executor run ms, shuffle write
    bytes and Python-worker bytes (sent + returned).  Each completed stage
    counts once, for the first job that listed it.  Also returns the jobs as
    ``{"group", "submit_s", "stages", "tasks"}`` in submission order."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or ROOT_GROUP
            jobs[jid] = {"group": job_group[jid],
                         "submit_s": _num(ev.get("Submission Time")) / 1000.0,
                         "stages": 0, "tasks": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
    groups: dict[str, dict] = {}

    def grp(name):
        return groups.setdefault(name, {"jobs": 0, "stages": 0, "tasks": 0,
                                        "run_ms": 0.0, "shuffle_bytes": 0.0,
                                        "python_bytes": 0.0})

    for jid, g in job_group.items():
        grp(g)["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        jid = stage_job.get(info["Stage ID"])
        if jid is None:
            continue
        g = grp(job_group[jid])
        g["stages"] += 1
        g["tasks"] += info.get("Number of Tasks", 0)
        jobs[jid]["stages"] += 1
        jobs[jid]["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            name, val = acc.get("Name", ""), _num(acc.get("Value"))
            if name == "internal.metrics.executorRunTime":
                g["run_ms"] += val
            elif name == "internal.metrics.shuffle.write.bytesWritten":
                g["shuffle_bytes"] += val
            elif name in ("data sent to Python workers",
                          "data returned from Python workers"):
                g["python_bytes"] += val
    return groups, [jobs[j] for j in sorted(jobs)]
