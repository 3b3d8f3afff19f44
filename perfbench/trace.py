"""Tracing for the traced run: a span recorder around public calls and a
reader for Spark's event log that attributes jobs, stages and tasks to
spans.

Spans share a run id, record their parent, stay in memory and are written
out once when the run ends. Each span sets a Spark job group named after
its id, so the event log says which span every job ran under; a job whose
group is not a span id (a streaming micro-batch runs on its own thread and
group) is attributed to the innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
import uuid
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._sc = spark.sparkContext if spark is not None else None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"{self.run_id}.{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "run": self.run_id, "name": name, "parent": parent,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(_GROUP, parent)

    def wrap(self, owner, attr: str, name: str):
        """Replace `owner.attr` with a spanned call; returns the undo."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            label = name(*a, **kw) if callable(name) else name
            with self.span(label):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON document."""
        own = self_times(self.spans)
        spans = [{**s, "self_s": own[s["id"]]} for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": spans}, f)


def load_spans(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return json.load(f)["spans"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from every event log under `log_dir`.

    Returns {"jobs": {job_id: {"group", "submit", "stages"}},
             "stages": {stage_id: {"tasks", "exec_s", "gc_s",
                                    "shuffle_write_b", "shuffle_read_b",
                                    "spill_b", "max_task_s"}}}
    Only stages that ran appear in "stages"; a job's "stages" lists every
    stage it names, skipped ones included."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # a plain log is one file; a rolling (v2) log is a directory of
    # events_<n>_<app> files plus an empty appstatus marker
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get(_GROUP),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "exec_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_b": 0, "shuffle_read_b": 0,
                        "spill_b": 0, "max_task_s": 0.0,
                    })
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["tasks"] += 1
                    st["exec_s"] += run_s
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    st["max_task_s"] = max(st["max_task_s"], dur)
    return {"jobs": jobs, "stages": stages}


def attribute(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span id: the Spark work it caused, its descendants' included.

    Keys: jobs, stages (that ran), tasks, exec_s, gc_s, shuffle_write_mb,
    shuffle_read_mb, spill_mb, max_task_s."""
    by_id = {s["id"]: s for s in spans}

    def innermost(t: float) -> str | None:
        best = None
        for s in spans:
            if s["start"] <= t <= (s["end"] or t) and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best["id"] if best else None

    own: dict[str, list[int]] = {}
    for jid, j in log["jobs"].items():
        sid = j["group"] if j["group"] in by_id else innermost(j["submit"])
        if sid is not None:
            own.setdefault(sid, []).append(jid)

    # a stage runs under the first job that names it; later jobs skip it
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stages"]:
            stage_job.setdefault(st, jid)
    job_stages: dict[int, list[int]] = {}
    for st, jid in stage_job.items():
        if st in log["stages"]:
            job_stages.setdefault(jid, []).append(st)

    def zero() -> dict:
        return {"jobs": 0, "stages": 0, "tasks": 0, "exec_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
                "max_task_s": 0.0}

    direct: dict[str, dict] = {}
    for sid, jids in own.items():
        acc = zero()
        for jid in jids:
            acc["jobs"] += 1
            for st in job_stages.get(jid, []):
                m = log["stages"][st]
                acc["stages"] += 1
                acc["tasks"] += m["tasks"]
                acc["exec_s"] += m["exec_s"]
                acc["gc_s"] += m["gc_s"]
                acc["shuffle_write_mb"] += m["shuffle_write_b"] / 1e6
                acc["shuffle_read_mb"] += m["shuffle_read_b"] / 1e6
                acc["spill_mb"] += m["spill_b"] / 1e6
                acc["max_task_s"] = max(acc["max_task_s"], m["max_task_s"])
        direct[sid] = acc

    total = {s["id"]: zero() for s in spans}
    for s in spans:
        d = direct.get(s["id"])
        if d is None:
            continue
        cur = s["id"]
        while cur is not None:
            t = total[cur]
            for k, v in d.items():
                t[k] = max(t[k], v) if k == "max_task_s" else t[k] + v
            cur = by_id[cur]["parent"]
    return total
