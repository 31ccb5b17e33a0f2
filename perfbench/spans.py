"""Spans around the calls into each layer, folded with Spark's own records.

A span is (id, name, parent, thread, start, end).  Each open span sets a Spark
job group on its thread, so every job the span submits carries the span's
group: ``statusTracker`` gives the job ids per group when the span closes, and
the event log (read after the session stops, stdlib ``json``) gives their
stages and task metrics.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        # time spent in the tracer's own code, for trace.overhead
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        group = f"span-{sid}"
        rec = {"id": sid, "name": name,
               "parent": stack[-1] if stack else self._root,
               "thread": threading.current_thread().name,
               "group": group, "start": time.time()}
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        if root:
            self._root = sid
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t2 = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, module, attr: str, name=None):
        """Replace ``module.attr`` with a spanned version, named ``attr`` or
        by ``name``, a function of the call's arguments."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            label = name(*args, **kwargs) if name else attr
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapped)


def install_pipeline_spans(tracer: Tracer) -> None:
    """Wrap the functions ``run_pipeline_fast`` calls into each layer.
    Functions the pipeline imports at call time are wrapped in their home
    module."""
    import olkg.canonicalize as canon
    import olkg.extract as extract
    import olkg.pipeline as pipeline

    def stage_name(df, out_dir, stage, *a, **k):
        return f"write:{stage}"

    tracer.wrap(pipeline, "write_stage", stage_name)
    tracer.wrap(pipeline, "append_lineage")
    tracer.wrap(pipeline, "estimate_extract_size")
    tracer.wrap(extract, "read_side_rows")
    tracer.wrap(extract, "audit_pages")
    tracer.wrap(canon, "canonical_map_from_blocks")


# --- event log ----------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task records from a finished, uncompressed Spark
    event log (Spark 4 writes a directory of rolled ``events_*`` files)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    files = sorted(os.path.join(d, f) for d, _dirs, names in os.walk(log_dir)
                   for f in names if f.startswith("events_"))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0,
                                          "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") + r.get("Name", "")
                                      for r in info.get("RDD Info", []))
                    stages[info["Stage ID"]] = {
                        "submit": info.get("Submission Time", 0) / 1000.0,
                        "end": info.get("Completion Time", 0) / 1000.0,
                        "python": "Pandas" in scopes or "Arrow" in scopes}
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "failed": bool(info.get("Failed")),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)})
    # a stage listed by several jobs (AQE re-plans, reused exchanges) is owned
    # by the first job that lists it, which is the one that ran it
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for sid, st in stages.items():
        st["job"] = owner.get(sid)
        st["tasks"] = tasks.get(sid, [])
    return {"jobs": jobs, "stages": stages}


class Fold:
    """Spark work attributed to a set of jobs."""

    def __init__(self, log: dict, job_ids):
        job_ids = set(job_ids)
        self.jobs = len(job_ids)
        self.stages = [st for st in log["stages"].values()
                       if st["job"] in job_ids and st["tasks"]]
        self.tasks = [t for st in self.stages for t in st["tasks"]]

    def mb(self, field: str) -> float:
        return sum(t[field] for t in self.tasks) / 2**20

    @staticmethod
    def skew(tasks: list) -> float:
        walls = [t["run_ms"] for t in tasks]
        if not walls:
            return 0.0
        med = statistics.median(walls)
        return max(walls) / med if med else float(max(walls) > 0)


def jobs_in_window(log: dict, start: float, end: float) -> list[int]:
    return [jid for jid, j in log["jobs"].items() if start <= j["submit"] <= end]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = (s["end"] - s["start"]) - covered(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])
             if b > s["start"] and a < s["end"]])
    return spans
