"""In-memory spans around the engine's entry points, plus the Spark
event-log reader that attributes jobs, stages and tasks to them.

The workloads open one span per operation in every run; the wrappers
around the engine exist only in a traced run: ``Tracer.wrap`` replaces
an attribute of an engine module or class with a timing wrapper and
``Tracer.restore`` puts the original back. The engine's code is never
edited. A span holds its name, start, end, parent span and op id (the
id of the top-level operation that caused it); spans stay in memory
until ``Tracer.dump`` writes them out at exit.
"""

from __future__ import annotations

import glob
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[dict] = []
        self._main_thread = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main_thread:
            return self._main
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        """Record one span. ``op=True`` starts a new operation id;
        otherwise the span joins its parent's operation. A span opened
        on a callback thread (foreachBatch runs on one) with nothing
        open on that thread takes the main thread's innermost span as
        its parent."""
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sid = len(self.spans) + 1
            rec = {
                "id": sid,
                "name": name,
                "parent": parent["id"] if parent else None,
                "op": sid if op or parent is None else parent["op"],
                "start": time.time(),
                "end": None,
                "attrs": dict(attrs),
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``count(rec,
        result, args, kwargs)`` may add counts to the span's attrs."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if count is not None:
                    count(rec, out, args, kwargs)
                return out

        wrapped.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ------------------------------------------------------------ queries

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name and s["end"]]
        if within is not None:
            out = [
                s for s in out
                if s["start"] >= within["start"] and s["end"] <= within["end"]
            ]
        return out

    def total(self, name: str, within: dict | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, within))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        the span's children (self time)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s["end"]:
                continue
            covered = union(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"],
                s["end"],
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out


def union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log


def read_event_logs(log_dir: str) -> dict:
    """Jobs and stages from every Spark event log under ``log_dir``.

    Returns ``{"jobs": [...], "stages": {(app, id): {...}}}``; times
    are epoch seconds, task metrics are summed per stage and each
    stage keeps its task durations for the skew ratio.
    """
    jobs, stages = [], {}
    for n_app, path in enumerate(sorted(glob.glob(f"{log_dir}/*"))):
        open_jobs = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    open_jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "stages": [(n_app, s) for s in ev["Stage IDs"]],
                    }
                elif kind == "SparkListenerJobEnd":
                    j = open_jobs.pop(ev["Job ID"], None)
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                        jobs.append(j)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((n_app, ev["Stage ID"]), _new_stage())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_s"].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(
                        (n_app, info["Stage ID"]), _new_stage()
                    )
                    st["wall_s"] = (
                        info.get("Completion Time", 0)
                        - info.get("Submission Time", 0)
                    ) / 1000.0
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {
        "tasks": 0,
        "task_s": [],
        "run_s": 0.0,
        "gc_s": 0.0,
        "spill_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_bytes": 0,
        "wall_s": 0.0,
    }


def spark_metrics(log: dict, tracer: Tracer, phases: list[dict], op: str) -> dict:
    """Generic Spark numbers for the jobs submitted inside ``phases``
    (the measured phases' spans); ``op`` names the spans of the
    workload's unit operation."""
    jobs = jobs_in(log, phases)
    ops = [s for p in phases for s in tracer.named(op, p)]
    stage_keys = {k for j in jobs for k in j["stages"]}
    sts = [log["stages"][k] for k in stage_keys if k in log["stages"]]
    job_s = sum(
        union([(j["start"], j["end"]) for j in jobs], p["start"], p["end"])
        for p in phases
    )
    wall = sum(p["end"] - p["start"] for p in phases)
    biggest = max(sts, key=lambda s: s["run_s"], default=None)
    skew = 1.0
    if biggest and biggest["task_s"]:
        med = statistics.median(biggest["task_s"])
        skew = max(biggest["task_s"]) / med if med > 0 else 1.0
    return {
        "spark.job_s": job_s,
        "spark.driver_s": wall - job_s,
        "spark.executor_run_s": sum(s["run_s"] for s in sts),
        "spark.gc_s": sum(s["gc_s"] for s in sts),
        "spark.jobs": len(jobs),
        "spark.stages": len(sts),
        "spark.tasks": sum(s["tasks"] for s in sts),
        "spark.jobs_per_op": len(jobs_in(log, ops)) / max(1, len(ops)),
        "spark.task_skew": skew,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in sts),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in sts),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in sts),
    }


def jobs_in(log: dict, spans: list[dict]) -> list[dict]:
    """Jobs whose submission falls inside any of ``spans``."""
    out = []
    for j in log["jobs"]:
        for s in spans:
            if s["start"] <= j["start"] <= s["end"]:
                out.append(j)
                break
    return out
