"""Spans around calls into the program, and their Spark cost.

A span records kind, start, end, parent and the id of the top-level
operation it belongs to. Spans live in memory until the run ends. In a
traced run each span also sets ``spark.jobGroup.id`` to its own id, so the
jobs, stages and tasks in Spark's event log can be attributed to the span
that caused them; ``attribute`` does that after the session has stopped.
"""

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

#: span kinds whose Spark counters and driver self time are reported
SPAN_KINDS = ("search", "build", "append", "delete", "merge", "warm",
              "operator")

#: per-layer Spark counters, named spark.<counter>.<span kind>
SPARK_COUNTERS = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "jvm_gc_ms", "input_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "result_bytes")


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, kind: str, name: str = ""):
        parent = self._stack[-1] if self._stack else None
        sid = f"ys-{next(self._ids)}"
        rec = {"id": sid, "kind": kind, "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else sid}
        self._stack.append(rec)
        if self.enabled:
            self.sc.setJobGroup(sid, kind)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["kind"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    return files[0]


def _task_counters(m: dict) -> dict:
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    return {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "jvm_gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "result_bytes": m.get("Result Size", 0),
    }


def parse_event_log(path: str) -> tuple[dict, dict]:
    """→ (jobs by group: [(submit_s, end_s)], counters by group)."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    counters: dict[str, dict] = {}

    def bucket(group):
        return counters.setdefault(group, {c: 0.0 for c in SPARK_COUNTERS})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"group": group,
                                     "submit": e["Submission Time"] / 1000.0,
                                     "end": None}
                bucket(group)["jobs"] += 1
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_group[info["Stage ID"]] = (
                    e.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                b = bucket(group)
                b["tasks"] += 1
                for k, v in _task_counters(e.get("Task Metrics") or {}).items():
                    b[k] += v
    by_group: dict[str, list] = {}
    for j in jobs.values():
        if j["end"] is not None:
            by_group.setdefault(j["group"], []).append((j["submit"], j["end"]))
    return by_group, counters


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[dict], log_path: str) -> dict:
    """Per-kind driver self time and Spark counters for SPAN_KINDS.

    Self time is a span's wall time minus the part covered by its own
    Spark jobs or by its child spans. Counters are means per span of the
    kind; a kind with no spans reports 0."""
    jobs, counters = parse_event_log(log_path)
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for kind in SPAN_KINDS:
        ks = [s for s in spans if s["kind"] == kind]
        selfs = []
        for s in ks:
            busy = jobs.get(s["id"], []) + children.get(s["id"], [])
            selfs.append(1000.0 * max(
                0.0, s["wall_s"] - _covered(busy, s["start"], s["end"])))
        out[f"driver.self_ms.{kind}"] = statistics.median(selfs) if selfs else 0.0
        for c in SPARK_COUNTERS:
            tot = sum(counters.get(s["id"], {}).get(c, 0.0) for s in ks)
            out[f"spark.{c}.{kind}"] = tot / len(ks) if ks else 0.0
    return out
