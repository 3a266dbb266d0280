"""Spans, Spark job attribution and process memory — all from outside.

The benchmark wraps each call it makes into a layer's public function with
a span. In a traced run every span also sets the Spark job group (group =
operation id, description = span name) and the session writes an
uncompressed, non-rolling event log. After the session stops, every job in
the log is attributed to the innermost span open at its submission time;
jobs submitted outside any span (or from threads that do not inherit the
group, such as Pregel's background snapshot writer) are still placed by
time, and jobs that fall in no span are counted as untagged.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Start tagging Spark jobs with the span stack (traced runs only)."""
        if self.enabled:
            self._sc = sc

    def _tag(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["op"], rec["name"])

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op or (parent["op"] if parent else name),
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each span name not covered by its child spans, summed per
    name. Children of one span never overlap (one client thread)."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _task_numbers(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "result_bytes": tm.get("Result Size", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
    }


TASK_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "result_bytes",
               "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
               "output_bytes")


def attribute(events: list[dict], spans: list[dict]) -> dict:
    """Place every job of an event log in the innermost span open at its
    submission time and sum its stages' task metrics there.

    Returns ``{"jobs_total", "untagged_jobs", "group_mismatch",
    "by_span": {span_id: {"jobs", "stages", "tasks", <TASK_FIELDS>}}}``.
    """
    # job → span by submission time (event-log times are epoch ms)
    windows = [(math.floor(s["start"] * 1e3), math.ceil(s["end"] * 1e3), s)
               for s in spans]
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    mismatch = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid, t = ev["Job ID"], ev["Submission Time"]
        inner = None
        for lo, hi, s in windows:
            if lo <= t <= hi and (inner is None or s["start"] >= inner["start"]):
                inner = s
        job_span[jid] = inner["id"] if inner else None
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group is not None and (inner is None or group != inner["op"]):
            mismatch += 1
        for sid in ev.get("Stage IDs", []):
            stage_job.setdefault(sid, jid)

    by_span: dict = {}

    def bucket(span_id):
        return by_span.setdefault(span_id, {"jobs": 0, "stages": 0, "tasks": 0,
                                            **{f: 0.0 for f in TASK_FIELDS}})

    for jid, sid in job_span.items():
        bucket(sid)["jobs"] += 1
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            jid = stage_job.get(info["Stage ID"])
            if jid is not None and info.get("Number of Tasks", 0) > 0:
                bucket(job_span[jid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            b = bucket(job_span[jid])
            b["tasks"] += 1
            for k, v in _task_numbers(ev.get("Task Metrics") or {}).items():
                b[k] += v
    return {"jobs_total": len(job_span),
            "untagged_jobs": by_span.get(None, {}).get("jobs", 0),
            "group_mismatch": mismatch,
            "by_span": by_span}


def op_totals(attr: dict, spans: list[dict]) -> dict[str, dict]:
    """Sum a span attribution over each operation id (a root span and all
    spans that share its ``op``)."""
    span_op = {s["id"]: s["op"] for s in spans}
    out: dict[str, dict] = {}
    for sid, b in attr["by_span"].items():
        if sid is None:
            continue
        acc = out.setdefault(span_op[sid], {k: 0 for k in b})
        for k, v in b.items():
            acc[k] += v
    return out


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _proc_children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed peak resident set (``VmHWM``) of a process tree — the Spark
    driver JVM and the Python workers it forked — read from /proc; psutil
    is not used."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids(root_pid)) / 1024.0
