"""Spans for the traced run and the Spark event-log rollup behind them.

A span is opened around each call into one layer of the program. It
records name, parent, start and end, sets the Spark job group to the
span's name (so every job the layer triggers is tagged with it) and
times the driver-side plan build separately from the action that
materializes the layer's output.

After the session stops, ``rollup_event_log`` reads the session's
uncompressed, non-rolling event log and sums executor CPU, GC,
shuffle, spill and Python-worker figures per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; the body returns nothing, but may set
        ``rec["rows_out"]``, ``rec["plan_s"]`` and other counts."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev_group = self.spans[parent]["name"] if parent is not None else None
        sc.setJobGroup(name, name)
        rec["start"] = self._now()
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev_group, prev_group)

    @contextmanager
    def plan(self, rec: dict):
        """Time a lazy builder call: adds to ``rec["plan_s"]``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            rec["plan_s"] = rec.get("plan_s", 0.0) + time.perf_counter() - t


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    out = {}
    for s in spans:
        covered = 0.0
        kids = sorted(
            (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
        )
        cur_s = cur_e = None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


_PY_ACCUMS = {
    "time to run Python workers": "py_worker_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def event_log_file(log_dir: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return paths[0]


def rollup_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU/run/GC seconds,
    shuffle read/write bytes, spill bytes, Python-worker time and
    bytes across the Arrow boundary."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(
            group,
            {
                "jobs": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "py_worker_ms": 0, "py_sent_bytes": 0,
                "py_returned_bytes": 0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "(none)"
                job_group[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
                acc(group)["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "(none)")
                a = acc(group)
                a["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for u in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    key = _PY_ACCUMS.get(u.get("Name"))
                    if key is not None:
                        a[key] += int(u.get("Update", 0) or 0)
    return out
