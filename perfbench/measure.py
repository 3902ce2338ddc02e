"""Measurement helpers seen from outside the package: in-memory spans,
Spark event-log totals, process memory and summary statistics."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out once at exit.

    A disabled tracer records nothing, so the untraced run pays only a
    method call per layer boundary."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. a micro-batch from Spark's
        progress report), parented to the innermost open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id, **attrs})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        if self.enabled:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(self.spans, f)


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> "tuple[float, int]":
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is (the median below 20 samples)."""
    xs = sorted(xs)
    n = len(xs)
    pct = int(100 * (n - 10) / n) if n else 0
    if pct <= 50:
        return p50(xs), 50
    return xs[math.ceil(pct / 100 * n) - 1], pct


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ----------------------------------------------------------------- memory


def _children() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> "tuple[float, float, int]":
    """Peak resident memory (VmHWM) of the driver JVM, the sum over its
    Python daemon and workers, and how many of those there are. The
    worker count varies from run to run with task pipelining, so the
    JVM figure is the steady one."""
    kids = _children()
    todo, py = list(kids.get(jvm_pid, [])), []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        py.append(_vm_hwm_kb(pid))
    return _vm_hwm_kb(jvm_pid) / 1024, sum(py) / 1024, len(py)


# -------------------------------------------------------------- event log

_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


def _events(paths: "list[str]"):
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(paths: "list[str]") -> "list[dict]":
    """One record per finished task: its stage, the job's local
    properties, run time and byte counters."""
    job_props: "dict[int, dict]" = {}
    stage_job: "dict[int, int]" = {}
    tasks = []
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_props[ev["Job ID"]] = ev.get("Properties") or {}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            accs = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            sw = m.get("Shuffle Write Metrics", {})
            tasks.append({
                "stage": ev["Stage ID"],
                "props": job_props.get(stage_job.get(ev["Stage ID"]), {}),
                "duration_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "py_in": _num(accs.get(_PY_IN)),
                "py_out": _num(accs.get(_PY_OUT)),
                "py_run_ms": _num(accs.get("time to run Python workers")),
            })
    return tasks


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def find_event_log(log_dir: str, app_id: str) -> "list[str]":
    """The event-log files of one application: a single file, or the
    ``eventlog_v2_<app>`` directory of rolled files in order."""
    for name in os.listdir(log_dir):
        if app_id in name:
            path = os.path.join(log_dir, name)
            if not os.path.isdir(path):
                return [path]
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            return [os.path.join(path, f) for f in parts]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def stage_skew(tasks: "list[dict]", label: str) -> "tuple[float, str]":
    """Max over stages (with >= 2 tasks) of max / median task duration,
    and which ``label`` property and stage it was."""
    by_stage: "dict[int, list[dict]]" = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    best, where = 1.0, ""
    for sid, ts in by_stage.items():
        d = [t["duration_ms"] for t in ts]
        med = statistics.median(d)
        if len(d) >= 2 and med > 0 and max(d) / med > best:
            best = max(d) / med
            where = f"{ts[0]['props'].get(label, '?')}/stage{sid}"
    return best, where
