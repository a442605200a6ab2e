"""Tracing for the traced run: in-memory spans, layer patches, the Spark
event-log fold, and Python-worker peak memory from /proc.

Spans are recorded from the benchmark's own code, around calls into each
layer's public functions; nothing inside the program is changed on disk.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory, written once."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, name, time.perf_counter(), None, parent])
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid][3] = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.open(name)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.close(sid)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``obj.attr`` by a traced wrapper for each (obj, attr,
        span name) while the block runs."""
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        for obj, attr, name in targets:
            setattr(obj, attr, self.wrap(getattr(obj, attr), name))
        try:
            yield self
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def total(self, name: str, parent_name: str | None = None) -> float:
        """Summed duration of closed spans called ``name`` (optionally only
        those whose parent span is called ``parent_name``)."""
        return sum(
            s[3] - s[2]
            for s in self.spans
            if s[1] == name
            and s[3] is not None
            and (parent_name is None or (s[4] is not None and self.spans[s[4]][1] == parent_name))
        )

    def count(self, name: str) -> int:
        return sum(s[1] == name for s in self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["id", "name", "start", "end", "parent"], "spans": self.spans}, f
            )


# -- Spark event log ---------------------------------------------------------

_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def _event_lines(log_dir: str):
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for p in files:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description: task totals folded from SparkListenerTaskEnd.

    Times are summed over tasks (task-seconds). ``task_skew`` is max ÷
    median run time over the tasks that ran Python (the extraction
    stage). ``shuffle_write_mb`` counts only SQL executions that ran
    Python, i.e. the extraction plan's own exchanges, not the row-count
    aggregations around it."""
    stage_of: dict[int, tuple[str, str]] = {}
    tasks = defaultdict(list)
    for e in _event_lines(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = (props.get("spark.job.description") or "", props.get("spark.sql.execution.id") or "")
            for sid in e.get("Stage IDs", []):
                stage_of[sid] = key
        elif kind == "SparkListenerTaskEnd":
            desc, exec_id = stage_of.get(e["Stage ID"], ("", ""))
            tm = e.get("Task Metrics") or {}
            acc = {
                a["Name"]: float(a["Update"])
                for a in e["Task Info"].get("Accumulables", [])
                if "Update" in a and a.get("Name")
            }
            tasks[desc].append(
                {
                    "exec": exec_id,
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_b": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "python": _PY_RUN in acc,
                    "py_init_ms": acc.get(_PY_START, 0.0) + acc.get(_PY_INIT, 0.0),
                    "py_run_ms": acc.get(_PY_RUN, 0.0),
                    "sent_b": acc.get(_PY_SENT, 0.0),
                    "back_b": acc.get(_PY_BACK, 0.0),
                }
            )
    out = {}
    for desc, ts in tasks.items():
        py = [t for t in ts if t["python"]]
        py_execs = {t["exec"] for t in py}
        runs = [t["run_ms"] for t in py]
        med = statistics.median(runs) if runs else 0
        out[desc] = {
            "tasks": len(ts),
            "task_run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "task_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "python_worker_init_s": sum(t["py_init_ms"] for t in ts) / 1e3,
            "python_worker_run_s": sum(t["py_run_ms"] for t in ts) / 1e3,
            "to_python_mb": sum(t["sent_b"] for t in ts) / 1e6,
            "from_python_mb": sum(t["back_b"] for t in ts) / 1e6,
            "task_skew": max(runs) / med if med else 0.0,
            "shuffle_write_mb": sum(t["shuffle_b"] for t in ts if t["exec"] in py_execs) / 1e6,
        }
    return out


# -- Python worker memory ----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _worker_pids():
    """This process's PySpark Python-worker descendants (daemon included)."""
    kids = _children()
    todo = list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        todo.extend(kids[pid])
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            yield pid


def reset_worker_peaks() -> None:
    """Restart every live worker's VmHWM from its current resident set, so
    a later reading covers only what ran after this call."""
    for pid in _worker_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among the Python workers."""
    peak = 0.0
    for pid in _worker_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak
