"""Spans, Spark event-log totals, process memory and host facts.

Everything here runs in the benchmark process, outside the program under
test: spans are opened around calls into the program's public modules, and
engine numbers are read back from the Spark event log after the session
stops.  Nothing in this module imports pyspark, so the self-tests run
without a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder.  `timed` always measures a wall; with
    tracing on it also records a span and labels the Spark jobs the body
    submits with the span name."""

    run_id: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    label: object = None          # callable(str | None) that sets the job description
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def timed(self, name: str, walls: dict | None = None):
        t0 = time.time()
        sid = None
        if self.enabled:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, t0, t0, parent, self.run_id, sid))
            self._stack.append(sid)
            if self.label:
                self.label(name)
        try:
            yield
        finally:
            t1 = time.time()
            if walls is not None:
                walls.setdefault(name, []).append(t1 - t0)
            if sid is not None:
                self.spans[sid].end = t1
                self._stack.pop()
                if self.label:
                    self.label(self.spans[self._stack[-1]].name if self._stack else None)

    def dump(self, path: str) -> None:
        """Write the spans (with self time) when the run ends."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": s.run_id, "id": s.sid, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self_s": selfs[s.sid],
                }) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals` (overlaps
    counted once, parts outside [lo, hi] ignored)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


# ------------------------------------------------------------ event log

PY_WORKER_METRIC = "time to run Python workers"


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _accum(info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") == name
    )


def task_rows(events: list[dict]) -> list[dict]:
    """One flat row per finished task."""
    rows = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        rows.append({
            "stage": (e.get("Stage ID"), e.get("Stage Attempt ID")),
            "launch": info.get("Launch Time", 0) / 1000.0,
            "finish": info.get("Finish Time", 0) / 1000.0,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
            "shuffle_read": read,
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0) + read,
            # SQL metric of every Arrow/pandas UDF node, in ms
            "py_worker_s": _accum(info, PY_WORKER_METRIC) / 1000.0,
        })
    return rows


def engine_totals(tasks: list[dict], intervals: list[tuple[float, float]],
                  cores: int, n_jobs: int) -> dict[str, float]:
    """spark.* totals over the tasks launched inside `intervals` (the timed
    operations of one session)."""
    sel = [t for t in tasks if any(a <= t["launch"] <= b for a, b in intervals)]
    wall = sum(b - a for a, b in intervals)
    task_s = sum(t["run_s"] for t in sel)
    by_stage: dict = {}
    for t in sel:
        by_stage.setdefault(t["stage"], []).append(t["in_bytes"])
    skew = 1.0
    for sizes in by_stage.values():
        med = statistics.median(sizes)
        if len(sizes) >= 2 and med > 0:
            skew = max(skew, max(sizes) / med)
    return {
        "spark.jobs": n_jobs,
        "spark.tasks": len(sel),
        "spark.task_s": task_s,
        "spark.core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in sel),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in sel),
        "spark.fetch_wait_s": sum(t["fetch_wait_s"] for t in sel),
        "spark.gc_s": sum(t["gc_s"] for t in sel),
        "spark.spill_bytes": sum(t["spill"] for t in sel),
        "spark.py_worker_s": sum(t["py_worker_s"] for t in sel),
        "spark.task_bytes_max_over_median": skew,
    }


def jobs_in(events: list[dict], intervals: list[tuple[float, float]]) -> tuple[int, int]:
    """(jobs started inside `intervals`, of which labelled)."""
    n = labelled = 0
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        t = e.get("Submission Time", 0) / 1000.0
        if any(a <= t <= b for a, b in intervals):
            n += 1
            labelled += bool((e.get("Properties") or {}).get("spark.job.description"))
    return n, labelled


def span_totals(tasks: list[dict], span: Span) -> dict[str, float]:
    sel = [t for t in tasks if span.start <= t["launch"] <= span.end]
    return {
        "task_s": sum(t["run_s"] for t in sel),
        "shuffle_bytes": sum(t["shuffle_write"] for t in sel),
        "py_worker_s": sum(t["py_worker_s"] for t in sel),
    }


def event_logs(log_dir: str) -> list[str]:
    """Event-log files under `log_dir`, oldest application first.  Spark 4
    writes rolling logs: one eventlog_v2_<app> directory per application
    holding events_<n>_<app> parts."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime):
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            out.append(app)
    return out


# ------------------------------------------------------------ memory

def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: the ppid follows the LAST ')'
        rest = data[data.rindex(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm(root_pid: int | None = None) -> dict[str, float]:
    """VmHWM (peak resident set, MB) per process name, summed over this
    process and every descendant: the JVM and the Python worker daemon
    with its workers."""
    root_pid = root_pid or os.getpid()
    kids = children_map()
    todo, out = [root_pid], {}
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + _status_kb(p, "VmHWM") / 1024.0
    return out


# ------------------------------------------------------------ host facts

def throttle_probe() -> float:
    """Fixed single-thread numpy work unit, a copy of bench.py's probe
    (~1.45 s on a rested host of the 32-core rounds): a slow reading marks
    a throttled or contended host."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
              "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    import numpy as np

    a = np.random.RandomState(0).randn(600, 600)
    b = a.copy()
    t0 = time.time()
    for _ in range(60):
        b = b @ a
        b *= 1e-3
    return time.time() - t0


def git_sha(root: str) -> str:
    """HEAD of `root` read from .git without running git; 'unknown' when
    the tree is not a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(root, ".git", name)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"
