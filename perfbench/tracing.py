"""Measurement helpers for the sketch benchmark: in-memory spans, Spark
event-log reading, peak-RSS sampling and the run record.

Spans are recorded from the benchmark's own code around each public call
into the library; nothing inside the library is instrumented. Each span
carries the Spark local property ``perfbench.span`` while it is open, so
the jobs it triggers can be tied back to it through the event log.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROP = "perfbench.span"

# SQL metric display names (as they appear in task accumulables) -> key
_SQL_METRICS = {
    "scan time": "scan_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    iteration: int
    t0: float
    t1: float
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans kept in memory. A disabled tracer only runs the body."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self.sc.setJobDescription(f"{layer}:{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(self._stack[-1]) if self._stack else None)
            self.sc.setJobDescription(None)
            self.spans.append(Span(sid, parent, name, layer, self.iteration, t0, t1))

    def iteration_spans(self, it: int) -> list[Span]:
        return [s for s in self.spans if s.iteration == it]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    out = {s.sid: s.dur for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.dur
    return out


class EventLog:
    """Incremental reader of this application's (uncompressed, unrolled)
    Spark event log. ``collect(job_ids)`` reads until every given job has
    ended, then returns per-job and per-stage task aggregates."""

    def __init__(self, log_dir: str, app_id: str):
        self.log_dir = log_dir
        self.app_id = app_id
        self._fh = None
        self._buf = ""
        self.job_span: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.jobs_done: set[int] = set()
        self.stage_tasks: dict[int, list[dict]] = {}

    def _open(self):
        if self._fh is None:
            paths = glob.glob(os.path.join(self.log_dir, self.app_id + "*"))
            if paths:
                self._fh = open(paths[0], "r", encoding="utf-8")
        return self._fh

    def _pump(self) -> None:
        fh = self._open()
        if fh is None:
            return
        self._buf += fh.read()
        *lines, self._buf = self._buf.split("\n")
        for line in lines:
            if line:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.job_span[jid] = (e.get("Properties") or {}).get(SPAN_PROP)
            self.job_stages[jid] = list(e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            self.jobs_done.add(e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            task = {
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
            }
            for acc in info.get("Accumulables", []):
                key = _SQL_METRICS.get(acc.get("Name"))
                if key is not None:
                    task[key] = task.get(key, 0) + int(acc.get("Update", 0))
            self.stage_tasks.setdefault(e["Stage ID"], []).append(task)

    def collect(self, job_ids: list[int], timeout: float = 20.0) -> dict:
        """Aggregates over the tasks of ``job_ids``, per span id and in
        total; waits for the jobs' end events to be flushed."""
        deadline = time.monotonic() + timeout
        while True:
            self._pump()
            if set(job_ids) <= self.jobs_done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        missing = sorted(set(job_ids) - self.jobs_done)
        total = _TaskAgg()
        per_span: dict[str, _TaskAgg] = {}
        seen: set[int] = set()
        for jid in job_ids:
            span = self.job_span.get(jid)
            for st in self.job_stages.get(jid, []):
                if st in seen:  # a stage reused by a later job (skipped)
                    continue
                seen.add(st)
                tasks = self.stage_tasks.get(st, [])
                total.add_stage(tasks)
                per_span.setdefault(span, _TaskAgg()).add_stage(tasks)
        return {
            "total": total.summary(),
            "per_span": {k: v.summary() for k, v in per_span.items()},
            "missing_jobs": missing,
        }


class _TaskAgg:
    def __init__(self):
        self.sums: dict[str, int] = {}
        self.tasks = 0
        self.skew = 0.0
        self.skew_max_ms = -1

    def add_stage(self, tasks: list[dict]) -> None:
        for t in tasks:
            self.tasks += 1
            for k, v in t.items():
                self.sums[k] = self.sums.get(k, 0) + v
        # skew of the stage whose slowest task is the slowest seen
        if len(tasks) >= 2:
            runs = [t["run_ms"] for t in tasks]
            top = max(runs)
            if top > self.skew_max_ms:
                self.skew_max_ms = top
                self.skew = top / max(statistics.median(runs), 1)

    def summary(self) -> dict:
        s = dict(self.sums)
        s["tasks"] = self.tasks
        s["task_skew"] = self.skew if self.skew_max_ms >= 0 else 1.0
        return s


class RssSampler:
    """Peak of the summed resident set of this process and all of its
    descendants (the driver JVM and its Python workers), sampled from
    /proc on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        root = os.getpid()
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
            todo.extend(children.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.sample())


def host_state() -> dict:
    """1-min loadavg, free memory and CPU jiffies (total and stolen by
    the hypervisor), for co-tenant visibility."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) // 1024
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "loadavg_1m": load1,
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "cpu_jiffies": sum(cpu),
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
    }


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor took between two host_state()s."""
    total = after["cpu_jiffies"] - before["cpu_jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / max(total, 1)


def run_record(root: str, args, cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": len(os.sched_getaffinity(0)),
        "task_slots": cores,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_rev": git_rev(root),
        "before": host_state(),
    }


def git_rev(root: str) -> str:
    """HEAD's commit id, or 'unknown' outside a git checkout."""
    # the ceiling keeps git from reporting a repository above the checkout
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, env=env, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def span_dicts(spans: list[Span]) -> list[dict]:
    return [asdict(s) for s in spans]
