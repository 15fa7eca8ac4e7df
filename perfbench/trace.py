"""Spans, Spark event-log parsing and process-memory sampling.

A span is recorded by the benchmark around one call into the library.  Each
span tags the Spark jobs it launches with ``setJobGroup(<span id>, <name>)``,
so the event log written by a traced run attributes every job and stage to
exactly one span.  Spans are kept in memory and joined to the event log after
the traced Spark context has stopped (the log is complete only then).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage scopes that run Python (pandas UDF operators)
_PYTHON_SCOPES = ("InPandas", "InArrow", "EvalPython")


@dataclass
class Span:
    sid: str
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    wall: float
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``sc`` is given; otherwise ``span`` only yields a
    scratch dict, so untraced runs execute the same code path."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        extra: dict = {}
        if self.sc is None:
            yield extra
            return
        sid = f"s{len(self.spans)}"
        self.sc.setJobGroup(sid, name)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield extra
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(sid, name, start, wall, extra))


# --- event log ---------------------------------------------------------------


@dataclass
class Job:
    jid: int
    group: str | None
    sql_id: str | None
    start: float  # epoch seconds
    end: float = 0.0


@dataclass
class Stage:
    group: str | None
    job: int = -1  # the first job that lists the stage, i.e. the one that ran it
    wall: float = 0.0
    scopes: tuple[str, ...] = ()
    metrics: dict = field(default_factory=dict)


def _log_files(log_dir: str) -> list[str]:
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]

    def order(path: str):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage], dict[str, str]]:
    """(jobs by id, completed stages by id, physical plan text by SQL
    execution id) from an uncompressed Spark event log directory."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    plans: dict[str, str] = {}
    stage_job: dict[int, int] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    p = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        p.get("spark.jobGroup.id"),
                        p.get("spark.sql.execution.id"),
                        e["Submission Time"] / 1e3,
                    )
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageSubmitted":
                    p = e.get("Properties") or {}
                    stages[e["Stage Info"]["Stage ID"]] = Stage(p.get("spark.jobGroup.id"))
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], Stage(None))
                    st.wall += (si["Completion Time"] - si["Submission Time"]) / 1e3
                    st.scopes = tuple(
                        sorted({json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")})
                    )
                    for a in si.get("Accumulables", []):
                        name = a["Name"]
                        if name.startswith("internal.metrics."):
                            st.metrics[name[17:]] = st.metrics.get(name[17:], 0) + int(a["Value"])
                elif ev.endswith("SQLExecutionStart"):
                    plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
    for sid, st in stages.items():
        st.job = stage_job.get(sid, -1)
    return jobs, stages, plans


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_costs(span: Span, jobs: list[Job], stages: list[Stage]) -> dict[str, float]:
    """The per-span figures every layer reports."""
    m = lambda key: sum(s.metrics.get(key, 0) for s in stages)  # noqa: E731
    # event-log times have millisecond resolution: clip at 0
    serial = span.wall - _covered([(j.start, j.end) for j in jobs], span.start, span.start + span.wall)
    return {
        "jobs": len(jobs),
        "exec_cpu_s": m("executorCpuTime") / 1e9,
        "gc_s": m("jvmGCTime") / 1e3,
        "shuffle_write_bytes": m("shuffle.write.bytesWritten"),
        "spill_bytes": m("diskBytesSpilled"),
        "driver_serial_s": max(serial, 0.0),
    }


def stage_kind(stage: Stage) -> str:
    """What a query stage does: Python evaluation is scoring (decode +
    score), a window is the top-k merge, input bytes is the index scan."""
    if any(k in s for s in stage.scopes for k in _PYTHON_SCOPES):
        return "score"
    if "Window" in stage.scopes:
        return "merge"
    if stage.metrics.get("input.bytesRead", 0) > 0:
        return "scan"
    return "other"


def job_kind(job: Job, plans: dict[str, str], lexicon_path: str) -> str:
    """A job launched by a top-k call: a lexicon df lookup, the metadata
    (per-bucket norm extremes) aggregate, or a scoring pass."""
    plan = plans.get(job.sql_id or "", "")
    if lexicon_path in plan:
        return "lexicon"
    if any(k in plan for k in _PYTHON_SCOPES):
        return "score"
    return "meta"


def group_by_span(spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]):
    """{span id: (jobs, stages)} joined on the job group."""
    by: dict[str, tuple[list[Job], list[Stage]]] = {s.sid: ([], []) for s in spans}
    for j in jobs.values():
        if j.group in by:
            by[j.group][0].append(j)
    for st in stages.values():
        if st.group in by:
            by[st.group][1].append(st)
    return by


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


# --- process memory ----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from /proc/stat: CPU time the hypervisor gave
    to other guests while this host's CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class MemSampler:
    """Peak resident memory (VmHWM) of this process, the JVM and the Python
    workers.  VmHWM is each process's own high-water mark, so sampling only
    has to see every process once before it exits.  ``reset`` clears every
    high-water mark, so a peak covers the timed window and not the set-up."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak_kb: dict[int, tuple[str, int]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            for pid in [os.getpid(), *descendants(os.getpid())]:
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")  # reset the peak RSS to the current RSS
                except OSError:
                    pass
            self.peak_kb = {}

    def sample(self) -> None:
        with self._lock:
            for pid in descendants(os.getpid()):
                cmd = _cmdline(pid)
                kind = "jvm" if "java" in cmd.split(" ", 1)[0] else "py_worker" if "pyspark" in cmd else None
                if kind is None:
                    continue
                hwm = _status_kb(pid, "VmHWM")
                if hwm > self.peak_kb.get(pid, ("", 0))[1]:
                    self.peak_kb[pid] = (kind, hwm)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        mb = lambda kind: sum(kb for k, kb in self.peak_kb.values() if k == kind) / 1024  # noqa: E731
        return {
            "driver_mb": _status_kb(os.getpid(), "VmHWM") / 1024,
            "jvm_mb": mb("jvm"),
            "py_worker_mb": mb("py_worker"),
        }
