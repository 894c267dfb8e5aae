"""Outside-in layer timing: spans around calls into ``alp_spark``, Spark's
status-tracker counts per job group, event-log stage metrics, summed RSS
and a counting checkpointer."""

from __future__ import annotations

import glob
import json
import os
import platform
import threading
import time
from dataclasses import dataclass

# --- spans ----------------------------------------------------------------------------


@dataclass
class Span:
    """One call into a layer: wall time plus the Spark work it caused."""

    layer: str
    op: str
    group: str  # Spark job group the call ran under
    start: float  # epoch seconds (same clock as the event log)
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    supersteps: int = 0
    edges_per_superstep: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def key(self) -> str:
        return f"{self.layer}.{self.op}"


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran a task, tasks completed) for one job group,
    read from the status tracker right after the group's last job."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    seen = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            if s in seen:
                continue
            seen.add(s)
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


class Recorder:
    """Runs calls under their own job group and keeps their spans."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.pass_no = 0

    def call(self, layer: str, op: str, fn):
        group = f"{self.workload}/{self.pass_no}/{layer}.{op}"
        self.sc.setJobGroup(group, group)
        start = time.time()
        try:
            return fn()
        finally:
            end = time.time()
            self.sc.setJobGroup("bench/idle", "bench/idle")
            self.spans.append(Span(layer, op, group, start, end, *job_counts(self.sc, group)))

    @property
    def last(self) -> Span:
        return self.spans[-1]


# --- checkpoint wrapper ----------------------------------------------------------


class CountingCheckpointer:
    """Wraps a ``ParquetCheckpointer``: counts saves, their time and the
    bytes they wrote; every other attribute passes through."""

    def __init__(self, inner):
        self.inner = inner
        self.saves = 0
        self.save_s = 0.0
        self.bytes = 0

    def save(self, df, superstep, metrics=None, final=False):
        t0 = time.perf_counter()
        self.inner.save(df, superstep, metrics=metrics, final=final)
        self.save_s += time.perf_counter() - t0
        self.saves += 1
        path = os.path.join(self.inner.run_dir, f"superstep={superstep}")
        self.bytes += sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet"))
        )

    def __getattr__(self, name):
        return getattr(self.inner, name)


# --- memory ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
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


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int | None = None) -> set[int]:
    """A process and all its descendants (driver Python, the JVM it
    launched and the JVM's Python workers)."""
    kids = _children()
    out, todo = set(), [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Background sampler of the process tree's summed RSS.

    A process is counted only once it has been seen in two consecutive
    samples: a child between fork/vfork and exec shares its parent's
    memory, and counting it would add the parent's RSS a second time
    (seen as rare +1 GB spikes)."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = tree_pids()
        steady = (pids & self._prev) | {os.getpid()}
        self._prev = pids
        self.peak_mb = max(self.peak_mb, sum(_rss_kb(p) for p in steady) / 1024.0)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# --- event log --------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
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


def _group_record() -> dict:
    return {"jobs": [], "stages": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0}


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job and stage intervals (epoch s) and summed task
    metrics, from an uncompressed Spark event log."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and os.path.getsize(p) > 0)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    jobs_open: dict[int, tuple[str, float]] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, _group_record())

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                    jobs_open[ev["Job ID"]] = (group, ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerJobEnd":
                    group, t0 = jobs_open.pop(ev["Job ID"], ("", None))
                    if t0 is not None:
                        g(group)["jobs"].append((t0, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    if "Submission Time" in info and "Completion Time" in info:
                        g(group)["stages"].append(
                            (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    rec = g(stage_group.get(ev["Stage ID"], ""))
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def attribute(span: Span, rec: dict | None) -> dict:
    """Event-log breakdown of one span.

    ``driver_gap_s`` is the span's wall time during which no stage of its
    job group ran. Of that gap, the part inside a running job is
    scheduling and result handling; the part outside every job (planning,
    Python and py4j on the driver) is what no measured layer explains,
    reported as ``unattributed_s``.
    """
    rec = rec or _group_record()
    wall = span.seconds
    stage_s = _union(rec["stages"], span.start, span.end)
    job_s = _union(rec["jobs"] + rec["stages"], span.start, span.end)
    mb = 1024.0 * 1024.0
    return {
        "wall_s": wall,
        "stage_busy_s": stage_s,
        "executor_run_s": rec["run_ms"] / 1e3,
        "executor_cpu_s": rec["cpu_ns"] / 1e9,
        "gc_s": rec["gc_ms"] / 1e3,
        "shuffle_read_mb": rec["shuffle_read"] / mb,
        "shuffle_write_mb": rec["shuffle_write"] / mb,
        "spill_mb": rec["spill"] / mb,
        "driver_gap_s": max(wall - stage_s, 0.0),
        "unattributed_s": max(wall - job_s, 0.0),
        "attributed_frac": job_s / wall if wall > 0 else 1.0,
    }


# --- environment ---------------------------------------------------------------------------


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return "unavailable"


def env_record(spark) -> dict:
    """Versions and host state; reads system knobs, never writes them."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
        "thp_enabled": _read("/sys/kernel/mm/transparent_hugepage/enabled"),
        "thp_defrag": _read("/sys/kernel/mm/transparent_hugepage/defrag"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def loadavg() -> str:
    return _read("/proc/loadavg")
