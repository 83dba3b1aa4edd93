"""Measurement plumbing: process-tree CPU and memory from /proc, layer
spans tagged as Spark job groups, and a stdlib rollup of Spark's
uncompressed event log by job group.

Executor CPU time in Spark's task metrics covers JVM threads only, so
Python-worker CPU is read from /proc at span boundaries instead: the
benchmark process, the driver JVM it launches and the Python workers
under that JVM form one process tree.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- /proc


def _read_stat(pid: int):
    """(ppid, comm, cpu_s incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at stat field 3 (state): utime is field 14
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return int(f[1]), comm, (utime + stime + cutime + cstime) / _CLK


def process_tree(root: int) -> dict[int, tuple[str, float]]:
    """{pid: (comm, cpu_s)} for ``root`` and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children = defaultdict(list)
    for pid, st in stats.items():
        children[st[0]].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def split_cpu(tree: dict[int, tuple[str, float]], root: int) -> dict[str, float]:
    """CPU seconds by process class: the benchmark's own Python process
    (``driver``), JVMs (``jvm``) and every other descendant — the
    PySpark daemon and its workers (``py``)."""
    out = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
    for pid, (comm, cpu) in tree.items():
        out[_process_class(pid, comm, root)] += cpu
    return out


def _process_class(pid: int, comm: str, root: int) -> str:
    return "driver" if pid == root else "jvm" if comm == "java" else "py"


def cpu_snapshot() -> dict[str, float]:
    root = os.getpid()
    return split_cpu(process_tree(root), root)


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks over all CPUs since boot, from
    /proc/stat: the share of time the hypervisor ran other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n times, so summing it over the forked Python
    workers does not count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakPss:
    """Samples PSS over the process tree on a background thread while in
    use as a context manager. ``peak_python_mb`` is the peak of the
    Python side (the benchmark process plus the PySpark workers);
    ``peak_by_class`` holds each class's own peak. The JVM is sampled
    only on entry and exit: reading a large JVM's ``smaps_rollup`` takes
    its memory-map lock, so sampling it while it works would slow it.
    ``cpu_s`` is the CPU the sampling thread has used so far: it runs
    inside the benchmark process, so callers subtract it from that
    process's CPU to keep the instrument's cost out of their figures."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak_python_mb = 0.0
        self.peak_by_class = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, jvm: bool = False) -> None:
        by_class = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
        for pid, (comm, _) in process_tree(self.root).items():
            cls = _process_class(pid, comm, self.root)
            if jvm or cls != "jvm":
                by_class[cls] += _pss_bytes(pid) / 2**20
        self.peak_python_mb = max(self.peak_python_mb, by_class["driver"] + by_class["py"])
        for k, v in by_class.items():
            self.peak_by_class[k] = max(self.peak_by_class[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self._sample()
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakPss":
        self._sample(jvm=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(jvm=True)


# --------------------------------------------------------------- spans


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    cpu: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Each span tags the Spark jobs launched
    inside it with its name as the job group, and carries the CPU delta
    of the process tree (``cpu``) over its interval."""

    def __init__(self, spark=None, trace_id: str = ""):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def set_job_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", name)
        sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.set_job_group(name)
        cpu0 = cpu_snapshot()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu = cpu_delta(cpu0, cpu_snapshot())
            self._stack.pop()
            self.set_job_group(self.current() or None)

    def current(self) -> str:
        return self.spans[self._stack[-1]].name if self._stack else ""

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by child spans."""
        sp = self.spans[idx]
        covered, cursor = 0.0, sp.start
        for c in sorted(self.children(idx), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return sp.wall_s - covered

    def to_json(self) -> list[dict]:
        return [
            {
                "trace": self.trace_id, "id": i, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "cpu": s.cpu,
            }
            for i, s in enumerate(self.spans)
        ]


# ------------------------------------------------------ Spark event log


def _new_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_memory_bytes": 0, "spill_disk_bytes": 0, "task_skew": 0.0,
    }


def rollup_event_log(path: str) -> dict[str, dict]:
    """Per job group totals from one uncompressed Spark event log.

    Jobs are attributed to their ``spark.jobGroup.id`` property (jobs
    without one land in ``""``); stages to the first job that lists
    them, tasks to their stage. ``task_skew`` is the largest task
    duration over the median one, in the group's longest stage
    (first launch to last finish), since that stage sets the layer's
    time."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[tuple[int, int]]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid, "")]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                launch, finish = info["Launch Time"], info["Finish Time"]
                stage_tasks[sid].append((launch, finish))
                g["tasks"] += 1
                g["task_s"] += (finish - launch) / 1e3
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spill_memory_bytes"] += m.get("Memory Bytes Spilled", 0)
                g["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    longest: dict[str, tuple[int, int]] = {}
    for sid, tasks in stage_tasks.items():
        g = stage_group.get(sid, "")
        wall = max(f for _, f in tasks) - min(s for s, _ in tasks)
        if g not in longest or wall > longest[g][0]:
            longest[g] = (wall, sid)
    for g, (_, sid) in longest.items():
        durations = [f - s for s, f in stage_tasks[sid]]
        # durations are whole milliseconds; floor the median at 1 ms
        groups[g]["task_skew"] = max(durations) / max(statistics.median(durations), 1)
    return dict(groups)
