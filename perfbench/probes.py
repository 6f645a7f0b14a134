"""Measurements read from outside the engine: ``/proc`` and Spark's status
store. Nothing here imports the engine.

Process-tree CPU is the sum of per-process deltas between two snapshots of
this process and its descendants: the driver (this Python process), the
Spark JVM, and the pyspark daemon with its forked Python workers. Each
process counts ``utime + stime + cutime + cstime``, the last two holding
children it has waited for. The pyspark daemon ignores SIGCHLD, so the
kernel reaps its workers without adding their CPU to the daemon's
``cutime``; a worker's CPU is therefore seen only while the worker lives.
With worker reuse on (Spark's default) workers outlive a pass, and two
snapshots at the pass boundaries see them. ``CpuSampler`` also keeps the
last reading of every process that has exited, so a worker that starts and
exits between two boundary snapshots still counts.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces or parentheses; the fields after it do not.
    # Field k of proc(5) (1-based: 4 ppid, 14 utime .. 17 cstime,
    # 22 starttime) lands at index k - 2.
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return [comm] + raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} for ``root`` and every live descendant."""
    procs: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(int(st[2]), []).append(pid)
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(children.get(pid, ()))
    return tree


@dataclass
class CpuSplit:
    """CPU seconds of the process tree, by role."""

    driver: float = 0.0  # this Python process (py4j plan construction)
    jvm: float = 0.0  # the Spark JVM's own threads
    pyworker: float = 0.0  # the pyspark daemon and its Python workers

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker


# {(pid, starttime): (role, cumulative CPU seconds, reaped without a wait)}
Snapshot = dict[tuple[int, str], tuple[str, float, bool]]

_SIGCHLD_BIT = 1 << (17 - 1)


def _ignores_sigchld(pid: int) -> bool:
    """Whether ``pid`` ignores SIGCHLD: the kernel then reaps its children
    without a wait, and their CPU never reaches its ``cutime``."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) & _SIGCHLD_BIT)
    except OSError:
        pass
    return False


def cpu_snapshot(root: int | None = None) -> Snapshot:
    root = os.getpid() if root is None else root
    tree = _tree(root)
    jvms = {pid for pid, st in tree.items() if st[0] == "java"}
    # only a parent's SIGCHLD disposition matters; read it for parents only
    parents = {int(st[2]) for st in tree.values()}
    ignoring = {pid: _ignores_sigchld(pid) for pid in parents if pid in tree}
    snap: Snapshot = {}
    for pid, st in tree.items():
        cpu = sum(int(x) for x in st[12:16]) / _TICK
        if pid == root:
            role = "driver"
        elif pid in jvms:
            role = "jvm"
        else:
            role = "pyworker" if _under(pid, jvms, tree) else "driver"
        snap[(pid, st[20])] = (role, cpu, ignoring.get(int(st[2]), False))
    return snap


def _under(pid: int, ancestors: set[int], tree: dict[int, list[str]]) -> bool:
    while pid in tree:
        pid = int(tree[pid][2])
        if pid in ancestors:
            return True
    return False


def cpu_between(before: Snapshot, after: Snapshot) -> CpuSplit:
    """CPU used between two snapshots. A process only in ``after`` started
    in between, so all its CPU counts; one only in ``before`` has exited,
    and what it used after ``before`` is unknown (0 for an idle worker)."""
    split = CpuSplit()
    for key, (role, cpu, _) in after.items():
        used = cpu - before[key][1] if key in before else cpu
        setattr(split, role, getattr(split, role) + used)
    return split


class CpuSampler:
    """Snapshots the tree every ``interval`` seconds in a thread and keeps
    the last reading of each exited process that was reaped without a wait,
    so ``snapshot()`` still holds its CPU (at most ``interval`` is missed).
    A process whose parent waits for it is forgotten when it exits: its CPU
    moves into the parent's ``cutime``."""

    def __init__(self, interval: float = 0.1) -> None:
        self._interval = interval
        self._seen: Snapshot = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="cpu-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.snapshot()

    def snapshot(self) -> Snapshot:
        fresh = cpu_snapshot()
        with self._lock:
            self._seen = {k: v for k, v in self._seen.items() if v[2]}
            self._seen.update(fresh)
            return dict(self._seen)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat: steal
    is time this VM was ready to run but the host ran someone else."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live tree process's peak resident set (VmHWM), in MB."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [p for p in _tree(root) if p != root]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; written out once, when the run ends.

    Span ids are list indices; ``parent`` links a span to the one that
    caused it. A disabled tracer records nothing and costs one branch.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a child of the innermost open span; yields its id."""
        if not self.enabled:
            yield None
            return
        idx = self.add(name, time.perf_counter(), 0.0, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. from query progress) under
        ``parent``, by default the innermost open span; return its id."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


@dataclass
class JobStats:
    """Spark work between two status-store reads."""

    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0

    def __iadd__(self, o: "JobStats") -> "JobStats":
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))
        return self


class StatusStore:
    """Reads finished jobs from Spark's status store (no UI needed).

    Every read first drains the listener bus, so a job that has finished
    but whose end event is still queued is not missed or split across two
    reads. Jobs are attributed by id: one client runs one operation at a
    time, so every job with an id above the previous read's belongs to the
    operation in between — including jobs started from a builder's own
    thread pool or a streaming query's thread, which a job group misses.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last = self._max_job_id()
        self._counted: set[int] = set()  # a stage shared by two jobs counts once

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self._conv.asJava(self._sc.statusStore().jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def read(self) -> JobStats:
        """Stats of every job started since the previous read."""
        self._drain()
        store = self._sc.statusStore()
        stats = JobStats()
        last = self._last
        # newest first (the store lists jobs in descending id order)
        for j in self._conv.asJava(store.jobsList(None)):
            jid = j.jobId()
            if jid <= self._last:
                break
            last = max(last, jid)
            stats.jobs += 1
            stats.stages_skipped += j.numSkippedStages()
            for sid in self._conv.asJava(j.stageIds()):
                if sid in self._counted:
                    continue
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                self._counted.add(sid)
                stats.stages += 1
                stats.task_run_s += s.executorRunTime() / 1e3
                stats.task_cpu_s += s.executorCpuTime() / 1e9
                stats.shuffle_read_mb += s.shuffleReadBytes() / 2**20
                stats.shuffle_write_mb += s.shuffleWriteBytes() / 2**20
                stats.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                stats.gc_s += s.jvmGcTime() / 1e3
        self._last = last
        return stats
