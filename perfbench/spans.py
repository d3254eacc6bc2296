"""Spans, Spark job attribution and process sampling for the benchmark.

A span wraps one call into a layer of the engine. On the driver's main
thread each span runs its Spark jobs under a job group of its own, so
after the pass the jobs, their stages and the stage metrics (tasks,
executor CPU, shuffle, spill, output bytes) are read back from Spark's
status store, which keeps them with the UI off. Python worker CPU comes
from /proc: the workers are children of the driver JVM, and a worker
that exits hands its CPU to its parent's cumulative counters.

Spans live in memory and are summarised when the pass ends; nothing is
written while a span is open.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024.0 * 1024.0


# ---------------------------------------------------------------------------
# /proc helpers: the driver JVM and everything it forked (Python workers)
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """`root` and all of its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's descendants (the Python workers and their
    daemon), excluding the JVM's own threads."""
    total = 0
    for pid in process_tree(jvm_pid):
        if pid == jvm_pid:
            continue
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes count by
    their share, so workers forked from one daemon are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peaks of the memory of a process tree (the root's RSS plus its
    descendants' PSS) and of the root's RSS alone, sampled on a thread."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = self.peak_root = 0
        self._root_exe = _exe(root)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        root = rss_bytes(self.root)
        # a child the JVM is spawning shares the JVM's memory until it
        # execs, and until then its exe is still the JVM's binary; it is
        # not counted twice (counting it read the JVM's RSS twice in 2 of
        # 10 runs)
        total = root + sum(
            pss_bytes(p) for p in process_tree(self.root)
            if p != self.root and _exe(p) != self._root_exe
        )
        self.peak = max(self.peak, total)
        self.peak_root = max(self.peak_root, root)

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    groups: list[str] = field(default_factory=list)
    py_cpu_s: float = 0.0
    children_s: float = 0.0
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def busy_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.busy_s - self.children_s


JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Records spans for one traced pass and attributes Spark work to them.

    Spans opened on the driver's main thread set a job group; spans opened
    on another thread (a foreachBatch callback) record time only and nest
    under the innermost span the main thread has open."""

    def __init__(self):
        self.spark = None
        self.jvm_pid = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._counted_stages: set[int] = set()
        self._next_group = 0

    def bind(self, spark, jvm_pid) -> None:
        """Attach the session once it exists; spans before that record
        time only."""
        self.spark = spark
        self.jvm_pid = jvm_pid

    @contextmanager
    def span(self, name: str):
        # job groups are per thread; spans elsewhere, or with no session
        # yet, record time only
        on_main = (
            threading.current_thread() is threading.main_thread()
            and self.spark is not None
        )
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, time.perf_counter(), parent=parent)
            self.spans.append(sp)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        prev_group = None
        if on_main:
            sc = self.spark.sparkContext
            self._next_group += 1
            group = f"perfbench-{os.getpid()}-{self._next_group}"
            sp.groups.append(group)
            prev_group = sc.getLocalProperty(JOB_GROUP)
            sc.setJobGroup(group, name)
            cpu0 = worker_cpu_s(self.jvm_pid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if on_main:
                sp.py_cpu_s = worker_cpu_s(self.jvm_pid) - cpu0
                sc.setLocalProperty(JOB_GROUP, prev_group)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self._stack.remove(idx)
                if parent is not None:
                    self.spans[parent].children_s += sp.busy_s

    def wrap(self, module, attr: str, name: str):
        """Replace module.attr by a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    # -- attribution -------------------------------------------------------

    def collect(self, first: int = 0) -> None:
        """Read job and stage metrics for spans[first:] from the status
        store. Call once the spans' jobs have finished."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in self.spans[first:]:
            if sp.stats:
                continue
            jobs = sorted(
                j for g in sp.groups for j in tracker.getJobIdsForGroup(g)
            )
            st = dict.fromkeys(
                ("jobs", "tasks", "cpu_s", "shuffle_mb",
                 "spill_mb", "written_mb", "written_bytes"), 0.0)
            st["jobs"] = float(len(jobs))
            for j in jobs:
                job = store.job(j)
                stage_ids = [int(x) for x in str(job.stageIds().mkString(",")).split(",") if x]
                for sid in stage_ids:
                    if sid in self._counted_stages:
                        continue
                    try:
                        stage = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    if str(stage.status()) not in ("COMPLETE", "FAILED"):
                        continue
                    self._counted_stages.add(sid)
                    st["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                    st["cpu_s"] += stage.executorCpuTime() / 1e9
                    st["shuffle_mb"] += stage.shuffleWriteBytes() / _MB
                    st["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / _MB
                    st["written_bytes"] += stage.outputBytes()
            st["written_mb"] = st["written_bytes"] / _MB
            st["py_cpu_s"] = sp.py_cpu_s
            sp.stats = st

    def inclusive(self, idx: int) -> dict[str, float]:
        """A span's stats plus those of all spans nested inside it."""
        total = dict(self.spans[idx].stats)
        for j, sp in enumerate(self.spans):
            if j != idx and self._is_under(j, idx):
                for k, v in sp.stats.items():
                    if k != "py_cpu_s":  # /proc CPU is already inclusive
                        total[k] = total.get(k, 0.0) + v
        return total

    def _is_under(self, j: int, idx: int) -> bool:
        p = self.spans[j].parent
        while p is not None:
            if p == idx:
                return True
            p = self.spans[p].parent
        return False


class NullTracer:
    """Stands in for Tracer in untraced runs: spans cost one branch."""

    spans: list = []

    @contextmanager
    def span(self, name: str):
        yield None

    def bind(self, spark, jvm_pid) -> None:
        pass

    def collect(self, first: int = 0) -> None:
        pass


NULL_TRACER = NullTracer()


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that keeps at least
    ten samples beyond it. With ten or fewer samples no percentile does,
    and the maximum is reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    # rank n-11 (0-based) leaves exactly ten samples above it
    pct = 100.0 * (n - 10) / n
    return xs[n - 11], pct
