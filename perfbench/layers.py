"""Per-layer tracing for the kgspark benchmark.

A layer is a labelled span of driver wall time. Every Spark job that
starts inside a span carries the span's job group, so the span's task
metrics can be read back afterwards from the driver's status store,
which Spark keeps even with the UI disabled. Nothing here changes what
the engine runs: labels are thread-local properties that Spark only
records.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ---------------------------------------------------------------- memory
def _processes() -> dict[int, tuple[int, str]]:
    """Every live process: pid -> (parent pid, command name)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...", and comm may hold spaces or parentheses
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        procs[int(entry)] = (ppid, comm)
    return procs


def process_tree(root: int, procs: dict | None = None) -> list[int]:
    """``root`` and every live descendant, from /proc parent links."""
    children = defaultdict(list)
    for pid, (ppid, _) in (procs or _processes()).items():
        children[ppid].append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_memory_kb(root: int) -> int:
    """Resident memory of the benchmark process, the Spark JVM it starts
    and the JVM's Python daemons and workers. The forked Python workers
    share most of their pages with the daemon they fork from, so Python
    processes count by proportional set size; summing plain RSS would
    count those pages once per worker. The JVM shares nothing and counts
    by RSS, which is cheap to read: the proportional size walks every
    page table of its heap. Other processes under the JVM are skipped: a
    child it is spawning shares the JVM's memory until it execs its
    program, and would count the JVM twice."""
    procs = _processes()
    total = 0
    for pid in process_tree(root, procs):
        ppid, comm = procs[pid]
        is_jvm = comm == "java" and ppid == root
        if not (pid == root or is_jvm or comm.startswith("python")):
            continue
        try:
            if is_jvm:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE_KB
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            pass  # exited between the listing and the read
    return total


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    Spark JVM, the Python worker daemon and the workers it forks),
    sampled from /proc on a background thread."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_kb = max(self.peak_kb, tree_memory_kb(os.getpid()))


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    op: int
    layer: str
    group: str
    wall_s: float
    metrics: dict = field(default_factory=dict)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Spans labelled with Spark job groups, and the task metrics of the
    jobs each span started."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.spans: list[Span] = []
        self._seen_stages: set[int] = set()
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def in_layer(self) -> bool:
        return getattr(self._local, "depth", 0) > 0

    @contextmanager
    def layer(self, name: str, op: int, nests: bool = True):
        """Label the jobs started by this thread inside the block.
        ``nests=False`` is for an op's outer group: it labels the jobs
        no inner layer claims without counting as an enclosing layer."""
        group = f"{name}@{op}#{next(self._seq)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._local.depth = getattr(self._local, "depth", 0) + nests
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._local.depth -= nests
            self.sc.setJobGroup(prev, name if prev else None)
            with self._lock:
                self.spans.append(Span(op, name, group, wall))

    def collect(self, op: int, max_task: bool = False) -> list[Span]:
        """Read back the task metrics of every span of ``op``."""
        self._jsc.listenerBus().waitUntilEmpty()
        spans = [s for s in self.spans if s.op == op]
        for s in spans:
            s.metrics = self._group_metrics(s.group, max_task)
        return spans

    def _group_metrics(self, group: str, max_task: bool) -> dict:
        m = dict(jobs=0, task_s=0.0, gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0,
                 input_rows=0, output_bytes=0, max_task_s=0.0, intervals=[])
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            m["jobs"] += 1
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                m["intervals"].append((sub.get().getTime(), done.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                # a reused shuffle stage is listed by every job that
                # reads it; its work is counted once, where it ran
                with self._lock:
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                m["task_s"] += st.executorRunTime() / 1e3
                m["gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                m["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6
                m["input_rows"] += st.inputRecords()
                m["output_bytes"] += st.outputBytes()
                if max_task and st.numCompleteTasks() > 0:
                    m["max_task_s"] = max(m["max_task_s"],
                                          self._max_task_ms(sid, st.attemptId()) / 1e3)
        return m

    def _max_task_ms(self, sid: int, attempt: int) -> float:
        q = self.sc._gateway.new_array(self.sc._jvm.double, 1)
        q[0] = 1.0
        dist = self._store.taskSummary(sid, attempt, q)
        return dist.get().executorRunTime().apply(0) if dist.isDefined() else 0.0


def totals(spans: list[Span], wall_s: float) -> dict:
    """Sums over a set of spans, plus the share of ``wall_s`` during which
    none of their jobs ran (driver-only time)."""
    out = dict(jobs=0, task_s=0.0, gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0,
               input_rows=0, output_bytes=0, max_task_s=0.0)
    intervals = []
    for s in spans:
        for k in out:
            out[k] = max(out[k], s.metrics[k]) if k == "max_task_s" else out[k] + s.metrics[k]
        intervals += s.metrics["intervals"]
    out["driver_only_s"] = max(0.0, wall_s - _union_ms(intervals) / 1e3)
    return out
