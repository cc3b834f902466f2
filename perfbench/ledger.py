"""Layer ledger for the plc benchmark: spans, Spark stage metrics, CPU split.

Three sources, all read from outside the program under test:

- :class:`Tracer` records spans around calls into plc's modules (and the
  pyspark writer entry points plc calls) by swapping module attributes for
  timing wrappers on the driver. Spans stay in memory; self times are
  computed when the run ends.
- :class:`SparkJobs` reads Spark's own per-stage metrics from the JVM status
  store for the jobs an operation started (job-id watermarks; job groups
  label the plan jobs).
- :func:`cpu_split` splits process-tree CPU into the Python workers and the
  JVM with :mod:`plc.procstat`.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager

PLAN_GROUP = "perfbench-plan"


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op).

    Wrappers installed with :meth:`wrap` record a span only while
    ``active`` is set, so the same patched functions serve traced and
    untraced operations of one run. Spans opened on a thread with no open
    span of its own (a py4j callback thread running a foreachBatch handler)
    take as parent the innermost open span of the thread that started the
    operation, which is the call that waits for them."""

    def __init__(self):
        self.names: list[str] = []
        self.start: list[float] = []
        self.end: list[float] = []
        self.parent: list[int] = []
        self.op: list[int] = []
        self.active = False
        self._op_stack: list[int] = []
        self._op_id = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _open(self, name: str) -> int:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            i = len(self.names)
            self.names.append(name)
            self.start.append(time.perf_counter())
            self.end.append(float("nan"))
            outer = stack or self._op_stack
            self.parent.append(outer[-1] if outer else -1)
            self.op.append(self._op_id)
        stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.end[i] = time.perf_counter()
        self._local.stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    @contextmanager
    def operation(self, kind: str, op_id: int):
        """Root span of one benchmark operation; activates the wrappers."""
        self.active = True
        self._op_id = op_id
        i = self._open(f"op.{kind}")
        self._op_stack = self._local.stack
        try:
            yield i
        finally:
            self._close(i)
            self._op_stack = []
            self.active = False

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, p in enumerate(self.parent):
            if p >= 0:
                kids.setdefault(p, []).append(i)
        return kids

    def duration(self, i: int) -> float:
        return self.end[i] - self.start[i]

    def self_time(self, i: int, kids: dict[int, list[int]]) -> float:
        """Span duration minus the union of its children's intervals
        (clipped to the span), so concurrent children count once."""
        lo, hi = self.start[i], self.end[i]
        iv = sorted((max(lo, self.start[c]), min(hi, self.end[c]))
                    for c in kids.get(i, ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def descendants(self, root: int, kids: dict[int, list[int]]) -> list[int]:
        out, stack = [], list(kids.get(root, ()))
        while stack:
            i = stack.pop()
            out.append(i)
            stack.extend(kids.get(i, ()))
        return out

    def totals(self, root: int, kids: dict[int, list[int]]) -> dict:
        """Per span name under ``root``: call count, summed duration and
        summed self time."""
        out: dict[str, dict] = {}
        for i in self.descendants(root, kids):
            t = out.setdefault(self.names[i], {"calls": 0, "s": 0.0,
                                               "self_s": 0.0})
            t["calls"] += 1
            t["s"] += self.duration(i)
            t["self_s"] += self.self_time(i, kids)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one tab-separated line."""
        with open(path, "w") as f:
            f.write("id\tname\top\tparent\tstart\tend\n")
            for i, n in enumerate(self.names):
                f.write(f"{i}\t{n}\t{self.op[i]}\t{self.parent[i]}\t"
                        f"{self.start[i]:.6f}\t{self.end[i]:.6f}\n")


class SparkJobs:
    """Per-operation Spark stage metrics from the JVM status store.

    An operation's jobs are those with an id above the watermark taken
    before it (one client, closed loop: nothing else submits jobs). Jobs
    run from other threads, such as a streaming query's foreachBatch,
    are caught the same way. The status store is fed asynchronously by
    the listener bus, so every read first waits for the bus to drain."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._list = gw.jvm.java.util.ArrayList
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def watermark(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self, mark: int) -> list[dict]:
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark:
                break
            group = j.jobGroup()
            sids = j.stageIds()
            out.append({"id": j.jobId(),
                        "group": group.get() if group.isDefined() else None,
                        "stages": [sids.apply(k) for k in range(sids.size())]})
        return out

    def stages(self, jobs: list[dict], *, skew: bool = False) -> dict:
        """Summed metrics of the stages that ran for ``jobs`` (skipped
        stages read zero). ``task_skew`` is max / median task run time of
        the stage with the largest total run time."""
        tot = {"exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "input_bytes": 0, "output_bytes": 0, "tasks": 0,
               "task_skew": 0.0}
        heaviest = None
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            attempts = self._store.stageData(sid, False, self._list(),
                                             False, self._quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() != "COMPLETE":
                    continue
                run = s.executorRunTime() / 1e3
                tot["exec_run_s"] += run
                tot["exec_cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                tot["input_bytes"] += s.inputBytes()
                tot["output_bytes"] += s.outputBytes()
                tot["tasks"] += s.numCompleteTasks()
                if heaviest is None or run > heaviest[0]:
                    heaviest = (run, sid, s.attemptId())
        if skew and heaviest is not None:
            tasks = self._store.taskList(heaviest[1], heaviest[2], 100_000)
            runs = []
            for t in range(tasks.size()):
                m = tasks.apply(t).taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            med = statistics.median(runs) if runs else 0
            tot["task_skew"] = max(runs) / med if med else 0.0
        return tot


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_split(jvm: int) -> dict:
    """CPU seconds so far of the JVM's own threads and of the Python
    workers it forked (live plus reaped)."""
    from plc.procstat import proc_tree_cpu_sec

    workers = proc_tree_cpu_sec(jvm, exclude_comm="java")
    return {"jvm": proc_tree_cpu_sec(jvm) - workers, "workers": workers}


def tree_pids(root: int | None = None) -> list[int]:
    """PIDs of ``root``'s live process subtree, root excluded."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        parent[int(d)] = int(s[s.rfind(b")") + 2:].split()[1])
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        stack.extend(kids)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process: pages it shares with other
    processes (the forked Python workers) are split between them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the tree was listed
    return 0


def tree_pss_bytes() -> int:
    """PSS summed over this process and its live tree, so shared pages
    count once in total."""
    return sum(pss_bytes(p) for p in [os.getpid()] + tree_pids())
