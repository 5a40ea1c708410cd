"""Counters read from outside ``credigraph_spark`` and the in-memory tracer.

Everything here reads the Spark runtime through py4j or the process table
through ``/proc``; nothing in the package under test is changed or patched.

* ``Runtime`` reads the status store (the jobs of a job group, set per traced
  call, and ``executorList``), ``CodegenMetrics``, the JIT and GC MXBeans,
  and ``/proc`` for the JVM's peak RSS and its Python workers' CPU time.
* ``Tracer`` keeps spans (name, start, end, parent, call) in memory, with a
  counter snapshot at both ends of each span, and writes them out at exit.
* ``TimedStore`` is the ``CheckpointStore`` passed as ``ckpt`` in traced runs:
  it times each public method as a span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from credigraph_spark.checkpoint import CheckpointStore

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _CLK_TCK


class Runtime:
    """Counter access for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mx = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def versions(self) -> dict:
        return {"spark": self.spark.version,
                "java": self.spark._jvm.java.lang.System.getProperty("java.version")}

    # -- cheap counters, read at every span boundary ------------------------
    def snapshot(self) -> dict:
        return {
            "codegen.compiles": int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "jvm.jit_ms": int(self._mx.getCompilationMXBean().getTotalCompilationTime()),
            "jvm.gc_ms": sum(int(g.getCollectionTime())
                             for g in self._mx.getGarbageCollectorMXBeans()),
            "pyworker.cpu_s": self.pyworker_cpu_s(),
        }

    def pyworker_cpu_s(self) -> float:
        return sum(_cpu_s(p) for p in _descendants(self.jvm_pid) if p != self.jvm_pid)

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the JVM plus every live process below it."""
        return sum(_hwm_kb(p) for p in _descendants(self.jvm_pid)) / 1024.0

    # -- status store, read once per job call --------------------------------
    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> tuple[int, int]:
        """(tasks, shuffle bytes written) summed over live executors."""
        self.drain()
        execs = self._store.executorList(True)
        tasks = shuffle = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            tasks += int(e.totalTasks())
            shuffle += int(e.totalShuffleWrite())
        return tasks, shuffle

    def job_intervals(self, group: str) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of every job of ``group``."""
        self.drain()
        out = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(int(job_id))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """In-memory spans with counter deltas; ``call`` groups the spans of one
    job call. Algorithm-level spans set a Spark job group so that the jobs
    each one ran can be read back from the status store."""

    def __init__(self, runtime: Runtime):
        self.rt = runtime
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.call = -1

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "call": self.call,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        group = f"perfbench-{self.call}-{sid}"
        if job_group:
            self.rt.sc.setJobGroup(group, name)
        before = self.rt.snapshot()
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            after = self.rt.snapshot()
            rec["counters"] = {k: after[k] - before[k] for k in after}
            if job_group:
                self.rt.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["jobs"] = self.rt.job_intervals(group)

    def of_call(self, call: int) -> list[dict]:
        return [s for s in self.spans if s["call"] == call]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TimedStore(CheckpointStore):
    """``CheckpointStore`` whose public methods are traced as spans."""

    def __init__(self, tracer: Tracer, root: str, run_id: str):
        super().__init__(root, run_id)
        self._tracer = tracer

    def write_state(self, df, iteration, name="state"):
        with self._tracer.span("checkpoint.write_state"):
            return super().write_state(df, iteration, name)

    def read_state(self, spark, iteration, name="state"):
        with self._tracer.span("checkpoint.read_state"):
            return super().read_state(spark, iteration, name)

    def committed_iterations(self, name="state"):
        with self._tracer.span("checkpoint.committed_iterations"):
            return super().committed_iterations(name)

    def latest_iteration(self, name="state"):
        with self._tracer.span("checkpoint.latest_iteration"):
            return super().latest_iteration(name)

    def mark_converged(self, iteration, name="state"):
        with self._tracer.span("checkpoint.mark_converged"):
            return super().mark_converged(iteration, name)

    def converged_iteration(self, name="state"):
        with self._tracer.span("checkpoint.converged_iteration"):
            return super().converged_iteration(name)

    def append_metrics(self, iteration, metrics):
        with self._tracer.span("checkpoint.append_metrics"):
            return super().append_metrics(iteration, metrics)

    def read_metrics(self):
        with self._tracer.span("checkpoint.read_metrics"):
            return super().read_metrics()

    def record_lineage(self, df, iteration, name="state"):
        with self._tracer.span("checkpoint.record_lineage"):
            return super().record_lineage(df, iteration, name)
