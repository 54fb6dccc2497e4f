"""Measurement probes the benchmark attaches from outside the engine.

* :class:`ProcTree` reads CPU time and resident memory of the benchmark's
  process tree (Python driver, JVM, Python workers) from ``/proc``.
* :class:`RssPeak` samples that tree's resident memory in a thread.
* :class:`Tracer` records spans around each call into an engine layer, and
  per operation the Spark jobs, stages and tasks (from the public
  ``statusTracker`` under a per-operation job group) and the py4j commands
  the Python side sent.
* :func:`jvm_beans` reads GC time, JIT compilation time and heap use from
  the JVM's management beans.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), comm, rest


class ProcTree:
    """The process tree rooted at ``root`` (this Python driver)."""

    def __init__(self, root: int):
        self.root = root

    def members(self) -> dict[int, tuple[str, list[str]]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid][1:]
                todo.extend(children.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by role. Worker processes that exited and
        were reaped inside the tree stay counted through their parent's
        ``cutime``/``cstime``."""
        out = {"jvm": 0.0, "python_driver": 0.0, "python_workers": 0.0}
        for pid, (comm, rest) in self.members().items():
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ut, st, cut, cst = (int(x) / _TICK for x in rest[11:15])
            if pid == self.root:
                out["python_driver"] += ut + st
            elif comm == "java":
                out["jvm"] += ut + st
                out["python_workers"] += cut + cst
            else:
                out["python_workers"] += ut + st + cut + cst
        return out

    def rss_mb(self) -> dict[str, float]:
        """Resident memory by role, in MB."""
        out = {"jvm": 0.0, "python_driver": 0.0, "python_workers": 0.0}
        for pid, (comm, _) in self.members().items():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    mb = int(f.read().split()[1]) * _PAGE / 2**20
            except OSError:
                continue
            role = "python_driver" if pid == self.root else "jvm" if comm == "java" else "python_workers"
            out[role] += mb
        return out


class RssPeak(threading.Thread):
    """Peak resident memory of the tree, sampled every ``interval`` s; the
    peak per role is kept too, to show which process set it."""

    def __init__(self, tree: ProcTree, interval: float = 0.25):
        super().__init__(daemon=True)
        self.tree, self.interval = tree, interval
        self.peak_mb = 0.0
        self.role_peak_mb: dict[str, float] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        by_role = self.tree.rss_mb()
        self.peak_mb = max(self.peak_mb, sum(by_role.values()))
        for role, mb in by_role.items():
            self.role_peak_mb[role] = max(self.role_peak_mb.get(role, 0.0), mb)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_mb


def jvm_beans(spark) -> dict[str, float]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "gc_s": gc_ms / 1000.0,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
    }


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class OpRecord:
    """Counts of one traced operation, keyed by the phase they belong to."""

    op: int
    kind: str
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Spans and per-operation counts. Disabled, every hook is a no-op
    that makes no py4j call, so untraced runs measure the bare engine.
    Enabled, ``overhead_s`` sums the time spent in the tracer's own code:
    span bookkeeping, the py4j counter, job groups, status-tracker reads,
    Catalyst tracker and storage-info reads."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.overhead_s = 0.0
        self.op = -1  # the operation spans are recorded for
        self._stack: list[int] = []
        self._py4j = 0
        self._counting = False
        self._seen_phases: set[tuple[int, str]] = set()
        if enabled:
            self._wrap_py4j()

    # -- py4j -----------------------------------------------------------
    def _wrap_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command
        main = threading.get_ident()

        def counted(command, *args, **kwargs):
            # "m\n" commands are py4j's own garbage collection of Python
            # proxies, sent from a finalizer thread at GC time; they are
            # not work the engine asked for and would not repeat exactly.
            if threading.get_ident() == main:
                t0 = time.perf_counter()
                if self._counting and not command.startswith("m\n"):
                    self._py4j += 1
                self.overhead_s += time.perf_counter() - t0
            return send(command, *args, **kwargs)

        client.send_command = counted

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """A span of operation ``self.op``, nested in the open span."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        s = Span(name, self.op, t0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            s.end = t1 = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def phase(self, op: int, phase: str, rec: OpRecord):
        """Count py4j commands and Spark jobs of one phase of an
        operation (``build`` or ``exec``) under its own job group."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        group = f"perfbench-{op}-{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t0
        self._py4j = 0
        self._counting = True
        try:
            yield
        finally:
            self._counting = False
            t1 = time.perf_counter()
            rec.counts[f"{phase}_py4j_calls"] = self._py4j
            rec.counts.update(self._job_counts(group, phase))
            self.spark.sparkContext.setJobGroup("perfbench-idle", "perfbench-idle")
            self.overhead_s += time.perf_counter() - t1

    def _job_counts(self, group: str, phase: str) -> dict[str, int]:
        sc = self.spark.sparkContext
        # the status store is fed by the listener bus; drain it first so
        # the counts of jobs that just ended are complete
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks + s.numFailedTasks
        return {f"{phase}_jobs": len(jobs), f"{phase}_stages": stages, f"{phase}_tasks": tasks}

    def catalyst_ms(self, df) -> dict[str, float]:
        """Analysis, optimization and planning time of ``df``'s query
        execution, counted once per query execution (a repeat of an
        already executed DataFrame reads 0)."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        key = qe.hashCode()
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        phases = qe.tracker().phases()
        for name in out:
            if phases.contains(name) and (key, name) not in self._seen_phases:
                self._seen_phases.add((key, name))
                p = phases.apply(name)
                out[name] = float(p.endTimeMs() - p.startTimeMs())
        self.overhead_s += time.perf_counter() - t0
        return out

    def cached_mb(self) -> float:
        t0 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.overhead_s += time.perf_counter() - t0
        return mb

    # -- reduction ------------------------------------------------------
    def self_times(self) -> list[tuple[Span, float]]:
        """Each span with its self time: its duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [(s, s.end - s.start - c) for s, c in zip(self.spans, child)]
