"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around its calls into each layer of
``etlbigdata_spark`` (nothing inside the package is instrumented).  A
span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import os

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    parent: int | None
    run_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder.  While ``enabled`` is false, ``span``
    records nothing, so the timed code is the same in both modes."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 self.run_id, name, layer, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(s.start, s.end, kids.get(s.id, []))
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc`` stat file: a process's
    (``/proc/<pid>/stat``, all its threads, ended ones included) or one
    thread's.  The kernel reports them in clock ticks (10 ms)."""
    with open(path) as f:
        # the command name in field 2 may hold spaces; count from its end
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class JvmCpu:
    """CPU time of a JVM outside its JIT compiler threads.

    The compiler threads compile hot code in the background for many
    passes after start-up, in bursts that land in whichever op happens to
    be running, so their CPU time is left out of an op's.  Everything else
    the JVM runs counts: task and scheduler threads, GC and py4j."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self._jit: dict[str, bool] = {}  # thread id -> is a compiler thread

    def _is_jit(self, tid: str) -> bool:
        if tid not in self._jit:
            try:
                with open(f"/proc/{self.pid}/task/{tid}/comm") as f:
                    self._jit[tid] = "CompilerThre" in f.read()
            except OSError:  # the thread has ended
                return False
        return self._jit[tid]

    def read(self) -> tuple[float, dict[str, float]]:
        """(process CPU seconds, {compiler thread: its CPU seconds})."""
        total = cpu_s(f"/proc/{self.pid}/stat")
        jit = {}
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            if self._is_jit(tid):
                try:
                    jit[tid] = cpu_s(f"/proc/{self.pid}/task/{tid}/stat")
                except OSError:
                    pass
        return total, jit

    def since(self, start: tuple[float, dict[str, float]]) -> float:
        """CPU seconds outside the compiler threads since ``start``.  A
        compiler thread that ended in between leaves its last slice in."""
        (p0, j0), (p1, j1) = start, self.read()
        return p1 - p0 - sum(c - j0.get(tid, 0.0) for tid, c in j1.items())


class SparkProbe:
    """Reads job, stage, planner and JVM counters through py4j.  Job and
    stage ids are handed out sequentially by the DAG scheduler, so the
    work an interval launched is the id range between two marks."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._mx = spark._jvm.java.lang.management.ManagementFactory

    def mark(self) -> tuple[int, int]:
        # py4j hands the scheduler's AtomicInteger counters back as ints
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stage_totals(self, a: tuple[int, int], b: tuple[int, int]) -> dict[str, int]:
        """Jobs launched and stage metrics summed between two marks."""
        self._bus.waitUntilEmpty()
        out = {"jobs": b[0] - a[0], "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "scan_bytes": 0, "max_input_records": 0, "output_records": 0}
        for sid in range(a[1], b[1]):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped by AQE reuse has no attempt
                continue
            out["tasks"] += int(sd.numCompleteTasks())
            out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
            out["spill_bytes"] += int(sd.diskBytesSpilled())
            out["scan_bytes"] += int(sd.inputBytes())
            out["max_input_records"] = max(out["max_input_records"], int(sd.inputRecords()))
            out["output_records"] += int(sd.outputRecords())
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Analysis / optimization / planning time of the query that ran."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[str(kv._1())] = float(kv._2().durationMs())
        return out

    def gc_s(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(max(0, int(beans.get(i).getCollectionTime())) for i in range(beans.size())) / 1000.0

    def _heap_pools(self):
        pools = self._mx.getMemoryPoolMXBeans()
        return [pools.get(i) for i in range(pools.size()) if pools.get(i).getType().name() == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools()) / 2**20
