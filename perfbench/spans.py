"""Span recorder, Spark status-store counters and process-tree peak RSS.

Spans are recorded from the benchmark's own code, around the calls it makes
into the package; nothing in the package is changed. Two kinds exist:

* ``Tracer.span(name)`` wraps one call (``run_pipeline``, a
  ``CheckpointManager`` commit, a ``search_ladder`` call, ...).
* ``Tracer.mark(name)`` opens a *segment*: it closes the segment open under
  the same parent and starts a new one, so consecutive boundary calls of the
  program (each pipeline phase's first checkpoint-store call) tile the time
  between them. A segment also ends when its parent span ends.

Each span remembers the Spark job-id range started inside it (the DAG
scheduler's job counter is read synchronously at both ends). After a run,
``SparkCounters`` turns those ranges into shuffle, spill and task-time
figures from the application status store -- the same store the Spark UI
reads, present with the UI disabled.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    job_lo: int
    segment: bool = False
    end: float | None = None
    job_hi: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    """In-memory span list; spans nest through an explicit stack.

    Streaming ``foreachBatch`` callbacks arrive on another driver thread
    while the main thread waits in ``awaitTermination``; the two never open
    spans at the same time, so one stack serves both.
    """

    def __init__(self, next_job_id):
        self._next_job_id = next_job_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _open(self, name: str, segment: bool) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, parent, time.perf_counter(), self._next_job_id(), segment)
        )
        sid = len(self.spans) - 1
        self._stack.append(sid)
        return sid

    def _close_top(self) -> None:
        s = self.spans[self._stack.pop()]
        s.end = time.perf_counter()
        s.job_hi = self._next_job_id()

    @contextmanager
    def span(self, name: str):
        sid = self._open(name, segment=False)
        try:
            yield self.spans[sid]
        finally:
            while self._stack and self._stack[-1] != sid:
                self._close_top()  # segments end with their parent
            self._close_top()

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def mark(self, name: str) -> None:
        top = self.current()
        if top is not None and top.segment:
            self._close_top()
        self._open(name, segment=True)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        """Seconds in spans called `name`, a span nested in another of the
        same name counted once (read_local_pandas calls read_local_arrow)."""
        return sum(
            s.seconds
            for s in self.named(name)
            if s.parent is None or self.spans[s.parent].name != name
        )


class SparkCounters:
    """Per-span stage counters from the driver's application status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def fill(self, tracer: Tracer) -> None:
        """Attach counters to every finished span (call after the run)."""
        self._jsc.listenerBus().waitUntilEmpty()
        stage_cache: dict[int, dict] = {}
        for s in tracer.spans:
            stages: set[int] = set()
            for job in range(s.job_lo, s.job_hi or s.job_lo):
                ids = self._store.job(job).stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
            rows = [self._stage(sid, stage_cache) for sid in sorted(stages)]
            heavy = max(rows, key=lambda r: r["run_ms"], default=None)
            s.counters = {
                "jobs": (s.job_hi or s.job_lo) - s.job_lo,
                "tasks": sum(r["tasks"] for r in rows),
                "shuffle_read_bytes": sum(r["read"] for r in rows),
                "shuffle_write_bytes": sum(r["write"] for r in rows),
                "spill_bytes": sum(r["spill"] for r in rows),
                "task_max_ms": heavy["max_ms"] if heavy else 0.0,
                "task_median_ms": heavy["median_ms"] if heavy else 0.0,
            }

    def _stage(self, sid: int, cache: dict[int, dict]) -> dict:
        if sid not in cache:
            st = self._store.lastStageAttempt(sid)
            row = {
                "tasks": st.numTasks(),
                "read": st.shuffleReadBytes(),
                "write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "run_ms": st.executorRunTime(),
                "median_ms": 0.0,
                "max_ms": 0.0,
            }
            if st.status().toString() == "COMPLETE":
                summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    row["median_ms"], row["max_ms"] = run.apply(0), run.apply(1)
            cache[sid] = row
        return cache[sid]


def task_skew(counters: dict) -> float:
    """max/median task run time of the span's heaviest stage (1.0 = even)."""
    med = counters.get("task_median_ms", 0.0)
    return counters["task_max_ms"] / med if med else 1.0


class ProcessTreeRss:
    """Peak resident memory of this process and all its descendants.

    The descendants are the Spark JVM and its Python workers. ``reset``
    writes 5 to each process's ``clear_refs``, which resets the kernel's
    peak-RSS mark (VmHWM); ``peak_mb`` sums the marks afterwards.
    """

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # exited while listing
            # the command name may hold spaces; fields resume after ')'
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def reset(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass  # exited since listing

    def peak_mb(self) -> float:
        total_kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0


class HostCpu:
    """Share of host CPU time stolen by the hypervisor since creation.

    On a shared virtual machine, stolen time stretches every wall-clock
    figure; the run reports it so a slow run can be told from a slow
    program.
    """

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def steal_share(self) -> float:
        delta = [b - a for a, b in zip(self.start, self._read())]
        return delta[7] / sum(delta) if sum(delta) else 0.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
