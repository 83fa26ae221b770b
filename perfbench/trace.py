"""Spans, Spark engine counters and memory, recorded from outside the package.

Spans (name, start, end, parent, operation id) are kept in memory and
written out once when the run ends.  Engine counters come from the
SparkContext's status store and are read at the same boundaries, so
every span carries the jobs, stages, tasks, shuffle, spill, GC and
executor run time that happened inside it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Counter fields summed over completed stages.
_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
    ("run_ms", "executorRunTime"),
    ("gc_ms", "jvmGcTime"),
)
_FINAL = ("COMPLETE", "SKIPPED", "FAILED")


class SparkCounters:
    """Cumulative engine counters read from the status store.

    In Spark 4.1 py4j cannot fill Scala default arguments, so
    ``stageList`` is called with its full signature, taking the fourth
    default from the generated ``stageList$default$4`` accessor.  The
    store lists stages newest first; a stage in a final state never
    changes again, so each read only visits stages not yet seen final.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.quantiles = getattr(self.store, "stageList$default$4")()
        self.final: dict[tuple[int, int], dict[str, int]] = {}

    def read(self) -> dict[str, int]:
        stages = self.store.stageList(None, False, False, self.quantiles, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            key = (st.stageId(), st.attemptId())
            if key in self.final:
                break
            status = st.status().toString()
            if status not in _FINAL:
                continue
            row = {"stages": int(status == "COMPLETE")}
            for name, getter in _STAGE_FIELDS:
                row[name] = int(getattr(st, getter)())
            self.final[key] = row
        total = {"jobs": len(self.sc.statusTracker().getJobIdsForGroup(None))}
        total["stages"] = 0
        for name, _ in _STAGE_FIELDS:
            total[name] = 0
        for row in self.final.values():
            for k, v in row.items():
                total[k] += v
        return total


def delta(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before[k] for k in after}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder with engine-counter deltas per span."""

    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int, counted: bool = True, **attrs):
        """Record a span; ``counted=False`` skips the engine counters (for
        spans nested inside one read, where a status-store scan per
        boundary would cost more than the work it measures)."""
        parent = self._stack[-1] if self._stack else None
        counters = self.counters if counted else None
        before = counters.read() if counters else None
        sp = Span(name, op, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if counters:
                sp.counters = delta(counters.read(), before)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "op": s.op,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "counters": s.counters,
                        "attrs": s.attrs,
                    }
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


def _children(pid_root: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [pid_root], [pid_root]
    while frontier:
        nxt = [p for p, pp in parent_of.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the JVM plus its Python workers.

    Each sample sums the kernel's per-process high-water mark over the
    JVM and every descendant (the PySpark daemon and its reused
    workers); the peak is the largest sample, taken after set-up and
    after each pass.
    """

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self, jvm_pid: int) -> None:
        total = sum(_hwm_kb(p) for p in _children(jvm_pid))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
