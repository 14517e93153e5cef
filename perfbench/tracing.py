"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log reader that supplies engine-side counts.

Spans live in memory and are written out once, when the run ends. A span
is ``(name, start, end, parent, op)``; a span's self time is its duration
minus the part covered by its child spans. The engine itself carries no
instrumentation: every span wraps a public call made from this directory.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

OP_PROPERTY = "perfbench.op"
# jobs of an op's late-day upsert carry PHASE_PROPERTY=late
PHASE_PROPERTY = "perfbench.phase"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counts: dict[tuple[int | None, str], float] = field(default_factory=dict)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, op=self.op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            key = (self.op, name)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def per_op(self, name: str, ops: list) -> list[float]:
        """Total span time of ``name`` in each op."""
        tot = {op: 0.0 for op in ops}
        for sp in self.spans:
            if sp.name == name and sp.op in tot:
                tot[sp.op] += sp.end - sp.start
        return [tot[op] for op in ops]

    def count_per_op(self, name: str, ops: list[int]) -> list[float]:
        return [self.counts.get((op, name), 0.0) for op in ops]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "op": sp.op, "self_s": sp.self_s,
                }) + "\n")


def median0(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class OpEngineStats:
    tasks: int = 0
    task_ms: list[float] = field(default_factory=list)
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    python_wait_s: float = 0.0
    fetch_run_s: float = 0.0
    commit_s: float = 0.0
    bytes_written: float = 0.0
    records_written: float = 0.0


def read_event_log(log_dir: str) -> dict[int, OpEngineStats]:
    """Per-op engine counts from an uncompressed Spark event log.

    Jobs carry the op id as a local property; their stages' task-end
    events give task counts and durations, and each completed stage's
    accumulables give CPU, GC, spill, shuffle, output and commit time.
    Python-source stages are those that report "data returned from
    Python workers"; their run time minus CPU time is Python wait, and
    their run time outside the late phase is the fetch time of the
    op's pending items."""
    stage_op: dict[int, int] = {}
    late_stages: set[int] = set()
    out: dict[int, OpEngineStats] = {}
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY)
                    if op is not None:
                        for sid in ev.get("Stage IDs", ()):
                            stage_op[sid] = int(op)
                            if props.get(PHASE_PROPERTY) == "late":
                                late_stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    info = ev["Task Info"]
                    st = out.setdefault(op, OpEngineStats())
                    st.tasks += 1
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    op = stage_op.get(si["Stage ID"])
                    if op is None:
                        continue
                    acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", ())}
                    num = lambda k: float(acc.get(k) or 0)  # noqa: E731
                    st = out.setdefault(op, OpEngineStats())
                    cpu_s = num("internal.metrics.executorCpuTime") / 1e9
                    run_s = num("internal.metrics.executorRunTime") / 1e3
                    st.executor_cpu_s += cpu_s
                    st.gc_s += num("internal.metrics.jvmGCTime") / 1e3
                    st.spill_mb += (
                        num("internal.metrics.memoryBytesSpilled")
                        + num("internal.metrics.diskBytesSpilled")
                    ) / 2**20
                    st.shuffle_write_mb += (
                        num("internal.metrics.shuffle.write.bytesWritten") / 2**20
                    )
                    st.commit_s += num("task commit time") / 1e3
                    st.bytes_written += num("internal.metrics.output.bytesWritten")
                    st.records_written += num("internal.metrics.output.recordsWritten")
                    if "data returned from Python workers" in acc:
                        st.python_wait_s += max(run_s - cpu_s, 0.0)
                        if si["Stage ID"] not in late_stages:
                            st.fetch_run_s += run_s
    return out
