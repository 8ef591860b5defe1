"""Spans around calls into the library's layers, plus each call's Spark
counters read back from the driver's status store.

A span is opened by the benchmark around one public call (``get_spark``,
``checkpoint_source_ids``, ``search_wand`` ...). While it is open the
call runs in its own Spark job group, so after the call the jobs it
started are exactly ``statusTracker().getJobIdsForGroup(group)`` and
their per-stage counters come from ``statusStore().lastStageAttempt``.
That works with the UI disabled, as ``xsearch_spark.session`` runs it.

Spans live in memory and are written out as JSONL when the run ends.
Reading the status store happens between operations, outside every
span, and its cost is reported as ``trace.overhead_s``. With tracing
off, :meth:`Tracer.span` is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters summed over the stages a span's jobs ran
STAGE_COUNTERS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str  # layer, e.g. "operators.wand"; "op" for a workload operation
    start: float  # epoch seconds, comparable with the JVM's job times
    parent: int | None
    op_id: str | None
    family: str | None = None
    end: float = 0.0
    group: str | None = None
    extra_groups: list[str] = field(default_factory=list)
    jobs: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(STAGE_COUNTERS, 0))
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return span.wall - covered((span.start, span.end), [(c.start, c.end) for c in children])


def driver_time(span: Span) -> float:
    """Span duration not covered by any of its Spark jobs: planning,
    py4j round trips, result deserialisation, driver-side file work."""
    return span.wall - covered((span.start, span.end), span.job_intervals)


class JvmStatusStore:
    """Reads jobs and stages from the driver's ``AppStatusStore``."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        # stage counters arrive through the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> tuple[list[int], float | None, float | None]:
        jd = self._store.job(job_id)
        seq = jd.stageIds()
        stage_ids = [int(seq.apply(i)) for i in range(seq.size())]
        sub, comp = jd.submissionTime(), jd.completionTime()
        return (
            stage_ids,
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            comp.get().getTime() / 1000.0 if comp.isDefined() else None,
        )

    def stage(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # evicted or never submitted
            return None
        status = sd.status().toString()
        return {
            "attempt": int(sd.attemptId()),
            "ran": status in ("COMPLETE", "FAILED", "ACTIVE"),
            "tasks": int(sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()),
            "task_run_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": int(sd.inputBytes()),
            "shuffle_read_bytes": int(sd.shuffleReadBytes()),
            "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
            "spill_bytes": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
        }


def aggregate_groups(store, groups: list[str], seen_stages: set) -> tuple[int, dict, list]:
    """Jobs, summed stage counters and job intervals of every job in
    ``groups``. A stage attempt is counted once across the whole run
    (``seen_stages``): a shuffle stage reused by a later job shows up in
    that job too, but its work was done only once."""
    counters = dict.fromkeys(STAGE_COUNTERS, 0)
    intervals: list[tuple[float, float]] = []
    job_ids = sorted({j for g in groups for j in store.job_ids(g)})
    for jid in job_ids:
        stage_ids, sub, comp = store.job(jid)
        if sub is not None and comp is not None:
            intervals.append((sub, comp))
        for sid in stage_ids:
            st = store.stage(sid)
            if st is None or not st["ran"] or (sid, st["attempt"]) in seen_stages:
                continue
            seen_stages.add((sid, st["attempt"]))
            for k in STAGE_COUNTERS:
                counters[k] += st[k]
    return len(job_ids), counters, intervals


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every span a
    no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, run_tag: str):
        self.enabled = enabled
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._sc = None
        self._store = None
        self._seen_stages: set = set()
        self.overhead_s = 0.0

    def attach(self, sc, store=None) -> None:
        """Bind to a live SparkContext (after the session span)."""
        self._sc = sc
        self._store = store or JvmStatusStore(sc)

    @contextmanager
    def paused(self):
        """No spans inside: for warm-up work that no metric covers."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def span(self, name: str, op_id: str | None = None, family: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            start=0.0,
            parent=parent.span_id if parent else None,
            op_id=op_id or (parent.op_id if parent else None),
            family=family,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self._sc is not None:
            sp.group = f"{self.run_tag}:{sp.span_id}"
            self._sc.setLocalProperty("spark.jobGroup.id", sp.group)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(
                    "spark.jobGroup.id", self._stack[-1].group if self._stack else None
                )
                self._pending.append(sp)

    def collect(self) -> None:
        """Read the Spark counters of every span closed since the last
        call. Called between operations, never inside a span."""
        if not self.enabled or not self._pending or self._store is None:
            return
        t0 = time.perf_counter()
        self._store.drain()
        for sp in self._pending:
            if sp.group is None:
                continue
            sp.jobs, sp.counters, sp.job_intervals = aggregate_groups(
                self._store, [sp.group] + sp.extra_groups, self._seen_stages
            )
        self._pending = []
        self.overhead_s += time.perf_counter() - t0

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def write_jsonl(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "span": sp.span_id,
                            "name": sp.name,
                            "family": sp.family,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "op": sp.op_id,
                            "self_s": self_time(sp, self.children(sp)),
                            "jobs": sp.jobs,
                            **sp.counters,
                            **sp.attrs,
                        }
                    )
                    + "\n"
                )
