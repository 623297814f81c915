"""Spans around calls into the engine's layers, read back from Spark's
in-process status store.

A span sets a Spark job group for the calls it wraps, so every job
those calls launch is tagged with the span. When the run ends,
:meth:`Tracer.job_stats` reads each group's jobs through
``statusTracker().getJobIdsForGroup`` and their stages through
``statusStore().lastStageAttempt`` (both work with the UI off). Spans
stay in memory until then; nothing is read or written while a timed
window is open. A disabled or paused tracer records nothing and sets no
group; a traced run pauses it for every other session or pass, so the
run can report its own overhead against untraced calls.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    input_records: int = 0
    failed_tasks: int = 0


@dataclass
class Tracer:
    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    notes: dict[str, float] = field(default_factory=dict)
    hook_s: float = 0.0
    paused: bool = False
    _stack: list[str] = field(default_factory=list)
    _opened: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.paused:
            yield
            return
        h0 = time.perf_counter()
        self._opened += 1
        group = f"pb{self._opened}:{name}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(group, name)
        self._stack.append(group)
        t0 = time.perf_counter()
        self.hook_s += t0 - h0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(Span(name, group, parent, t0, t1))
            self.hook_s += time.perf_counter() - t1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def job_stats(self) -> tuple[dict[str, GroupStats], int]:
        """Per-group job statistics plus the failed-task count of every
        job in the application, grouped or not. A stage that several
        jobs share (a reused shuffle) counts once, for the earliest job
        that lists it, which is the job that ran it."""
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_group: dict[int, str | None] = {}
        for s in self.spans:
            for j in tracker.getJobIdsForGroup(s.group):
                job_group[j] = s.group
        for j in tracker.getJobIdsForGroup(None):
            job_group.setdefault(j, None)
        stats: dict[str, GroupStats] = defaultdict(GroupStats)
        seen: set[int] = set()
        failed = 0
        for j in sorted(job_group):
            info = tracker.getJobInfo(j)
            group = job_group[j]
            if group is not None:
                stats[group].jobs += 1
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never ran (skipped)
                    continue
                failed += sd.numFailedTasks()
                if group is not None:
                    g = stats[group]
                    g.task_s += sd.executorRunTime() / 1000.0
                    g.shuffle_mb += sd.shuffleWriteBytes() / 1e6
                    g.input_records += sd.inputRecords()
                    g.failed_tasks += sd.numFailedTasks()
        return stats, failed


@contextmanager
def traced_catalog(tracer: Tracer):
    """Wrap ``StageCatalog.stage`` and ``StageCatalog.flush_lineage`` in
    spans for the duration of the block. The compute thunk a stage is
    given is timed on its own, apart from the write that follows it;
    ``stage.<name>.build_s`` is that time. Only the benchmark's process
    is patched, and the originals are restored on exit."""
    from legal_knowledge_graph_spark.operators.checkpoint import StageCatalog

    if not tracer.enabled:
        yield
        return
    orig_stage, orig_flush = StageCatalog.stage, StageCatalog.flush_lineage

    def stage(cat, name, compute, partition_col=None, force=False):
        built = {"s": 0.0}

        def timed_compute():
            t0 = time.perf_counter()
            df = compute()
            built["s"] = time.perf_counter() - t0
            return df

        with tracer.span(f"stage.{name}"):
            out = orig_stage(cat, name, timed_compute, partition_col, force)
        tracer.notes[f"stage.{name}.build_s"] = built["s"]
        return out

    def flush_lineage(cat):
        with tracer.span("checkpoint.flush_lineage"):
            return orig_flush(cat)

    StageCatalog.stage, StageCatalog.flush_lineage = stage, flush_lineage
    try:
        yield
    finally:
        StageCatalog.stage, StageCatalog.flush_lineage = orig_stage, orig_flush


def overhead_pct(traced_s: list[float], untraced_s: list[float]) -> float:
    """How much slower the median traced call was than the median
    untraced one, in percent (negative when tracing cost less than the
    noise between calls)."""
    import statistics

    return (statistics.median(traced_s) / statistics.median(untraced_s) - 1) * 100
