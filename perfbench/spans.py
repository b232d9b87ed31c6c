"""Spans around the benchmark's calls into the package, with Spark counters.

A span records (name, start, end, parent, run id) in memory. While a span
is open the benchmark sets a Spark job group naming it, so every job the
call submits carries the span's group; jobs submitted from threads inside
the package carry no group and are attributed by job id to the innermost
span that was open when they were submitted. After the traced pass the
counters of each span's jobs are read from Spark's status store, which
works with the UI off.

``patched`` opens a child span around a package function for the duration
of one call, by rebinding the function in every loaded package module that
refers to it, so an internal call such as ``pagerank`` ->
``pagerank_df_prepare`` gets its own span.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "graphsetintersection_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.run_id}-{self.id}"


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer's spans cost one
    attribute check, so the untraced run measures the same code path."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def next_job(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.first_job = self.next_job()
        try:
            yield
        finally:
            sp.end_job = self.next_job()
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str):
        """Give ``owner.attr`` (a package function or a class method) its own
        span named ``name`` until the block exits."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        holders = [owner]
        if isinstance(owner, type(sys)):
            holders += [m for k, m in list(sys.modules.items())
                        if k.startswith(PACKAGE) and m is not owner
                        and getattr(m, attr, None) is orig]
        for h in holders:
            setattr(h, attr, wrapper)
        try:
            yield
        finally:
            for h in holders:
                setattr(h, attr, orig)

    # -- counters ------------------------------------------------------------

    def collect(self, first_job: int, end_job: int) -> dict:
        """Fill each span's counters from the status store and return the
        totals over jobs ``[first_job, end_job)``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group = {sp.group: sp for sp in self.spans}
        owner: dict[int, Span | None] = {}
        stage_job: dict[int, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = int(j.jobId())
            if not first_job <= jid < end_job:
                continue
            g = j.jobGroup()
            sp = by_group.get(g.get()) if g.isDefined() else None
            owner[jid] = sp or self._innermost(jid)
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                stage_job[sid] = min(jid, stage_job.get(sid, jid))
        zero = dict(jobs=0, tasks=0, cpu_s=0.0, gc_s=0.0, shuffle_mb=0.0,
                    spill_mb=0.0, result_mb=0.0)
        for sp in self.spans:
            sp.counters = dict(zero)
        total = dict(zero)
        for jid, sp in owner.items():
            total["jobs"] += 1
            if sp is not None:
                sp.counters["jobs"] += 1
        for sid, jid in stage_job.items():
            c = self._stage_counters(store, sid)
            for k, v in c.items():
                total[k] += v
                if owner[jid] is not None:
                    owner[jid].counters[k] += v
        return total

    def _innermost(self, job_id: int) -> Span | None:
        best = None
        for sp in self.spans:
            if sp.first_job <= job_id < sp.end_job and (
                    best is None or sp.first_job >= best.first_job):
                best = sp
        return best

    @staticmethod
    def _stage_counters(store, stage_id: int) -> dict:
        from py4j.protocol import Py4JJavaError

        try:
            s = store.lastStageAttempt(stage_id)
        except Py4JJavaError:        # evicted from the store
            return {}
        return dict(
            tasks=int(s.numCompleteTasks()),
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_mb=s.shuffleWriteBytes() / 1e6,
            spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            result_mb=s.resultSize() / 1e6,
        )

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its (sequential) children cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.id)
        return (sp.end - sp.start) - kids

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, self time and counters, summed over spans."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"calls": 0, "s": 0.0})
            agg["calls"] += 1
            agg["s"] += self.self_time(sp)
            for k, v in sp.counters.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": [dict(asdict(sp), self_s=self.self_time(sp))
                                 for sp in self.spans]}, f, indent=1)
