"""In-memory span tracer for the traced (``--trace 1``) benchmark run.

Spans are recorded from the benchmark's own files, around calls into
the program's public functions: :meth:`Tracer.patch` swaps a module
attribute for a timing wrapper (``run_alterator`` imports its layers
inside its body, so patched attributes take effect on the next call)
and restores it on exit. Each span records name, start, end and
parent, and sets a Spark job group so the jobs, stages and tasks Spark
runs while the span is innermost are attributed to it. Spans stay in
memory; :meth:`Tracer.dump` writes them out at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (children may not overlap each other)."""
    covered: dict[int, float] = {s.sid: 0.0 for s in spans}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            covered[p.sid] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return {s.sid: s.duration - covered[s.sid] for s in spans}


class Tracer:
    """Records spans and counters. ``sc`` may be None (no Spark job
    attribution), which the unit tests use."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._undo: list = []  # callables that undo patches, newest last

    # -- spans ---------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(next(self._ids), name, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - s.end

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def patch(self, module: str, attr: str, span_name: str) -> None:
        """Wrap ``module.attr`` in a span named ``span_name``; undone by
        :meth:`unpatch`."""
        target = importlib.import_module(module)
        orig = getattr(target, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._undo.append(lambda: setattr(target, attr, orig))
        setattr(target, attr, wrapped)

    def count_calls(self, owner, attr: str, counter) -> None:
        """Count calls of ``owner.attr``; ``counter(args)`` names the
        counter to bump, or None to skip the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            name = counter(args)
            if name:
                tracer.count(name)
            return orig(*args, **kwargs)

        self._undo.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, wrapped)

    def count_gets(self, module: str, attr: str, prefix: str) -> None:
        """Replace the dict ``module.attr`` by a copy that counts its
        ``get`` hits and misses as ``<prefix>_hits`` / ``<prefix>_misses``
        (for process-global memos looked up by name at call time)."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        tracer = self

        class CountingDict(dict):
            def get(self, key, default=None):
                tracer.count(f"{prefix}_hits" if key in self else f"{prefix}_misses")
                return super().get(key, default)

        counting = CountingDict(orig)

        def restore():
            orig.update(counting)
            setattr(mod, attr, orig)

        self._undo.append(restore)
        setattr(mod, attr, counting)

    def unpatch(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- Spark attribution ---------------------------------------------
    def attribute_jobs(self) -> None:
        """Fill each span's job ids from its job group (call once the
        traced work is done)."""
        if self.sc is None:
            return
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.sid}"))
        self.overhead_s += time.perf_counter() - t0

    def job_stats(self, jobs: list[int], skew: bool = False) -> dict[str, float]:
        """jobs / stages / tasks for a set of job ids, plus shuffle
        write and spill bytes and (``skew``) the slowest/median task
        time of the stage with the most executor time, read from the
        driver's status store over py4j."""
        t0 = time.perf_counter()
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "max_task_skew": 0.0}
        if self.sc is None or not jobs:
            return out
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        heaviest = None
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run = st.executorRunTime()
                if heaviest is None or run > heaviest[0]:
                    heaviest = (run, sid, st.attemptId())
        if skew and heaviest is not None:
            tasks = store.taskList(heaviest[1], heaviest[2], 100_000)
            durs = [
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            med = statistics.median(durs) if durs else 0
            out["max_task_skew"] = max(durs) / med if med else 1.0
        self.overhead_s += time.perf_counter() - t0
        return out

    # -- summaries -----------------------------------------------------
    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed duration, self time, calls and self
        job ids (jobs are attributed to the innermost span)."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"s": 0.0, "self_s": 0.0, "calls": 0, "jobs": []})
            t["s"] += s.duration
            t["self_s"] += selfs[s.sid]
            t["calls"] += 1
            t["jobs"] += s.jobs
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self_s": selfs[s.sid],
                            "jobs": s.jobs,
                        }
                        for s in self.spans
                    ],
                    "counters": self.counters,
                    "overhead_s": self.overhead_s,
                },
                f,
                indent=1,
            )
