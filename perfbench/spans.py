"""Spans around the calls the benchmark makes into each layer of the
program, with Spark work attributed to them.

A span records its wall time plus, from Spark's status store, the jobs
and stages its actions ran, their executor run time, shuffle-write bytes
and spill. Attribution uses job groups: each span tags the driver
thread's jobs with its own group id, and on exit hands its totals up to
the enclosing span, so a parent's numbers include its children's. The
status store works with the Spark UI off; the listener bus is drained
before it is read, so the store holds every finished stage.

`wrap(module, attr, name)` replaces a module attribute with a function
that runs the original inside a span and keeps its latest return value
in `results[name]`; the program's own code is not changed, only the name
the caller resolves. A disabled tracer makes
`span` a plain pass-through and `wrap` a no-op, so an untraced run
executes exactly the calls it would without this module.
"""

from __future__ import annotations

import functools
import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("wall_s", "jobs", "stages", "executor_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._ids = itertools.count()
        self._stack: list[tuple[str, dict]] = []
        self._patches: list[tuple[object, str, object]] = []
        # per-operation totals: name -> list of counter dicts, one per call
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.results: dict[str, object] = {}  # name -> latest wrapped return
        self._marks: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        acc = dict.fromkeys(COUNTERS, 0)
        self._stack.append((group, acc))
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            acc["wall_s"] = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1][0], "")
            else:
                sc._jsc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in self._group_work(group).items():
                acc[k] += v
            self.calls[name].append(acc)
            if self._stack:
                parent = self._stack[-1][1]
                for k in COUNTERS[1:]:
                    parent[k] += acc[k]

    def _group_work(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS[1:], 0)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["executor_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def wrap(self, module, attr: str, name: str) -> None:
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                self.results[name] = original(*args, **kwargs)
            return self.results[name]

        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    def last(self, name: str, counter: str = "wall_s") -> float:
        """Sum of `counter` over the calls of `name` since `mark()`."""
        return sum(c[counter] for c in self.calls.get(name, ())[self._marks.get(name, 0):])

    def mark(self) -> None:
        """Start a new operation: `last` only sees calls made after this."""
        self._marks = {k: len(v) for k, v in self.calls.items()}
