"""In-memory spans around calls into the engine's public functions.

Spans are recorded only in a traced run. The harness opens spans around the
calls it makes itself (``pipelines.*.run``, plan construction, the action);
calls the engine makes internally are reached by temporarily rebinding the
public function's name in the module that calls it (``install``), and the
original bindings are restored after every traced unit (``uninstall``).
A wrapped call that returns a lazy DataFrame does its Spark work later, in
whatever action consumes the result. So after the unit, outside its wall,
``materialise`` runs each such output on its own (a noop-format write, under
the unit's posture) and records that wall as the span's ``work``, with the
outputs of earlier calls cached so each figure holds only its own layer's
work.

Each span that counts Spark jobs runs its jobs under its own job group, so
nested spans do not double-count; the counts are read after the unit ends.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    unit: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    count: float | None = None  # a layer's own count (rows, candidates)
    work: float | None = None  # wall of materialising a lazy output, after the unit
    jobs: int | None = None
    tasks: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.unit: int | None = None
        self._stack: list[int] = []
        self._groups = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self._outputs: list[tuple[Span, object, bool]] = []  # (span, lazy output, count rows)

    @property
    def active(self) -> bool:
        return self.unit is not None

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(self.unit, name, parent, time.perf_counter())
        sc = self.spark.sparkContext
        if jobs:
            sp.group = f"graftbench-{next(self._groups)}"
            sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if jobs:  # hand the thread back to the enclosing counting span
                outer = next(
                    (self.spans[i] for i in reversed(self._stack) if self.spans[i].group), None
                )
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer.group, outer.name)

    def wrap(self, module, attr: str, name: str, jobs: bool = False, on_result=None,
             count_rows: bool = False):
        """Rebind ``module.attr`` to a span-recording wrapper until uninstall.
        A DataFrame result is kept for ``materialise``; with ``count_rows``
        its row count becomes the span's count."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if sp is not None:
                    if on_result is not None:
                        on_result(sp, out)
                    if isinstance(out, DataFrame):
                        self._outputs.append((sp, out, count_rows))
                return out

        self._patches.append((module, attr, orig))
        setattr(module, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # ------------------------------------------------------------------
    # read-back, after the unit has ended
    # ------------------------------------------------------------------

    def settle(self) -> None:
        """Wait until the listener bus has recorded every finished job."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def jobs(self, idx: int) -> list[int]:
        """Job ids run inside span ``idx`` and its descendants."""
        sp = self.spans[idx]
        tracker = self.spark.sparkContext.statusTracker()
        out = list(tracker.getJobIdsForGroup(sp.group)) if sp.group else []
        for c in sp.children:
            out.extend(self.jobs(c))
        return out

    def tasks(self, job_ids) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                n += st.numCompletedTasks if st else 0
        return n

    def materialise(self) -> None:
        """Run each kept lazy output on its own and record its wall as the
        span's ``work``. Outputs are taken in call order and cached once
        timed, so a later output that builds on an earlier one reads it from
        memory. Call after the unit, outside its wall."""
        cached = []
        try:
            for sp, df, count_rows in self._outputs:
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                sp.work = time.perf_counter() - t
                df.persist()
                cached.append(df)
                rows = df.count()  # fills the cache
                if count_rows:
                    sp.count = rows
        finally:
            self._outputs.clear()
            for df in cached:
                df.unpersist(blocking=True)

    def discard_outputs(self) -> None:
        """Drop the kept outputs of a unit that failed."""
        self._outputs.clear()

    def unit_spans(self, unit: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.unit == unit]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        sp = self.spans[idx]
        covered, last = 0.0, sp.start
        for s, e in sorted((self.spans[c].start, self.spans[c].end) for c in sp.children):
            s, e = max(s, last), min(e, sp.end)
            if e > s:
                covered += e - s
                last = e
        return sp.dur - covered

    def dump(self) -> list[dict]:
        return [
            {
                "unit": s.unit,
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "count": s.count,
            }
            for s in self.spans
        ]
