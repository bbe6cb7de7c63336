"""In-memory spans and per-span Spark stage metrics for the traced run.

A :class:`Tracer` records one span per call into a layer — name, layer,
start, end, parent id — and keeps them in memory until :meth:`Tracer.dump`
writes them out.  With a :class:`StageHarvester` it also labels every job
the span launches with the job group ``{workload}:{layer}`` and, after the
span ends, harvests the stages of those jobs from the live status store
(executor run time, shuffle bytes, spill, input bytes, tasks).  The
harvest runs after the span's end and is recorded as its ``harvest_s``, so
it counts in neither the span's duration nor its parent's self time.

The arithmetic is Spark-free so it can be tested on synthetic trees:
:func:`self_times` gives each span's duration minus its children's (and
their harvests), and :func:`prefix_self` turns cumulative prefix
measurements (materializing each layer's output re-runs every layer before it) into
per-layer self values.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: stage counters summed per span (status-store StageData getters)
STAGE_FIELDS = (
    "executorRunTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "numTasks",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    harvest_s: float = 0.0
    jobs: int = 0
    stages: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span id → duration minus its children's durations and the time
    spent harvesting them (spans on one stack never overlap)."""
    out = {s.id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration + s.harvest_s
    return out


def prefix_self(
    prefixes: Sequence[tuple[str, float]], bases: Mapping[str, str | None]
) -> dict[str, float]:
    """Per-layer self values from cumulative prefix values.

    ``prefixes`` is ``[(layer, value)]`` in pipeline order, a layer listed
    more than once (one prefix per call) summing its values.  ``bases``
    maps each layer to the layer whose prefix it extends, or None when it
    starts from a persisted intermediate (nothing upstream re-runs)."""
    total: dict[str, float] = {}
    for layer, v in prefixes:
        total[layer] = total.get(layer, 0.0) + v
    return {
        layer: v - (total.get(bases[layer], 0.0) if bases.get(layer) else 0.0)
        for layer, v in total.items()
    }


class StageHarvester:
    """Labels jobs with a job group and reads the jobs and stages of one
    group from the Spark status store.

    The store is filled by the listener bus asynchronously, so each
    harvest first waits for the bus to drain."""

    def __init__(self, sc):
        self.sc = sc
        self._seen: set[int] = set()

    def set_group(self, group: str, description: str) -> str | None:
        """Label later jobs with ``group``; returns the group it replaces."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, description)
        return prev

    def restore_group(self, prev: str | None) -> None:
        if prev:
            self.sc.setJobGroup(prev, "")
        else:
            self.sc._jsc.clearJobGroup()

    def _stage_table(self) -> dict[int, dict[str, int]]:
        jvm = self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        table = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reused an earlier shuffle
            row = table.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
            for f in STAGE_FIELDS:
                row[f] += int(getattr(s, f)())
        return table

    def harvest(self, group: str) -> tuple[int, dict[str, int]]:
        """(new jobs, summed stage counters) of ``group`` since the last
        harvest of any group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in self._seen]
        self._seen.update(jobs)
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        if not jobs:
            return 0, totals
        table = self._stage_table()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                for f, v in table.get(sid, {}).items():
                    totals[f] += v
        return len(jobs), totals


class Tracer:
    """Span recorder; with a harvester, also labels and harvests jobs."""

    def __init__(self, workload: str, clock=time.perf_counter,
                 harvester=None):
        self.workload = workload
        self.clock = clock
        self.harvester = harvester
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        group = f"{self.workload}:{layer}"
        h = self.harvester
        prev = h.set_group(group, name) if h is not None else None
        s = Span(len(self.spans), name, layer,
                 self._stack[-1] if self._stack else None, self.clock())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if h is not None:
                s.jobs, s.stages = h.harvest(group)
                h.restore_group(prev)
                s.harvest_s = self.clock() - s.end

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans],
                f, indent=1,
            )
