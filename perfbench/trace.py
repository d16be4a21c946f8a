"""Spans and Spark work counters, measured from outside the package.

A span is (name, start, end, parent). A layer span also owns a Spark job
group; when the pass ends, the jobs of each group are read back from the
application status store (which works with the UI off) to give the
layer's jobs, stages, executor CPU, shuffle writes and spill. Spans stay
in memory until the benchmark writes them out at the end of the run.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("density", "spatial_join", "asof", "validity", "chips", "checkpoint", "knn")
WORK = ("jobs", "stages", "cpu_s", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    group: str | None = None
    rows_out: int = 0
    work: dict = field(default_factory=dict)


def _jlist(sc, seq):
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def group_work(sc, group: str) -> dict:
    """Jobs, completed stages, executor CPU, shuffle write and spill of one
    job group, read from the status store after the listener bus drains."""
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    seen: set = set()
    cpu_ns = shuffle = spill = 0
    for j in jobs:
        for s in _jlist(sc, store.job(j).stageIds()):
            if s in seen:
                continue
            sd = store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            seen.add(s)
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return {
        "jobs": len(jobs), "stages": len(seen), "cpu_s": cpu_ns / 1e9,
        "shuffle_write_bytes": shuffle, "spill_bytes": spill,
    }


def join_output_rows(spark, group: str) -> int:
    """Rows out of the join nodes of the SQL executions run in `group`
    (before any filter above them), from the SQL status store."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    sql = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for ex in _jlist(sc, sql.executionsList()):
        if not jobs & set(_jlist(sc, ex.jobs().keys().toSeq())):
            continue
        eid = ex.executionId()
        values = sql.executionMetrics(eid)
        for node in _jlist(sc, sql.planGraph(eid).allNodes()):
            if "Join" not in node.name():
                continue
            for m in _jlist(sc, node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(v.get().replace(",", "").split()[0])
    return total


class Tracer:
    """Collects spans of one traced pass. `layer` spans run their Spark
    jobs under a job group named after the layer; `materialize` persists a
    layer's output, counts it and holds it until `release`."""

    def __init__(self, spark, tag: str):
        self._ids = itertools.count(1)
        self.spark = spark
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held: list = []
        self.counters: dict = {}

    @contextmanager
    def span(self, name: str, layer: bool = False):
        sp = Span(
            name, 0.0, parent=self._stack[-1].id if self._stack else None,
            id=next(self._ids),
        )
        if layer:
            sp.group = f"{name}@{self.tag}#{sp.id}"
        outer = next((s.group for s in reversed(self._stack) if s.group), None)
        if sp.group:
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if sp.group:
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc._jsc.clearJobGroup()

    def layer(self, name: str):
        return self.span(name, layer=True)

    def materialize(self, df):
        """Persist and count a layer's output; held until `release`."""
        df = df.persist()
        n = df.count()
        self._held.append(df)
        return df, n

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def add_join_rows(self, name: str, group: str) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.add(name, join_output_rows(self.spark, group))

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def self_time(self, sp: Span) -> float:
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.id)
        return (sp.end - sp.start) - kids

    def collect_work(self) -> None:
        """Fill each layer span's work counters from the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for sp in self.spans:
            if sp.group:
                sp.work = group_work(self.sc, sp.group)

    def layer_totals(self) -> dict:
        """{layer: {self_s, rows_out, jobs, ...}} summed over this pass."""
        out = {name: dict.fromkeys(("self_s", "rows_out") + WORK, 0) for name in LAYERS}
        for sp in self.spans:
            if sp.name in out:
                row = out[sp.name]
                row["self_s"] += self.self_time(sp)
                row["rows_out"] += sp.rows_out
                for k in WORK:
                    row[k] += sp.work.get(k, 0)
        return out

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "id": s.id, "parent": s.parent, "start": s.start,
             "end": s.end, "group": s.group, "rows_out": s.rows_out, **s.work}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
