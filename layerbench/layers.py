"""The benchmark's only door into ``g4s_spark``, with optional tracing.

Every template calls the program through :class:`Layers`, so each call
is a layer boundary. With a :class:`Tracer` attached, each boundary
becomes a span: wall time, driver-process CPU, and a Spark job group set
around the call. Job and stage metrics are read back afterwards through
public Spark calls (``statusTracker().getJobIdsForGroup`` and the
status store's ``lastStageAttempt``); nothing inside the program is
hooked.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: int           # operation the span belongs to (-1: set-up)
    name: str         # "<layer>.<what>", e.g. "plans.build"
    start: float      # epoch seconds
    end: float
    cpu_s: float      # driver Python CPU spent inside the span
    group: str        # Spark job group set around the call
    rounds: int | None = None
    stats: dict = field(default_factory=dict)  # filled by Tracer.collect

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``collect`` attaches Spark job and stage
    metrics to the spans of a finished operation."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op = -1
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"layerbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        t0, c0 = time.time(), time.process_time()
        try:
            yield
        finally:
            t1, c1 = time.time(), time.process_time()
            self.sc.setJobGroup("layerbench-idle", "idle")
            self.spans.append(Span(self.op, name, t0, t1, c1 - c0, group))

    def collect(self, spans: list[Span]) -> None:
        """Read job/stage metrics for ``spans`` (call after the operation,
        outside its timing)."""
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # job/stage events are delivered async
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in spans:
            jobs = list(tracker.getJobIdsForGroup(s.group))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            st = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                  "gc_ms": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
            intervals = []
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:  # a stage the store never saw start
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numTasks()
                st["run_s"] += sd.executorRunTime() / 1e3
                st["cpu_s"] += sd.executorCpuTime() / 1e9
                st["gc_ms"] += sd.jvmGcTime()
                st["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                st["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            st["stage_busy_s"] = _covered(intervals, s.start, s.end)
            s.stats = st


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Layers:
    """Public-API calls into g4s_spark, one method per kind of boundary.

    ``query`` drives cypher + plans (parse, plan build, execution);
    ``update`` drives db; ``call`` drives operators, grblas, functions
    and streaming (call plus execution of its result)."""

    def __init__(self, spark, graph, inputs_dir: str):
        from g4s_spark.db import GraphDB

        self.spark, self.graph, self.inputs_dir = spark, graph, inputs_dir
        self.db = GraphDB(graph)
        self.tracer: Tracer | None = None

    def table(self, name: str):
        from g4s_spark.sources import load_table

        return load_table(self.spark, self.inputs_dir, name)

    def tables(self) -> dict:
        from g4s_spark.sources import load_tables

        return load_tables(self.spark, self.inputs_dir)

    @contextmanager
    def _span(self, name: str):
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    def query(self, text: str, params: dict | None) -> list:
        if self.tracer is not None:
            from g4s_spark.cypher.parser import bind_params, parse, split_with

            with self._span("cypher.parse"):
                q = bind_params(text, params)
                if split_with(q) is None:
                    parse(q)
        with self._span("plans.build"):
            df = self.db.query(text, params=params)
        with self._span("spark.exec"):
            return [tuple(r) for r in df.collect()]

    def update(self, statement: str):
        """Apply a mutation to the base graph; returns the new GraphDB
        (lazy: the cost lands on the read that forces it)."""
        with self._span("db.update"):
            return self.db.update(statement)

    def read(self, db, text: str) -> list:
        with self._span("plans.build"):
            df = db.query(text)
        with self._span("spark.exec"):
            return [tuple(r) for r in df.collect()]

    def call(self, layer: str, fn, rounds=None) -> list:
        """``rounds``: iteration count as passed, or a function of the
        result rows that reads it back (BFS depth)."""
        with self._span(f"{layer}.call"):
            rows = [tuple(r) for r in fn().collect()]
        if self.tracer is not None:
            self.tracer.spans[-1].rounds = rounds(rows) if callable(rounds) else rounds
        return rows
