"""Spans, self times and executor-side counters for the traced run.

A span is (name, start, end, parent, run id), recorded in memory around
a call into one layer and written out with the run's record. A span's
self time is its duration minus the part of it that its child spans
cover.

Executor-side work (plug-in callables, pandas-UDF bodies) cannot open a
driver span, so it is counted with Spark accumulators instead: the
wrappers below add calls, busy seconds and rows to named accumulators,
and Spark merges the per-task updates back on the driver.
"""

from __future__ import annotations

import inspect
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        idx = len(self.spans) - 1
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def current(self) -> str | None:
        return self.spans[self._open[-1]].name if self._open else None

    def self_times(self) -> list[float]:
        """Self time of every span, in recording order."""
        return self_times(self.spans)

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self.self_times()):
            out[s.name] = out.get(s.name, 0.0) + t
        return out

    def dump(self) -> list[dict]:
        return [
            {**asdict(s), "self": round(t, 6)}
            for s, t in zip(self.spans, self.self_times())
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Counters:
    """Named float accumulators of one SparkContext."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self.acc: dict[str, object] = {}

    def __getitem__(self, name: str):
        if name not in self.acc:
            self.acc[name] = self._sc.accumulator(0.0)
        return self.acc[name]

    def values(self) -> dict[str, float]:
        return {k: float(a.value) for k, a in self.acc.items()}


def timed(fn: Callable, calls, secs, count: Callable | None = None, items=None) -> Callable:
    """Wrap a plug-in callable: every call adds 1 to ``calls``, its wall
    time to ``secs`` and, if given, ``count(args, result)`` to ``items``."""

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        secs.add(time.perf_counter() - t0)
        calls.add(1.0)
        if items is not None:
            items.add(float(count(args, out)))
        return out

    return wrapper


def timed_iter_udf(func: Callable, secs, rows) -> Callable:
    """Wrap a ``mapInPandas`` body. Time spent waiting for input batches
    belongs to the upstream plan, so it is left out of ``secs``."""

    def run(batches: Iterator):
        batches = iter(batches)
        waited = [0.0]

        def pull():
            while True:
                t0 = time.perf_counter()
                try:
                    b = next(batches)
                except StopIteration:
                    waited[0] += time.perf_counter() - t0
                    return
                waited[0] += time.perf_counter() - t0
                yield b

        out = iter(func(pull()))
        while True:
            t0, w0 = time.perf_counter(), waited[0]
            try:
                pdf = next(out)
            except StopIteration:
                secs.add(time.perf_counter() - t0 - (waited[0] - w0))
                return
            secs.add(time.perf_counter() - t0 - (waited[0] - w0))
            rows.add(float(len(pdf)))
            yield pdf

    return run


def timed_group_udf(func: Callable, secs, rows) -> Callable:
    """Wrap an ``applyInPandas`` body with the same positional arity:
    Spark passes the grouping key only to functions that take it."""
    n_args = len(inspect.signature(func).parameters)

    def call(*args):
        t0 = time.perf_counter()
        out = func(*args)
        secs.add(time.perf_counter() - t0)
        rows.add(float(len(out)))
        return out

    if n_args == 1:
        return lambda a: call(a)
    if n_args == 2:
        return lambda a, b: call(a, b)
    return lambda a, b, c: call(a, b, c)


@contextmanager
def udf_timing(counters: Counters, layer_of: Callable[[], str | None]):
    """While active, every pandas UDF handed to Spark is wrapped so its
    busy time and output rows land in ``udf.<layer>.s`` / ``.rows``,
    where the layer is the span open when the operator built its plan."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.pandas.group_ops import PandasCogroupedOps, PandasGroupedOpsMixin

    orig_map = DataFrame.mapInPandas
    orig_apply = PandasGroupedOpsMixin.applyInPandas
    orig_cogroup = PandasCogroupedOps.applyInPandas

    def accs():
        layer = layer_of() or "other"
        return counters[f"udf.{layer}.s"], counters[f"udf.{layer}.rows"]

    def map_in_pandas(self, func, schema, *args, **kwargs):
        return orig_map(self, timed_iter_udf(func, *accs()), schema, *args, **kwargs)

    def apply_in_pandas(self, func, schema):
        return orig_apply(self, timed_group_udf(func, *accs()), schema)

    def cogroup_apply(self, func, schema):
        return orig_cogroup(self, timed_group_udf(func, *accs()), schema)

    DataFrame.mapInPandas = map_in_pandas
    PandasGroupedOpsMixin.applyInPandas = apply_in_pandas
    PandasCogroupedOps.applyInPandas = cogroup_apply
    try:
        yield
    finally:
        DataFrame.mapInPandas = orig_map
        PandasGroupedOpsMixin.applyInPandas = orig_apply
        PandasCogroupedOps.applyInPandas = orig_cogroup


class JobStats:
    """Jobs, stages and tasks of one job group, read from the status
    tracker after the group's actions finish. Stages skipped because
    their shuffle output was reused ran no task and are not counted."""

    def __init__(self, sc) -> None:
        self.sc = sc

    def count(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
