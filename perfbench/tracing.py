"""Tracing for the benchmark's traced mode.

Spans are recorded around calls into the program's public methods by
wrappers installed on the class attributes from this file, so nothing
inside ``hadoop_sync_spark`` changes.  Because the wrappers sit on the
class, a method calling another wrapped method of its own layer (for
example ``Registry.sync`` calling ``self.diff``) gives a child span.

Spark work is counted exactly through job groups: every timed operation
runs under its own group (with a separate group while a query's ``fn()``
runs), and the status tracker is read once the operation returns.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from dataclasses import dataclass

#: public methods wrapped in traced mode: (module, class, method, span name)
WRAPPED = [
    ("hadoop_sync_spark.registry", "Registry", "sync", "registry.sync"),
    ("hadoop_sync_spark.registry", "Registry", "diff", "registry.diff"),
    ("hadoop_sync_spark.registry", "Registry", "read", "registry.read"),
    ("hadoop_sync_spark.registry", "Registry", "read_pruned", "registry.read_pruned"),
    ("hadoop_sync_spark.registry", "Registry", "prune_files", "registry.prune"),
    ("hadoop_sync_spark.registry", "Registry", "vacuum", "registry.vacuum"),
    ("hadoop_sync_spark.registry", "Registry", "compact", "registry.compact"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "append_stream_batch", "delta.append"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "delete_where", "delta.delete"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "merge_upsert", "delta.merge"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "read", "delta.read"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "snapshot", "delta.snapshot"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "compact", "delta.compact"),
    ("hadoop_sync_spark.delta_log", "DeltaLog", "vacuum", "delta.vacuum"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "spark.count"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans at the end."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._restore: list[tuple] = []
        self.overhead_s = 0.0  # time spent reading the status tracker

    # ---------------------------------------------------------- spans
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self._op_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def span(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def set_op(self, op_id: int | None) -> None:
        self._op_id = op_id

    # ------------------------------------------------------- wrappers
    def install(self) -> None:
        import importlib

        for mod_name, cls_name, meth, span_name in WRAPPED:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[meth]
            self._restore.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, span_name))

    def _wrap(self, orig, span_name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.span(span_name, orig, *args, **kwargs)

        wrapper.__name__ = getattr(orig, "__name__", span_name)
        wrapper.__doc__ = getattr(orig, "__doc__", None)
        return wrapper

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._restore):
            setattr(cls, meth, orig)
        self._restore.clear()

    # ------------------------------------------------------- analysis
    def durations(self, name: str, parent_name: str | None = None
                  ) -> list[float]:
        """Durations of the spans called ``name`` inside an operation;
        with ``parent_name``, only those whose parent span has it."""
        out = []
        for s in self.spans:
            if s.name != name or s.op_id is None:
                continue
            if parent_name is not None and (
                s.parent is None or self.spans[s.parent].name != parent_name
            ):
                continue
            out.append(s.end - s.start)
        return out

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the time its child spans cover (children
        run one after another on the driver thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - child[i] for i, s in enumerate(self.spans)
                if s.name == name and s.op_id is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one recorded span around a no-op call."""
    t = Tracer()
    t.set_op(0)
    noop = t._wrap(lambda: None, "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    return (time.perf_counter() - t0) / n


class JobCounter:
    """Exact Spark work counts per job group, from the status tracker."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.tracer = tracer

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> dict[str, int]:
        t0 = time.perf_counter()
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                stages += 1
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        self.tracer.overhead_s += time.perf_counter() - t0
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "tasks_failed": failed}


_EXCHANGE = re.compile(r"\b\w*Exchange\b")


def plan_exchanges(df) -> int:
    """Exchanges in the executed physical plan (shuffle, broadcast and
    reused exchanges; with adaptive execution, the final plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _EXCHANGE.search(line))
