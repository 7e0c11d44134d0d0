"""Per-layer spans for the traced run, recorded from outside the program.

``Tracer.wrap`` replaces a layer function under the name its caller
resolves (``crawler_spark.plans.run.fetch_stage``, not the defining
module's attribute, because ``run.py`` imports the name).  Spark is lazy,
so the wrapper:

1. sets a Spark job group unique to this span instance,
2. calls the original function,
3. materializes a returned DataFrame inside the span with an eager local
   checkpoint, then counts it,
4. hands the checkpointed frame downstream.

A checkpoint, unlike ``persist``, cuts the plan: downstream plans scan the
materialized rows instead of nesting every upstream cached plan, which
otherwise grows the plans (and the event log's copies of them) until the
driver runs out of heap.  ``release`` drops every checkpoint at the end of
each iteration.  Task metrics are read afterwards from Spark's JSON event log
and attributed to spans by job group.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    enclosing: bool
    start: float
    end: float = 0.0
    rows_out: int = 0
    children: list[tuple[float, float]] = field(default_factory=list)

    def self_s(self) -> float:
        covered, cursor = 0.0, self.start
        for s, e in sorted(self.children):
            s, e = max(s, cursor), min(e, self.end)
            if e > s:
                covered += e - s
                cursor = e
        return self.end - self.start - covered


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held: list[DataFrame] = []  # local checkpoints to drop
        self._patches: list[tuple[object, str, object]] = []
        self._count = 0

    # -- patching ------------------------------------------------------------

    def wrap(self, owner: object, attr: str, span: str,
             enclosing: bool = False) -> None:
        """Trace ``owner.attr`` as ``span``.  An ``enclosing`` span (one
        that calls other traced layers) reports its self time as wall."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            return self._call(span, enclosing, orig, args, kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty(_GROUP_KEY, None)
        else:
            sc.setJobGroup(span.group, span.name)

    def _call(self, name: str, enclosing: bool, fn, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        self._count += 1
        span = Span(name, f"bench-span-{self._count}", enclosing,
                    time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
                self._held.append(out)
                span.rows_out = out.count()
            return out
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children.append((span.start, span.end))
            self._set_group(parent)

    def release(self) -> None:
        """Drop the blocks of every checkpoint the spans took."""
        for df in self._held:
            # a local checkpoint is a LogicalRDD over a persisted RDD
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        self._held.clear()

    def take_spans(self) -> list[Span]:
        spans, self.spans = self.spans, []
        return spans


# -- event log ---------------------------------------------------------------


@dataclass
class TaskStats:
    cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    # stage id -> task durations in ms
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)


def read_event_log(path: Path) -> tuple[dict[str, TaskStats], dict[str, int]]:
    """Task metrics per job group, and the number of jobs per job group."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    per_group: dict[str, TaskStats] = {}
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_KEY)
                if group is None:
                    continue
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", ()):
                    # a stage reused by a later job ran in the first one
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if group is None or metrics is None:
                    continue
                st = per_group.setdefault(group, TaskStats())
                st.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
                st.shuffle_write_b += metrics.get(
                    "Shuffle Write Metrics", {}
                ).get("Shuffle Bytes Written", 0)
                st.spill_b += metrics.get("Disk Bytes Spilled", 0)
                info = ev["Task Info"]
                st.stage_tasks.setdefault(ev["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
    return per_group, jobs


def _skew(stage_tasks: dict[int, list[int]]) -> float:
    """Max over median task time of the widest stage (most tasks)."""
    if not stage_tasks:
        return 0.0
    widest = max(stage_tasks.values(), key=lambda d: (len(d), sum(d)))
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def span_metrics(
    spans: list[Span], tasks: dict[str, TaskStats]
) -> dict[str, float]:
    """``<span>.<metric>`` for every span name of one iteration."""
    acc: dict[str, dict] = {}
    for sp in spans:
        a = acc.setdefault(sp.name, {"wall_s": 0.0, "rows_out": 0, "cpu": 0.0,
                                     "shuf": 0, "spill": 0, "stages": {}})
        a["wall_s"] += sp.self_s() if sp.enclosing else sp.end - sp.start
        a["rows_out"] += sp.rows_out
        st = tasks.get(sp.group)
        if st is not None:
            a["cpu"] += st.cpu_s
            a["shuf"] += st.shuffle_write_b
            a["spill"] += st.spill_b
            a["stages"].update(st.stage_tasks)
    out: dict[str, float] = {}
    for name, a in acc.items():
        out[f"{name}.wall_s"] = a["wall_s"]
        out[f"{name}.rows_out"] = a["rows_out"]
        out[f"{name}.task_cpu_s"] = a["cpu"]
        out[f"{name}.shuffle_write_mb"] = a["shuf"] / 2**20
        out[f"{name}.spill_mb"] = a["spill"] / 2**20
        out[f"{name}.task_skew"] = _skew(a["stages"])
    return out
