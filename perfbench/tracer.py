"""Span tracing for the traced run, and Spark counters from the event log.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps the calls it makes (front door, store mutations, operator
entry points) and, while tracing is on, the public functions the front
door calls in turn (parse, plan, catalog load, result shaping). Spans stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_ms",
                  "shuffle_write_bytes", "input_bytes", "spill_bytes", "gc_ms")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1          # index into Tracer.spans, -1 for a root
    op: str = ""              # id of the benchmark operation it belongs to

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class Tracer:
    """Records nested spans for one thread. ``op(kind)`` opens a top-level
    benchmark operation, tags its Spark jobs with a job group and makes
    every span inside it carry the operation's id."""

    sc: object = None                      # SparkContext for job groups
    spans: list[Span] = field(default_factory=list)
    ops: list[tuple[str, str]] = field(default_factory=list)  # (id, kind)
    _stack: list[int] = field(default_factory=list)
    _op: str = ""

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else -1, op=self._op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        op_id = f"{kind}:{len(self.ops)}"
        self.ops.append((op_id, kind))
        self._op = op_id
        if self.sc is not None:
            self.sc.setJobGroup(op_id, kind)
        try:
            with self.span(kind) as s:
                yield s
        finally:
            self._op = ""
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_ms(self) -> list[float]:
        """Self time of every span: its duration minus its children's."""
        out = [s.ms for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                out[s.parent] -= s.ms
        return out

    def per_op(self, name: str, self_time: bool = False) -> dict[str, float]:
        """op id → summed (self) ms of the spans called ``name`` in it."""
        times = self.self_ms() if self_time else [s.ms for s in self.spans]
        out: dict[str, float] = {}
        for s, t in zip(self.spans, times):
            if s.name == name and s.op:
                out[s.op] = out.get(s.op, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "op": s.op}
                       for s in self.spans], f)


# public functions the front door calls; traced by replacing the module or
# class attribute the caller looks up at call time
def _front_door_targets():
    from aresdb_spark import catalog
    from aresdb_spark.aql import api, planner, sql
    return [
        (api, "execute_request", "api.front_door"),
        (sql, "execute_sql", "api.front_door"),
        (api, "query_from_json", "aql.parse"),
        (sql, "sql_to_query", "aql.parse"),
        (planner.Planner, "plan", "aql.plan"),
        (api, "to_aggregate_result", "aql.execute"),
        (api, "to_matrix_result", "aql.execute"),
        (catalog.Catalog, "load", "catalog.load"),
    ]


@contextlib.contextmanager
def traced_front_door(tracer: Tracer):
    """Wrap the AQL layers in spans for the duration of the block."""
    saved = []
    for owner, attr, name in _front_door_targets():
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Parse the Spark event log(s) under ``log_dir``: job group →
    totals of SPARK_COUNTERS over the jobs that carried that group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(SPARK_COUNTERS, 0.0))

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if not group:
                        continue
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        bucket(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if not group:
                        continue
                    b = bucket(group)
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    b["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    b["gc_ms"] += m.get("JVM GC Time", 0)
                    b["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    b["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return out
