"""Pieces the three workloads share: the run context, the measured
phase, the closed loop and percentiles."""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.tracer import Tracer


@dataclass
class Ctx:
    spark: object
    seed: int
    data_dir: str          # generated inputs
    work_dir: str          # scratch space of this run (stores)


@dataclass
class Phase:
    """Measurements of one timed phase of a workload."""

    latencies_ms: list[float] = field(default_factory=list)
    busy_s: float = 0.0    # time the measured operations took
    # cycle-closing work (realtime's flush + archive), charged in equal
    # shares to the ops_per_cycle operations of its cycle
    maintenance_s: list[float] = field(default_factory=list)
    ops_per_cycle: int = 1
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def ops_per_s(self) -> float:
        """Operations per second of time spent in the product; checks and
        input building excluded."""
        per_op = self.busy_s / len(self.latencies_ms)
        if self.maintenance_s:
            per_op += (sum(self.maintenance_s) / len(self.maintenance_s)
                       / self.ops_per_cycle)
        return 1.0 / per_op

    def record_failure(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def pctl(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def run_for(seconds: float, step, min_steps: int = 1) -> None:
    """Closed loop: call ``step()`` until ``seconds`` of wall time have
    passed and at least ``min_steps`` steps ran; every step runs to
    completion, so a phase always holds whole steps."""
    end = time.perf_counter() + seconds
    n = 0
    while n < min_steps or time.perf_counter() < end:
        step()
        n += 1


def traced_op(tracer: "Tracer | None", kind: str):
    """``tracer.op(kind)`` when tracing, else a no-op context."""
    return tracer.op(kind) if tracer is not None else contextlib.nullcontext()


def traced_span(tracer: "Tracer | None", name: str):
    """``tracer.span(name)`` when tracing, else a no-op context."""
    return tracer.span(name) if tracer is not None else \
        contextlib.nullcontext()
