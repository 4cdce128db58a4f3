"""Benchmark entry point.

    python3 perfbench/run.py --workload realtime --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` runs the same workload half
untraced and half traced and reports the per-layer metrics. Readable
lines go to stdout first; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if __name__ == "__main__":            # run as a script: sys.path[0] is perfbench/
    sys.path.insert(0, str(ROOT))

from perfbench import inputs, tracer as tr  # noqa: E402
from perfbench.common import Ctx, pctl  # noqa: E402
from perfbench.dashboard import Dashboard  # noqa: E402
from perfbench.dataprep import STAGES, Dataprep  # noqa: E402
from perfbench.realtime import Realtime  # noqa: E402

# BENCHMARK.json lists realtime and dataprep; dashboard runs by hand
WORKLOADS = {w.name: w for w in (Dashboard, Realtime, Dataprep)}
SETUP_REPEATS = 3

END_TO_END = {            # name → unit, in BENCHMARK.json order
    "latency_ms_p50": "ms",
    "ops_per_s": "1/s",
    "setup_s": "s",
}
# per-layer times: metric → (span name, self time only)
SPAN_METRICS = {
    "aql.parse_ms": ("aql.parse", False),
    "aql.plan_ms": ("aql.plan", True),
    "aql.execute_ms": ("aql.execute", False),
    "api.overhead_ms": ("api.front_door", True),
    "catalog.load_ms": ("catalog.load", False),
    "store.ingest_ms": ("store.ingest", False),
    "store.flush_backfill_ms": ("store.flush_backfill", False),
    "store.archive_ms": ("store.archive", False),
    **{f"op.{s}_ms": (f"op.{s}", False) for s in STAGES},
}
PER_LAYER = {
    **{name: "ms" for name in SPAN_METRICS},
    "store.files_per_ingest": "count",
    "store.write_amp": "ratio",
    "store.pending_batches": "count",
    "dedup.verified_per_candidate": "ratio",
    "host.canary_ms": "ms",
    "tracing.overhead_frac": "ratio",
}
SPARK_OPS = ("query", "ingest", "flush_backfill", "archive", "job")


def _spark_units() -> dict[str, str]:
    return {f"spark.{op}.{c}": ("ms" if c.endswith("_ms") else
                                "bytes" if c.endswith("_bytes") else "count")
            for op in SPARK_OPS for c in tr.SPARK_COUNTERS}


def per_layer_units() -> dict[str, str]:
    return {**PER_LAYER, **_spark_units()}


def start_spark(work: str, event_log: "str | None"):
    from aresdb_spark.session import get_spark
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "2g"}
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": Path(event_log).as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()      # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=120)


def host_canary_ms(spark) -> float:
    """Fixed numpy plus fixed Spark work: min of 3 after a warm-up."""
    import numpy as np
    from pyspark.sql import functions as F
    a = np.random.default_rng(0).random((600, 600))

    def once():
        t0 = time.perf_counter()
        (a @ a).sum()
        (spark.range(0, 2_000_000, numPartitions=8)
         .select(F.expr("bit_xor(xxhash64(id))")).collect())
        return (time.perf_counter() - t0) * 1e3

    once()
    return min(once() for _ in range(3))


def end_to_end(ph, setups: list[float]) -> dict[str, float]:
    return {"latency_ms_p50": pctl(ph.latencies_ms, 50),
            "ops_per_s": ph.ops_per_s(),
            "setup_s": statistics.median(setups)}


def layer_metrics(w, tracer: tr.Tracer, untraced, traced) -> dict:
    """Per-layer figures of the traced phase: the median over operations
    of each layer's span time, plus the workload's own counts. A layer the
    workload does not drive reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name, (span, self_time) in SPAN_METRICS.items():
        per_op = tracer.per_op(span, self_time)
        if per_op:
            m[name] = statistics.median(per_op.values())
    m.update(w.layer_figures())
    m["tracing.overhead_frac"] = (pctl(traced.latencies_ms, 50)
                                  / pctl(untraced.latencies_ms, 50))
    return m


def spark_metrics(tracer: tr.Tracer, counters: dict) -> dict:
    """Spark counters per operation of each kind, from the event log."""
    m = dict.fromkeys(_spark_units(), 0.0)
    n_ops: dict[str, int] = {}
    for _, kind in tracer.ops:
        n_ops[kind] = n_ops.get(kind, 0) + 1
    for op_id, totals in counters.items():
        kind = op_id.split(":")[0]
        for c in tr.SPARK_COUNTERS:
            m[f"spark.{kind}.{c}"] += totals[c]
    for name in m:
        m[name] /= n_ops.get(name.split(".")[1], 1)
    return m


def run(args) -> dict:
    t_start = time.perf_counter()
    marks: list[tuple[str, float]] = []

    def mark(name: str) -> None:
        marks.append((name, time.perf_counter()))

    os.makedirs(ROOT / ".perfbench", exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=ROOT / ".perfbench")
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        os.makedirs(data_dir)
        event_log = os.path.join(work, "eventlog") if args.trace else None
        if event_log:
            os.makedirs(event_log)
        cls = WORKLOADS[args.workload]
        inputs.write_tables(args.seed, data_dir, cls.tables, cls.sizes)
        mark("inputs")
        spark = start_spark(work, event_log)
        mark("spark")
        w = cls(Ctx(spark, args.seed, data_dir, work))
        setups = [w.setup() for _ in range(SETUP_REPEATS)]
        mark("setup")
        w.warm()
        mark("warm")
        if not args.trace:
            ph = w.measure(args.seconds)
            mark("measure")
            canary = host_canary_ms(spark)
            mark("canary")
            w.verify(ph)
            mark("verify")
            metrics = end_to_end(ph, setups)
            attempted, failed, errors = ph.attempted, ph.failed, ph.errors
            print(f"samples {len(ph.latencies_ms)}: " + " ".join(
                f"{x:.0f}" for x in ph.latencies_ms) + " ms")
        else:
            untraced = w.measure(args.seconds / 2)
            tracer = tr.Tracer(sc=spark.sparkContext)
            with tr.traced_front_door(tracer):
                traced = w.measure(args.seconds / 2, tracer)
            mark("measure")
            canary = host_canary_ms(spark)
            mark("canary")
            w.verify(traced)            # checks both phases' results
            layers = layer_metrics(w, tracer, untraced, traced)
            stop_spark(spark)           # closes the event log
            spark = None
            metrics = {**layers,
                       **spark_metrics(tracer,
                                       tr.event_log_counters(event_log)),
                       "host.canary_ms": canary}
            mark("verify")
            trace_path = ROOT / ".perfbench" / \
                f"trace-{args.workload}-{args.seed}.json"
            tracer.dump(str(trace_path))
            print(f"spans: {trace_path}")
            attempted = untraced.attempted + traced.attempted
            failed = untraced.failed + traced.failed
            errors = untraced.errors + traced.errors
        for e in errors:
            print(f"FAILED: {e}")
        prev = t_start
        for name, t in marks:
            print(f"phase {name} {t - prev:.2f} s")
            prev = t
        print(f"host.canary_ms {canary:.1f}")
        print(f"error_rate {failed / max(attempted, 1):.4f} "
              f"({failed} of {attempted} operations)")
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the checkout root on Spark's Python worker path too: mapInPandas
    # workers import aresdb_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if x])
    import aresdb_spark  # noqa: F401  fails fast outside a full checkout

    out = run(args)
    units = END_TO_END if not args.trace else per_layer_units()
    for name, value in out["metrics"].items():
        print(f"{name} {value:.6g} {units[name]}")
    out["metrics"] = {k: {"value": v, "unit": units[k]}
                      for k, v in out["metrics"].items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
