"""``realtime``: upserts into a hot/cold ``events`` store beside the
queries that read it, the feed side of the engine.

The store is built with ``HotColdStore.init_from`` at a fixed cutoff. The
workload then runs deterministic cycles of K seed-keyed upsert batches.
Half of each batch's rows update keys that are still hot (keeping their
event time), the rest insert new keys; a fixed share of the inserts is
older than the cutoff and takes ``defer_backfill=True``. After each
ingest one query over the union view must show the batch; the query
alternates between the AQL-JSON and the SQL front door. A cycle
ends with ``flush_backfill`` and ``archive``, which advances the cutoff
by one hour.

Query latency climbs with the number of pending hot batches and drops
after an archive, so K fixes the read/write balance and is part of the
workload's definition.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import replace
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.common import Ctx, Phase, run_for, traced_op, traced_span

K = 3                       # upsert batches per cycle
MIN_CYCLES = 3
WARM_CYCLES = 1
BATCH_ROWS = 500
LATE_SHARE = 0.05           # rows older than the cutoff, deferred backfill
CUTOFF0 = datetime(2024, 1, 29)
WINDOW_FROM = "2024-01-28"  # the query's window covers every row it checks
WINDOW_LO = datetime(2024, 1, 28)
WINDOW_TO = "2024-03-31"
SUM_REL_TOL = 1e-9

# the same query through both front doors; operations alternate
QUERY = {"table": "events",
         "dimensions": [{"sqlExpression": "event_type", "alias": "et"}],
         "measures": [{"sqlExpression": "count(*)", "alias": "c"},
                      {"sqlExpression": "sum(value)", "alias": "s"}],
         "timeFilter": {"column": "ts", "from": WINDOW_FROM,
                        "to": WINDOW_TO}}
QUERY_SQL = (f"SELECT event_type, count(*) AS c, sum(value) AS s FROM events "
             f"WHERE aql_time_filter(ts, \"{WINDOW_FROM}\", \"{WINDOW_TO}\", "
             f"UTC) GROUP BY event_type")

COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def upsert_batch(seed: int, n: int, model: "Model", cutoff: datetime
                 ) -> pd.DataFrame:
    """The n-th upsert batch of a run: BATCH_ROWS distinct keys, half
    updates of hot keys (event time kept), half new keys; LATE_SHARE of
    all rows are new keys timed before ``cutoff``."""
    r = inputs.rng_for(seed, f"realtime/batch/{n}")
    n_late = round(BATCH_ROWS * LATE_SHARE)
    n_upd = BATCH_ROWS // 2
    n_new = BATCH_ROWS - n_upd - n_late
    hot = model.hot_keys(cutoff)
    upd = np.sort(r.choice(hot, n_upd, replace=False))
    fresh = np.arange(model.next_id, model.next_id + n_new + n_late)
    model.next_id += n_new + n_late
    offs = pd.to_timedelta(r.integers(0, 3_600_000_000, n_new + n_late),
                           unit="us")
    base = np.r_[np.full(n_new, np.datetime64(cutoff, "us")),
                 np.full(n_late, np.datetime64(cutoff - timedelta(hours=2),
                                               "us"))]
    rows = BATCH_ROWS
    return pd.DataFrame({
        "event_id": np.r_[upd, fresh].astype(np.int64),
        "ts": np.r_[model.rows.loc[upd, "ts"].to_numpy(),
                    (pd.DatetimeIndex(base) + offs).to_numpy()
                    ].astype("datetime64[us]"),
        "user_id": r.integers(0, 1500, rows, dtype=np.int64),
        "event_type": np.asarray(inputs.EVENT_TYPES)[r.integers(0, 5, rows)],
        "value": np.round(r.exponential(50.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, rows)],
    })


class Model:
    """The benchmark's own PK → row model of what the union view must
    show: applied rows, plus deferred (pre-cutoff) rows that become
    visible only when ``flush_backfill`` runs."""

    def __init__(self, events: pd.DataFrame):
        self.rows = events.set_index("event_id")[list(COLUMNS[1:])]
        self.pending: list[pd.DataFrame] = []
        self.next_id = int(self.rows.index.max()) + 1

    def hot_keys(self, cutoff: datetime) -> np.ndarray:
        return self.rows.index[self.rows["ts"] >= cutoff].to_numpy()

    def upsert(self, batch: pd.DataFrame, cutoff: datetime) -> None:
        b = batch.set_index("event_id")[list(COLUMNS[1:])]
        late = b["ts"] < cutoff
        self.pending.append(b[late])
        self._apply(b[~late])

    def flush(self) -> None:
        for b in self.pending:
            self._apply(b)
        self.pending = []

    def _apply(self, b: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows.drop(b.index, errors="ignore"), b])

    def query_result(self) -> dict:
        """What QUERY must return: {event_type: [count, sum(value)]}."""
        w = self.rows[self.rows["ts"] >= WINDOW_LO]
        g = w.groupby("event_type")["value"].agg(["count", "sum"])
        return {et: [int(c), float(s)] for et, (c, s) in g.iterrows()}


def result_matches(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k][0] == want[k][0]
        and math.isclose(got[k][1], want[k][1], rel_tol=SUM_REL_TOL)
        for k in want)


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Realtime:
    name = "realtime"
    tables = ("events",)
    sizes = None

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_setups = 0
        self.store = self.catalog = self.model = None
        self.cutoff = CUTOFF0
        self.n_batches = 0
        self.results: list[tuple[dict, dict]] = []
        # what the traced phase finds on disk
        self.files_per_ingest: list[int] = []
        self.bytes_written = 0
        self.user_bytes = 0
        self.pending_at_query: list[int] = []

    def setup(self) -> float:
        """Build the store from the generated ``events`` with
        ``init_from`` into a fresh root. Returns its wall seconds."""
        from aresdb_spark.catalog import TABLES, Catalog
        from aresdb_spark.sources.hotcold import HotColdStore
        spark = self.ctx.spark
        root = os.path.join(self.ctx.work_dir, f"rt{self.n_setups}")
        self.n_setups += 1
        os.makedirs(root)
        t0 = time.perf_counter()
        df = spark.read.parquet(f"{self.ctx.data_dir}/events.parquet")
        store = HotColdStore(path=f"{root}/events", time_column="ts",
                             primary_key=("event_id",),
                             sort_columns=("ts", "user_id"))
        store.init_from(df, CUTOFF0)
        dt = time.perf_counter() - t0
        tables = dict(TABLES)
        tables["events"] = replace(tables["events"], hotcold=True)
        self.store = store
        self.catalog = Catalog(root, tables=tables)
        self.schema = df.schema
        return dt

    def warm(self) -> None:
        """WARM_CYCLES whole cycles outside the timing; their results are
        checked with the measured ones."""
        import pyarrow.parquet as pq
        self.model = Model(pq.read_table(
            f"{self.ctx.data_dir}/events.parquet").to_pandas())
        ph = Phase()
        for _ in range(WARM_CYCLES):
            self._cycle(ph, None)
        if ph.failed:
            raise RuntimeError(f"realtime warm-up failed: {ph.errors}")

    def _query(self, sql: bool) -> dict:
        from aresdb_spark.aql.api import execute_request
        from aresdb_spark.aql.sql import execute_sql
        if sql:
            return execute_sql(self.ctx.spark, self.catalog, QUERY_SQL)
        out = execute_request(self.ctx.spark, self.catalog,
                              {"queries": [QUERY]})
        if out.get("errors") and out["errors"][0]:
            raise RuntimeError(out["errors"][0])
        return out["results"][0]

    def _mutation(self, tracer, kind: str, fn) -> float:
        """Run one store mutation; in the traced phase also record the
        data files it left on disk."""
        before = _data_files(self.store.path) if tracer is not None else None
        t0 = time.perf_counter()
        with traced_op(tracer, kind), traced_span(tracer, f"store.{kind}"):
            fn()
        dt = time.perf_counter() - t0
        if before is not None:
            new = {p: s for p, s in _data_files(self.store.path).items()
                   if p not in before}
            self.bytes_written += sum(new.values())
            if kind == "ingest":
                self.files_per_ingest.append(len(new))
        return dt

    def _op(self, ph: Phase, tracer) -> None:
        """One freshness operation: hand a batch to ``ingest``, then run
        the query that must show it."""
        from aresdb_spark.sources import pointer
        spark = self.ctx.spark
        n = self.n_batches
        pdf = upsert_batch(self.ctx.seed, n, self.model, self.cutoff)
        self.n_batches += 1
        batch = spark.createDataFrame(pdf, schema=self.schema)
        if tracer is not None:
            import pyarrow as pa
            self.user_bytes += pa.Table.from_pandas(pdf).nbytes
        ph.attempted += 1
        try:
            t_ing = self._mutation(tracer, "ingest", lambda: self.store.ingest(
                spark, batch, self.cutoff, defer_backfill=True))
            self.model.upsert(pdf, self.cutoff)
            if tracer is not None:
                self.pending_at_query.append(len(pointer.read_state(
                    self.store.path).get("hot_batches", [])))
            t0 = time.perf_counter()
            with traced_op(tracer, "query"):
                res = self._query(sql=n % 2 == 1)
            t_q = time.perf_counter() - t0
        except Exception as e:  # a failed op is a measured outcome
            ph.record_failure(f"ingest+query: {e}")
            return
        ph.latencies_ms.append((t_ing + t_q) * 1e3)
        ph.busy_s += t_ing + t_q
        self.results.append((res, self.model.query_result()))

    def _maintain(self, ph: Phase, tracer) -> None:
        """Close the cycle: fold the backfill queue, then archive one
        hour past the cutoff."""
        spark = self.ctx.spark
        new_cutoff = self.cutoff + timedelta(hours=1)
        try:
            dt = self._mutation(tracer, "flush_backfill",
                                lambda: self.store.flush_backfill(spark))
            self.model.flush()
            dt += self._mutation(tracer, "archive",
                                 lambda: self.store.archive(spark, new_cutoff))
        except Exception as e:
            ph.attempted += 1
            ph.record_failure(f"flush/archive: {e}")
            return
        finally:
            self.cutoff = new_cutoff
        ph.maintenance_s.append(dt)

    def _cycle(self, ph: Phase, tracer) -> None:
        for _ in range(K):
            self._op(ph, tracer)
        self._maintain(ph, tracer)

    def measure(self, seconds: float, tracer=None) -> Phase:
        """Whole cycles of K operations, each closed by a flush and an
        archive, until ``seconds`` have passed; at least MIN_CYCLES."""
        ph = Phase(ops_per_cycle=K)
        run_for(seconds, lambda: self._cycle(ph, tracer), MIN_CYCLES)
        return ph

    def layer_figures(self) -> dict:
        """Store counts of the traced phase, found on disk and in the
        store's committed state."""
        return {"store.files_per_ingest": float(np.mean(self.files_per_ingest)),
                "store.write_amp": self.bytes_written / self.user_bytes,
                "store.pending_batches": float(np.mean(self.pending_at_query))}

    def verify(self, ph: Phase) -> None:
        """Every query result against the model, then the whole union
        view against the model row by row."""
        for got, want in self.results:
            if not result_matches(got, want):
                ph.record_failure("query result differs from the model")
        self.results.clear()
        got = (self.store.read(self.ctx.spark).toPandas()
               .set_index("event_id").sort_index()[list(COLUMNS[1:])])
        want = self.model.rows.sort_index()
        if not (got.index.equals(want.index) and
                got["ts"].astype("datetime64[us]").equals(
                    want["ts"].astype("datetime64[us]")) and
                got[["user_id", "event_type", "value", "props"]].equals(
                    want[["user_id", "event_type", "value", "props"]])):
            ph.record_failure("union view differs from the model")
