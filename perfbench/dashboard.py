"""``dashboard``: read-only AQL-JSON and SQL queries over the static star
schema, the analyst side of the engine.

The unit operation is a page refresh: six panel queries, one per BASELINE
§3 shape (q1–q6), issued one after another. There are two pages, one in
AQL-JSON and one in SQL (q6, a global aggregate the SQL front door does
not take, stays AQL); the seed picks their time windows and filter
constants. Window lengths are fixed, so a seed changes which rows a query
reads, not how many days it spans. Timing whole pages rather than single
queries keeps the median off the gaps between the shapes' very different
latencies.

Every query goes through the front door (``execute_request`` for AQL,
``execute_sql`` for SQL), so the ``aql`` parse/plan/result path, the
catalog and Spark's scan, aggregate and broadcast join do all the work;
no store or operator code runs.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from perfbench import inputs
from perfbench.common import Ctx, Phase, run_for, traced_op

TABLES = ("events", "lineitem", "part", "embeddings")
LANGS = ("aql", "sql")  # one page per front door
SHAPES = ("q1_count_hourly", "q2_sum_measure_filter", "q3_dim_join",
          "q4_hll_distinct", "q5_non_agg_limit", "q6_array_predicates")
HLL_REL_TOL = 0.2     # approx distinct vs exact, HLL++ at ~1.5k keys


@dataclass(frozen=True)
class DashQuery:
    name: str
    shape: str
    lang: str                 # "aql" or "sql"
    text: object              # AQL JSON dict or SQL string
    params: tuple


def _day(d: int) -> str:
    return f"2024-01-{d:02d}"


def _q1(et, d0, lang):
    lo, hi = _day(d0), _day(d0 + 6)          # 7 whole days
    if lang == "sql":
        return (f"SELECT count(*) AS c FROM events WHERE event_type = "
                f"'{et}' AND aql_time_filter(ts, \"{lo}\", \"{hi}\", UTC) "
                f"GROUP BY aql_time_bucket_hour(ts, \"\", UTC)")
    return {"table": "events",
            "dimensions": [{"sqlExpression": "ts", "timeBucketizer": "hour",
                            "alias": "b"}],
            "measures": [{"sqlExpression": "count(*)", "alias": "c"}],
            "rowFilters": [f"event_type = '{et}'"],
            "timeFilter": {"column": "ts", "from": lo, "to": hi}}


def _q2(c, lang):
    if lang == "sql":
        return (f"SELECT event_type, sum(value) AS s FROM events "
                f"WHERE value > {c} GROUP BY event_type")
    return {"table": "events",
            "dimensions": [{"sqlExpression": "event_type", "alias": "et"}],
            "measures": [{"sqlExpression": "sum(value)", "alias": "s",
                          "rowFilters": [f"value > {c}"]}]}


def _q3(q0, lang):
    if lang == "sql":
        return ("SELECT p.p_brand AS brand, sum(l_quantity) AS qty "
                "FROM lineitem LEFT JOIN part p ON p.p_partkey = l_partkey "
                f"WHERE l_quantity > {q0} GROUP BY p.p_brand")
    return {"table": "lineitem",
            "joins": [{"table": "part", "alias": "p",
                       "conditions": ["p.p_partkey = l_partkey"]}],
            "dimensions": [{"sqlExpression": "p.p_brand", "alias": "brand"}],
            "measures": [{"sqlExpression": "sum(l_quantity)", "alias": "qty"}],
            "rowFilters": [f"l_quantity > {q0}"]}


def _q4(d0, lang):
    lo, hi = _day(d0), _day(d0 + 9)          # 10 whole days
    if lang == "sql":
        return (f"SELECT event_type, countdistincthll(user_id) AS u "
                f"FROM events WHERE aql_time_filter(ts, \"{lo}\", \"{hi}\", "
                f"UTC) GROUP BY event_type")
    return {"table": "events",
            "dimensions": [{"sqlExpression": "event_type", "alias": "et"}],
            "measures": [{"sqlExpression": "countdistincthll(user_id)",
                          "alias": "u"}],
            "timeFilter": {"column": "ts", "from": lo, "to": hi}}


def _q5(c, lang):
    if lang == "sql":
        return (f"SELECT event_id, event_type, value FROM events "
                f"WHERE value > {c} ORDER BY event_id LIMIT 100")
    return {"table": "events",
            "dimensions": [{"sqlExpression": c_, "alias": c_}
                           for c_ in ("event_id", "event_type", "value")],
            "measures": [{"sqlExpression": "1"}],
            "rowFilters": [f"value > {c}"],
            "sorts": [{"sqlExpression": "event_id"}], "limit": 100}


def _q6(k, c):
    return {"table": "embeddings",
            "measures": [{"sqlExpression": "count(*)", "alias": "c"}],
            "rowFilters": ["length(embedding) = 64",
                           f"element_at(embedding, {k}) > {c}"]}


def pages(seed: int) -> list[list[DashQuery]]:
    """One page of the six shapes per front door, seeded parameters."""
    r = inputs.rng_for(seed, "dashboard")
    out = []
    for lang in LANGS:
        et = inputs.EVENT_TYPES[int(r.integers(0, 5))]
        d1, d4 = int(r.integers(1, 24)), int(r.integers(1, 21))
        c2, q3 = round(float(r.uniform(10, 90)), 1), int(r.integers(0, 21))
        c5 = round(float(r.uniform(20, 120)), 1)
        k6, c6 = int(r.integers(0, 64)), round(float(r.uniform(-.1, .1)), 3)
        specs = [((et, d1), _q1(et, d1, lang)), ((c2,), _q2(c2, lang)),
                 ((q3,), _q3(q3, lang)), ((d4,), _q4(d4, lang)),
                 ((c5,), _q5(c5, lang)), ((k6, c6), _q6(k6, c6))]
        out.append([DashQuery(f"{shape}/{lang}", shape,
                              "aql" if isinstance(text, dict) else "sql",
                              text, params)
                    for shape, (params, text) in zip(SHAPES, specs)])
    return out


def run_query(spark, catalog, q: DashQuery) -> dict:
    """One query through the front door; raises on a query error."""
    from aresdb_spark.aql.api import execute_request
    from aresdb_spark.aql.sql import execute_sql
    if q.lang == "sql":
        return execute_sql(spark, catalog, q.text)
    out = execute_request(spark, catalog, {"queries": [q.text]})
    if out.get("errors") and out["errors"][0]:
        raise RuntimeError(out["errors"][0])
    return out["results"][0]


# --- correctness: DuckDB over the same parquet ------------------------------

def expected(con, q: DashQuery):
    """The result ``q`` must return, computed by DuckDB."""
    p = q.params
    if q.shape == "q1_count_hourly":
        et, d0 = p
        rows = con.execute(
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00'), "
            "count(*) FROM events WHERE event_type = ? AND ts >= ? "
            "AND ts < ? GROUP BY 1", [et, _day(d0), _day(d0 + 7)]).fetchall()
    elif q.shape == "q2_sum_measure_filter":
        rows = con.execute("SELECT event_type, sum(value) FROM events "
                           "WHERE value > ? GROUP BY 1", [p[0]]).fetchall()
    elif q.shape == "q3_dim_join":
        rows = con.execute(
            "SELECT coalesce(p.p_brand, 'NULL'), sum(l_quantity) "
            "FROM lineitem LEFT JOIN part p ON p.p_partkey = l_partkey "
            "WHERE l_quantity > ? GROUP BY 1", [p[0]]).fetchall()
    elif q.shape == "q4_hll_distinct":
        rows = con.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events "
            "WHERE ts >= ? AND ts < ? GROUP BY 1",
            [_day(p[0]), _day(p[0] + 10)]).fetchall()
    elif q.shape == "q5_non_agg_limit":
        return con.execute(
            "SELECT event_id, event_type, value FROM events WHERE value > ? "
            "ORDER BY event_id LIMIT 100", [p[0]]).fetchall()
    else:
        k, c = p                # AQL element_at is 0-based, DuckDB's 1-based
        return {"value": con.execute(
            f"SELECT count(*) FROM embeddings WHERE len(embedding) = 64 "
            f"AND embedding[{k + 1}]::DOUBLE > ?", [c]).fetchone()[0]}
    return {str(k): v for k, v in rows}


def close(a, b) -> bool:
    """Equal; floats up to summation-order rounding."""
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6))
    return a == b


def matches(q: DashQuery, got: dict, want) -> bool:
    """Does the engine's result ``got`` equal DuckDB's ``want``?"""
    if q.shape == "q4_hll_distinct":
        return got.keys() == want.keys() and all(
            abs(got[k] - want[k]) <= HLL_REL_TOL * want[k] for k in want)
    if q.shape == "q5_non_agg_limit":
        rows = got.get("matrixData", [])
        return len(rows) == len(want) and all(
            int(r[0]) == w[0] and r[1] == w[1] and close(float(r[2]), w[2])
            for r, w in zip(rows, want))
    return got.keys() == want.keys() and all(
        close(got[k], want[k]) for k in want)


def duckdb_views(data_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


class Dashboard:
    name = "dashboard"
    tables = TABLES
    sizes = None            # the sf0.1 shapes

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pages = pages(ctx.seed)
        self.order = inputs.rng_for(ctx.seed, "dashboard/order")
        self.catalog = None
        self.results: list[tuple[DashQuery, dict]] = []

    def setup(self) -> float:
        """A fresh catalog with every table loaded and scanned once: the
        engine's start of serving. Returns its wall seconds."""
        from aresdb_spark.catalog import Catalog
        t0 = time.perf_counter()
        cat = Catalog(self.ctx.data_dir)
        for t in TABLES:
            cat.load(self.ctx.spark, t).count()
        self.catalog = cat
        return time.perf_counter() - t0

    def warm(self) -> None:
        for page in self.pages:
            for q in page:
                run_query(self.ctx.spark, self.catalog, q)

    def _page(self, ph: Phase, page: list[DashQuery], tracer) -> None:
        ph.attempted += 1
        results = []
        t0 = time.perf_counter()
        try:
            for q in page:
                with traced_op(tracer, "query"):
                    results.append((q, run_query(self.ctx.spark,
                                                 self.catalog, q)))
        except Exception as e:  # a failed query is a measured outcome
            ph.record_failure(f"{q.name}: {e}")
            return
        dt = time.perf_counter() - t0
        ph.latencies_ms.append(dt * 1e3)
        ph.busy_s += dt
        self.results.append(results)

    def measure(self, seconds: float, tracer=None) -> Phase:
        """Whole passes over the pages, each pass in a fresh seeded order,
        until ``seconds`` have passed."""
        ph = Phase()
        run_for(seconds, lambda: [
            self._page(ph, self.pages[i], tracer)
            for i in self.order.permutation(len(self.pages))])
        return ph

    def layer_figures(self) -> dict:
        return {}

    def verify(self, ph: Phase) -> None:
        """Check every result against DuckDB, one DuckDB query per
        distinct query; a page with a mismatch counts as failed."""
        con = duckdb_views(self.ctx.data_dir)
        want = {}
        try:
            for page in self.results:
                bad = []
                for q, got in page:
                    if q.name not in want:
                        want[q.name] = expected(con, q)
                    if not matches(q, got, want[q.name]):
                        bad.append(q.name)
                if bad:
                    ph.record_failure(f"{bad}: result differs from DuckDB")
        finally:
            con.close()
        self.results.clear()
