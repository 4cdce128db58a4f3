"""Driver-side cost budgets, counted in Py4J commands (``count_py4j``).

Every Python-built Column node and every DataFrame op is at least one
round trip to the JVM, so on the freshness path (ingest, then a
``Catalog.load``-backed query through the AQL front door) the driver,
not Spark, sets the floor. These paths build each expression list as
Spark-SQL text — one ``selectExpr`` / ``filter(str)`` / ``F.expr`` per
list — and each budget below is about half of what the per-node Column
trees cost, so a regression back to Column trees fails it. Counts are deterministic for
a given schema; the budgets leave headroom for py4j/pyspark changes.
"""

from datetime import datetime, timedelta

import pandas as pd
import pytest

from tests.conftest import count_py4j, load_events

CUTOFF = datetime(2024, 1, 29)


@pytest.fixture(scope="module")
def events(spark):
    return load_events(spark)


def _batch(spark, events, n, first_id):
    """``n`` upsert rows in the events schema: new ids, 95% at/after
    the cutoff, 5% late (the shape the realtime benchmark ingests)."""
    late = n // 20
    ts = [CUTOFF + timedelta(minutes=i) for i in range(n - late)] + \
        [CUTOFF - timedelta(hours=2)] * late
    pdf = pd.DataFrame({
        "event_id": range(first_id, first_id + n), "ts": ts,
        "user_id": [i % 97 for i in range(n)],
        "event_type": ["click"] * n, "value": [1.5] * n,
        "props": ["{}"] * n})
    return spark.createDataFrame(pdf, schema=events.schema)


def _store(spark, events, root):
    from aresdb_spark.sources.hotcold import HotColdStore
    store = HotColdStore(path=str(root / "events"), time_column="ts",
                         primary_key=("event_id",),
                         sort_columns=("ts", "user_id"))
    store.init_from(events, CUTOFF)
    return store


def test_fold_upserts_budget(spark, events):
    from aresdb_spark.streaming.upsert import fold_upserts
    pending = events.selectExpr("*", "CAST(1 AS BIGINT) AS __batch",
                                "CAST(0 AS BIGINT) AS __seq")
    n = count_py4j(spark, lambda: fold_upserts(
        events, pending, "__batch", ["event_id"]))
    assert n <= 230, n   # as Column trees: 469


def test_ingest_budget(spark, events, tmp_path):
    store = _store(spark, events, tmp_path)
    batch = _batch(spark, events, 500, 10_000)
    n = count_py4j(spark, lambda: store.ingest(
        spark, batch, CUTOFF, defer_backfill=True))
    assert n <= 370, n   # as Column trees: 749


def test_catalog_load_budget(spark, events, tmp_path):
    from dataclasses import replace

    from aresdb_spark.catalog import TABLES, Catalog
    store = _store(spark, events, tmp_path)
    for k in range(2):
        store.ingest(spark, _batch(spark, events, 500, 10_000 + 500 * k),
                     CUTOFF, defer_backfill=True)
    cat = Catalog(str(tmp_path),
                  tables={"events": replace(TABLES["events"], hotcold=True)})
    rng = (datetime(2024, 1, 2), datetime(2024, 2, 1))
    n = count_py4j(spark, lambda: cat.load(spark, "events", time_range=rng))
    assert n <= 480, n   # as Column trees: 971


def test_minhash_signature_budget(spark):
    from pyspark.sql import functions as F

    from aresdb_spark.operators.dedup import minhash_signature
    n = count_py4j(spark, lambda: minhash_signature(F.col("text")))
    assert n <= 190, n   # as Column trees: 389


# the realtime benchmark's query shape (perfbench/realtime.py QUERY)
REALTIME_QUERY = {
    "table": "events",
    "dimensions": [{"sqlExpression": "event_type", "alias": "et"}],
    "measures": [{"sqlExpression": "count(*)", "alias": "c"},
                 {"sqlExpression": "sum(value)", "alias": "s"}],
    "timeFilter": {"column": "ts", "from": "2024-01-28", "to": "2024-03-31"}}


def test_execute_request_budget(spark):
    from aresdb_spark.aql.api import execute_request
    from aresdb_spark.catalog import Catalog
    from tests.conftest import SF_DIR
    cat, req = Catalog(SF_DIR), {"queries": [REALTIME_QUERY]}
    assert "errors" not in execute_request(spark, cat, req)  # warm
    n = count_py4j(spark, lambda: execute_request(spark, cat, req))
    assert n <= 54, n    # as Column trees: 107


def test_geo_compile_budget(spark):
    from aresdb_spark.aql import expr as E
    from aresdb_spark.aql import planner  # noqa: F401 registers the geo functions
    geo = "geography_intersects(g.shape, lat, lng)"
    n = count_py4j(spark, lambda: E.compile_expr(geo))
    assert n <= 480, n   # as Column trees: 964
    parser = spark._jsparkSession.sessionState().sqlParser()
    assert parser.parseExpression(E.compile_expr(geo)) is not None
