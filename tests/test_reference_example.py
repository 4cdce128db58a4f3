"""Run the reference's own shipped 1k_trips example end-to-end:

its schema documents load through the metastore, its CSV data ingests
(with the ``{1d}`` time template resolved deterministically instead of
randomly), and its query files — total_trips.aql, total_fare.aql, and
the total_trips.sql dialect twin — execute through the same front doors
a reference user would hit, checked against DuckDB oracles.

This is the closest available analog of "a user of the reference
switches repos and runs exactly what they run today".
"""

import csv
import json
import os

import pytest
from conftest import REFERENCE_ROOT

EXAMPLE = os.path.join(REFERENCE_ROOT, "examples", "1k_trips")
pytestmark = pytest.mark.usefixtures("reference_root")

# pinned "now": Thu 2024-01-25 13:07:00 UTC (matches the repo's other
# golden tests); {1d} rows spread deterministically over [now-1d, now)
NOW = 1706190420


@pytest.fixture(scope="module")
def trips_env(spark, tmp_path_factory):
    """The full reference user journey, through the same layers the Go
    example uses: schema documents → metastore; CSV rows (ALL values as
    strings, exactly as examples/utils/example_utils.go:228-263 reads
    them) → client Connector (type coercion, enum auto-expansion) →
    wire batches → DataHandler → hot/cold + dimension stores → the
    metastore-driven catalog the queries read."""
    from datetime import datetime

    from aresdb_spark.metastore import SchemaStore, catalog_from_store
    from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore
    from aresdb_spark.streaming.connector import Connector
    from aresdb_spark.streaming.data_handler import DataHandler

    root = tmp_path_factory.mktemp("trips_example")
    store = SchemaStore()
    for fn in sorted(os.listdir(os.path.join(EXAMPLE, "schema"))):
        with open(os.path.join(EXAMPLE, "schema", fn)) as f:
            store.create_table(json.load(f))

    trips_store = HotColdStore(
        path=str(root / "trips"), time_column="request_at",
        primary_key=("uuid",), sort_columns=("city_id", "status"))
    trips_store.init_from(spark.createDataFrame(
        [], "request_at timestamp, uuid string, city_id int, "
            "status string, fare float, driver_uuid string, "
            "driver_uuid_hll bigint, request_point string"),
        cutoff=datetime(2024, 1, 1))
    cities_store = DimensionStore(path=str(root / "cities"),
                                  primary_key=("id",))
    cities_store.init_from(spark.createDataFrame([], "id int, name string"))
    conn = Connector(store, DataHandler(
        spark, store, {"trips": trips_store, "cities": cities_store}))

    with open(os.path.join(EXAMPLE, "data", "cities.csv")) as f:
        reader = csv.reader(f)
        headers = next(reader)
        n = conn.insert("cities", headers, [list(r) for r in reader])
    assert n == 10  # cities.csv data rows

    with open(os.path.join(EXAMPLE, "data", "trips.csv")) as f:
        reader = csv.reader(f)
        headers = next(reader)
        rows = []
        for i, r in enumerate(reader):
            row = list(r)
            # the {1d} time template resolves deterministically over
            # [now-1d, now) instead of the Go example's randomness
            assert row[0] == "{1d}"
            rows.append(row)
        for i, row in enumerate(rows):
            row[0] = str(NOW - 86400 + (i * 86400) // len(rows))
    assert conn.insert("trips", headers, rows) == len(rows)

    catalog = catalog_from_store(str(root), store,
                                 hotcold={"trips", "cities"})

    # fold the ingested append-only hot batches into the base so the
    # flat oracle glob sees the resolved store
    trips_store.compact_hot(spark)
    import duckdb
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW trips AS SELECT * FROM "
                 f"'{trips_store.hot_path}/*.parquet'")
    duck.execute(f"CREATE VIEW cities AS SELECT * FROM "
                 f"'{cities_store._snap_dir()}/*.parquet'")
    yield catalog, duck
    duck.close()


def _load_aql(name):
    with open(os.path.join(EXAMPLE, "queries", name)) as f:
        req = json.load(f)
    for q in req["queries"]:
        q["now"] = NOW  # pin the relative time filter (request extension)
    return req


# window = [now-24h, end of current quarter-hour) per the reference's
# relative grammar; NOW is 13:07 so the quarter-hour ends 13:15
WINDOW_SQL = (f"request_at >= to_timestamp({NOW - 86400}) "
              f"AND request_at < to_timestamp({NOW - NOW % 900 + 900})")


def _run_request(spark, catalog, req):
    from aresdb_spark.aql.api import execute_request

    return execute_request(spark, catalog, req)


def test_total_trips_aql_matches_oracle(spark, trips_env):
    catalog, duck = trips_env
    res = _run_request(spark, catalog, _load_aql("total_trips.aql"))
    assert "errors" not in res
    got = res["results"][0]

    oracle = dict(duck.execute(f"""
        SELECT strftime(date_trunc('hour', request_at), '%Y-%m-%d %H:00'),
               count(*)
        FROM trips WHERE status = 'completed' AND {WINDOW_SQL}
        GROUP BY 1
    """).fetchall())
    assert {k: v for k, v in got.items()} == \
        {k: v for k, v in oracle.items()}


def test_total_fare_aql_matches_oracle(spark, trips_env):
    catalog, duck = trips_env
    res = _run_request(spark, catalog, _load_aql("total_fare.aql"))
    assert "errors" not in res
    got = res["results"][0]

    oracle = dict(duck.execute(f"""
        SELECT strftime(date_trunc('hour', request_at), '%Y-%m-%d %H:00'),
               sum(fare)
        FROM trips WHERE status = 'completed' AND {WINDOW_SQL}
        GROUP BY 1
    """).fetchall())
    assert set(got) == set(oracle)
    for k in oracle:
        assert got[k] == pytest.approx(oracle[k], rel=1e-9)


def test_total_trips_sql_dialect_twin(spark, trips_env):
    """The shipped total_trips.sql uses the dialect macros with an
    America/New_York bucketing timezone; pin now via aql_now and check
    the tz-shifted hourly buckets against DuckDB."""
    from aresdb_spark.aql.sql import sql_to_query
    from aresdb_spark.aql.planner import Planner

    catalog, duck = trips_env
    with open(os.path.join(EXAMPLE, "queries", "total_trips.sql")) as f:
        sql = json.load(f)["queries"][0]
    sql = sql.replace("GROUP BY", f"AND aql_now(request_at, {NOW}) GROUP BY")
    df = Planner(spark, catalog).plan(sql_to_query(sql))

    oracle = dict(duck.execute(f"""
        SELECT CAST(CAST(epoch(date_trunc('hour',
                   timezone('America/New_York', timezone('UTC', request_at)))
               ) AS BIGINT) AS VARCHAR) AS b, count(*)
        FROM trips WHERE status = 'completed' AND {WINDOW_SQL}
        GROUP BY 1
    """).fetchall())
    from datetime import timezone as tz
    got = {str(int(r[0].replace(tzinfo=tz.utc).timestamp())): r[1]
           for r in df.collect()}
    assert got == oracle
