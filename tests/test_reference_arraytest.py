"""The reference's integration arraytest, end-to-end: its schema
document (every array wire type — Bool[] through UUID[]/GeoPoint[])
ingests deterministic rows through the client connector, and its three
shipped query files (integration/test-data/queries/array_query_*.aql)
run through the JSON front door against DuckDB oracles.

The reference's own integration test (integration/integration_test.go:
28-85) runs these queries over RANDOM template data, so its absolute
counts are not reproducible — the semantics it pins ARE:
contains(arr, x) row filters, element_at(arr, 0) = first element
(0-based, functor.hpp:540-569), length(arr) as a dimension with NULL
keys for null arrays, and day-bucket keys formatted "2019-06-08"-style.
"""

import json
import os
from datetime import datetime

import pytest
from conftest import REFERENCE_ROOT

QUERIES = os.path.join(REFERENCE_ROOT, "integration", "test-data", "queries")
SCHEMA = os.path.join(REFERENCE_ROOT, "integration", "test-data", "schema",
                      "arraytest.json")
pytestmark = pytest.mark.usefixtures("reference_root")

NOW = 1706190420  # Thu 2024-01-25 13:07:00 UTC, the repo's pinned now
N_ROWS = 200


@pytest.fixture(scope="module")
def array_env(spark, tmp_path_factory):
    from aresdb_spark.metastore import SchemaStore, catalog_from_store
    from aresdb_spark.sources.hotcold import HotColdStore
    from aresdb_spark.streaming.connector import Connector
    from aresdb_spark.streaming.data_handler import DataHandler

    root = tmp_path_factory.mktemp("arraytest")
    store = SchemaStore()
    with open(SCHEMA) as f:
        store.create_table(json.load(f))

    hc = HotColdStore(path=str(root / "arraytest"),
                      time_column="request_at", primary_key=("uuid",),
                      sort_columns=("city_id", "status"))
    hc.init_from(spark.createDataFrame(
        [], "request_at timestamp, uuid string, city_id int, "
            "status string, fare float, array_bool array<boolean>, "
            "array_int8 array<tinyint>, array_uint8 array<smallint>, "
            "array_int16 array<smallint>, array_uint16 array<int>, "
            "array_int32 array<int>, array_uint32 array<bigint>, "
            "array_smallenum array<string>, array_bigenum array<string>, "
            "array_uuid array<string>, array_geopoint array<string>"),
        cutoff=datetime(2024, 1, 1))
    conn = Connector(store, DataHandler(spark, store, {"arraytest": hc}))

    cols = ["request_at", "uuid", "city_id", "status", "fare",
            "array_bool", "array_int8", "array_uint8", "array_int16",
            "array_uint16", "array_int32", "array_uint32",
            "array_smallenum", "array_bigenum", "array_uuid",
            "array_geopoint"]
    rows = []
    for i in range(N_ROWS):
        epoch = str(NOW - 86400 + (i * 86400) // N_ROWS)
        # deterministic variety: every 3rd row's int16 array starts with
        # 10 (the elementat query) and every 4th contains 20 (contains);
        # int32 arrays cycle length 0..3 with every 5th row NULL
        a16 = []
        if i % 3 == 0:
            a16.append("10")
        if i % 4 == 0:
            a16.append("20")
        a16.append(str(i % 7))
        a32 = None if i % 5 == 0 else [str(j) for j in range(i % 4)]
        rows.append([
            epoch, f"00000000-0000-4000-8000-{i:012d}", str(i % 5),
            "completed" if i % 2 else "canceled", f"{i}.25",
            ["true" if i % 2 else "false"], [str(i % 100 - 50)],
            [str(i % 200)], a16, [str(i % 60000)], a32,
            [str(i)], '["se_a", "se_b"]', '["be_%d"]' % (i % 3),
            [f"00000000-0000-4000-8000-{i + 1:012d}"],
            [f"Point({i % 80}.5 {i % 170}.25)"]])
    assert conn.insert("arraytest", cols, rows) == N_ROWS

    catalog = catalog_from_store(str(root), store, hotcold={"arraytest"})
    # fold the ingested append-only hot batches into the base so the
    # flat oracle glob sees the resolved store
    hc.compact_hot(spark)
    import duckdb
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW arraytest AS SELECT * FROM "
                 f"'{hc.hot_path}/*.parquet'")
    yield catalog, duck
    duck.close()


def _run(spark, catalog, name):
    from aresdb_spark.aql.api import execute_request

    with open(os.path.join(QUERIES, name)) as f:
        req = json.load(f)
    for q in req["queries"]:
        q["now"] = NOW
    from aresdb_spark.aql.api import execute_request
    res = execute_request(spark, catalog, req)
    assert "errors" not in res, res
    return res["results"][0]


WINDOW = (f"request_at >= to_timestamp({NOW - 86400}) "
          f"AND request_at < to_timestamp({NOW - NOW % 900 + 900})")


def test_array_query_contains(spark, array_env):
    catalog, duck = array_env
    got = _run(spark, catalog, "array_query_contains.aql")
    want = dict(duck.execute(f"""
        SELECT strftime(date_trunc('day', request_at), '%Y-%m-%d'),
               count(*)
        FROM arraytest WHERE list_contains(array_int16, 20) AND {WINDOW}
        GROUP BY 1""").fetchall())
    assert got == want and len(want) == 2


def test_array_query_elementat(spark, array_env):
    catalog, duck = array_env
    got = _run(spark, catalog, "array_query_elementat.aql")
    # reference element_at(arr, 0) = FIRST element = duckdb arr[1]
    want = dict(duck.execute(f"""
        SELECT strftime(date_trunc('day', request_at), '%Y-%m-%d'),
               count(*)
        FROM arraytest WHERE array_int16[1] = 10 AND {WINDOW}
        GROUP BY 1""").fetchall())
    assert got == want and sum(want.values()) > 0


def test_array_query_length(spark, array_env):
    catalog, duck = array_env
    got = _run(spark, catalog, "array_query_length.aql")
    rows = duck.execute(f"""
        SELECT strftime(date_trunc('day', request_at), '%Y-%m-%d') AS d,
               len(array_int32) AS l, count(*)
        FROM arraytest WHERE {WINDOW} GROUP BY 1, 2""").fetchall()
    want: dict = {}
    for d, l, c in rows:
        want.setdefault(d, {})["NULL" if l is None else str(l)] = c
    assert got == want
    # the NULL-length group exists (null arrays), like the reference's
    # expected output (integration_test.go:36-50)
    assert any("NULL" in inner for inner in want.values())
