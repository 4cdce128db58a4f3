"""Full-stack integration: the complete reference user journey in one
test — DDL through the metastore, binary UpsertBatch ingestion through
the data handler into a hot/cold store, then AQL queries through the
metastore-driven catalog reading that store.

This stitches every layer built for ingestion parity:
SchemaStore/enum dicts → UpsertBatchBuilder (wire bytes) → DataHandler
(POST /data analog: enum translation, time conversion, update modes) →
HotColdStore (live+archive) → catalog_from_store(hotcold=...) →
Planner/execute_request, with a DuckDB oracle over the store's parquet.
"""

import json
from datetime import datetime

import pytest

from aresdb_spark.metastore import SchemaHandler, SchemaStore, \
    catalog_from_store
from aresdb_spark.sources.hotcold import HotColdStore
from aresdb_spark.streaming.data_handler import DataHandler
from aresdb_spark.streaming.upsert_wire import UpsertBatchBuilder

CUTOFF = datetime(2024, 1, 1)
T0 = int(datetime(2024, 1, 10).timestamp())

SCHEMA = {
    "name": "trips",
    "columns": [{"name": "request_at", "type": "Uint32"},
                {"name": "trip_id", "type": "Int64"},
                {"name": "city_id", "type": "Uint16"},
                {"name": "status", "type": "SmallEnum"},
                {"name": "fare", "type": "Float32"}],
    "primaryKeyColumns": [1],
    "isFactTable": True,
    "archivingSortColumns": [0, 2],
}


def test_wire_to_query_full_stack(spark, tmp_path):
    # 1. DDL through the handler routes
    h = SchemaHandler(SchemaStore())
    assert h.add_table(SCHEMA)[0] == 200
    assert h.add_enum_case("trips", "status",
                           {"enumCases": ["completed", "cancelled"]})[0] == 200

    # 2. the serving store + ingestion front door
    store = HotColdStore(path=str(tmp_path / "trips"),
                         time_column="request_at",
                         primary_key=("trip_id",),
                         sort_columns=("request_at", "city_id"))
    store.init_from(spark.createDataFrame(
        [], "request_at timestamp, trip_id bigint, city_id int, "
            "status string, fare float"), cutoff=CUTOFF)
    dh = DataHandler(spark, h.store, {"trips": store})

    # 3. a reference client's batches (status as wire enum ids)
    def post(rows, fare_mode=0):
        b = UpsertBatchBuilder(arrival_time=T0)
        b.add_column(0, "Uint32")
        b.add_column(1, "Int64")
        b.add_column(2, "Uint16")
        b.add_column(3, "SmallEnum")
        b.add_column(4, "Float32", update_mode=fare_mode)
        for r, (ts, tid, city, status, fare) in enumerate(rows):
            b.add_row()
            for j, v in enumerate((ts, tid, city, status, fare)):
                if v is not None:
                    b.set_value(r, j, v)
        status, body = dh.post_data("trips", 0, b.to_byte_array())
        assert status == 200
        return body

    post([(T0 + 3600 * i, i, i % 3, i % 2, 10.0 + i) for i in range(8)])
    post([(T0, 0, None, None, 5.0)], fare_mode=2)   # add-mode upsert on PK 0

    # 4. AQL through the metastore-driven catalog over the live store
    catalog = catalog_from_store(str(tmp_path), h.store, hotcold={"trips"})
    from aresdb_spark.aql import Dimension, Measure, Query
    from aresdb_spark.aql.planner import Planner

    df = Planner(spark, catalog).plan(Query(
        table="trips",
        dimensions=[Dimension(expr="status", alias="status")],
        measures=[Measure(expr="round(sum(fare), 2)", alias="total_fare"),
                  Measure(expr="count(*)", alias="trips")],
        time_filter=None))
    got = {r["status"]: r for r in df.collect()}
    # ids 0/1 translated through the enum dictionary at ingest
    assert got["completed"]["trips"] == 4
    assert got["cancelled"]["trips"] == 4
    # PK-0 add-mode: fare 10.0 + 5.0; status survived the NULL update
    assert got["completed"]["total_fare"] == pytest.approx(
        15.0 + 12.0 + 14.0 + 16.0)

    # 5. time filter plans against the store's time column
    res_df = Planner(spark, catalog).plan(Query(
        table="trips",
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=__import__("aresdb_spark.aql", fromlist=["TimeFilter"])
        .TimeFilter(from_="2024-01-10", to="2024-01-10")))
    # day window [Jan10, Jan11): first 8 hourly trips all inside
    assert res_df.collect()[0]["cnt"] == 8

    # 6. DuckDB oracle over the store's own parquet agrees (compact
    # first: ingested batches live in append-only hotbatch dirs until
    # archiving folds them — the flat glob needs the resolved base)
    store.compact_hot(spark)
    import duckdb
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW trips AS SELECT * FROM "
                 f"'{store.hot_path}/*.parquet'")
    oracle = dict(duck.execute(
        "SELECT status, count(*) FROM trips GROUP BY 1").fetchall())
    assert oracle == {"completed": 4, "cancelled": 4}
    duck.close()


CITY_SCHEMA = {
    "name": "cities",
    "columns": [{"name": "city_id", "type": "Uint16"},
                {"name": "city_name", "type": "SmallEnum"}],
    "primaryKeyColumns": [0],
    "isFactTable": False,
}


def test_dimension_table_wire_ingest_then_join(spark, tmp_path):
    """The dimension side of the same journey: a dimension table (no
    time column) ingests through the wire front door into a
    DimensionStore snapshot, the metastore catalog resolves it, and an
    AQL dimension join (broadcast LEFT, miss ⇒ NULL) reads both stores."""
    from aresdb_spark.sources.hotcold import DimensionStore

    h = SchemaHandler(SchemaStore())
    assert h.add_table(SCHEMA)[0] == 200
    assert h.add_table(CITY_SCHEMA)[0] == 200
    h.add_enum_case("trips", "status", {"enumCases": ["completed"]})
    h.add_enum_case("cities", "city_name",
                    {"enumCases": ["sf", "nyc", "sea"]})

    trips = HotColdStore(path=str(tmp_path / "trips"),
                         time_column="request_at",
                         primary_key=("trip_id",),
                         sort_columns=("request_at", "city_id"))
    trips.init_from(spark.createDataFrame(
        [], "request_at timestamp, trip_id bigint, city_id int, "
            "status string, fare float"), cutoff=CUTOFF)
    cities = DimensionStore(path=str(tmp_path / "cities"),
                            primary_key=("city_id",))
    cities.init_from(spark.createDataFrame(
        [], "city_id int, city_name string"))
    dh = DataHandler(spark, h.store, {"trips": trips, "cities": cities})

    cb = UpsertBatchBuilder(arrival_time=T0)
    cb.add_column(0, "Uint16")
    cb.add_column(1, "SmallEnum")
    for r, (cid, name_id) in enumerate([(0, 0), (1, 1), (2, 2)]):
        cb.add_row()
        cb.set_value(r, 0, cid)
        cb.set_value(r, 1, name_id)
    assert dh.post_data("cities", 0, cb.to_byte_array())[0] == 200

    tb = UpsertBatchBuilder(arrival_time=T0)
    tb.add_column(0, "Uint32")
    tb.add_column(1, "Int64")
    tb.add_column(2, "Uint16")
    tb.add_column(3, "SmallEnum")
    for r, (ts, tid, city) in enumerate(
            [(T0, 1, 0), (T0 + 60, 2, 0), (T0 + 120, 3, 2),
             (T0 + 180, 4, 9)]):  # city 9 has no dimension row → NULL
        tb.add_row()
        tb.set_value(r, 0, ts)
        tb.set_value(r, 1, tid)
        tb.set_value(r, 2, city)
        tb.set_value(r, 3, 0)
    assert dh.post_data("trips", 0, tb.to_byte_array())[0] == 200

    catalog = catalog_from_store(str(tmp_path), h.store,
                                 hotcold={"trips", "cities"})
    from aresdb_spark.aql import Dimension, Join, Measure, Query
    from aresdb_spark.aql.planner import Planner

    df = Planner(spark, catalog).plan(Query(
        table="trips",
        joins=[Join(table="cities", alias="c",
                    conditions=["c.city_id = city_id"])],
        dimensions=[Dimension(expr="c.city_name", alias="city")],
        measures=[Measure(expr="count(*)", alias="cnt")]))
    got = {r["city"]: r["cnt"] for r in df.collect()}
    assert got == {"sf": 2, "sea": 1, None: 1}

    # the dimension join must broadcast (scale guarantee)
    from aresdb_spark.plans.audit import has_broadcast_join
    assert has_broadcast_join(df)


def test_data_sender_csv_roundtrip(spark, tmp_path, reference_root):
    """The data-sender client flow with the reference's shipped sample
    CSV (testing/data/data-sender/sample.csv, the abc table's shape):
    CSV → enum-id translation via the metastore dictionaries →
    distributed wire encode → POST through the data handler → PK-merged
    dimension snapshot. Repeated PKs collapse last-writer-wins, like the
    reference applying records in order."""
    import csv
    import os

    SAMPLE = os.path.join(reference_root, "testing", "data", "data-sender",
                          "sample.csv")

    from aresdb_spark.sources.hotcold import DimensionStore
    from aresdb_spark.streaming.upsert_wire import encode_upsert_batch_stream

    schema = {"name": "abc",
              "columns": [{"name": "c1", "type": "Uint8"},
                          {"name": "c2", "type": "SmallEnum"}],
              "primaryKeyColumns": [0],
              "isFactTable": False}
    ss = SchemaStore()
    ss.create_table(schema)

    with open(SAMPLE) as f:
        rows = list(csv.DictReader(f))
    # the client registers the cases it sees, then encodes their ids
    # (the reference data sender asks the schema service the same way)
    ss.extend_enum_dict("abc", "c2", sorted({r["c2"] for r in rows}))

    df = spark.createDataFrame(
        [(int(r["c1"]), r["c2"]) for r in rows], "c1 smallint, c2 string") \
        .coalesce(1)  # one wire batch, preserving CSV order for the fold
    blobs = encode_upsert_batch_stream(
        df, schema, arrival_time=7,
        enum_dicts={"c2": ss.get_enum_cases("abc", "c2")}).collect()
    assert len(blobs) == 1

    store = DimensionStore(path=str(tmp_path / "abc"), primary_key=("c1",))
    store.init_from(spark.createDataFrame([], "c1 smallint, c2 string"))
    dh = DataHandler(spark, ss, {"abc": store})
    status, body = dh.post_data("abc", 0, bytes(blobs[0]["value"]))
    assert status == 200 and body["rows"] == len(rows)

    got = dict(tuple(r) for r in store.read(spark).collect())
    last = {}
    for r in rows:  # PK fold in arrival order — last value per c1 wins
        last[int(r["c1"])] = r["c2"]
    assert got == last
