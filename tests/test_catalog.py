"""Catalog schema DDL + spark.sql interop (SURVEY §1.3)."""

import json

from aresdb_spark.catalog import TABLES, Catalog
from tests.conftest import SF_DIR


def test_schema_json_roundtrip():
    cat = Catalog(SF_DIR)
    doc = cat.to_json()
    cat2 = Catalog.from_json(SF_DIR, json.dumps(doc))
    assert cat2.tables == cat.tables
    assert cat2.timezone_table == cat.timezone_table
    assert cat2.tables["events"].nanos_columns == ("ts",)
    assert cat2.tables["lineitem"].sort_columns == ("l_shipdate", "l_partkey")


def test_schema_json_from_file(tmp_path):
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(Catalog(SF_DIR).to_json()))
    cat = Catalog.from_json(SF_DIR, str(p))
    assert set(cat.tables) == set(TABLES)


def test_register_all_spark_sql(spark, duck):
    """Registered views answer plain spark.sql — engine interop: users
    can mix AQL queries with raw Spark SQL over the same catalog."""
    Catalog(SF_DIR).register_all(spark)
    got = spark.sql("""
        SELECT event_type, count(*) AS c FROM events GROUP BY 1
    """).collect()
    want = dict(duck.execute(
        "SELECT event_type, count(*) FROM events GROUP BY 1").fetchall())
    assert {r["event_type"]: r["c"] for r in got} == want


def test_time_filtered_load_reuses_the_table_relation(spark):
    """A plain-parquet table is listed once per catalog: a second
    time-filtered load discovers no files, and its rows equal a fresh
    read's over the same range."""
    from datetime import datetime

    discovered = spark._jvm.org.apache.spark.metrics.source \
        .HiveCatalogMetrics.METRIC_FILES_DISCOVERED()
    cat = Catalog(SF_DIR)
    cat.load(spark, "events", time_range=(datetime(2024, 1, 2),
                                          datetime(2024, 1, 9)))
    rng = (datetime(2024, 1, 5), datetime(2024, 1, 12))
    before = discovered.getCount()
    got = cat.load(spark, "events", time_range=rng)
    assert discovered.getCount() == before
    want = Catalog(SF_DIR).load(spark, "events", time_range=rng)
    assert discovered.getCount() > before       # a fresh read lists
    rows = sorted(tuple(r) for r in got.collect())
    assert rows and rows == sorted(tuple(r) for r in want.collect())
