"""Timezone-column join, DISTINCT, set ops, wildcard expansion
(SURVEY §2.3 / §2.7 / §2.8)."""

import pytest
from pyspark.sql import functions as F

from aresdb_spark.aql import Dimension, Measure, Query
from aresdb_spark.aql.planner import Planner, plan_query
from aresdb_spark.catalog import Catalog, TableDef
from tests.conftest import SF_DIR, assert_df_matches_duck


@pytest.fixture(scope="module")
def tz_catalog(spark, tmp_path_factory):
    """Facts with a tz-id column + the timezone lookup table."""
    root = tmp_path_factory.mktemp("tz")
    spark.createDataFrame(
        [(0, "UTC"), (1, "America/New_York"), (2, "Asia/Tokyo")],
        "id long, timezone string",
    ).coalesce(1).write.parquet(f"{root}/timezones.parquet")
    from datetime import datetime, timedelta
    rows = [(i, datetime(2024, 3, 9, 20) + timedelta(hours=i), i % 3)
            for i in range(100)]  # spans the US DST switch (2024-03-10)
    spark.createDataFrame(rows, "fid long, ts timestamp, city_id long") \
        .coalesce(1).write.parquet(f"{root}/facts.parquet")
    return Catalog(str(root), tables={
        "facts": TableDef("facts", is_fact=True, time_column="ts",
                          primary_key=("fid",)),
        "timezones": TableDef("timezones", primary_key=("id",)),
    })


def test_timezone_column_join(spark, duck, tz_catalog):
    """timezone(city_id) buckets each row in ITS OWN timezone via the
    lookup join (reference aql_compiler.go:439-466), DST-correct."""
    q = Query(
        table="facts",
        dimensions=[Dimension(expr="city_id", alias="city_id"),
                    Dimension(expr="ts", time_bucketizer="day", alias="d")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        timezone="timezone(city_id)",
    )
    df = Planner(spark, tz_catalog).plan(q)
    duck.execute(f"CREATE OR REPLACE VIEW tz_facts AS SELECT * FROM "
                 f"'{tz_catalog.sf_dir}/facts.parquet/*.parquet'")
    duck.execute(f"CREATE OR REPLACE VIEW tz_zones AS SELECT * FROM "
                 f"'{tz_catalog.sf_dir}/timezones.parquet/*.parquet'")
    want = duck.execute("""
        SELECT f.city_id,
               date_trunc('day', timezone(z.timezone, timezone('UTC', f.ts)))::TIMESTAMP AS d,
               count(*) AS cnt
        FROM tz_facts f LEFT JOIN tz_zones z ON f.city_id = z.id
        GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    got = sorted(tuple(r) for r in df.collect())
    assert got == [tuple(r) for r in want]
    # sanity: per-row tz actually changes the result vs plain UTC buckets
    q_utc = Query(
        table="facts",
        dimensions=[Dimension(expr="city_id", alias="city_id"),
                    Dimension(expr="ts", time_bucketizer="day", alias="d")],
        measures=[Measure(expr="count(*)", alias="cnt")],
    )
    utc_rows = sorted(tuple(r) for r in Planner(spark, tz_catalog).plan(q_utc).collect())
    assert got != utc_rows


def test_distinct_projection(spark, duck):
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="event_type")],
        measures=[Measure(expr="1")],
        distinct=True,
        sorts=[__import__("aresdb_spark.aql", fromlist=["SortField"]).SortField("event_type")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT DISTINCT event_type FROM events ORDER BY event_type
    """)


def test_sql_distinct(spark, duck):
    from aresdb_spark.aql.sql import sql_to_query

    q = sql_to_query("SELECT DISTINCT event_type FROM events ORDER BY event_type")
    assert q.distinct
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck,
                           "SELECT DISTINCT event_type FROM events ORDER BY event_type")


def test_set_ops(spark, duck):
    from aresdb_spark.aql.api import plan_set_op

    def proj(flt):
        return Query(
            table="events",
            dimensions=[Dimension(expr="user_id", alias="user_id")],
            measures=[Measure(expr="1")],
            filters=[flt],
            distinct=True,
            limit=100000,
        )

    union = plan_set_op(spark, SF_DIR, "union",
                        [proj("event_type = 'click'"), proj("event_type = 'view'")])
    assert_df_matches_duck(union, duck, """
        SELECT user_id FROM events WHERE event_type = 'click'
        UNION
        SELECT user_id FROM events WHERE event_type = 'view'
    """)
    inter = plan_set_op(spark, SF_DIR, "intersect",
                        [proj("event_type = 'click'"), proj("event_type = 'view'")])
    assert_df_matches_duck(inter, duck, """
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'view'
    """)
    exc = plan_set_op(spark, SF_DIR, "except",
                      [proj("event_type = 'click'"), proj("event_type = 'view'")])
    assert_df_matches_duck(exc, duck, """
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'view'
    """)


def test_skew_safe_aggregations(spark, duck):
    from pyspark.sql import functions as F2

    from aresdb_spark.operators.skew import (exact_distinct_two_stage,
                                             salted_sum)

    from tests.conftest import load_events
    ev = load_events(spark)
    d = exact_distinct_two_stage(ev, ["event_type"], "user_id", alias="u")
    assert_df_matches_duck(d, duck, """
        SELECT event_type, count(DISTINCT user_id) AS u FROM events GROUP BY 1
    """)
    s = salted_sum(ev, ["event_type"], "value") \
        .select("event_type", F2.round("sum_value", 6).alias("sv"))
    assert_df_matches_duck(s, duck, """
        SELECT event_type, round(sum(value), 6) AS sv FROM events GROUP BY 1
    """, approx=True, tol=1e-6)


def test_enum_miss_compares_false(spark):
    """A filter on a value absent from the data returns empty, not an
    error (reference maps missing enum to -1 ⇒ always-false,
    query_context_helper.go:299-310)."""
    from aresdb_spark.aql import Dimension, Measure, Query

    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=["event_type = 'no_such_enum_value'"],
    )
    assert plan_query(spark, SF_DIR, q).count() == 0


def test_convert_tz_semantics(spark):
    """convert_tz(ts, from, to) = interpret as from-wall, re-express as
    to-wall (MySQL semantics, reference query_context_helper.go:348-387)."""
    from datetime import datetime

    from aresdb_spark.aql.expr import compile_expr

    df = spark.createDataFrame([(datetime(2024, 1, 15, 12, 0),)], "ts timestamp")
    got = df.select(F.expr(compile_expr(
        "convert_tz(ts, 'UTC', 'America/New_York')")).alias("x")).first()["x"]
    assert got == datetime(2024, 1, 15, 7, 0)  # UTC noon = 07:00 EST


def test_wildcard_excludes_arrays(spark):
    """`*` expands to all non-array columns (reference excludes geoshape
    and array columns, aql_compiler.go:1252-1265)."""
    cat = Catalog(SF_DIR, tables={
        "embeddings": TableDef("embeddings", primary_key=("vec_id",)),
    })
    q = Query(
        table="embeddings",
        dimensions=[Dimension(expr="*")],
        measures=[Measure(expr="1")],
        limit=5,
    )
    df = Planner(spark, cat).plan(q)
    assert df.columns == ["vec_id", "label"]  # embedding (array) excluded


# --- top-N per group ---------------------------------------------------------


def test_topn_per_group_matches_oracle(spark, duck):
    from pyspark.sql import functions as F

    from aresdb_spark.operators.topn import (topn_per_group,
                                             topn_per_group_oracle_sql)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    agg = li.groupBy("l_returnflag", "l_partkey") \
        .agg(F.sum("l_quantity").alias("qty"))
    df = topn_per_group(agg, ["l_returnflag"],
                        [F.desc("qty"), F.asc("l_partkey")], 3)
    sql = topn_per_group_oracle_sql(
        "SELECT l_returnflag, l_partkey, sum(l_quantity) AS qty "
        "FROM lineitem GROUP BY 1, 2",
        ["l_returnflag"], "qty DESC, l_partkey", 3)
    assert_df_matches_duck(df, duck, sql)


def test_topn_per_group_window_limit_pushed(spark):
    from pyspark.sql import functions as F

    from aresdb_spark.operators.topn import topn_per_group

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = topn_per_group(li, ["l_returnflag"],
                          [F.desc("l_quantity"), F.asc("l_orderkey")], 5) \
        ._jdf.queryExecution().executedPlan().toString()
    # Spark's WindowGroupLimit prunes each group to n rows pre-sort
    assert "WindowGroupLimit" in plan


# --- histogram quantile sketch -----------------------------------------------


def test_histogram_matches_oracle(spark, duck):
    from aresdb_spark.operators.stats import (histogram,
                                              histogram_oracle_sql)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = histogram(li, "l_extendedprice", 0.0, 110000.0, n_bins=64)
    assert_df_matches_duck(
        df, duck,
        histogram_oracle_sql("SELECT * FROM lineitem", "l_extendedprice",
                             0.0, 110000.0, n_bins=64))


def test_hist_quantiles_match_oracle_and_bound_error(spark, duck):
    from pyspark.sql import functions as F

    from aresdb_spark.operators.stats import (hist_quantiles,
                                              hist_quantiles_oracle_sql)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = hist_quantiles(li, "l_extendedprice", 0.0, 110000.0,
                        qs=(0.5, 0.9), n_bins=64)
    assert_df_matches_duck(
        df, duck,
        hist_quantiles_oracle_sql("SELECT * FROM lineitem",
                                  "l_extendedprice", 0.0, 110000.0,
                                  qs=(0.5, 0.9), n_bins=64))
    # approximation bound: within one bin width of the exact quantile
    got = df.collect()[0]
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90")).collect()[0]
    width = 110000.0 / 64
    assert abs(got["q50"] - exact["p50"]) <= width
    assert abs(got["q90"] - exact["p90"]) <= width


# --- time rollup cascade -----------------------------------------------------


def test_rollup_cascade_exact_vs_raw(spark, duck):
    from aresdb_spark.catalog import Catalog
    from aresdb_spark.operators.rollup import rollup_cascade, time_rollup

    ev = Catalog(SF_DIR).load(spark, "events")
    aggs = [("count", "*", "cnt"), ("sum", "value", "sv"),
            ("min", "value", "mn"), ("max", "value", "mx")]
    hourly = time_rollup(ev, "ts", "hour", keys=["event_type"], aggs=aggs)
    daily = rollup_cascade(hourly, "day", keys=["event_type"], aggs=aggs) \
        .select("bucket", "event_type", "cnt",
                F.round("sv", 4).alias("sv"), "mn", "mx")
    # daily-from-hourly must equal daily-from-raw (algebraic cascade)
    assert_df_matches_duck(daily, duck, """
        SELECT date_trunc('day', ts)::TIMESTAMP AS bucket, event_type,
               count(*) AS cnt, round(sum(value), 4) AS sv,
               min(value) AS mn, max(value) AS mx
        FROM events GROUP BY 1, 2
    """)


def test_rollup_rejects_non_algebraic(spark):
    import pytest as _pytest

    from aresdb_spark.catalog import Catalog
    from aresdb_spark.operators.rollup import time_rollup

    ev = Catalog(SF_DIR).load(spark, "events")
    with _pytest.raises(ValueError, match="non-algebraic"):
        time_rollup(ev, "ts", "hour", aggs=[("median", "value", "m")])
