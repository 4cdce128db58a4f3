"""End-to-end AQL planner tests vs DuckDB oracle at sf0.001."""

import os

from aresdb_spark.aql import Dimension, Join, Measure, Query, SortField, TimeFilter
from aresdb_spark.aql.planner import plan_query
from tests.conftest import SF_DIR, assert_df_matches_duck, count_jobs

# pinned "now" → 2024-05-15 13:47:23 UTC (events ts range must intersect)
NOW = 1715780843


def test_count_hourly_bucket(spark, duck):
    """The reference's own smoke query shape (examples/1k_trips/queries/
    total_trips.aql): count(*), row filter, time bucket by hour."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="ts", time_bucketizer="hour", alias="bucket")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=["event_type = 'click'"],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
        FROM events WHERE event_type = 'click' GROUP BY 1
    """)


def test_sum_with_measure_filter(spark, duck):
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="sum(value)", filters=["value > 50"], alias="s")],
    )
    df = plan_query(spark, SF_DIR, q)
    # single measure ⇒ rowFilters merged into WHERE (reference parity)
    assert_df_matches_duck(df, duck, """
        SELECT event_type AS et, sum(value) AS s
        FROM events WHERE value > 50 GROUP BY 1
    """, approx=True)


def test_multi_measure_filters_stay_per_measure(spark, duck):
    """With >1 measure, each measure's filters apply via when() — groups
    survive with nulls/zeros (engine generalization)."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="sum(value)", filters=["value > 50"], alias="s"),
                  Measure(expr="count(*)", alias="cnt")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT event_type AS et, sum(CASE WHEN value > 50 THEN value END) AS s,
               count(*) AS cnt
        FROM events GROUP BY 1
    """, approx=True)


def test_time_filter(spark, duck):
    q = Query(
        table="events",
        dimensions=[],
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=TimeFilter(from_="2024-01-01", to="2024-06-01"),
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT count(*) AS cnt FROM events
        WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-06-01'
    """)


def test_dim_join(spark, duck):
    """lineitem ⋈ part (the trips⋈cities pattern), group by dim attribute."""
    q = Query(
        table="lineitem",
        joins=[Join(table="part", alias="p",
                    conditions=["p.p_partkey = l_partkey"])],
        dimensions=[Dimension(expr="p.p_brand", alias="brand")],
        measures=[Measure(expr="sum(l_quantity)", alias="qty")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT p.p_brand AS brand, sum(l.l_quantity) AS qty
        FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    """, approx=True)


def test_non_agg_projection_limit(spark, duck):
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_id", alias="event_id"),
                    Dimension(expr="event_type", alias="event_type")],
        measures=[Measure(expr="1")],
        sorts=[SortField("event_id")],
        limit=50,
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 50
    """)


def test_case_when_measure(spark, duck):
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="sum(case when value > 50 then 1 else 0 end)", alias="big")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT event_type AS et, sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS big
        FROM events GROUP BY 1
    """)


def test_avg_ratio_of_sums(spark, duck):
    """expression over aggregates: sum(a)/count(*) — generalizes the
    reference's avg-split (broker/query_plan_agg.go:439-470)."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="sum(value) / count(*)", alias="ratio")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT event_type AS et, sum(value) / count(*) AS ratio
        FROM events GROUP BY 1
    """, approx=True)


def test_in_filter_and_numeric_bucket(spark, duck):
    from aresdb_spark.aql.model import NumericBucketizer
    q = Query(
        table="events",
        dimensions=[Dimension(expr="value", numeric_bucketizer=NumericBucketizer(bucket_width=10),
                              alias="vb")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=["event_type in ('click', 'view')"],
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT floor(value / 10) * 10 AS vb, count(*) AS cnt
        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    """)


def test_relative_time_filter_pinned_now(spark, duck):
    """"N days ago" is calendar-day aligned (reference applyTimeOffset):
    from = midnight 90 days before now's day; to = "now" exactly."""
    q = Query(
        table="events",
        dimensions=[],
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=TimeFilter(from_="90 days ago", to="now"),
        now=NOW,
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, f"""
        SELECT count(*) AS cnt FROM events
        WHERE ts >= date_trunc('day', to_timestamp({NOW})) - INTERVAL 90 DAY
          AND ts < to_timestamp({NOW})
    """)


def test_timezone_bucketing(spark, duck):
    """Fixed-tz hourly buckets differ from UTC and match DuckDB
    (reference: query/time_bucketizer.go:93-146)."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="ts", time_bucketizer="day", alias="b")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        timezone="America/New_York",
    )
    df = plan_query(spark, SF_DIR, q)
    assert_df_matches_duck(df, duck, """
        SELECT date_trunc('day', timezone('America/New_York', timezone('UTC', ts)))::TIMESTAMP AS b,
               count(*) AS cnt
        FROM events GROUP BY 1
    """)
    # and it actually differs from the UTC bucketing
    q_utc = Query(
        table="events",
        dimensions=[Dimension(expr="ts", time_bucketizer="day", alias="b")],
        measures=[Measure(expr="count(*)", alias="cnt")],
    )
    utc_rows = {tuple(r) for r in plan_query(spark, SF_DIR, q_utc).collect()}
    ny_rows = {tuple(r) for r in df.collect()}
    assert utc_rows != ny_rows


def test_unknown_timezone_errors(spark):
    import pytest

    q = Query(
        table="events",
        dimensions=[Dimension(expr="ts", time_bucketizer="day", alias="b")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        timezone="Not/AZone",
    )
    with pytest.raises(ValueError, match="unknown timezone"):
        plan_query(spark, SF_DIR, q)


def test_rollup_and_cube_group_types(spark, duck):
    from aresdb_spark.aql import Dimension, Measure, Query
    from aresdb_spark.aql.planner import plan_query

    q = Query(table="lineitem",
              dimensions=[Dimension(expr="l_returnflag", alias="rf"),
                          Dimension(expr="l_linestatus", alias="ls")],
              measures=[Measure(expr="sum(l_quantity)", alias="qty")],
              group_type="rollup")
    assert_df_matches_duck(
        plan_query(spark, SF_DIR, q), duck,
        "SELECT l_returnflag AS rf, l_linestatus AS ls, sum(l_quantity) AS qty "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")

    q2 = Query(table="lineitem",
               dimensions=[Dimension(expr="l_returnflag", alias="rf")],
               measures=[Measure(expr="count(*)", alias="cnt")],
               group_type="cube")
    assert_df_matches_duck(
        plan_query(spark, SF_DIR, q2), duck,
        "SELECT l_returnflag AS rf, count(*) AS cnt "
        "FROM lineitem GROUP BY CUBE (l_returnflag)")


def test_unknown_group_type_raises(spark):
    import pytest as _pytest

    from aresdb_spark.aql import Dimension, Measure, Query
    from aresdb_spark.aql.planner import plan_query

    q = Query(table="lineitem",
              dimensions=[Dimension(expr="l_returnflag", alias="rf")],
              measures=[Measure(expr="count(*)", alias="cnt")],
              group_type="grouping_sets")
    with _pytest.raises(ValueError, match="group_type"):
        plan_query(spark, SF_DIR, q)


def test_having_filters_aggregates(spark, duck):
    from aresdb_spark.aql import Dimension, Measure, Query
    from aresdb_spark.aql.planner import plan_query

    q = Query(table="lineitem",
              dimensions=[Dimension(expr="l_partkey", alias="pk")],
              measures=[Measure(expr="sum(l_quantity)", alias="qty"),
                        Measure(expr="count(*)", alias="cnt")],
              having=["qty > 100", "cnt >= 3"])
    assert_df_matches_duck(
        plan_query(spark, SF_DIR, q), duck,
        "SELECT l_partkey AS pk, sum(l_quantity) AS qty, count(*) AS cnt "
        "FROM lineitem GROUP BY 1 HAVING qty > 100 AND cnt >= 3")


def test_semi_and_anti_joins(spark, duck):
    from aresdb_spark.aql import Dimension, Join, Measure, Query
    from aresdb_spark.aql.planner import plan_query

    # customers WITH at least one order (semi)
    semi = Query(table="customer",
                 joins=[Join(table="orders", alias="o",
                             conditions=["o.o_custkey = c_custkey"],
                             how="left_semi")],
                 dimensions=[Dimension(expr="c_mktsegment", alias="seg")],
                 measures=[Measure(expr="count(*)", alias="cnt")])
    assert_df_matches_duck(
        plan_query(spark, SF_DIR, semi), duck,
        "SELECT c_mktsegment AS seg, count(*) AS cnt FROM customer "
        "WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY 1")

    # customers WITHOUT a big order (anti; compound condition keeps the
    # result non-empty — every custkey has some order in the testdata)
    anti = Query(table="customer",
                 joins=[Join(table="orders", alias="o",
                             conditions=["o.o_custkey = c_custkey",
                                         "o.o_totalprice > 300000"],
                             how="left_anti")],
                 dimensions=[Dimension(expr="c_mktsegment", alias="seg")],
                 measures=[Measure(expr="count(*)", alias="cnt")])
    out = plan_query(spark, SF_DIR, anti)
    assert out.agg({"cnt": "sum"}).collect()[0][0] > 0
    assert_df_matches_duck(
        out, duck,
        "SELECT c_mktsegment AS seg, count(*) AS cnt FROM customer "
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders "
        "WHERE o_totalprice > 300000) GROUP BY 1")


def test_dst_fall_back_bucketing(spark, duck, tmp_path):
    """Hour-of-day buckets across the US fall-back (2024-11-03: 02:00 EDT
    -> 01:00 EST) must match DuckDB's tz-aware rendering — the ambiguous
    1am hour collects two UTC hours' worth of rows. Events are Jan 2024,
    so shift them +280 days to straddle the transition."""
    from pyspark.sql import functions as F

    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.aql.planner import Planner
    from tests.conftest import load_events

    (load_events(spark)
     .withColumn("ts", F.col("ts") + F.expr("INTERVAL 280 DAYS"))
     .write.mode("overwrite").parquet(str(tmp_path / "facts.parquet")))
    cat = Catalog(str(tmp_path), tables={
        "facts": TableDef("facts", is_fact=True, time_column="ts",
                          primary_key=("event_id",))})
    q = Query(
        table="facts",
        dimensions=[Dimension(expr="ts", time_bucketizer="day", alias="d"),
                    Dimension(expr="ts", time_bucketizer="hour of day",
                              alias="hod")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        timezone="America/New_York",
    )
    df = Planner(spark, cat).plan(q)
    duck.execute("CREATE OR REPLACE VIEW fb_shifted AS "
                 "SELECT ts + INTERVAL 280 DAY AS ts FROM events")
    assert_df_matches_duck(df, duck, """
        WITH local AS (
            SELECT timezone('America/New_York', timezone('UTC', ts)) AS lts
            FROM fb_shifted)
        SELECT date_trunc('day', lts)::TIMESTAMP AS d,
               hour(lts)::INT AS hod, count(*) AS cnt
        FROM local GROUP BY 1, 2
    """)


def test_epoch_literal_time_filters(spark, duck):
    """Numeric epoch literals on the time column behave like the
    reference, where time columns ARE epoch seconds: seconds compare
    directly, values above 99999999999 are milliseconds
    (time_filter.go:316-318; promotion shape pinned by
    aql_compiler_test.go:3465 'adjust filter to time filters'), and the
    range is promoted into the scan."""
    from aresdb_spark.aql import Measure, Query
    from aresdb_spark.aql.planner import plan_query
    from aresdb_spark.plans.audit import scan_info
    from tests.conftest import SF_DIR

    lo_s, hi_s = 1705968000, 1706054400  # [2024-01-23, 2024-01-24) UTC
    oracle = duck.execute(
        f"SELECT count(*) FROM events WHERE ts >= to_timestamp({lo_s}) "
        f"AND ts < to_timestamp({hi_s})").fetchone()[0]
    assert oracle > 0

    for lo, hi in [(lo_s, hi_s), (lo_s * 1000, hi_s * 1000)]:
        df = plan_query(spark, SF_DIR, Query(
            table="events",
            measures=[Measure(expr="count(*)", alias="cnt")],
            filters=[f"ts >= {lo}", f"ts < {hi}"]))
        assert df.collect()[0]["cnt"] == oracle
        # the promoted range reaches the parquet scan
        pushed = " ".join(s.get("PushedFilters", "") for s in scan_info(df))
        assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed

    # BETWEEN (inclusive upper) with epoch literals
    df = plan_query(spark, SF_DIR, Query(
        table="events",
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=[f"ts between {lo_s} and {hi_s - 1}"]))
    assert df.collect()[0]["cnt"] == oracle


def test_epoch_literal_in_list(spark, duck):
    """IN lists on the time column accept epoch literals too — the same
    rewrite comparisons get (review follow-up)."""
    from aresdb_spark.aql import Measure, Query
    from aresdb_spark.aql.planner import plan_query
    from tests.conftest import SF_DIR

    ts = duck.execute(
        "SELECT epoch(ts)::BIGINT FROM events LIMIT 2").fetchall()
    lits = ", ".join(str(r[0]) for r in ts)
    df = plan_query(spark, SF_DIR, Query(
        table="events",
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=[f"ts in ({lits})"]))
    want = duck.execute(
        f"SELECT count(*) FROM events WHERE ts IN "
        f"(to_timestamp({ts[0][0]}), to_timestamp({ts[1][0]}))"
    ).fetchone()[0]
    # event timestamps carry sub-second parts, so the truncated-epoch
    # literals may match zero rows on BOTH engines — the regression
    # being pinned is that the query ANALYZES (pre-fix: Catalyst
    # DATATYPE_MISMATCH on timestamp-vs-int isin) and agrees with the
    # oracle
    assert df.collect()[0]["cnt"] == want


def test_count_is_row_count_even_with_null_arg(spark, duck):
    """count(col) is a ROW count in the reference — the compiler replaces
    the argument with literal 1 (aql_compiler.go:1191-1197) — not
    Spark's null-skipping count."""
    from aresdb_spark.aql import Dimension, Measure, Query
    from aresdb_spark.aql.planner import plan_query
    from tests.conftest import SF_DIR

    # a dimension expression that is null for ~half the rows
    df = plan_query(spark, SF_DIR, Query(
        table="events",
        measures=[Measure(
            expr="count(case when value > 100 then value end)",
            alias="c")]))
    want = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert df.collect()[0]["c"] == want  # rows, not non-null values


def _dim_join_plans(spark, sf_dir, monkeypatch):
    """(plan under the default ceiling, plan with a 1-byte ceiling) of
    a lineitem ⋈ part dimension join, with auto-broadcast off so only
    the planner's hint can put a BroadcastHashJoin in the plan."""
    from aresdb_spark.operators import util

    q = Query(
        table="lineitem",
        joins=[Join(table="part", alias="p",
                    conditions=["p.p_partkey = l_partkey"])],
        dimensions=[Dimension(expr="p.p_brand", alias="brand")],
        measures=[Measure(expr="sum(l_quantity)", alias="qty")],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df_hint = plan_query(spark, sf_dir, q)
        with monkeypatch.context() as m:
            m.setattr(util, "BROADCAST_MAX_BYTES", 1)
            df_big = plan_query(spark, sf_dir, q)
        plans = [d._jdf.queryExecution().executedPlan().toString()
                 for d in (df_hint, df_big)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return df_hint, df_big, plans


def test_dim_broadcast_hint_is_size_conditional(spark, duck, monkeypatch):
    """r16 (guide §3): the dim-join broadcast hint applies only while
    the dim's planned bytes fit the forced-broadcast ceiling
    (``operators.util.BROADCAST_MAX_BYTES``); an over-ceiling dim falls
    through to Catalyst's own choice. Observed by disabling
    auto-broadcast: with the hint the plan keeps BroadcastHashJoin even
    then; without it Catalyst must pick a shuffle join. Results are
    strategy-independent — both variants match the oracle."""
    oracle = """
        SELECT p.p_brand AS brand, sum(l.l_quantity) AS qty
        FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    """
    df_hint, df_big, (plan_hint, plan_big) = _dim_join_plans(
        spark, SF_DIR, monkeypatch)
    # under the ceiling: hint forces BHJ even with auto off
    assert "BroadcastHashJoin" in plan_hint
    assert_df_matches_duck(df_hint, duck, oracle, approx=True)
    # over the ceiling (forced via a 1-byte cap): no hint -> with
    # auto-broadcast off Catalyst must use a shuffle join
    assert "BroadcastHashJoin" not in plan_big
    assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
    assert_df_matches_duck(df_big, duck, oracle, approx=True)


def test_dim_broadcast_ceiling_sizes_uri_paths(spark, monkeypatch):
    """A dimension read through a ``file:`` URI is sized like a local
    path: plan statistics size through Hadoop's FileSystem, so the
    1-byte ceiling drops the hint (a local-disk walk cannot size a URI
    and would keep the forced broadcast on any remote dim)."""
    _, _, (plan_hint, plan_big) = _dim_join_plans(
        spark, "file://" + os.path.abspath(SF_DIR), monkeypatch)
    assert "BroadcastHashJoin" in plan_hint
    assert "BroadcastHashJoin" not in plan_big


def test_plan_bytes_runs_no_job(spark):
    """Sizing reads the optimized plan's statistics: no Spark job, and a
    parquet scan reports its exact on-disk bytes."""
    from aresdb_spark.operators.util import plan_bytes

    path = os.path.join(SF_DIR, "part.parquet")
    df = spark.read.parquet(path)
    got = []
    assert count_jobs(spark, lambda: got.append(plan_bytes(df))) == 0
    assert got == [os.path.getsize(path)]
