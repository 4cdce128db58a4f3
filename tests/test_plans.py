"""Explain-based scale assertions (SURVEY §4): pushdown, pruning,
broadcast joins, shuffle counts, sorted archive writes."""

from pyspark.sql import functions as F

from aresdb_spark.aql import Dimension, Join, Measure, Query, TimeFilter
from aresdb_spark.aql.planner import plan_query
from aresdb_spark.plans import (count_exchanges, has_broadcast_join,
                                scan_info)
from aresdb_spark.plans.audit import has_sort_merge_join
from tests.conftest import SF_DIR


def test_time_filter_pushed_to_scan(spark):
    """The time-range predicate reaches the parquet scan as a pushed
    filter on the RAW column (pre-conversion) → row-group pruning."""
    q = Query(
        table="events",
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=TimeFilter(from_="2024-01-05", to="2024-01-10"),
    )
    scans = scan_info(plan_query(spark, SF_DIR, q))
    assert scans, "no FileScan found"
    pushed = scans[0].get("PushedFilters", "")
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed, pushed


def test_row_filter_promoted_to_time_range(spark, duck):
    """A fact query with NO timeFilter but a row filter on the time
    column still prunes the scan (reference filter→time-filter promotion,
    aql_compiler.go:104-167) — and returns identical results."""
    from tests.conftest import assert_df_matches_duck

    q = Query(
        table="events",
        measures=[Measure(expr="count(*)", alias="cnt")],
        filters=["ts >= '2024-01-05'", "ts < '2024-01-10'"],
    )
    df = plan_query(spark, SF_DIR, q)
    pushed = scan_info(df)[0].get("PushedFilters", "")
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed, pushed
    assert_df_matches_duck(df, duck, """
        SELECT count(*) AS cnt FROM events
        WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
    """)


def test_column_pruning(spark):
    """A 2-column projection reads a 2-column schema, not the full table."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_id", alias="event_id"),
                    Dimension(expr="event_type", alias="event_type")],
        measures=[Measure(expr="1")],
        limit=10,
    )
    scans = scan_info(plan_query(spark, SF_DIR, q))
    schema = scans[0].get("ReadSchema", "")
    assert "event_id" in schema and "event_type" in schema
    assert "props" not in schema and "value" not in schema, schema


def test_dim_join_is_broadcast_not_smj(spark):
    q = Query(
        table="lineitem",
        joins=[Join(table="part", alias="p", conditions=["p.p_partkey = l_partkey"])],
        dimensions=[Dimension(expr="p.p_brand", alias="brand")],
        measures=[Measure(expr="sum(l_quantity)", alias="qty")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    # exactly ONE shuffle: the final aggregation (partial agg is map-side)
    assert count_exchanges(df) == 1


def test_agg_single_shuffle(spark):
    """groupBy + agg = partial map-side agg + one exchange + final agg."""
    q = Query(
        table="events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="sum(value)", alias="s")],
    )
    df = plan_query(spark, SF_DIR, q)
    assert count_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_composite_measures_single_shuffle(spark):
    """A WITH-composite SQL query (two legs + derived ratio + supporting
    measure) compiles to ONE aggregation: single exchange, partial+final
    HashAggregate, and a scan reading only the referenced columns — the
    single-pass shape the reference compiles composite measures to."""
    from aresdb_spark.aql.sql import sql_to_query

    q = sql_to_query(
        "WITH m1 (clicks) AS (SELECT count(*) AS clicks FROM events "
        "WHERE event_type='click' GROUP BY user_id % 5), "
        "m2 (total) AS (SELECT count(*) AS total FROM events "
        "GROUP BY user_id % 5) "
        "SELECT clicks, clicks/total AS ctr FROM m1 NATURAL LEFT JOIN m2")
    df = plan_query(spark, SF_DIR, q)
    assert count_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan


def test_archive_write_sorted_and_partitioned(spark, tmp_path):
    """write_archive produces day-partition dirs; rows inside each file
    are sorted by the sort columns (row-group stats → prefilter slice);
    a day filter on the read side becomes a PartitionFilter."""
    import os

    import pyarrow.parquet as pq

    from aresdb_spark.sources.writer import write_archive

    from tests.conftest import load_events
    ev = load_events(spark)
    path = str(tmp_path / "archive")
    write_archive(ev, path, "ts", sort_columns=("user_id", "ts"))

    days = [d for d in os.listdir(path) if d.startswith("__day=")]
    assert len(days) > 5, days

    # physical sortedness inside one partition file
    day_dir = os.path.join(path, sorted(days)[0])
    files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    tbl = pq.read_table(os.path.join(day_dir, files[0]), columns=["user_id"])
    vals = tbl.column("user_id").to_pylist()
    assert vals == sorted(vals), "rows not sorted within partition file"

    # partition pruning on the day key
    df = spark.read.parquet(path).filter(F.col("__day") == sorted(days)[0].split("=")[1])
    scans = scan_info(df)
    assert "__day" in scans[0].get("PartitionFilters", ""), scans[0]
    assert df.count() == len(vals) or df.count() > 0


def test_aql_time_filter_prunes_cold_day_dirs(spark, tmp_path):
    """r9: the AQL planner's pushed time range reaches the HotColdStore
    as a DAY-LIST prune — the scan's input files cover only in-range
    day dirs (the reference's archive-batch pruning by query time
    range, query/aql_processor.go:925-985; Catalyst cannot derive day
    bounds from a timestamp predicate on its own), and the result
    matches the unpruned query."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from aresdb_spark.aql import Measure, Query, TimeFilter
    from aresdb_spark.aql.planner import Planner
    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.sources.hotcold import HotColdStore

    rows = [Row(id=i * 10 + d, ts=datetime(2024, 1, 1 + d, i), v=1.0)
            for d in range(8) for i in range(3)]
    store = HotColdStore(path=str(tmp_path / "ev"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(rows), datetime(2024, 1, 8))

    cat = Catalog(str(tmp_path), tables={
        "ev": TableDef("ev", is_fact=True, time_column="ts",
                       primary_key=("id",), hotcold=True)})
    q = Query(table="ev",
              measures=[Measure(expr="count(*)", alias="cnt")],
              time_filter=TimeFilter(from_="2024-01-03", to="2024-01-04"))
    df = Planner(spark, cat).plan(q)
    # [Jan 3, Jan 5): exactly the two in-range day dirs are listed
    cold_files = [f for f in df.inputFiles() if "__day=" in f]
    assert cold_files and all(
        "__day=2024-01-03" in f or "__day=2024-01-04" in f
        for f in cold_files), cold_files
    assert df.collect()[0]["cnt"] == 6


def test_semantic_dedup_two_level_assignment_is_arrow_batched(spark):
    """r14: the two_level assignment plans an ARROW-batched Python
    eval (ArrowEvalPython — whole record batches through numpy), never
    the row-at-a-time BatchEvalPython."""
    from aresdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    batched = S.semantic_dedup(emb, threshold=0.4, n_clusters=16,
                               assignment="two_level")
    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # r15: the pair stage defaults to the per-cluster Arrow kernel —
    # exactly ONE grouped-pandas node, after the single cluster shuffle
    assert plan.count("FlatMapGroupsInPandas") == 1
