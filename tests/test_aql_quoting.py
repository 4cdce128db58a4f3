"""AQL expressions reach Catalyst as Spark-SQL text, so every literal and
identifier the compiler renders must survive Spark's parser: string
literals and LIKE patterns holding quotes and backslashes, and column
names that are Spark SQL keywords. Each query is checked against DuckDB
over the same parquet files."""

import pandas as pd
import pytest

from aresdb_spark.aql import Dimension, Join, Measure, Query
from aresdb_spark.aql.planner import Planner
from aresdb_spark.catalog import Catalog, TableDef
from tests.conftest import assert_df_matches_duck

LABELS = ["it's", "a\\b", "it's a\\b", "plain", "x'\\y", "it''s", None]


@pytest.fixture()
def tables(tmp_path, duck):
    """A fact table ``notes`` (quote/backslash labels) and a dimension
    table ``ranks`` whose columns are named ``order`` and ``select``."""
    notes = pd.DataFrame({
        "note_id": range(len(LABELS) * 3),
        "label": LABELS * 3,
        "k": [i % 4 for i in range(len(LABELS) * 3)],
        "v": [float(i) for i in range(len(LABELS) * 3)]})
    ranks = pd.DataFrame({"order": [0, 1, 2, 3],
                          "select": ["zero", "one", "two", "three"]})
    notes.to_parquet(tmp_path / "notes.parquet")
    ranks.to_parquet(tmp_path / "ranks.parquet")
    for t in ("notes", "ranks"):
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS "
                     f"SELECT * FROM '{tmp_path}/{t}.parquet'")
    return Catalog(str(tmp_path), tables={
        "notes": TableDef("notes", is_fact=True, primary_key=("note_id",)),
        "ranks": TableDef("ranks", primary_key=("order",))})


# (AQL row filter, DuckDB predicate): the AQL literal escapes with a
# backslash; DuckDB doubles the quote, keeps the backslash literal and
# takes LIKE's escape character explicitly
FILTERS = [
    ("label = 'it\\'s a\\\\b'", "label = 'it''s a\\b'"),
    ("label like '%\\'%\\\\\\\\%'", "label LIKE '%''%\\\\%' ESCAPE '\\'"),
    ("label not like 'it\\'%'", "label NOT LIKE 'it''%' ESCAPE '\\'"),
    ("label in ('a\\\\b', 'it\\'\\'s')", "label IN ('a\\b', 'it''''s')"),
]


@pytest.mark.parametrize("aql,duck_pred", FILTERS)
def test_quote_and_backslash_literals_match_duckdb(spark, duck, tables,
                                                   aql, duck_pred):
    q = Query(table="notes", filters=[aql],
              dimensions=[Dimension(expr="label", alias="label")],
              measures=[Measure(expr="count(*)", alias="n"),
                        Measure(expr="sum(v)", alias="s")])
    df = Planner(spark, tables).plan(q)
    assert_df_matches_duck(df, duck, f"""
        SELECT label, count(*) AS n, sum(v) AS s FROM notes
        WHERE {duck_pred} GROUP BY label""")
    assert df.count() > 0


def test_keyword_named_dimension_column_matches_duckdb(spark, duck, tables):
    """A dimension table column named ``order`` (and one named
    ``select``) in a join condition, a row filter, a dimension and a
    measure."""
    q = Query(table="notes",
              joins=[Join(table="ranks", alias="r", conditions=["r.order = k"])],
              filters=["r.order > 0", "r.select != 'three'"],
              dimensions=[Dimension(expr="r.order", alias="order"),
                          Dimension(expr="r.select", alias="select")],
              measures=[Measure(expr="sum(r.order)", alias="so"),
                        Measure(expr="count(*)", alias="n")])
    df = Planner(spark, tables).plan(q)
    assert df.columns == ["order", "select", "so", "n"]
    assert_df_matches_duck(df, duck, """
        SELECT r."order", r."select", sum(r."order") AS so, count(*) AS n
        FROM notes LEFT JOIN ranks r ON r."order" = notes.k
        WHERE r."order" > 0 AND r."select" != 'three'
        GROUP BY 1, 2""")
    assert df.count() == 2
