"""Column names that need quoting, through every store path that builds
its expressions as SQL text.

The stores render their projections, casts and predicates as Spark-SQL
text (``operators.util.ident``/``lit``/``sql_type``). A name that is a
SQL word or the pending-set partition key (``batch``), one with a space
(``a b``) and one with a backtick (``we`ird``) must round-trip through
ingest (hot append and deferred cold), read, a per-batch mode override,
``flush_backfill``, ``archive`` and a dimension journal replay, and
agree with a plain dict model of the upserts.
"""

from datetime import datetime

COLS = ("batch", "a b", "we`ird")
NAMES = ("ts",) + COLS
SCHEMA = "id int, ts timestamp, batch int, `a b` string, `we``ird` double"
CUTOFF = datetime(2024, 1, 10)


def _upsert(model, rows, modes=None):
    """Apply upsert ``rows`` (id, ts, *COLS) to ``model``: overwrite
    keeps the old value on NULL, ``add`` sums (old NULL counts as 0)."""
    for r in rows:
        old = model.get(r[0])
        if old is None:
            model[r[0]] = r
            continue
        new = [r[0]]
        for i, v in enumerate(r[1:], 1):
            if (modes or {}).get(NAMES[i - 1]) == "add":
                new.append(old[i] if v is None else (old[i] or 0) + v)
            else:
                new.append(old[i] if v is None else v)
        model[r[0]] = tuple(new)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_quoted_names_through_every_store_path(spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    base = [(1, datetime(2024, 1, 5), 10, "x", 1.0),
            (2, datetime(2024, 1, 12), 20, "y", 2.0),
            (3, datetime(2024, 1, 11), 30, "z", 3.0)]
    store.init_from(spark.createDataFrame(base, SCHEMA), CUTOFF)
    model = {r[0]: r for r in base}
    assert store.read(spark).columns == ["id", "ts", *COLS]
    assert _rows(store.read(spark)) == sorted(model.values())

    # hot append + a deferred cold row (invisible until the flush)
    hot = [(2, datetime(2024, 1, 12), 21, None, 2.5),
           (4, datetime(2024, 1, 13), 40, "w", None)]
    late = [(1, datetime(2024, 1, 6), 11, None, 1.5)]
    store.ingest(spark, spark.createDataFrame(hot + late, SCHEMA), CUTOFF,
                 defer_backfill=True)
    _upsert(model, hot)
    assert _rows(store.read(spark)) == sorted(model.values())

    # a per-batch mode override: replayed batch by batch at read; its
    # cold row takes the eager path
    over = [(2, datetime(2024, 1, 12), 5, "y2", None),
            (5, datetime(2024, 1, 7), 50, "v", 5.0)]
    store.ingest(spark, spark.createDataFrame(over, SCHEMA), CUTOFF,
                 modes={"batch": "add"})
    _upsert(model, over, {"batch": "add"})
    assert _rows(store.read(spark)) == sorted(model.values())

    assert store.flush_backfill(spark) == 1
    _upsert(model, late)
    assert _rows(store.read(spark)) == sorted(model.values())

    new_cutoff = datetime(2024, 1, 12, 12)
    store.archive(spark, new_cutoff)
    assert _rows(store.read(spark)) == sorted(model.values())
    assert sorted(r["id"] for r in store.read_cold(spark).collect()) == \
        [1, 2, 3, 5]
    assert model[2][2] == 26            # 21, then +5 under the override


def test_quoted_names_through_dimension_journal(spark, tmp_path):
    from aresdb_spark.sources.hotcold import DimensionStore

    schema = "id int, batch int, `a b` string, `we``ird` double"
    store = DimensionStore(path=str(tmp_path / "d"), primary_key=("id",),
                           modes={"we`ird": "add"})
    store.init_from(spark.createDataFrame([(1, 10, "x", 1.0)], schema))
    store.journal_ingest(spark.createDataFrame(
        [(1, None, "x2", 2.0), (2, 20, None, None)], schema))
    store.journal_ingest(spark.createDataFrame(
        [(1, 11, None, 0.5)], schema))
    assert store.read(spark).columns == ["id", *COLS]
    assert _rows(store.read(spark)) == [(1, 11, "x2", 3.5),
                                        (2, 20, None, None)]
    assert store.snapshot(spark) == 3
    assert _rows(store.read(spark)) == [(1, 11, "x2", 3.5),
                                        (2, 20, None, None)]
