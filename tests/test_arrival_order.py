"""Arrival-order persistence in the deferred backfill queue and the
dimension mutation journal (VERDICT r9 "What's wrong" #1/#2).

Spark packs a multi-file parquet read LARGEST-FILE-FIRST, not in write
order. Before r10, `_enqueue_backfill` and `journal_ingest` persisted
batches without a sequence column, so `flush_backfill`/`_replay`
re-derived arrival order from read-back order — a batch carrying two
updates to one PK could resolve in REVERSE (hypothesis-shrunk
counterexample: base (pk,day0), batch [(pk,day0,NULL),(pk,day1,0)]
landed in day0 instead of day1). The reference keys its backfill buffer
and redo log on offsets — order is data (backfill_manager.go:84-120).

These tests FORCE the failure layout deterministically: a 2-file batch
dir whose FIRST-arrival row sits alone in the SMALLER file (so read-back
reverses it behind the padded second file) and assert the persisted
``__seq`` makes the last arrival win anyway.
"""

import os
from datetime import datetime, timedelta

from pyspark.sql import Row


def _two_part_batch(spark, rows_first, rows_last, schema):
    """A DataFrame whose partition 0 is exactly ``rows_first`` and
    partition 1 is ``rows_last`` — written as part-00000 (small) and
    part-00001 (large), so a size-ordered read-back REVERSES arrival."""
    sc = spark.sparkContext
    rdd = sc.parallelize(rows_first, 1).union(sc.parallelize(rows_last, 1))
    return spark.createDataFrame(rdd, schema)


def _assert_small_then_large(dirpath):
    """The test's premise: the dir really is multi-file with the
    first-arrival file strictly smaller (else read-back wouldn't
    reverse and the test wouldn't discriminate)."""
    parts = sorted(n for n in os.listdir(dirpath)
                   if n.startswith("part-") and n.endswith(".parquet"))
    assert len(parts) >= 2, parts
    sizes = [os.path.getsize(os.path.join(dirpath, p)) for p in parts]
    assert sizes[0] < sizes[1], sizes


def test_backfill_queue_resolves_duplicate_pk_in_arrival_order(
        spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)
    day0, day1 = t0, t0 + timedelta(days=1)
    cutoff = t0 + timedelta(days=30)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(
        [(0, day0, 0.0)], "id int, ts timestamp, v double"), cutoff)

    # arrival order: (0, day0, NULL) THEN (0, day1, 0.0) + padding rows
    # that fatten the second file. Under overwrite (default) the LAST
    # row's ts must win: the final row lands in day1.
    batch = _two_part_batch(
        spark,
        [Row(id=0, ts=day0, v=None)],
        [Row(id=0, ts=day1, v=0.0)] +
        [Row(id=1000 + i, ts=day1, v=float(i)) for i in range(64)],
        "id int, ts timestamp, v double")
    store.ingest(spark, batch, cutoff, defer_backfill=True)

    qdir = store._batch_dir("backfill", store._batches("backfill")[0]["n"])
    _assert_small_then_large(qdir)

    store.flush_backfill(spark)
    got = {r["id"]: (r["ts"], r["v"])
           for r in store.read_cold(spark).collect()}
    assert got[0] == (day1, 0.0)           # last arrival won
    assert "2024-01-02" in store._cold_day_map()
    # day0's dir holds no copy of pk 0 anymore
    assert [r["id"] for r in store.read_cold(
        spark, time_range=(day0, day1)).collect()] == []


def test_dimension_journal_resolves_duplicate_pk_in_arrival_order(
        spark, tmp_path):
    from aresdb_spark.sources.hotcold import DimensionStore

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([Row(k=0, name="base")]))

    batch = _two_part_batch(
        spark,
        [Row(k=0, name="first")],
        [Row(k=0, name="second")] +
        [Row(k=1000 + i, name="pad-" + "x" * 40) for i in range(64)],
        "k int, name string")
    dim.journal_ingest(batch)

    jdir = dim._batch_dir("journal", dim._batches("journal")[0]["n"])
    _assert_small_then_large(jdir)

    got = {r["k"]: r["name"] for r in dim.read(spark).collect()}
    assert got[0] == "second"              # last arrival won
    # the snapshot job folds the same order
    dim.snapshot(spark)
    got2 = {r["k"]: r["name"] for r in dim.read(spark).collect()}
    assert got2[0] == "second"


def test_backfill_queue_caller_seq_col_is_persisted(spark, tmp_path):
    """A caller-supplied seq column defines arrival order at enqueue —
    even when it disagrees with the batch's row order."""
    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)
    day0, day1 = t0, t0 + timedelta(days=1)
    cutoff = t0 + timedelta(days=30)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(
        [(0, day0, 0.0)], "id int, ts timestamp, v double"), cutoff)
    # row order says day1 last, but seq says the day0 row is LAST
    batch = spark.createDataFrame(
        [(0, day0, 5.0, 7), (0, day1, 1.0, 3)],
        "id int, ts timestamp, v double, seq int")
    store.ingest(spark, batch.select("id", "ts", "v", "seq"),
                 cutoff, seq_col="seq", defer_backfill=True)
    store.flush_backfill(spark)
    got = {r["id"]: (r["ts"], r["v"])
           for r in store.read_cold(spark).collect()}
    assert got[0] == (day0, 5.0)
