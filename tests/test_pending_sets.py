"""Pending sets read as one relation and folded once.

Each store's pending set (hot batch dirs, the backfill queue, the
dimension journal) is ONE parquet scan over its committed ``batch=<n>``
dirs, with the batch ordinal taken from the dir number, and folds in ONE
aggregation (``fold_upserts``). These tests pin the properties
that shape depends on: the dirs come from committed state, so an
uncommitted sibling dir is never scanned; the ordinal cannot collide
with a store column; the Spark work of a flush does not grow with the
number of batches; and every hot, queue and journal write lands as many
files as its planned bytes need, not as many as its source has
partitions."""

import os
from contextlib import contextmanager
from datetime import datetime

import pandas as pd
from pyspark.sql import Row

from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore
from tests.conftest import count_jobs

CUTOFF = datetime(2024, 1, 15)


def _parquet_files(d):
    return [n for n in os.listdir(d) if n.endswith(".parquet")]


def _rows(df, cols=("v",)):
    return {r["id"]: tuple(r[c] for c in cols) for r in df.collect()}


def test_uncommitted_batch_dirs_are_never_scanned(spark, tmp_path):
    """An uncommitted ``hotbatch/batch=<n+1>`` dir (a writer died before
    its commit) sits beside the committed ones, and an uncommitted
    ``backfill/batch=<k>`` dir at the next queue number is reclaimed by
    the next committed enqueue. ``read``, ``flush_backfill`` and
    ``archive`` must equal the model without them: the one-scan read
    takes its dirs from the committed state, never from a listing. Add
    mode makes any scanned orphan row change a sum."""
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 2, 5), v=1.0),
        Row(id=2, ts=datetime(2024, 1, 20, 5), v=2.0),
        Row(id=3, ts=datetime(2024, 1, 16, 5), v=3.0),
    ]), CUTOFF)
    model = {1: 1.0, 2: 2.0, 3: 3.0}
    schema = "id long, ts timestamp, v double, __seq long"

    def orphan(d, rows):
        spark.createDataFrame(rows, schema).write.parquet(d)

    # committed: one hot batch and one queued cold batch
    store.ingest(spark, spark.createDataFrame([
        Row(id=2, ts=datetime(2024, 1, 20, 5), v=10.0),
        Row(id=1, ts=datetime(2024, 1, 2, 5), v=10.0),
    ]), CUTOFF, defer_backfill=True)
    model[2] += 10.0
    q0 = store._state()["backfill_seq"]
    # uncommitted queue dir at the next number, then a committed batch
    # that reclaims the number
    orphan(store._batch_dir("backfill", q0 + 1),
           [(1, datetime(2024, 1, 2, 5), 1000.0, 0)])
    store.ingest(spark, spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 2, 5), v=100.0),
    ]), CUTOFF, defer_backfill=True)
    assert store._state()["backfill_batches"] == [{"n": q0},
                                                  {"n": q0 + 1}]
    # uncommitted hot dir above the committed hot batches
    hot_orphan = store._batch_dir("hot", store._state()["hot_seq"] + 1)
    orphan(hot_orphan, [(2, datetime(2024, 1, 20, 5), 1000.0, 0),
                        (9, datetime(2024, 1, 20, 5), 1000.0, 1)])

    assert _rows(store.read(spark)) == {k: (v,) for k, v in model.items()}
    assert store.flush_backfill(spark) == 2
    model[1] += 110.0
    assert _rows(store.read(spark)) == {k: (v,) for k, v in model.items()}
    store.archive(spark, datetime(2024, 1, 18))
    assert _rows(store.read(spark)) == {k: (v,) for k, v in model.items()}
    assert _rows(store.read_cold(spark)) == {1: (111.0,), 3: (3.0,)}
    assert os.path.isdir(hot_orphan)       # present, never scanned


def test_store_column_named_batch_round_trips(spark, tmp_path):
    """The ordinal comes from each file's path, not from partition
    discovery, so a store column named ``batch`` keeps its own values
    through ingest, read, a per-batch mode override (the iterative
    replay over the one scan), flush and archive — and through a
    dimension store's journal replay and snapshot."""
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 2, 5), batch=-1, v=1.0),
        Row(id=2, ts=datetime(2024, 1, 20, 5), batch=-2, v=2.0),
    ]), CUTOFF)
    store.ingest(spark, spark.createDataFrame([
        Row(id=2, ts=datetime(2024, 1, 20, 6), batch=70, v=20.0),
        Row(id=1, ts=datetime(2024, 1, 2, 6), batch=71, v=10.0),
        Row(id=5, ts=datetime(2024, 1, 21, 5), batch=72, v=50.0),
    ]), CUTOFF, defer_backfill=True)
    store.ingest(spark, spark.createDataFrame(
        [(5, datetime(2024, 1, 21, 5), None, None)],
        "id long, ts timestamp, batch long, v double"),
        CUTOFF, modes={"batch": "force", "v": "force"})
    want = {1: (-1, 1.0), 2: (70, 20.0), 5: (None, None)}
    assert _rows(store.read(spark), ("batch", "v")) == want
    assert store.flush_backfill(spark) == 1
    want[1] = (71, 10.0)
    assert _rows(store.read(spark), ("batch", "v")) == want
    store.archive(spark, datetime(2024, 1, 21))
    assert _rows(store.read(spark), ("batch", "v")) == want
    assert _rows(store.read_cold(spark), ("batch",)) == {1: (71,),
                                                         2: (70,)}

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("id",))
    dim.init_from(spark.createDataFrame([Row(id=1, batch=7, name="a")]))
    dim.journal_ingest(spark.createDataFrame(
        [Row(id=1, batch=8, name="b"), Row(id=2, batch=9, name="c")]))
    dim.journal_ingest(spark.createDataFrame(
        [(2, 10, None)], "id long, batch long, name string"))
    want_dim = {1: (8, "b"), 2: (10, "c")}
    assert _rows(dim.read(spark), ("batch", "name")) == want_dim
    assert dim.snapshot(spark) == 3
    assert _rows(dim.read(spark), ("batch", "name")) == want_dim


def test_flush_backfill_jobs_do_not_grow_with_queue_length(spark, tmp_path):
    """The queue is one scan folded with the affected days in one
    aggregation: a flush of 5 queued batches runs the same Spark jobs as
    a flush of 1 holding the same rows (a per-batch merge chain adds
    stages, hence jobs, per batch)."""
    def flush_jobs(name, n_batches):
        store = HotColdStore(path=str(tmp_path / name), time_column="ts",
                             primary_key=("id",), modes={"v": "add"})
        store.init_from(spark.createDataFrame(
            [Row(id=i, ts=datetime(2024, 1, 1 + i % 10, 5), v=1.0)
             for i in range(20)]), CUTOFF)
        rows = [Row(id=i, ts=datetime(2024, 1, 1 + i % 10, 5), v=2.0)
                for i in range(5)]
        per = len(rows) // n_batches
        for b in range(n_batches):
            store.ingest(spark, spark.createDataFrame(
                rows[b * per:(b + 1) * per]), CUTOFF, defer_backfill=True)
        jobs = count_jobs(spark, lambda: store.flush_backfill(spark))
        got = _rows(store.read(spark))
        assert got == {i: (3.0 if i < 5 else 1.0,) for i in range(20)}
        return jobs

    assert flush_jobs("one", 1) == flush_jobs("five", 5)


@contextmanager
def _split_bytes(spark, n):
    """``spark.sql.files.maxPartitionBytes`` set to ``n`` for the block."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _frame(spark, rows):
    """A plan-sized in-memory frame: pandas input plans as a local
    relation with a byte estimate (a list of Rows plans RDD-backed, which
    sizes as Long.MaxValue)."""
    return spark.createDataFrame(pd.DataFrame(rows))


def test_hot_rewrites_are_file_bounded(spark, tmp_path):
    """``compact_hot`` and ``archive`` write the new ``hot_v<N>`` with
    ``write_files``' count — one file per split of planned bytes,
    clamped to [1, 8] — however many files the old base and the fold's
    shuffle would otherwise produce: 8 (the upper clamp) when the split
    size is 1 KB, far below the ~30 KB planned, and 1 at the default
    split size. (A 1-byte split would also clamp, but the rewrite scans
    the base, and a scan plans one task per split: over a minute of
    empty tasks.)"""
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(_frame(spark, [
        dict(id=i, ts=datetime(2024, 1, 16, i % 24), v=float(i))
        for i in range(200)]).repartition(12), CUTOFF)
    assert len(_parquet_files(store.hot_path)) == 12

    def upsert(ids, v):
        store.ingest(spark, _frame(spark, [
            dict(id=i, ts=datetime(2024, 1, 17, 1), v=v) for i in ids]),
            CUTOFF)

    upsert(range(0, 200, 7), -1.0)
    with _split_bytes(spark, 1024):
        assert store.compact_hot(spark) == 1
    assert len(_parquet_files(store.hot_path)) == 8
    upsert(range(0, 200, 5), -2.0)
    store.archive(spark, datetime(2024, 1, 16, 12))
    assert len(_parquet_files(store.hot_path)) == 1
    got = _rows(store.read(spark))
    assert len(got) == 200
    assert got[35] == (-2.0,) and got[7] == (-1.0,) and got[1] == (1.0,)


def test_queue_and_journal_writes_are_file_bounded(spark, tmp_path):
    """A 16-partition source lands one file per backfill queue and
    dimension journal dir at the default split size, and 8 (the upper
    clamp) when the split size is 1 byte."""
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(_frame(spark, [
        dict(id=0, ts=datetime(2024, 1, 2), v=0.0)]), CUTOFF)
    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("id",))
    dim.init_from(_frame(spark, [dict(id=0, name="a")]))

    def write(ids):
        store.ingest(spark, _frame(spark, [
            dict(id=i, ts=datetime(2024, 1, 2, i % 24), v=1.0)
            for i in ids]).repartition(16), CUTOFF, defer_backfill=True)
        dim.journal_ingest(_frame(spark, [
            dict(id=i, name=str(i)) for i in ids]).repartition(16))
        queued = store._batch_dir("backfill",
                                  store._batches("backfill")[-1]["n"])
        journal = dim._batch_dir("journal", dim._batches("journal")[-1]["n"])
        return len(_parquet_files(queued)), len(_parquet_files(journal))

    assert write(range(64)) == (1, 1)
    with _split_bytes(spark, 1):
        assert write(range(64, 128)) == (8, 8)
    assert store.flush_backfill(spark) == 2
    assert len(_rows(store.read(spark))) == 128
    assert len(_rows(dim.read(spark), ("name",))) == 128


def test_small_batch_ingests_as_one_file_per_dir(spark, tmp_path):
    """A 500-row pandas batch split across the hot store and the backfill
    queue is a few KB of planned bytes, so each side lands exactly one
    file, whatever partitioning the frame arrived with."""
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(_frame(spark, [
        dict(id=0, ts=datetime(2024, 1, 16), v=0.0)]), CUTOFF)
    store.ingest(spark, _frame(spark, [
        dict(id=i, ts=datetime(2024, 1, 2 if i % 2 else 16, 5), v=1.0)
        for i in range(500)]).repartition(4), CUTOFF, defer_backfill=True)
    (entry,) = store._batches("hot")
    (queued,) = store._batches("backfill")
    assert len(_parquet_files(store._batch_dir("hot", entry["n"]))) == 1
    assert len(_parquet_files(
        store._batch_dir("backfill", queued["n"]))) == 1


def test_uncommitted_journal_dir_is_invisible_and_reclaimed(spark, tmp_path):
    """A journal dir whose writer died before its commit (written here
    at the first number) is invisible to ``read``, ``num_mutations``,
    ``snapshot`` and the debug daemon's shard meta, exactly like an
    uncommitted hot batch; the next ``journal_ingest`` takes its number
    and overwrites it. Add mode shows any replay of the orphan: 1011,
    not 11."""
    from aresdb_spark.streaming.debug_handler import DebugDaemon

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("id",),
                         modes={"n": "add"})
    dim.init_from(spark.createDataFrame([Row(id=1, n=10)]))
    spark.createDataFrame([(1, 1000, 0)], "id long, n long, __seq long") \
        .write.parquet(os.path.join(dim.path, "journal", "batch=0"))
    meta = DebugDaemon(spark, {"d": dim}).show_shard_meta("d")[1]

    assert _rows(dim.read(spark), ("n",)) == {1: (10,)}
    assert dim.num_mutations() == 0
    assert (meta["journal_batches"], meta["num_mutations"]) == (0, 0)
    assert dim.snapshot(spark) == 0
    dim.journal_ingest(spark.createDataFrame([Row(id=1, n=1)]))
    assert dim._batches("journal") == [{"n": 0}]
    assert _rows(dim.read(spark), ("n",)) == {1: (11,)}
    assert dim.num_mutations() == 1
    assert dim.snapshot(spark) == 1
    assert _rows(dim.read(spark), ("n",)) == {1: (11,)}
