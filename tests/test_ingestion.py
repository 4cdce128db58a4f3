"""Upsert / hot-cold / streaming ingestion tests (SURVEY §2.1, §2.9)."""

from datetime import datetime, timedelta

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, count_jobs


def _base_rows():
    return [
        Row(id=1, ts=datetime(2024, 1, 1, 10), v=10.0, n=1, lo=5.0, hi=5.0),
        Row(id=2, ts=datetime(2024, 1, 2, 10), v=None, n=2, lo=None, hi=None),
        Row(id=3, ts=datetime(2024, 1, 3, 10), v=30.0, n=3, lo=3.0, hi=3.0),
    ]


def _batch_rows():
    return [
        # id=1: two updates in order — the later non-null wins for overwrite
        Row(id=1, ts=datetime(2024, 1, 1, 11), v=11.0, n=10, lo=9.0, hi=1.0, seq=1),
        Row(id=1, ts=datetime(2024, 1, 1, 12), v=None, n=10, lo=2.0, hi=9.0, seq=2),
        # id=2: null v (overwrite keeps), additive n onto existing
        Row(id=2, ts=datetime(2024, 1, 2, 12), v=None, n=5, lo=1.0, hi=1.0, seq=3),
        # id=4: brand-new PK (insert)
        Row(id=4, ts=datetime(2024, 1, 4, 10), v=40.0, n=4, lo=4.0, hi=4.0, seq=4),
    ]


# ordered like the base table's columns so the oracle SELECT lines up
MODES = {"ts": "force", "v": "overwrite", "n": "add", "lo": "min", "hi": "max"}


def test_upsert_modes_vs_oracle(spark, duck):
    """apply_upsert_batch matches the DuckDB rendering of the same merge
    (reference modes: upsert_batch_builder.go:30-43)."""
    from aresdb_spark.streaming.upsert import (apply_upsert_batch,
                                               collapse_batch,
                                               upsert_merge_oracle_sql)

    base = spark.createDataFrame(_base_rows())
    batch = spark.createDataFrame(_batch_rows())
    out = apply_upsert_batch(base, batch, ["id"], MODES, seq_col="seq")

    # oracle: collapse in duckdb too (fold by seq), then merge
    duck.execute("CREATE OR REPLACE TABLE ub_base AS SELECT * FROM (VALUES "
                 + ", ".join(f"({r.id}, TIMESTAMP '{r.ts}', {r.v if r.v is not None else 'NULL'}, "
                             f"{r.n}, {r.lo if r.lo is not None else 'NULL'}, "
                             f"{r.hi if r.hi is not None else 'NULL'})"
                             for r in _base_rows())
                 + ") t(id, ts, v, n, lo, hi)")
    duck.execute("CREATE OR REPLACE TABLE ub_batch_raw AS SELECT * FROM (VALUES "
                 + ", ".join(f"({r.id}, TIMESTAMP '{r.ts}', {r.v if r.v is not None else 'NULL'}, "
                             f"{r.n}, {r.lo}, {r.hi}, {r.seq})"
                             for r in _batch_rows())
                 + ") t(id, ts, v, n, lo, hi, seq)")
    duck.execute("""
        CREATE OR REPLACE TABLE ub_batch AS
        SELECT id,
               max_by(ts, seq) AS ts,
               max_by(v, CASE WHEN v IS NOT NULL THEN seq END) AS v,
               sum(n) AS n, min(lo) AS lo, max(hi) AS hi
        FROM ub_batch_raw GROUP BY id
    """)
    oracle = duck.execute(
        upsert_merge_oracle_sql("ub_base", "ub_batch", "id", MODES)
        + " ORDER BY id").fetchall()
    got = [tuple(r) for r in out.orderBy("id").collect()]
    want = [tuple(r) for r in oracle]
    assert [r[0] for r in got] == [1, 2, 3, 4]
    for g, w in zip(got, want):
        assert g == w, (g, w)

    # spot-check the semantics directly
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["v"] == 11.0          # overwrite: later null skipped
    assert rows[1]["n"] == 1 + 20        # additive: 1 + (10+10)
    assert rows[1]["lo"] == 2.0 and rows[1]["hi"] == 9.0
    assert rows[1]["ts"] == datetime(2024, 1, 1, 12)   # force: last wins
    assert rows[2]["v"] is None          # overwrite with null keeps null
    assert rows[2]["n"] == 7
    assert rows[3]["n"] == 3             # untouched PK
    assert rows[4]["v"] == 40.0          # insert


def test_collapse_batch_orders_by_seq(spark):
    from aresdb_spark.streaming.upsert import collapse_batch

    batch = spark.createDataFrame(_batch_rows())
    one = collapse_batch(batch, ["id"], MODES, seq_col="seq")
    r1 = one.filter("id = 1").first()
    assert r1["v"] == 11.0 and r1["lo"] == 2.0 and r1["hi"] == 9.0


def test_hotcold_exactly_once(spark, duck, tmp_path):
    """Union view counts every row exactly once across hot/cold, matching
    a DuckDB oracle over the source table; archived-but-still-hot overlap
    never double-counts."""
    from aresdb_spark.sources import pointer
    from aresdb_spark.sources.hotcold import HotColdStore

    from tests.conftest import load_events
    ev = load_events(spark)
    cutoff = datetime(2024, 1, 20)
    store = HotColdStore(path=str(tmp_path / "events"), time_column="ts",
                         primary_key=("event_id",))
    store.init_from(ev, cutoff)

    total = store.read(spark, cutoff).count()
    want = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert total == want

    # simulate overlap: copy some pre-cutoff rows into hot (as if archived
    # but not yet compacted) — the cutoff union must not double count
    overlap = ev.filter(F.col("ts") < F.lit(cutoff)).limit(50)
    hot_plus = store.read_hot(spark).unionByName(overlap)
    st = store._state()
    nxt = pointer.next_version(st, "hot")
    store._write_hot(hot_plus, nxt)
    store._commit(st, hot=nxt)
    assert store.read(spark, cutoff).count() == want


def test_hotcold_ingest_and_backfill(spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    base = spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 1, 5), v=1.0),
        Row(id=2, ts=datetime(2024, 1, 10, 5), v=2.0),
        Row(id=3, ts=datetime(2024, 1, 20, 5), v=3.0),
    ])
    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",),
                         modes={"v": "add"})
    store.init_from(base, cutoff)
    assert store.read_cold(spark).count() == 2
    assert store.read_hot(spark).count() == 1

    batch = spark.createDataFrame([
        Row(id=3, ts=datetime(2024, 1, 20, 6), v=0.5),   # hot update (add)
        Row(id=4, ts=datetime(2024, 1, 22, 5), v=4.0),   # hot insert
        Row(id=2, ts=datetime(2024, 1, 10, 6), v=0.25),  # BACKFILL (pre-cutoff)
        Row(id=5, ts=datetime(2024, 1, 2, 5), v=5.0),    # backfill insert
    ])
    store.ingest(spark, batch, cutoff)

    rows = {r["id"]: r for r in store.read(spark, cutoff).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[3]["v"] == 3.5          # additive hot update
    assert rows[2]["v"] == 2.25         # additive backfill into cold
    assert rows[5]["v"] == 5.0          # backfill insert lands cold
    assert store.read_cold(spark).count() == 3
    assert store.read_hot(spark).count() == 2


def test_ingest_retention_drops_too_old(spark, tmp_path):
    """Rows older than the retention boundary are dropped on ingest
    (reference recordRetentionInDays, model.go:111-113)."""
    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 16), v=1.0)]), datetime(2024, 1, 15))
    store.ingest(spark, spark.createDataFrame([
        Row(id=2, ts=datetime(2023, 12, 1), v=2.0),   # too old → dropped
        Row(id=3, ts=datetime(2024, 1, 10), v=3.0),   # backfill, kept
    ]), datetime(2024, 1, 15), retention=datetime(2024, 1, 1))
    ids = {r["id"] for r in store.read(spark, datetime(2024, 1, 15)).collect()}
    assert ids == {1, 3}


def test_archive_and_purge(spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    rows = [Row(id=i, ts=datetime(2024, 1, 1) + timedelta(days=i), v=float(i))
            for i in range(10)]
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(rows), datetime(2024, 1, 5))
    assert store.read_hot(spark).count() == 6

    # advance the cutoff → archiving job moves rows 5..7 into cold
    new_cutoff = datetime(2024, 1, 8)
    store.archive(spark, new_cutoff)
    assert store.read_hot(spark).count() == 3
    assert store.read_cold(spark).count() == 7
    assert store.read(spark, new_cutoff).count() == 10

    # retention: drop cold days before Jan 3 (partition-level delete)
    store.purge(spark, datetime(2024, 1, 3))
    assert store.read_cold(spark).count() == 5
    assert store.read(spark, new_cutoff).count() == 8


def test_hotcold_table_in_catalog(spark, duck, tmp_path):
    """An AQL query over a hotcold catalog table reads the exactly-once
    union at the persisted cutoff; the time filter prunes both sides."""
    from aresdb_spark.aql import Dimension, Measure, Query, TimeFilter
    from aresdb_spark.aql.planner import Planner
    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.sources.hotcold import HotColdStore

    from tests.conftest import load_events
    ev = load_events(spark)
    root = tmp_path
    store = HotColdStore(path=str(root / "live_events"), time_column="ts",
                         primary_key=("event_id",), sort_columns=("ts", "user_id"))
    store.init_from(ev, datetime(2024, 1, 20))

    cat = Catalog(str(root), tables={
        "live_events": TableDef("live_events", is_fact=True, time_column="ts",
                                primary_key=("event_id",), hotcold=True),
    })
    q = Query(
        table="live_events",
        dimensions=[Dimension(expr="event_type", alias="et")],
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=TimeFilter(from_="2024-01-10", to="2024-01-25"),
    )
    got = sorted(tuple(r) for r in Planner(spark, cat).plan(q).collect())
    want = sorted(duck.execute("""
        SELECT event_type AS et, count(*) AS cnt FROM events
        WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-26'
        GROUP BY 1
    """).fetchall())
    assert got == [tuple(r) for r in want]


def test_streaming_file_ingest(spark, tmp_path):
    """End-to-end Structured Streaming ingest: two micro-batch files →
    foreachBatch upsert-merge into the store (checkpointed)."""
    from aresdb_spark.sources.hotcold import HotColdStore
    from aresdb_spark.streaming.ingest import file_source, start_upsert_stream

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 16), v=1.0),
    ]), cutoff)

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    b1 = spark.createDataFrame([Row(id=1, ts=datetime(2024, 1, 16, 1), v=2.0),
                                Row(id=2, ts=datetime(2024, 1, 17), v=5.0)])
    b1.coalesce(1).write.parquet(str(src_dir / "b1"))

    schema = store.read_hot(spark).schema
    q = start_upsert_stream(
        file_source(spark, f"{src_dir}/*", schema),
        store, lambda: cutoff, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True)
    q.awaitTermination(120)

    rows = {r["id"]: r["v"] for r in store.read(spark, cutoff).collect()}
    assert rows == {1: 3.0, 2: 5.0}


def test_streaming_restart_exactly_once(spark, tmp_path):
    """Redo-log recovery analog (memstore/recovery.go): restarting the
    stream with the same checkpoint must NOT re-apply already-committed
    batches — critical for the non-idempotent additive mode."""
    from aresdb_spark.sources.hotcold import HotColdStore
    from aresdb_spark.streaming.ingest import file_source, start_upsert_stream

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 16), v=1.0)]), cutoff)
    src = tmp_path / "in"
    src.mkdir()
    schema = store.read_hot(spark).schema

    def run():
        q = start_upsert_stream(
            file_source(spark, f"{src}/*", schema), store, lambda: cutoff,
            checkpoint_dir=str(tmp_path / "ckpt"), available_now=True)
        q.awaitTermination(120)

    spark.createDataFrame([Row(id=1, ts=datetime(2024, 1, 16, 1), v=2.0)]) \
        .coalesce(1).write.parquet(str(src / "b1"))
    run()
    assert {r["id"]: r["v"] for r in store.read_hot(spark).collect()} == {1: 3.0}

    # restart with the SAME checkpoint + one new file: b1 must not re-add
    spark.createDataFrame([Row(id=1, ts=datetime(2024, 1, 16, 2), v=10.0)]) \
        .coalesce(1).write.parquet(str(src / "b2"))
    run()
    assert {r["id"]: r["v"] for r in store.read_hot(spark).collect()} == {1: 13.0}

    # a third run with no new data changes nothing
    run()
    assert {r["id"]: r["v"] for r in store.read_hot(spark).collect()} == {1: 13.0}


def test_kafka_decode_chain(spark):
    """The Kafka source's JSON decode path, driven with a batch DataFrame
    shaped exactly like Kafka's output (binary key/value + metadata) —
    same select chain the streaming source uses."""
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType, TimestampType)

    from aresdb_spark.streaming.ingest import decode_json_values

    schema = StructType([
        StructField("id", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("v", DoubleType()),
    ])
    src = spark.createDataFrame(
        [Row(id=7, ts=datetime(2024, 2, 1, 8), v=1.5),
         Row(id=8, ts=datetime(2024, 2, 1, 9), v=None)])
    kafka_shaped = src.select(
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct("id", "ts", "v")).cast("binary").alias("value"),
        F.lit("topic").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    decoded = decode_json_values(kafka_shaped, schema)
    assert decoded.schema == schema
    got = sorted([(r["id"], r["ts"], r["v"]) for r in decoded.collect()])
    assert got == [(7, datetime(2024, 2, 1, 8), 1.5),
                   (8, datetime(2024, 2, 1, 9), None)]


def test_kafka_shaped_stream_decode_to_store(spark, tmp_path):
    """Kafka-path closure without a broker: a streaming text source whose
    rows are JSON strings in a `value` column (exactly the shape
    kafka_source's raw stream presents) runs through decode_json_values →
    foreachBatch → HotColdStore. Malformed messages are skipped, matching
    the reference subscriber's DecodeMsg error path
    (subscriber/common/message/json_decoder.go:28-35)."""
    import json

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)

    from aresdb_spark.sources.hotcold import HotColdStore
    from aresdb_spark.streaming.ingest import (decode_json_values,
                                               start_upsert_stream)

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 16), v=1.0)]), cutoff)

    value_schema = StructType([
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("v", DoubleType()),
    ])
    src_dir = tmp_path / "topic"
    src_dir.mkdir()
    msgs = [json.dumps({"id": 1, "ts": "2024-01-16T01:00:00", "v": 2.0}),
            "{not valid json",  # reference: decoder error → message skipped
            json.dumps({"id": 3, "ts": "2024-01-17T00:00:00", "v": 7.0})]
    (src_dir / "b1.txt").write_text("\n".join(msgs) + "\n")

    raw = spark.readStream.format("text").load(str(src_dir))
    q = start_upsert_stream(
        raw, store, lambda: cutoff, checkpoint_dir=str(tmp_path / "ckpt"),
        transform=lambda df: decode_json_values(df, value_schema),
        available_now=True)
    q.awaitTermination(120)

    rows = {r["id"]: r["v"] for r in store.read(spark, cutoff).collect()}
    assert rows == {1: 3.0, 3: 7.0}


def test_store_mutations_are_single_writer(spark, tmp_path):
    """Store mutations are full-dir parquet rewrites, so they're
    single-writer per store (the reference's per-shard
    LiveStore.WriterLock, memstore/ingestion.go:44-62): a writer already
    in flight makes a second ingest/archive raise ConcurrentWriteError
    loudly instead of last-writer-wins losing a batch. The lock releases
    on success and on error."""
    import pytest

    from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore
    from aresdb_spark.sources.pointer import ConcurrentWriteError, write_lock

    cutoff = datetime(2024, 1, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(spark.createDataFrame([], "id int, ts timestamp, v int"),
                    cutoff=cutoff)
    batch = spark.createDataFrame(
        [(1, datetime(2024, 1, 5), 1)], "id int, ts timestamp, v int")

    with write_lock(store.path):  # a writer in flight
        with pytest.raises(ConcurrentWriteError, match="single-writer"):
            store.ingest(spark, batch, cutoff=cutoff)
        with pytest.raises(ConcurrentWriteError):
            store.archive(spark, datetime(2024, 1, 2))
    # released → the same calls succeed, and again after an error
    store.ingest(spark, batch, cutoff=cutoff)
    assert store.read_hot(spark).count() == 1
    with pytest.raises(Exception):
        store.ingest(spark, spark.range(1), cutoff=cutoff)  # wrong schema
    store.ingest(spark, batch, cutoff=cutoff)  # lock was released on error

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([], "k int, v string"))
    with write_lock(dim.path):
        with pytest.raises(ConcurrentWriteError):
            dim.ingest(spark, spark.createDataFrame([(1, "a")],
                                                    "k int, v string"))


def test_streaming_incremental_dedup(spark, tmp_path):
    """start_dedup_stream: micro-batch 1 seeds the store; micro-batch 2's
    re-crawled copies of batch-1 docs are dropped against history while
    its fresh docs are accepted; a restart with the same checkpoint does
    not duplicate the accepted output."""
    from pyspark.sql import functions as F

    from aresdb_spark.streaming.ingest import file_source, start_dedup_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "sigstore")
    out = str(tmp_path / "accepted")

    def run():
        q = start_dedup_stream(
            file_source(spark, f"{src}/*", docs.schema), store, out,
            checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.8,
            available_now=True)
        q.awaitTermination(180)

    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b1.coalesce(1).write.parquet(str(src / "b1"))
    run()
    accepted1 = spark.read.parquet(out)
    n1 = accepted1.count()
    assert n1 == b1.count()  # empty history: everything lands

    # batch 2: fresh docs + re-crawls of batch-1 docs under new ids
    fresh = docs.filter(F.col("doc_id") % 3 == 1)
    recrawl = b1.filter(F.col("doc_id") % 9 == 0) \
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    fresh.unionByName(recrawl).coalesce(1).write.parquet(str(src / "b2"))
    run()
    accepted = spark.read.parquet(out)
    ids = {r.doc_id for r in accepted.select("doc_id").collect()}
    # every re-crawl was dropped against history
    assert not any(i >= 1000000 for i in ids)
    n2 = accepted.count()
    assert n2 > n1  # fresh docs landed (minus organic near-dups)

    # restart with the same checkpoint: nothing re-processes
    run()
    assert spark.read.parquet(out).count() == n2


def test_ingest_hot_is_o_batch_append_only(spark, tmp_path):
    """VERDICT r8 #2/#3: hot-side ingest is O(batch) — it appends ONE
    numbered batch dir, never reads or rewrites the existing hot store,
    and schedules exactly the one observed write job (validation and
    routing ride that pass as CollectMetrics, not extra count jobs).
    The job count and the base dir's files are both invariant in the
    number of already-pending batches; reads resolve PK state exactly;
    archive compacts the pending set."""
    import os

    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    base = spark.createDataFrame(
        [Row(id=i, ts=datetime(2024, 1, 16), v=1.0) for i in range(500)])
    store.init_from(base, cutoff)

    def base_sig():
        d = store.hot_path
        return sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size)
                      for e in os.scandir(d) if e.is_file())

    sig0 = base_sig()
    counts = []
    for k in range(6):  # growing pending set: job count must not grow
        batch = spark.createDataFrame(
            [Row(id=k, ts=datetime(2024, 1, 16, 1 + k), v=10.0)])
        counts.append(count_jobs(
            spark, lambda b=batch: store.ingest(spark, b, cutoff)))
    # exactly the one observed write job per hot-only batch — no count
    # probes, no hot-store read, independent of pending-batch count
    assert counts == [1] * 6, counts
    # the compacted base was never touched
    assert base_sig() == sig0
    assert len(store._batches("hot")) == 6

    # reads resolve the pending set exactly (additive mode folds)
    rows = {r["id"]: r["v"] for r in store.read_hot(spark).collect()}
    assert rows[0] == 11.0 and rows[5] == 11.0 and rows[499] == 1.0
    assert len(rows) == 500

    # explicit compaction folds identically and empties the pending set
    assert store.compact_hot(spark) == 6
    assert store._batches("hot") == []
    rows2 = {r["id"]: r["v"] for r in store.read_hot(spark).collect()}
    assert rows2 == rows

    # archive also consumes pending batches (the cadence that bounds
    # the fold): ingest one more, then advance the cutoff
    store.ingest(spark, spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 16, 9), v=5.0)]), cutoff)
    assert len(store._batches("hot")) == 1
    store.archive(spark, datetime(2024, 1, 16, 5))
    assert store._batches("hot") == []
    got = {r["id"]: r["v"] for r in store.read(spark).collect()}
    assert got[1] == 16.0 and len(got) == 500  # 1 + 10 (loop) + 5


def test_ingest_append_only_per_batch_mode_override(spark, tmp_path):
    """A batch ingested with override modes replays through the exact
    iterative chain (recorded per batch in the pointer state), so
    read-side resolution honors per-batch semantics — here a force
    overwrite sandwiched between additive batches."""
    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 16), v=1.0)]), cutoff)

    store.ingest(spark, spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 16, 1), v=2.0)]), cutoff)  # add → 3
    store.ingest(spark, spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 16, 2), v=100.0)]), cutoff,
        modes={"v": "force"})                                # force → 100
    store.ingest(spark, spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 16, 3), v=7.0)]), cutoff)  # add → 107
    assert {r["id"]: r["v"]
            for r in store.read_hot(spark).collect()} == {1: 107.0}
    # compaction preserves the override-resolved value
    store.compact_hot(spark)
    assert {r["id"]: r["v"]
            for r in store.read_hot(spark).collect()} == {1: 107.0}


def test_cold_mutations_are_o_touched_days(spark, tmp_path):
    """r9 per-day cold map: archive APPENDS day dirs and backfill
    rewrites ONLY affected days — every untouched day dir stays
    byte-identical on disk (the 100-TB claim: no cold mutation is
    O(|cold|)). Engine-side day pruning serves a time_range read from
    only the in-range day dirs."""
    import os

    from aresdb_spark.sources.hotcold import HotColdStore

    rows = [Row(id=i, ts=datetime(2024, 1, 1) + timedelta(days=i),
                v=float(i)) for i in range(10)]
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",),
                         modes={"v": "add"})
    store.init_from(spark.createDataFrame(rows), datetime(2024, 1, 8))
    assert store.cold_day_keys() == [
        f"2024-01-0{d}" for d in range(1, 8)]

    def day_sig(day):
        sig = []
        for rels in store._cold_day_map()[day]:
            d = os.path.join(store.path, rels)
            sig += sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size)
                          for e in os.scandir(d) if e.is_file())
        return sig

    sigs = {d: day_sig(d) for d in store.cold_day_keys()}

    # backfill flush touching ONE day (id=2 lives on Jan 3)
    store.ingest(spark, spark.createDataFrame(
        [Row(id=2, ts=datetime(2024, 1, 3, 6), v=0.5)]),
        cutoff=datetime(2024, 1, 8), defer_backfill=True)
    assert store.flush_backfill(spark) == 1
    m = store._cold_day_map()
    assert set(m) == set(sigs)                      # same day set
    for d in sigs:
        if d == "2024-01-03":
            assert day_sig(d) != sigs[d]            # rewritten
        else:
            assert day_sig(d) == sigs[d], f"day {d} was touched"
    rows_now = {r["id"]: r["v"] for r in store.read_cold(spark).collect()}
    assert rows_now[2] == 2.5                       # add-mode fold

    # archive appends NEW day dirs; existing days still untouched
    sigs = {d: day_sig(d) for d in store.cold_day_keys()}
    store.archive(spark, datetime(2024, 1, 10))
    m = store._cold_day_map()
    assert "2024-01-08" in m and "2024-01-09" in m  # appended days
    for d in sigs:
        assert day_sig(d) == sigs[d], f"archive touched existing day {d}"

    # engine-side day pruning: a time_range read lists ONLY in-range
    # day dirs (Catalyst can't derive __day bounds from a ts filter)
    pruned = store.read_cold(spark, time_range=(
        datetime(2024, 1, 3), datetime(2024, 1, 5)))
    files = pruned.inputFiles()
    assert files and all(
        "__day=2024-01-03" in f or "__day=2024-01-04" in f for f in files)
    assert sorted(r["id"] for r in pruned.collect()) == [2, 3]
    # boundary day with intra-day cutoff stays included (conservative)
    pruned2 = store.read_cold(spark, time_range=(
        datetime(2024, 1, 3, 12), datetime(2024, 1, 4, 12)))
    assert sorted(r["id"] for r in pruned2.collect()) == [2, 3]

    # a PK update that MOVES a row across days rewrites both days'
    # dirs and the row lands once, in its new day (force mode)
    store.ingest(spark, spark.createDataFrame(
        [Row(id=3, ts=datetime(2024, 1, 6, 1), v=99.0)]),
        cutoff=datetime(2024, 1, 10), defer_backfill=True)
    store.flush_backfill(spark, modes={"ts": "force", "v": "force"})
    m = store._cold_day_map()
    assert "2024-01-04" not in m                    # old day emptied
    got = [(r["ts"], r["v"]) for r in store.read_cold(spark)
           .filter("id = 3").collect()]
    assert got == [(datetime(2024, 1, 6, 1), 99.0)]
    union_ids = sorted(r["id"] for r in store.read(spark).collect())
    assert union_ids == sorted(range(10))           # exactly once


def test_compact_cold_days_squashes_append_fanin(spark, tmp_path):
    """Successive archives append a dir per run to the boundary day;
    compact_cold_days squashes multi-dir days to one sorted dir with
    identical logical content, ledgering the displaced dirs."""
    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(
        [Row(id=0, ts=datetime(2024, 1, 1, 1), v=0.0)]),
        datetime(2024, 1, 1, 2))
    # three archives, each moving one more row of the SAME day to cold
    for h in (3, 5, 7):
        store.ingest(spark, spark.createDataFrame(
            [Row(id=h, ts=datetime(2024, 1, 1, h - 1), v=float(h))]),
            cutoff=store.saved_cutoff())
        store.archive(spark, datetime(2024, 1, 1, h))
    m = store._cold_day_map()
    assert len(m["2024-01-01"]) == 4            # init + 3 appends
    before_rows = sorted(tuple(r) for r in store.read_cold(spark).collect())

    assert store.compact_cold_days(spark) == 1
    m2 = store._cold_day_map()
    assert len(m2["2024-01-01"]) == 1
    assert sorted(tuple(r) for r in
                  store.read_cold(spark).collect()) == before_rows
    ledger = {e["dir"] for e in store._state()["displaced"]}
    assert sum("coldset_v" in d for d in ledger) >= 4
    # nothing at/under min_dirs: a second call is a no-op
    assert store.compact_cold_days(spark) == 0


def test_hot_fold_touches_only_pending_pks(spark, tmp_path, monkeypatch):
    """VERDICT r9 #4 / r10 directive 2: with pending batches, the hot
    read must NOT shuffle the whole base — the pending-PK set broadcasts
    (left_semi/left_anti split), only the matched slice feeds the fold
    exchange, and the untouched slice unions back exchange-free. Plan:
    exactly ONE hash exchange (the fold's), two broadcast joins, no
    sort-merge join; values identical to the whole-base fold."""
    import re

    from aresdb_spark.plans.audit import executed_plan_str
    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame(
        [Row(id=i, ts=datetime(2024, 1, 16), v=1.0) for i in range(500)]),
        cutoff)
    for k in range(3):
        store.ingest(spark, spark.createDataFrame(
            [Row(id=k, ts=datetime(2024, 1, 16, 1 + k), v=10.0)]), cutoff)

    df = store.read_hot(spark)
    rows = {r["id"]: r["v"] for r in df.collect()}
    assert rows[0] == rows[1] == rows[2] == 11.0
    assert rows[499] == 1.0 and len(rows) == 500

    # final executed plan only (AQE prints Final AND Initial — the
    # Initial section would double every count)
    plan = executed_plan_str(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan

    # oversized pending set (forced via a 0-byte broadcast ceiling)
    # falls back to the whole-base fold (the broadcast must never OOM a
    # reader) — same values, no joins
    from aresdb_spark.operators import util
    monkeypatch.setattr(util, "BROADCAST_MAX_BYTES", 0)
    small = HotColdStore(path=str(tmp_path / "s"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    small.init_from(spark.createDataFrame(
        [Row(id=i, ts=datetime(2024, 1, 16), v=1.0) for i in range(50)]),
        cutoff)
    small.ingest(spark, spark.createDataFrame(
        [Row(id=0, ts=datetime(2024, 1, 16, 1), v=10.0)]), cutoff)
    df2 = small.read_hot(spark)
    got2 = {r["id"]: r["v"] for r in df2.collect()}
    assert got2[0] == 11.0 and len(got2) == 50
    assert "Join" not in executed_plan_str(df2).split("== Initial Plan ==")[0]


def test_moved_day_probe_is_footer_bounded(spark, tmp_path):
    """ADVICE r10 #3: the _cold_upsert moved-day probe scans only days
    whose parquet footer PK bounds (read at write time and committed as
    cold_day_stats) intersect the batch's PK range —
    with day-disjoint PK ranges (the common monotonic-id layout) an
    update touches one candidate day, not O(|cold|). Conservative:
    unknown stats keep the day; correctness of a cross-day move is
    unchanged."""
    from datetime import timedelta

    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)
    cutoff = datetime(2024, 2, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    rows = [(d * 100 + i, t0 + timedelta(days=d, hours=1), 1.0)
            for d in range(5) for i in range(10)]
    store.init_from(spark.createDataFrame(
        rows, "id int, ts timestamp, v double"), cutoff)
    m = store._cold_day_map()
    assert len(m) == 5
    stats = store._state()["cold_day_stats"]

    # footer pruning: pk 205 lives only in day index 2
    assert store._candidate_moved_days(m, 205, 205, False, stats) == \
        {"2024-01-03"}
    # a range spanning two days' pks keeps exactly those days
    assert store._candidate_moved_days(m, 5, 101, False, stats) == \
        {"2024-01-01", "2024-01-02"}
    # a PK nobody holds keeps nothing — the probe scan is skipped
    assert store._candidate_moved_days(m, 9999, 9999, False, stats) \
        == set()
    # null-PK batches keep only days whose files Hold nulls (none here)
    assert store._candidate_moved_days(m, None, None, True, stats) \
        == set()
    # a dir with no stats entry has unknowable bounds: its day is kept
    assert store._candidate_moved_days(m, 9999, 9999, False, {}) == set(m)

    # end-to-end: move pk 405 from day 4 to day 0 — the existing copy's
    # day must be found through the footer bound and rewritten
    store.ingest(spark, spark.createDataFrame(
        [(405, t0 + timedelta(hours=2), 9.0)],
        "id int, ts timestamp, v double"), cutoff)
    got = {r["id"]: (r["ts"], r["v"])
           for r in store.read_cold(spark).collect()}
    assert got[405] == (t0 + timedelta(hours=2), 9.0)
    assert len(got) == 50                       # moved, not duplicated
    # untouched middle days kept their committed dirs verbatim
    m2 = store._cold_day_map()
    for day in ("2024-01-02", "2024-01-03", "2024-01-04"):
        assert m2[day] == m[day]


def test_moved_day_probe_uses_committed_stats(spark, tmp_path, monkeypatch):
    """The per-day PK bounds are recorded in the pointer at WRITE time
    (cold_day_stats) — the steady-state moved-day probe is pure
    committed metadata, no footer reads at all (the manifest-stats
    shape at 100 TB). Displaced dirs drop out of the stats with the
    same commit that retires them."""
    from datetime import timedelta

    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)
    cutoff = datetime(2024, 2, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    rows = [(d * 100 + i, t0 + timedelta(days=d, hours=1), 1.0)
            for d in range(4) for i in range(10)]
    store.init_from(spark.createDataFrame(
        rows, "id int, ts timestamp, v double"), cutoff)
    m = store._cold_day_map()
    st = store._state()
    live = {rel for dirs in m.values() for rel in dirs}
    assert set(st["cold_day_stats"]) == live
    b = st["cold_day_stats"][m["2024-01-03"][0]]
    assert (b["lo"], b["hi"], b["nulls"]) == (200, 209, 0)

    # with committed stats the probe must never touch a footer
    def boom(self, d):
        raise AssertionError(f"unexpected footer read: {d}")
    monkeypatch.setattr(HotColdStore, "_pk_bounds_of_dir", boom)
    assert store._candidate_moved_days(
        m, 205, 205, False, st["cold_day_stats"]) == {"2024-01-03"}
    monkeypatch.undo()

    # a flush that rewrites a day prunes the displaced dir's entry and
    # records the new dir's bounds in the SAME commit
    store.ingest(spark, spark.createDataFrame(
        [(205, t0 + timedelta(days=3, hours=2), 9.0)],
        "id int, ts timestamp, v double"), cutoff, defer_backfill=True)
    store.flush_backfill(spark)
    st2 = store._state()
    m2 = store._cold_day_map()
    live2 = {rel for dirs in m2.values() for rel in dirs}
    assert set(st2["cold_day_stats"]) == live2
    # purge drops expired days' stats with the map entries
    store.purge(spark, t0 + timedelta(days=2))
    st3 = store._state()
    live3 = {rel for dirs in store._cold_day_map().values()
             for rel in dirs}
    assert set(st3["cold_day_stats"]) == live3


def test_streaming_ingest_defers_backfill_by_default(spark, tmp_path):
    """r10 directive 5: a micro-batch with late (pre-cutoff) rows takes
    the queue path by default — hot rows are immediately visible, the
    late rows sit in the backfill queue (invisible, reference
    semantics) and fold into cold only at the backfill job; cold is
    never rewritten inline by the stream. defer_backfill=False restores
    read-your-writes for late rows."""
    from aresdb_spark.sources.hotcold import HotColdStore
    from aresdb_spark.streaming.ingest import (file_source,
                                               start_upsert_stream)

    cutoff = datetime(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 2), v=1.0)]), cutoff)
    cold_map0 = store._cold_day_map()

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame([
        Row(id=2, ts=datetime(2024, 1, 16), v=2.0),    # hot
        Row(id=3, ts=datetime(2024, 1, 3), v=3.0),     # late → queue
    ]).coalesce(1).write.parquet(str(src_dir / "b1"))

    schema = store.read_hot(spark).schema
    q = start_upsert_stream(
        file_source(spark, f"{src_dir}/*", schema),
        store, lambda: cutoff, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True)
    q.awaitTermination(120)

    # hot row visible, late row queued and invisible, cold untouched
    assert {r["id"] for r in store.read(spark).collect()} == {1, 2}
    assert len(store.queued_backfill_batches()) == 1
    assert store._cold_day_map() == cold_map0
    # the backfill job folds the queue
    assert store.flush_backfill(spark) == 1
    assert {r["id"] for r in store.read(spark).collect()} == {1, 2, 3}

    # opting out keeps the eager inline merge
    spark.createDataFrame([
        Row(id=4, ts=datetime(2024, 1, 4), v=4.0),
    ]).coalesce(1).write.parquet(str(src_dir / "b2"))
    q = start_upsert_stream(
        file_source(spark, f"{src_dir}/*", schema),
        store, lambda: cutoff, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True, defer_backfill=False)
    q.awaitTermination(120)
    assert store.queued_backfill_batches() == []
    assert {r["id"] for r in store.read(spark).collect()} == {1, 2, 3, 4}


def test_pk_bounds_absent_null_count_keeps_day(spark, tmp_path, monkeypatch):
    """ADVICE r11 #2: a parquet footer whose statistics omit null_count
    is UNKNOWN, not zero — treating it as 0 would let the moved-day
    probe prune a day whose files hold NULL-PK rows, committing the
    same (NULL) PK into two day dirs. Absent null_count must degrade
    like absent min/max: no bounds for the dir, day always kept."""
    from datetime import datetime, timedelta

    import pyarrow.parquet as _pq

    from aresdb_spark.sources.hotcold import HotColdStore

    t0 = datetime(2024, 1, 1)
    cutoff = datetime(2024, 2, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",),
                         allow_missing_event_time=True)
    rows = [(d * 100 + i, t0 + timedelta(days=d, hours=1), 1.0)
            for d in range(2) for i in range(5)]
    store.init_from(spark.createDataFrame(
        rows, "id int, ts timestamp, v double"), cutoff)
    m = store._cold_day_map()
    rel = m["2024-01-01"][0]
    droot = str(tmp_path / "t" / rel)

    # Spark-written footers DO carry null_count — bounds resolve
    assert store._pk_bounds_of_dir(droot) is not None

    # proxy the statistics object to report has_null_count=False (the
    # anti-conservative case: e.g. files from writers that skip it)
    class _NoNullStats:
        def __init__(self, real):
            self._r = real
        has_min_max = property(lambda s: s._r.has_min_max)
        min = property(lambda s: s._r.min)
        max = property(lambda s: s._r.max)
        has_null_count = False
        null_count = 0          # the value the old code trusted

    class _Col:
        def __init__(self, real):
            self._r = real
        statistics = property(lambda s: _NoNullStats(s._r.statistics))

    class _RG:
        def __init__(self, real):
            self._r = real

        def column(self, i):
            return _Col(self._r.column(i))

    class _MD:
        def __init__(self, real):
            self._r = real
        num_row_groups = property(lambda s: s._r.num_row_groups)

        def row_group(self, i):
            return _RG(self._r.row_group(i))

    real_pf = _pq.ParquetFile

    class _PF:
        def __init__(self, path):
            self._r = real_pf(path)
        schema_arrow = property(lambda s: s._r.schema_arrow)
        metadata = property(lambda s: _MD(s._r.metadata))

    monkeypatch.setattr(_pq, "ParquetFile", _PF)
    assert store._pk_bounds_of_dir(droot) is None
    # and the probe keeps every day whose bounds are unknowable
    assert store._candidate_moved_days(
        m, None, None, True, {}) == {"2024-01-01", "2024-01-02"}
