"""Data-handler front door: wire bytes → metastore schema → enum
translation → HotColdStore ingest, plus redo-log replay recovery."""

import os
from datetime import datetime

import pytest
from conftest import REFERENCE_ROOT, count_jobs

from aresdb_spark.metastore import SchemaStore
from aresdb_spark.sources.hotcold import HotColdStore
from aresdb_spark.streaming.data_handler import (DataHandler,
                                                 recover_from_redo_log)
from aresdb_spark.streaming.upsert_wire import (UpsertBatchBuilder,
                                                write_redo_log)

SCHEMA = {
    "name": "trips",
    "columns": [{"name": "request_at", "type": "Uint32"},
                {"name": "trip_id", "type": "Int64"},
                {"name": "status", "type": "SmallEnum"},
                {"name": "fare", "type": "Float32"}],
    "primaryKeyColumns": [1],
    "isFactTable": True,
    "archivingSortColumns": [0],
}

CUTOFF = datetime(2024, 1, 1)
T0 = int(datetime(2024, 1, 5).timestamp())  # after cutoff → hot store


def make_handler(spark, tmp_path):
    ss = SchemaStore()
    ss.create_table(SCHEMA)
    ss.extend_enum_dict("trips", "status", ["completed", "cancelled"])
    store = HotColdStore(path=str(tmp_path / "trips"),
                         time_column="request_at",
                         primary_key=("trip_id",))
    empty = spark.createDataFrame(
        [], "request_at timestamp, trip_id bigint, status string, fare float")
    store.init_from(empty, cutoff=CUTOFF)
    return DataHandler(spark, ss, {"trips": store})


def batch(rows, arrival=10, fare_mode=0):
    b = UpsertBatchBuilder(arrival_time=arrival)
    b.add_column(0, "Uint32")
    b.add_column(1, "Int64")
    b.add_column(2, "SmallEnum")
    b.add_column(3, "Float32", update_mode=fare_mode)
    for r, (ts, tid, status, fare) in enumerate(rows):
        b.add_row()
        b.set_value(r, 0, ts)
        b.set_value(r, 1, tid)
        if status is not None:
            b.set_value(r, 2, status)
        if fare is not None:
            b.set_value(r, 3, fare)
    return b.to_byte_array()


def test_post_data_ingests_and_translates_enums(spark, tmp_path):
    h = make_handler(spark, tmp_path)
    status, body = h.post_data(
        "trips", 0, batch([(T0, 1, 0, 2.5), (T0 + 60, 2, 1, 4.0),
                           (T0 + 120, 3, 99, None)]))  # 99: unknown enum id
    assert status == 200 and body["rows"] == 3
    rows = {r["trip_id"]: r
            for r in h.stores["trips"].read_hot(spark).collect()}
    assert rows[1]["status"] == "completed"
    assert rows[2]["status"] == "cancelled"
    assert rows[3]["status"] is None          # out-of-dictionary id → NULL
    assert rows[1]["request_at"] == datetime.fromtimestamp(T0)
    # second batch upserts by PK with the wire's own update mode (add)
    status, _ = h.post_data("trips", 0,
                            batch([(T0, 1, None, 1.5)], fare_mode=2))
    assert status == 200
    rows = {r["trip_id"]: r
            for r in h.stores["trips"].read_hot(spark).collect()}
    assert rows[1]["fare"] == pytest.approx(4.0)   # 2.5 + 1.5
    assert rows[1]["status"] == "completed"        # overwrite-not-null kept


def test_wire_batch_lands_one_hot_file(spark, tmp_path):
    """A decoded wire batch is an Arrow-backed local relation with a
    byte estimate, so its hot append is plan-sized: a 500-row batch
    lands one file (a frame built from a row list is RDD-backed, sizes
    as Long.MaxValue and lands one file per partition)."""
    from aresdb_spark.sources import pointer

    h = make_handler(spark, tmp_path)
    assert h.post_data("trips", 0, batch(
        [(T0 + i, i, i % 2, float(i)) for i in range(500)]))[0] == 200
    store = h.stores["trips"]
    (entry,) = pointer.read_state(store.path)["hot_batches"]
    d = os.path.join(store.path, "hotbatch", f"batch={entry['n']}")
    assert len([n for n in os.listdir(d) if n.endswith(".parquet")]) == 1
    assert store.read_hot(spark).count() == 500


def test_post_data_error_codes(spark, tmp_path):
    h = make_handler(spark, tmp_path)
    assert h.post_data("nope", 0, b"whatever")[0] == 404
    assert h.post_data("trips", 0, b"\x00bad")[0] == 400
    # truncated valid-magic bodies are a clean 400, not an unhandled
    # struct.error (code-review r5 finding)
    good = batch([(T0, 1, 0, 2.0)])
    assert h.post_data("trips", 0, good[:30])[0] == 400
    assert h.post_data("trips", 0, good[:52])[0] == 400


def test_wire_modes_do_not_stick_to_the_store(spark, tmp_path):
    """A wire batch's update modes are batch-scoped: the store's
    configured defaults survive for later direct ingests (code-review r5
    finding — post_data used to merge them into store.modes)."""
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    h = make_handler(spark, tmp_path)
    store = h.stores["trips"]
    store.modes = {"fare": "max"}
    # wire batch carries overwrite (mode 0) for fare — wins for itself
    h.post_data("trips", 0, batch([(T0, 1, 0, 10.0)]))
    h.post_data("trips", 0, batch([(T0, 1, None, 4.0)]))
    rows = {r["trip_id"]: r
            for r in store.read_hot(spark).collect()}
    assert rows[1]["fare"] == pytest.approx(4.0)   # wire overwrite won
    assert store.modes == {"fare": "max"}          # config untouched
    # a direct ingest afterwards still applies the configured max
    direct = spark.createDataFrame(
        [(dt.fromtimestamp(T0), 1, None, 2.0)],
        "request_at timestamp, trip_id bigint, status string, fare double"
    ).withColumn("fare", F.col("fare").cast("float"))
    store.ingest(spark, direct, cutoff=store.saved_cutoff())
    rows = {r["trip_id"]: r for r in store.read_hot(spark).collect()}
    assert rows[1]["fare"] == pytest.approx(4.0)   # max(4.0, 2.0)


def test_enum_strings_encode_and_translate_back(spark, tmp_path):
    """Full export→import loop for enum columns: store strings encode to
    wire ids via the metastore dictionary, ship as batches, and
    translate back to the same strings on ingest; deleted schema columns
    are skipped rather than ingested."""
    from aresdb_spark.streaming.upsert_wire import (
        decode_upsert_batch_stream, encode_upsert_batch_stream,
        upsert_batch_to_df)

    h = make_handler(spark, tmp_path)
    dicts = {"status": h.schema_store.get_enum_cases("trips", "status")}
    src = spark.createDataFrame(
        [(T0, 1, "completed", 2.0), (T0 + 60, 2, "cancelled", 3.0),
         (T0 + 120, 3, "unknown-case", 4.0)],
        "request_at bigint, trip_id bigint, status string, fare double")
    blobs = encode_upsert_batch_stream(src, SCHEMA, arrival_time=5,
                                       enum_dicts=dicts)
    decoded = decode_upsert_batch_stream(blobs, SCHEMA)
    got = {r["trip_id"]: r["status"] for r in decoded.collect()}
    assert got == {1: 0, 2: 1, 3: None}  # ids; unknown case → NULL

    # deleted columns are ignored on ingest
    doc = {**SCHEMA, "columns": [dict(c) for c in SCHEMA["columns"]]}
    doc["columns"][3]["deleted"] = True  # fare tombstoned
    blob = blobs.first()["value"]
    df, modes = upsert_batch_to_df(spark, bytes(blob), doc)
    assert "fare" not in df.columns and "fare" not in modes


def test_post_data_missing_time_column_is_400(spark, tmp_path):
    """A well-formed fact batch without the time column (or with no live
    columns) is a clean 400, not an AnalysisException from the store's
    hot/cold filter (code-review r5 #2 finding)."""
    h = make_handler(spark, tmp_path)
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_row()
    b.add_column(3, "Float32")   # fare only — no request_at
    b.set_value(0, 0, 1.5)
    status, body = h.post_data("trips", 0, b.to_byte_array())
    assert status == 400 and "time column" in body["message"]


def test_enum_array_columns_translate(spark):
    """SmallEnum[]/BigEnum[] wire ids translate element-wise through the
    dictionary (code-review r5 finding: arrays were skipped)."""
    from aresdb_spark.streaming.data_handler import translate_enum_columns

    ss = SchemaStore()
    doc = {"name": "t",
           "columns": [{"name": "id", "type": "Int64"},
                       {"name": "tags", "type": "SmallEnum[]"}],
           "primaryKeyColumns": [0]}
    ss.create_table(doc)
    ss.extend_enum_dict("t", "tags", ["red", "green", "blue"])
    df = spark.createDataFrame([(1, [0, 2, 7, None])],
                               "id bigint, tags array<smallint>")
    (row,) = translate_enum_columns(df, doc, ss).collect()
    assert row["tags"] == ["red", "blue", None, None]  # 7 out-of-dict


def test_recover_from_redo_log(spark, tmp_path):
    h = make_handler(spark, tmp_path)
    log = write_redo_log([
        batch([(T0, 1, 0, 2.0)]),
        batch([(T0 + 60, 2, 1, 3.0)], arrival=11),
    ])
    assert recover_from_redo_log(h, "trips", log) == 2
    got = sorted(r["trip_id"]
                 for r in h.stores["trips"].read_hot(spark).collect())
    assert got == [1, 2]


# --- the reference's shipped sample-ares-root, replayed end-to-end ----------

SAMPLE_ROOT = os.path.join(REFERENCE_ROOT, "testing", "data", "integration",
                           "sample-ares-root")


@pytest.mark.usefixtures("reference_root")
def test_sample_ares_root_redo_log_replay(spark, tmp_path):
    """Replay the reference's shipped integration fixture: its metastore
    directory (schema file + \\x00\\n-delimited enum files) loads as-is,
    and its redo log (0xADDAFEED header + size-framed V1 batches)
    recovers through the same front door into a dimension-table
    snapshot. Expected contents are pinned by the reference's own
    redo-log browser test (memstore/redo_log_browser_test.go:68-74): one
    batch at offset 4, rows (c1=123, c2=enum id 0) and (234, id 1)."""
    from aresdb_spark.sources.hotcold import DimensionStore

    ss = SchemaStore(base_dir=os.path.join(SAMPLE_ROOT, "metastore"))
    assert ss.list_tables() == ["abc"]
    # the enum file ends every case with the delimiter; id 2 is a
    # legitimately-empty case (readEnumFile trims ONE trailing delimiter)
    assert ss.get_enum_cases("abc", "c2") == ["case1", "case2", "", "case3"]

    store = DimensionStore(path=str(tmp_path / "abc"), primary_key=("c1",))
    store.init_from(spark.createDataFrame([], "c1 smallint, c2 string"))
    h = DataHandler(spark, ss, {"abc": store})

    with open(os.path.join(SAMPLE_ROOT, "data", "abc_0", "redologs",
                           "1501869573.redolog"), "rb") as f:
        log = f.read()
    assert recover_from_redo_log(h, "abc", log) == 1

    got = sorted(tuple(r) for r in store.read(spark).collect())
    assert got == [(123, "case1"), (234, "case2")]


def test_dimension_store_pk_merge(spark, tmp_path):
    """DimensionStore upserts by PK with no time routing: a second
    ingest overwrites matched rows and appends new PKs."""
    from aresdb_spark.sources.hotcold import DimensionStore

    store = DimensionStore(path=str(tmp_path / "dim"), primary_key=("k",))
    store.init_from(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    store.ingest(spark, spark.createDataFrame(
        [(2, "B"), (3, "c")], "k int, v string"))
    got = sorted(tuple(r) for r in store.read(spark).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


@pytest.mark.usefixtures("reference_root")
def test_redo_log_browser_matches_reference_expectations():
    """The browser surfaces the reference's own pinned expectations for
    the shipped fixture (memstore/redo_log_browser_test.go:56-85):
    file list [1501869573], batch offsets [4], rows (123, 0) / (234, 1)
    with column names (c1, c2), slice clamping, and the invalid-start
    error."""
    import json

    from aresdb_spark.streaming.redolog_browser import RedoLogBrowser

    with open(os.path.join(SAMPLE_ROOT, "metastore", "abc", "schema")) as f:
        schema = json.load(f)
    rb = RedoLogBrowser(
        os.path.join(SAMPLE_ROOT, "data", "abc_0", "redologs"), schema)

    assert rb.list_log_files() == [1501869573]
    assert rb.list_upsert_batch(1501869573) == [4]

    rows, names, num_rows = rb.read_data(1501869573, 4, 0, 5)
    assert rows == [[123, 0], [234, 1]]
    assert names == ["c1", "c2"] and num_rows == 2

    rows, names, num_rows = rb.read_data(1501869573, 4, 1, 5)
    assert rows == [[234, 1]] and num_rows == 2

    with pytest.raises(ValueError, match="Invalid start or length"):
        rb.read_data(1501869573, 4, 2, 5)


def test_post_data_late_rows_take_the_cheap_paths(spark, tmp_path):
    """VERDICT r10 directive 5: the front door routes through the CHEAP
    paths by default — a batch with late (pre-cutoff) rows schedules the
    hot append + backfill-queue append ONLY (two narrow write jobs): no
    cold scan, no cold rewrite, no probes. The soak stays flat in job
    count as the queue grows; the scheduler's backfill job later folds
    the queue. A wire batch whose modes differ from the store's still
    takes the exact eager path."""
    h = make_handler(spark, tmp_path)
    store = h.stores["trips"]
    t_late = int(datetime(2023, 12, 20).timestamp())   # before CUTOFF
    counts = []
    for k in range(4):
        body = batch([(T0, 100 + k, 0, 1.0), (t_late, 200 + k, 1, 2.0)])
        counts.append(count_jobs(
            spark, lambda b=body: h.post_data("trips", 0, b)))
    # hot append (1 observed write) + queue append (1 write) — flat in
    # the number of already-queued batches
    assert counts == [2] * 4, counts
    assert len(store.queued_backfill_batches()) == 4
    assert len(store._batches("hot")) == 4
    # no pending entry carries per-batch modes: reads stay on the fold
    assert not any("modes" in e for e in store._batches("hot"))
    # queued rows surface after the backfill job (reference semantics)
    assert store.read_cold(spark).count() == 0
    assert store.flush_backfill(spark) == 4
    got = sorted(r["trip_id"] for r in store.read_cold(spark).collect())
    assert got == [200, 201, 202, 203]

    # an honest override (wire fare mode 2 = add, store default
    # overwrite) must NOT defer: the eager cold merge applies it
    body = batch([(t_late, 999, 0, 5.0)], fare_mode=2)
    assert h.post_data("trips", 0, body)[0] == 200
    assert store.queued_backfill_batches() == []
    assert 999 in {r["trip_id"]
                   for r in store.read_cold(spark).collect()}


def test_post_data_dimension_routes_to_journal(spark, tmp_path):
    """Dimension front door: with table-default modes the batch APPENDS
    to the mutation journal (snapshot untouched — the reference's
    dimension ingest only touches disk when the snapshot job runs);
    reads replay it immediately."""
    import os

    from aresdb_spark.sources.hotcold import DimensionStore

    ss = SchemaStore()
    ss.create_table({
        "name": "cities",
        "columns": [{"name": "city_id", "type": "Int64"},
                    {"name": "pop", "type": "Int64"}],
        "primaryKeyColumns": [0], "isFactTable": False})
    dim = DimensionStore(path=str(tmp_path / "cities"),
                         primary_key=("city_id",))
    dim.init_from(spark.createDataFrame(
        [(1, 100)], "city_id bigint, pop bigint"))
    h = DataHandler(spark, ss, {"cities": dim})

    def snap_sig():
        d = dim._snap_dir()
        return sorted((e.name, e.stat().st_mtime_ns)
                      for e in os.scandir(d) if e.is_file())

    sig0 = snap_sig()
    b = UpsertBatchBuilder(arrival_time=1)
    b.add_column(0, "Int64")
    b.add_column(1, "Int64")
    b.add_row(); b.set_value(0, 0, 2); b.set_value(0, 1, 200)
    assert h.post_data("cities", 0, b.to_byte_array())[0] == 200
    assert len(dim._batches("journal")) == 1       # journaled, not merged
    assert snap_sig() == sig0                     # snapshot untouched
    got = sorted(tuple(r) for r in dim.read(spark).collect())
    assert got == [(1, 100), (2, 200)]
    assert dim.snapshot(spark) == 1               # compaction folds it
    assert sorted(tuple(r) for r in dim.read(spark).collect()) == got
