"""Crash injection at the pointer-flip commit point of every store
mutation (VERDICT r6 directive 3): data files land in new version dirs
first, ONE small _state.json write publishes the mutation. Killing the
writer between the data write and the flip must leave the previous
state fully live — the reference's publication order (vector-party
files, then the disk metastore's batch-version/snapshot pointer)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import aresdb_spark.sources.pointer as pointer_mod


class _CrashOnCommit:
    """Context manager that makes the Nth pointer commit raise."""

    def __init__(self, monkeypatch=None):
        self.real = pointer_mod.commit_state

    def __enter__(self):
        def crash(root, state):
            raise RuntimeError("injected crash before pointer flip")
        pointer_mod.commit_state = crash
        return self

    def __exit__(self, *exc):
        pointer_mod.commit_state = self.real
        return False


def _fact_store(spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    base = spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 1, 5), v=1.0),
        Row(id=2, ts=datetime(2024, 1, 10, 5), v=2.0),
        Row(id=3, ts=datetime(2024, 1, 20, 5), v=3.0),
        Row(id=4, ts=datetime(2024, 1, 25, 5), v=4.0),
    ])
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",))
    store.init_from(base, datetime(2024, 1, 15))
    return store


def test_archive_crash_before_flip_preserves_old_state(spark, tmp_path):
    """Archive writes new hot+cold and advances the cutoff in one
    commit; a crash before the flip leaves the OLD cutoff paired with
    the OLD stores — never a new cutoff over a half-moved store."""
    store = _fact_store(spark, tmp_path)
    old_cutoff = store.saved_cutoff()
    old_rows = sorted(r.id for r in store.read(spark, old_cutoff).collect())

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.archive(spark, datetime(2024, 1, 22))

    assert store.saved_cutoff() == old_cutoff
    assert sorted(r.id for r in
                  store.read(spark, store.saved_cutoff()).collect()) \
        == old_rows
    # retry succeeds and publishes hot+cold+cutoff together
    store.archive(spark, datetime(2024, 1, 22))
    st = store._state()
    assert st["cutoff"] == "2024-01-22T00:00:00"
    assert sorted(r.id for r in
                  store.read(spark, store.saved_cutoff()).collect()) \
        == old_rows
    # rows 1,2,3 now live in cold; 4 stays hot
    assert sorted(r.id for r in store.read_cold(spark).collect()) \
        == [1, 2, 3]


def test_flush_backfill_crash_before_flip_requeues(spark, tmp_path):
    """The cold flip and the emptied queue ledger commit together:
    a crash mid-flush leaves the full queue visible and cold untouched;
    the retried flush folds every batch exactly once."""
    store = _fact_store(spark, tmp_path)
    late = spark.createDataFrame([
        Row(id=10, ts=datetime(2024, 1, 2, 5), v=10.0),
        Row(id=11, ts=datetime(2024, 1, 3, 5), v=11.0),
    ])
    store.ingest(spark, late, cutoff=datetime(2024, 1, 15),
                 defer_backfill=True)
    assert len(store.queued_backfill_batches()) == 1
    cold_before = store.read_cold(spark).count()

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.flush_backfill(spark)

    assert len(store.queued_backfill_batches()) == 1  # still queued
    assert store.read_cold(spark).count() == cold_before  # cold untouched

    assert store.flush_backfill(spark) == 1
    assert store.queued_backfill_batches() == []
    assert sorted(r.id for r in store.read_cold(spark).collect()) \
        == [1, 2, 10, 11]
    # a batch queued after the flush numbers above ``backfill_seq``,
    # never reusing the consumed dir that still awaits gc
    seq = store._state()["backfill_seq"]
    assert os.path.isdir(store._batch_dir("backfill", seq))
    store.ingest(spark, late.withColumn("id", F.col("id") + 5),
                 cutoff=datetime(2024, 1, 15), defer_backfill=True)
    assert store.queued_backfill_batches() == [f"batch={seq + 1}"]
    assert os.path.isdir(store._batch_dir("backfill", seq))


def test_dimension_snapshot_crash_before_flip(spark, tmp_path):
    """Snapshot writes snap_v<N+1> then flips snap + journal ledger in
    one commit: a crash before the flip keeps the old snapshot + full
    journal (read() replays it, nothing lost); the retry compacts."""
    from aresdb_spark.sources.hotcold import DimensionStore

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([Row(k=1, name="a"),
                                         Row(k=2, name="b")]))
    dim.journal_ingest(spark.createDataFrame([Row(k=2, name="B"),
                                              Row(k=3, name="c")]))
    want = {(1, "a"), (2, "B"), (3, "c")}
    assert {(r.k, r.name) for r in dim.read(spark).collect()} == want

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            dim.snapshot(spark)

    # old snapshot + journal still live and consistent
    assert len(dim._batches("journal")) == 1
    assert {(r.k, r.name) for r in dim.read(spark).collect()} == want

    assert dim.snapshot(spark) == 2  # retry compacts both mutations
    assert dim._batches("journal") == []
    assert {(r.k, r.name) for r in dim.read(spark).collect()} == want
    # journal numbering continues above ``journal_seq``, never reusing
    # the consumed dirs that still await gc
    seq = dim._state()["journal_seq"]
    assert os.path.isdir(dim._batch_dir("journal", seq))
    dim.journal_ingest(spark.createDataFrame([Row(k=4, name="d")]))
    assert dim._batches("journal") == [{"n": seq + 1}]
    assert {(r.k, r.name) for r in dim.read(spark).collect()} \
        == want | {(4, "d")}


def test_reinit_is_versioned_and_hides_stale_backfill(spark, tmp_path):
    """Re-initializing an existing store is a normal versioned mutation:
    fresh dirs (never an in-place overwrite of the live hot_v0/cold_v0),
    and backfill batches queued before the re-init leave the committed
    ledger — a later flush must not fold stale pre-reinit data into the
    new dataset."""
    store = _fact_store(spark, tmp_path)
    stale = spark.createDataFrame(
        [Row(id=10, ts=datetime(2024, 1, 2, 5), v=10.0)])
    store.ingest(spark, stale, cutoff=datetime(2024, 1, 15),
                 defer_backfill=True)
    assert len(store.queued_backfill_batches()) == 1

    fresh = spark.createDataFrame([
        Row(id=100, ts=datetime(2024, 1, 1, 5), v=1.0),
        Row(id=101, ts=datetime(2024, 1, 20, 5), v=2.0),
    ])
    store.init_from(fresh, datetime(2024, 1, 15))
    st = store._state()
    assert st["hot"] >= 1 and st["coldset_seq"] >= 1  # fresh, not v0
    assert store.queued_backfill_batches() == []  # stale queue hidden
    assert store.flush_backfill(spark) == 0
    assert sorted(r.id for r in
                  store.read(spark, store.saved_cutoff()).collect()) \
        == [100, 101]

    # dimension re-init: same contract
    from aresdb_spark.sources.hotcold import DimensionStore
    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([Row(k=1, name="a")]))
    dim.journal_ingest(spark.createDataFrame([Row(k=2, name="b")]))
    dim.init_from(spark.createDataFrame([Row(k=9, name="z")]))
    assert dim._state()["snap"] == 1
    assert dim._batches("journal") == []  # stale journal hidden
    assert {(r.k, r.name) for r in dim.read(spark).collect()} == {(9, "z")}


def test_reinit_crash_never_pairs_new_schema_with_old_dirs(spark, tmp_path):
    """ADVICE r7: the schema file is versioned and referenced by the
    pointer commit, not overwritten in place — a re-init with a CHANGED
    schema that crashes before its commit must leave the old schema
    paired with the old committed dirs (an in-place _schema.json write
    would have already poisoned every read of the live store)."""
    from pyspark.sql import Row as R

    from aresdb_spark.sources.hotcold import DimensionStore

    store = _fact_store(spark, tmp_path)
    old_fields = [f.name for f in store._schema().fields]
    wider = spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 2, 1, 5), v=1.0, extra="x")])

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.init_from(wider, datetime(2024, 2, 15))

    # old schema + old dirs still live and CONSISTENT with each other
    assert [f.name for f in store._schema().fields] == old_fields
    assert sorted(r.id for r in
                  store.read(spark, store.saved_cutoff()).collect()) \
        == [1, 2, 3, 4]
    # retry publishes the new schema WITH the new dirs, displacing the old
    store.init_from(wider, datetime(2024, 2, 15))
    assert [f.name for f in store._schema().fields] == old_fields + ["extra"]
    assert [r.extra for r in store.read(spark).collect()] == ["x"]
    import os
    assert not os.path.exists(os.path.join(store.path, "_schema.json"))

    # dimension store: same contract
    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([R(k=1, name="a")]))
    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            dim.init_from(spark.createDataFrame([R(k=1, name="a", e=2)]))
    assert [f.name for f in dim._schema().fields] == ["k", "name"]
    assert {(r.k, r.name) for r in dim.read(spark).collect()} == {(1, "a")}
    dim.init_from(spark.createDataFrame([R(k=1, name="a", e=2)]))
    assert [f.name for f in dim._schema().fields] == ["k", "name", "e"]


def test_snapshot_journal_window_exactly_once(spark, tmp_path):
    """VERDICT r8 directive 5: the window between a journal append and
    the snapshot's journal truncate. The snapshot's commit flips snap +
    emptied journal ledger + displaced-ledger together and deletes
    NOTHING at the flip -- consumed journal dirs and the old snapshot
    survive the read-grace window, so (a) a reader that resolved the
    OLD state mid-replay finishes over intact files, and (b) a reader
    of the NEW state applies every mutation exactly once (the emptied
    ledger hides the surviving dirs: add-mode would read 12, not 11, on a
    double replay). A kill inside the age-gated GC (files deleted,
    ledger commit lost) self-heals: the next pass re-reaps as a no-op."""
    import os

    from aresdb_spark.sources.hotcold import DimensionStore

    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",),
                         modes={"n": "add"})
    dim.init_from(spark.createDataFrame([Row(k=1, n=10), Row(k=2, n=20)]))
    dim.journal_ingest(spark.createDataFrame([Row(k=1, n=1)]))   # 10+1
    dim.journal_ingest(spark.createDataFrame([Row(k=3, n=30)]))
    want = {(1, 11), (2, 20), (3, 30)}
    # the in-flight reader: plan resolved against snap_v0 + journal
    reader = dim.read(spark)
    assert {(r.k, r.n) for r in reader.collect()} == want

    assert dim.snapshot(spark) == 2
    # nothing deleted at the flip: consumed dirs + old snap ledgered
    on_disk = [n for n in os.listdir(os.path.join(dim.path, "journal"))
               if n.startswith("batch=")]
    assert len(on_disk) == 2
    assert dim._batches("journal") == []          # ledger emptied
    ledger = {e["dir"] for e in dim._state()["displaced"]}
    assert {"journal/" + n for n in on_disk} <= ledger
    # old-state reader finishes its replay across the snapshot commit
    assert {(r.k, r.n) for r in reader.collect()} == want
    # new-state reader: exactly once (add-mode not re-applied)
    assert {(r.k, r.n) for r in dim.read(spark).collect()} == want
    assert dim.snapshot(spark) == 0  # nothing left to compact

    # a writer appending AFTER the snapshot numbers above
    # ``journal_seq``, never reusing a consumed dir (they still exist)
    seq = dim._state()["journal_seq"]
    dim.journal_ingest(spark.createDataFrame([Row(k=1, n=5)]))
    assert dim._batches("journal") == [{"n": seq + 1}]
    assert {(r.k, r.n) for r in dim.read(spark).collect()} \
        == {(1, 16), (2, 20), (3, 30)}

    # crash INSIDE the reaper between file deletes and the ledger
    # commit: files are gone, ledger still lists them
    real_commit = pointer_mod.commit_state

    def crash_commit(root, state):
        raise RuntimeError("injected kill after GC deletes")

    pointer_mod.commit_state = crash_commit
    try:
        with pytest.raises(RuntimeError, match="GC deletes"):
            dim.gc(grace_seconds=0)
    finally:
        pointer_mod.commit_state = real_commit
    left = [n for n in os.listdir(os.path.join(dim.path, "journal"))
            if n.startswith("batch=")]
    assert len(left) < 2                         # deletes happened
    assert dim._state()["displaced"]             # ledger survived crash
    assert {(r.k, r.n) for r in dim.read(spark).collect()} \
        == {(1, 16), (2, 20), (3, 30)}           # readers unaffected
    dim.gc(grace_seconds=0)                      # re-reap: no-op + clean
    assert dim._state()["displaced"] == []


def test_fact_reader_survives_concurrent_archive(spark, tmp_path):
    """The hot/cold union a reader resolved BEFORE an archive commit
    keeps working after it: the displaced hot/cold version dirs are
    ledgered (committed with the flip), not deleted — ``gc`` reaps them
    only past the read-grace window, like the reference keeping
    displaced archive batch versions until purge."""
    import os

    store = _fact_store(spark, tmp_path)
    reader = store.read(spark, store.saved_cutoff())
    want = sorted(r.id for r in reader.collect())

    # archive: hot compacts (displaced), cold-day dirs are APPENDED
    # (nothing cold-side is unreferenced — r9 per-day map)
    store.archive(spark, datetime(2024, 1, 22))
    st = store._state()
    ledger = {e["dir"] for e in st["displaced"]}
    assert "hot_v0" in ledger
    assert os.path.isdir(os.path.join(store.path, "hot_v0"))

    # the old-state reader completes its scan with the same rows
    assert sorted(r.id for r in reader.collect()) == want
    # a backfill flush REWRITES an affected day: its old dir is
    # displaced, and a reader resolved pre-flush still completes
    reader2 = store.read(spark, store.saved_cutoff())
    store.ingest(spark, spark.createDataFrame(
        [Row(id=2, ts=datetime(2024, 1, 10, 6), v=20.0)]),
        cutoff=store.saved_cutoff(), defer_backfill=True)
    store.flush_backfill(spark)
    ledger2 = {e["dir"] for e in store._state()["displaced"]}
    assert any("__day=2024-01-10" in d for d in ledger2)
    assert sorted(r.id for r in reader2.collect()) == want
    # purge (the lifecycle reaper) with grace elapsed reaps the ledger
    assert store.gc(grace_seconds=0) >= 2
    assert not os.path.isdir(os.path.join(store.path, "hot_v0"))
    assert store._state()["displaced"] == []
    assert sorted(r.id for r in
                  store.read(spark, store.saved_cutoff()).collect()) == want


def test_ingest_crash_before_flip_drops_whole_batch(spark, tmp_path):
    """A fact ingest that dies before its commit leaves the store
    EXACTLY as before — the batch is all-or-nothing even when it
    touches both hot and cold (the reference's redo-log replay gives
    the same whole-batch retry unit)."""
    store = _fact_store(spark, tmp_path)
    cutoff = datetime(2024, 1, 15)
    both_sides = spark.createDataFrame([
        Row(id=20, ts=datetime(2024, 1, 2, 5), v=20.0),   # cold side
        Row(id=21, ts=datetime(2024, 1, 20, 6), v=21.0),  # hot side
    ])
    before = sorted(r.id for r in store.read(spark, cutoff).collect())

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.ingest(spark, both_sides, cutoff=cutoff)

    assert sorted(r.id for r in store.read(spark, cutoff).collect()) \
        == before
    store.ingest(spark, both_sides, cutoff=cutoff)  # retry lands whole
    assert sorted(r.id for r in store.read(spark, cutoff).collect()) \
        == before + [20, 21]


def _sig_docs(spark, lo, phrase):
    return spark.createDataFrame(
        [(lo + i, f"{phrase} {i}") for i in range(40)],
        "doc_id long, text string")


@pytest.mark.parametrize("op", ["append", "build", "compact"])
def test_signature_store_crash_before_commit_is_invisible(spark, tmp_path,
                                                          op):
    """The signature store publishes like the other stores: an append
    (its ``sig`` log entry), a rebuild (a new ``sig_v<N>`` base) and a
    compaction (a new base plus the emptied ledger) that die before
    their commit leave the store row-identical to before, and the next
    append reclaims the orphan ``batch=<n>`` its number points at."""
    from aresdb_spark.operators.dedup import (build_signature_store,
                                              compact_signature_store,
                                              read_signature_store)

    path = str(tmp_path / "sig")
    docs = _sig_docs(spark, 0, "the quick brown fox jumps over the dog")
    more = _sig_docs(spark, 100, "pack my box with five dozen liquor jugs")
    build_signature_store(docs, path)
    build_signature_store(more.filter("doc_id < 110"), path, mode="append")
    rows = lambda: sorted(  # noqa: E731
        map(tuple, read_signature_store(spark, path).collect()))
    before, st = rows(), pointer_mod.read_state(path)
    crash = {
        "append": lambda: build_signature_store(more, path, mode="append"),
        "build": lambda: build_signature_store(more, path),
        "compact": lambda: compact_signature_store(
            spark, path, docs.select("doc_id")),
    }[op]
    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            crash()
    assert pointer_mod.read_state(path) == st
    assert rows() == before
    orphan = {"append": "sigbatch/batch=1", "build": "sig_v1",
              "compact": "sig_v1"}[op]
    assert os.path.isdir(os.path.join(path, orphan))

    # the next append takes the crashed append's number: its dir holds
    # only the new rows, never the orphan's
    build_signature_store(more.filter("doc_id >= 130"), path, mode="append")
    assert [e["n"] for e in pointer_mod.read_state(path)["sig_batches"]] \
        == [0, 1]
    after = rows()
    assert len(after) == len(before) + 40  # 10 docs x 4 bands
    assert {r[0] for r in after} - {r[0] for r in before} == \
        set(range(130, 140))


@pytest.mark.parametrize("mode", ["apend", "ignore"])
def test_signature_store_rejects_unknown_mode(spark, tmp_path, mode):
    """A mistyped mode raises before the store is touched: it never
    re-initializes a built store to the increment alone."""
    from aresdb_spark.operators.dedup import (build_signature_store,
                                              read_signature_store)

    path = str(tmp_path / "sig")
    build_signature_store(_sig_docs(spark, 0, "how vexingly quick daft zebras"),
                          path)
    rows = lambda: sorted(  # noqa: E731
        map(tuple, read_signature_store(spark, path).collect()))
    before, st = rows(), pointer_mod.read_state(path)
    with pytest.raises(ValueError, match="'append' or 'overwrite'"):
        build_signature_store(_sig_docs(spark, 100, "jackdaws love my sphinx"),
                              path, mode=mode)
    assert pointer_mod.read_state(path) == st
    assert rows() == before


def test_signature_store_leaves_catalog_untouched(spark, tmp_path):
    """Build, append, read, compact and gc go through the pointer alone:
    the session catalog lists the same tables before and after."""
    from aresdb_spark.operators.dedup import (build_signature_store,
                                              compact_signature_store,
                                              read_signature_store)
    from aresdb_spark.sources.hotcold import SignatureStore

    tables = lambda: sorted(  # noqa: E731
        (t.name, t.database) for t in spark.catalog.listTables())
    want = tables()
    path = str(tmp_path / "sig")
    docs = _sig_docs(spark, 0, "sphinx of black quartz judge my vow")
    build_signature_store(docs, path)
    build_signature_store(docs, path)
    build_signature_store(docs, path, mode="append")
    assert read_signature_store(spark, path).count() == 2 * 40 * 4
    assert compact_signature_store(spark, path, docs.select("doc_id")) == 320
    # sig_v0 and _schema_v0.json (rebuild), sig_v1 and batch=0 (compact)
    assert SignatureStore(path).gc(grace_seconds=0) == 4
    assert tables() == want


def test_hot_reader_survives_concurrent_compaction(spark, tmp_path):
    """r9 append-only hot store: a reader that resolved base + PENDING
    BATCH DIRS just before an archive/compaction keeps working after
    it — consumed hotbatch dirs are ledgered with the flip (read-grace
    window), not deleted; gc reaps them only past the grace."""
    import os

    store = _fact_store(spark, tmp_path)
    cutoff = datetime(2024, 1, 15)
    for h in (1, 2, 3):
        store.ingest(spark, spark.createDataFrame(
            [Row(id=30 + h, ts=datetime(2024, 1, 21, h), v=float(h))]),
            cutoff=cutoff)
    assert len(store._batches("hot")) == 3
    reader = store.read_hot(spark)           # resolves pending dirs
    want = sorted(r.id for r in reader.collect())

    store.compact_hot(spark)                 # consumes the batch dirs
    ledger = {e["dir"] for e in store._state()["displaced"]}
    assert any(d.startswith("hotbatch/batch=") for d in ledger)
    batch_dirs = [os.path.join(store.path, d) for d in ledger
                  if d.startswith("hotbatch/")]
    assert all(os.path.isdir(d) for d in batch_dirs)   # grace: intact

    # the old-state reader completes its scan with the same rows
    assert sorted(r.id for r in reader.collect()) == want
    # fresh readers resolve the compacted base, same logical rows
    assert sorted(r.id for r in store.read_hot(spark).collect()) == want
    # past the grace the reaper takes the consumed dirs with the ledger
    assert store.gc(grace_seconds=0) >= 3
    assert not any(os.path.isdir(d) for d in batch_dirs)
    assert store._state()["displaced"] == []


def test_compact_cold_days_crash_before_flip(spark, tmp_path):
    """VERDICT r10 directive 7: the day-compactor writes merged day
    dirs into a fresh coldset_v<k> and commits the map update LAST — a
    crash between the write and the flip leaves the old multi-dir map
    serving reads byte-identically, and the orphan coldset is reclaimed
    by number reuse on the retry."""
    import os

    store = _fact_store(spark, tmp_path)
    # two archives landing rows in the SAME day give that day 2 dirs
    store.archive(spark, datetime(2024, 1, 20, 12))   # id3 (01-20 05:00)
    store.ingest(spark, spark.createDataFrame(
        [Row(id=5, ts=datetime(2024, 1, 20, 18), v=5.0)]),
        cutoff=datetime(2024, 1, 20, 12))
    store.archive(spark, datetime(2024, 1, 21))       # id5 → 01-20 again
    m0 = store._cold_day_map()
    assert len(m0["2024-01-20"]) == 2
    rows0 = sorted((r.id, r.v) for r in store.read_cold(spark).collect())
    orphan_k = store._state()["coldset_seq"] + 1

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.compact_cold_days(spark)

    # old map still live, reads identical; the crashed write's dir is
    # an uncommitted orphan
    assert store._cold_day_map() == m0
    assert sorted((r.id, r.v)
                  for r in store.read_cold(spark).collect()) == rows0
    orphan = os.path.join(store.path, f"coldset_v{orphan_k}")
    assert os.path.isdir(orphan)          # present but invisible

    # retry reuses the number (reclaiming the orphan) and compacts
    assert store.compact_cold_days(spark) == 1
    m1 = store._cold_day_map()
    assert len(m1["2024-01-20"]) == 1
    assert store._state()["coldset_seq"] == orphan_k
    assert sorted((r.id, r.v)
                  for r in store.read_cold(spark).collect()) == rows0
    # the displaced 2-dir generation reaps after the grace window
    assert store.gc(grace_seconds=0) >= 2
    for rel in m0["2024-01-20"]:
        assert not os.path.isdir(os.path.join(store.path, rel))


def test_purge_per_day_map_crash_before_flip(spark, tmp_path):
    """Per-day purge is a pure metadata mutation: a crash at the commit
    leaves every expired day committed and readable; the retried purge
    drops the map entries in one write, the dirs survive in the
    displaced ledger for in-flight readers, and gc reaps them."""
    import os

    store = _fact_store(spark, tmp_path)       # cold: 01-01, 01-10
    m0 = store._cold_day_map()
    assert sorted(m0) == ["2024-01-01", "2024-01-10"]

    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.purge(spark, datetime(2024, 1, 5))

    assert store._cold_day_map() == m0          # nothing dropped
    assert sorted(r.id for r in store.read_cold(spark).collect()) == [1, 2]

    store.purge(spark, datetime(2024, 1, 5))    # retry: 01-01 expires
    assert sorted(store._cold_day_map()) == ["2024-01-10"]
    assert sorted(r.id for r in store.read_cold(spark).collect()) == [2]
    # expired day's dir survives the flip (read grace), then reaps
    expired_rel = m0["2024-01-01"][0]
    assert os.path.isdir(os.path.join(store.path, expired_rel))
    assert store.gc(grace_seconds=0) >= 1
    assert not os.path.isdir(os.path.join(store.path, expired_rel))


def test_deferred_enqueue_crash_before_commit_is_invisible(spark, tmp_path):
    """ADVICE r11 #1: deferred-backfill durability is gated on the
    batch's pointer commit, never on mere directory presence. A crash
    between the queue-dir write and the commit must leave the cold half
    INVISIBLE (no torn batch whose cold rows flush while its hot rows
    were never committed), and a streaming replay of the micro-batch
    must not double-count add-mode columns at flush."""
    from datetime import datetime as dt

    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = dt(2024, 1, 15)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes={"v": "add"})
    store.init_from(spark.createDataFrame([
        Row(id=1, ts=dt(2024, 1, 2, 5), v=1.0),      # cold
        Row(id=2, ts=dt(2024, 1, 20, 5), v=2.0),     # hot
    ]), cutoff)

    # one micro-batch with a hot row AND a cold (add-mode) update
    batch = spark.createDataFrame([
        Row(id=20, ts=dt(2024, 1, 21, 5), v=20.0),   # hot
        Row(id=1, ts=dt(2024, 1, 2, 5), v=5.0),      # cold add
    ])
    with _CrashOnCommit():
        with pytest.raises(RuntimeError, match="pointer flip"):
            store.ingest(spark, batch, cutoff, defer_backfill=True)

    # the torn batch is fully invisible: queue dir exists on disk but is
    # not ledgered; the hot dir is an uncommitted orphan
    import os
    assert any(n.startswith("batch=")
               for n in os.listdir(os.path.join(store.path, "backfill")))
    assert store.queued_backfill_batches() == []
    assert store._batches("hot") == []
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2]

    # the streaming replay of the SAME micro-batch is clean
    store.ingest(spark, batch, cutoff, defer_backfill=True)
    assert len(store.queued_backfill_batches()) == 1
    assert store.flush_backfill(spark) == 1
    got = {r.id: r.v for r in store.read(spark).collect()}
    # add-mode fold counted the cold update ONCE (1+5), not twice (1+5+5)
    assert got == {1: 6.0, 2: 2.0, 20: 20.0}


@pytest.mark.parametrize("layout", ["missing", "bhp_only"])
@pytest.mark.parametrize("kind", ["hotcold", "dimension", "signature"])
def test_read_without_committed_state_names_the_fix(spark, tmp_path,
                                                    kind, layout):
    """A root with no committed _state.json is not a store: every
    reader raises one FileNotFoundError naming the root and how to
    create the store — never a fall-through read of whatever files sit
    there (bare ``bhp=*`` parquet included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aresdb_spark.operators.dedup import read_signature_store
    from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore

    root = tmp_path / "store"
    if layout == "bhp_only":
        (root / "bhp=0").mkdir(parents=True)
        pq.write_table(pa.table({"id": [1], "band": [0], "bh": ["0a"]}),
                       str(root / "bhp=0" / "part-00000.parquet"))
    if kind == "hotcold":
        store = HotColdStore(path=str(root), time_column="ts",
                             primary_key=("id",))
        reads = [store.read, store.read_cold, store.read_hot]
    elif kind == "dimension":
        reads = [DimensionStore(path=str(root), primary_key=("id",)).read]
    else:
        reads = [lambda s: read_signature_store(s, str(root))]
    for read in reads:
        with pytest.raises(FileNotFoundError, match="init_from") as e:
            read(spark)
        assert str(root) in str(e.value)
        assert "build_signature_store" in str(e.value)


@pytest.mark.parametrize("kind", ["hotcold", "dimension", "signature"])
def test_other_state_format_names_the_fix(spark, tmp_path, kind):
    """Every store reads one state layout, format 3: a root committed in
    any other format (format 2 kept its queue and journal behind
    ``*_consumed`` watermarks, and the signature store in a catalog
    table) raises one error naming the root and ``init_from`` from
    every reader and from a re-init over it — no conversion path,
    nothing read through the old keys."""
    from aresdb_spark.operators.dedup import (build_signature_store,
                                              read_signature_store)
    from aresdb_spark.sources.hotcold import DimensionStore, SignatureStore

    if kind == "hotcold":
        store = _fact_store(spark, tmp_path)
        reinit = [lambda: store.init_from(
            spark.createDataFrame([Row(id=1, ts=datetime(2024, 1, 1),
                                       v=1.0)]), datetime(2024, 1, 15))]
        reads = [store.read, store.read_hot, store.read_cold]
    elif kind == "dimension":
        store = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
        store.init_from(spark.createDataFrame([Row(k=1, name="a")]))
        reinit = [lambda: store.init_from(
            spark.createDataFrame([Row(k=1, name="a")]))]
        reads = [store.read]
    else:
        store = SignatureStore(str(tmp_path / "s"))
        docs = _sig_docs(spark, 0, "how vexingly quick daft zebras jump")
        build_signature_store(docs, store.path)
        reinit = [lambda mode=mode: build_signature_store(
            docs, store.path, mode=mode) for mode in ("overwrite", "append")]
        reads = [lambda s: read_signature_store(s, store.path)]
    st = pointer_mod.read_state(store.path)
    pointer_mod.commit_state(store.path, {**st, "format": 2})
    for call in [lambda r=r: r(spark) for r in reads] + reinit:
        with pytest.raises(ValueError, match="init_from") as e:
            call()
        assert store.path in str(e.value) and "format 2" in str(e.value)
