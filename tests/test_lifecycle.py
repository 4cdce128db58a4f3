"""Lifecycle scheduler + deferred backfill + dimension snapshot journal.

Eligibility rules are pinned against the reference's own job-manager
semantics (memstore/job_manager.go, purge_manager.go, backfill_manager.go,
snapshot_manager.go) including a replay of the clock/retention scenario
from memstore/job_manager_test.go:447-487 (batchIDEnd 17345).
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore
from aresdb_spark.sources.lifecycle import (
    ARCHIVING, BACKFILL, PURGE, SNAPSHOT, Job, Scheduler, TableLifecycle,
    job_identifier)

CUTOFF = datetime(2024, 1, 15)


def _fact_store(spark, path, modes=None):
    base = spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 1, 5), v=1.0),
        Row(id=2, ts=datetime(2024, 1, 10, 5), v=2.0),
        Row(id=3, ts=datetime(2024, 1, 20, 5), v=3.0),
    ])
    store = HotColdStore(path=str(path), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",),
                         modes=modes or {"v": "overwrite"})
    store.init_from(base, CUTOFF)
    return store


def _backfill_batch(spark, rows):
    return spark.createDataFrame([Row(id=i, ts=t, v=v) for i, t, v in rows])


# --- deferred backfill queue -------------------------------------------------

def test_deferred_backfill_matches_inline(spark, tmp_path):
    """defer+flush produces the identical cold store as inline backfill —
    the correctness contract for the queue (memstore/backfill.go merges
    the buffer under the same upsert semantics as direct ingestion)."""
    b1 = _backfill_batch(spark, [(2, datetime(2024, 1, 10, 6), 0.25),
                                 (5, datetime(2024, 1, 2, 5), 5.0)])
    b2 = _backfill_batch(spark, [(5, datetime(2024, 1, 2, 6), 7.5)])

    inline = _fact_store(spark, tmp_path / "inline", modes={"v": "add"})
    deferred = _fact_store(spark, tmp_path / "deferred", modes={"v": "add"})
    for b in (b1, b2):
        inline.ingest(spark, b, CUTOFF)
        deferred.ingest(spark, b, CUTOFF, defer_backfill=True)

    # queued rows are NOT visible until the backfill job runs (reference:
    # buffered records only become queryable after the backfill merge)
    assert deferred.read_cold(spark).count() == 2
    assert deferred.backfill_buffer_bytes() > 0
    assert deferred.queued_backfill_batches() == ["batch=0", "batch=1"]

    assert deferred.flush_backfill(spark) == 2
    assert deferred.backfill_buffer_bytes() == 0

    want = {(r["id"], r["ts"], r["v"])
            for r in inline.read_cold(spark).collect()}
    got = {(r["id"], r["ts"], r["v"])
           for r in deferred.read_cold(spark).collect()}
    assert got == want
    # add mode folded both queued updates: 5.0 + 7.5
    assert dict((r["id"], r["v"]) for r in
                deferred.read_cold(spark).collect())[5] == 12.5


def test_deferred_backfill_replay_order_last_writer_wins(spark, tmp_path):
    """Replace-mode updates queued in two batches apply in ARRIVAL order
    (the queue replays like the redo log: later batch wins)."""
    store = _fact_store(spark, tmp_path / "t", modes={"v": "overwrite"})
    store.ingest(spark, _backfill_batch(
        spark, [(2, datetime(2024, 1, 10, 6), 10.0)]), CUTOFF,
        defer_backfill=True)
    store.ingest(spark, _backfill_batch(
        spark, [(2, datetime(2024, 1, 10, 7), 20.0)]), CUTOFF,
        defer_backfill=True)
    store.flush_backfill(spark)
    rows = {r["id"]: r["v"] for r in store.read_cold(spark).collect()}
    assert rows[2] == 20.0


# --- dimension journal + snapshot job ---------------------------------------

def _dim_store(spark, path):
    store = DimensionStore(path=str(path), primary_key=("k",),
                           modes={"name": "overwrite"})
    store.init_from(spark.createDataFrame([
        Row(k=1, name="a"), Row(k=2, name="b")]))
    return store


def test_dimension_journal_read_equals_eager(spark, tmp_path):
    eager = _dim_store(spark, tmp_path / "eager")
    lazy = _dim_store(spark, tmp_path / "lazy")
    b1 = spark.createDataFrame([Row(k=2, name="B"), Row(k=3, name="c")])
    b2 = spark.createDataFrame([Row(k=3, name="C")])
    for b in (b1, b2):
        eager.ingest(spark, b)
        lazy.journal_ingest(b)

    assert lazy.num_mutations() == 3
    want = {(r["k"], r["name"]) for r in eager.read(spark).collect()}
    assert {(r["k"], r["name"]) for r in lazy.read(spark).collect()} == want

    # snapshot compacts without changing the visible state
    assert lazy.snapshot(spark) == 3
    assert lazy.num_mutations() == 0
    assert {(r["k"], r["name"]) for r in lazy.read(spark).collect()} == want
    # compacted state is IN the snapshot now, not replay-derived
    assert {(r["k"], r["name"])
            for r in spark.read.parquet(lazy._snap_dir()).collect()} == want


# --- scheduler eligibility rules ---------------------------------------------

def _sched(store, name="events", config=None, **state):
    cfg = {"archivingIntervalMinutes": 180, "archivingDelayMinutes": 1440,
           "backfillIntervalMinutes": 60,
           "backfillThresholdInBytes": 2 * 1024 * 1024,
           "recordRetentionInDays": 90,
           "snapshotIntervalMinutes": 360, "snapshotThreshold": 100}
    cfg.update(config or {})
    t = TableLifecycle(name=name, store=store, config=cfg, **state)
    return Scheduler([t]), t


def test_archiving_rule_and_execution(spark, tmp_path):
    """newCutoff = now - delay qualifies only past currentCutoff +
    interval (job_manager.go:72); the job advances the store cutoff."""
    store = _fact_store(spark, tmp_path / "t")
    sched, t = _sched(store)
    delay, interval = timedelta(minutes=1440), timedelta(minutes=180)

    # exactly at the boundary: newCutoff == cutoff + interval -> waiting
    at_boundary = CUTOFF + interval + delay
    assert sched.generate_jobs(at_boundary) == []
    # one second past: qualified
    jobs = [j for j in sched.generate_jobs(at_boundary + timedelta(seconds=1))
            if j.job_type == ARCHIVING]
    assert len(jobs) == 1
    assert jobs[0].new_cutoff == CUTOFF + interval + timedelta(seconds=1)
    assert jobs[0].identifier == "events|0|archiving"

    jobs[0].run(spark)
    assert store.saved_cutoff() == jobs[0].new_cutoff
    # immediately re-generating: cutoff advanced, not qualified again
    assert not [j for j in sched.generate_jobs(
        at_boundary + timedelta(seconds=2)) if j.job_type == ARCHIVING]


def test_backfill_size_trigger(spark, tmp_path):
    """Buffer >= backfillThresholdInBytes fires regardless of the timer
    (backfill_manager.go:177-181)."""
    store = _fact_store(spark, tmp_path / "t")
    store.ingest(spark, _backfill_batch(
        spark, [(9, datetime(2024, 1, 3), 9.0)]), CUTOFF,
        defer_backfill=True)
    sched, t = _sched(store, config={"backfillThresholdInBytes": 1})
    now = datetime(2024, 2, 1)
    jobs = [j for j in sched.generate_jobs(now) if j.job_type == BACKFILL]
    assert len(jobs) == 1
    assert jobs[0].run(spark) == 1
    assert store.read_cold(spark).count() == 3


def test_backfill_timer_first_sight_waits(spark, tmp_path):
    """Timer strategy: first sighting initializes LastRun and WAITS one
    interval (job_manager.go:216-228)."""
    store = _fact_store(spark, tmp_path / "t")
    sched, t = _sched(store)   # 2 MiB threshold, empty queue -> timer path
    now = datetime(2024, 2, 1)
    assert not [j for j in sched.generate_jobs(now)
                if j.job_type == BACKFILL]
    assert t.backfill_last_run == now
    # one second before the interval elapses: still waiting
    assert not [j for j in sched.generate_jobs(
        now + timedelta(minutes=60) - timedelta(seconds=1))
        if j.job_type == BACKFILL]
    # at the interval: fires, and the run advances LastRun
    fire_at = now + timedelta(minutes=60)
    jobs = [j for j in sched.generate_jobs(fire_at)
            if j.job_type == BACKFILL]
    assert len(jobs) == 1
    jobs[0].run(spark)
    assert t.backfill_last_run == fire_at


def test_purge_replays_reference_job_manager_scenario(spark, tmp_path):
    """memstore/job_manager_test.go:447-487: manager seeded at
    now=1498600000, clock advanced 2 days, retention 1 day -> exactly one
    purge job with batchIDStart 0, batchIDEnd 17345."""
    store = _fact_store(spark, tmp_path / "t")
    seed = datetime.utcfromtimestamp(1498600000)
    sched, t = _sched(store, config={"recordRetentionInDays": 1},
                      last_purge_time=seed)
    jobs = [j for j in sched.generate_jobs(seed + timedelta(days=2))
            if j.job_type == PURGE]
    assert len(jobs) == 1
    assert (jobs[0].batch_id_start, jobs[0].batch_id_end) == (0, 17345)
    assert jobs[0].identifier == "events|0|purge"


def test_purge_drops_expired_days_and_requalifies_daily(spark, tmp_path):
    store = _fact_store(spark, tmp_path / "t")
    now = datetime(2024, 3, 1)
    sched, t = _sched(store, config={"recordRetentionInDays": 30},
                      last_purge_time=now - timedelta(days=2))
    jobs = [j for j in sched.generate_jobs(now) if j.job_type == PURGE]
    assert len(jobs) == 1
    jobs[0].run(spark)
    # cold held 2024-01-01 and 2024-01-10 — both older than 30 days
    assert store.read_cold(spark).count() == 0
    # within 24h of the run: not qualified again (purge_manager.go:47-51)
    assert not [j for j in sched.generate_jobs(now + timedelta(hours=23))
                if j.job_type == PURGE]
    assert [j for j in sched.generate_jobs(
        now + timedelta(hours=24, seconds=1)) if j.job_type == PURGE]


def test_purge_retention_zero_never_qualifies(spark, tmp_path):
    store = _fact_store(spark, tmp_path / "t")
    sched, t = _sched(store, config={"recordRetentionInDays": 0},
                      last_purge_time=datetime(2024, 1, 1))
    assert not [j for j in sched.generate_jobs(datetime(2024, 6, 1))
                if j.job_type == PURGE]


def test_snapshot_rule(spark, tmp_path):
    """Mutation threshold OR (interval elapsed AND mutations > 0)
    (snapshot_manager.go:96-101)."""
    store = _dim_store(spark, tmp_path / "d")
    now = datetime(2024, 2, 1)
    sched, t = _sched(store, name="dim",
                      config={"snapshotThreshold": 2,
                              "snapshotIntervalMinutes": 360},
                      last_snapshot_time=now)

    # no mutations: never qualifies, even past the interval
    assert sched.generate_jobs(now + timedelta(hours=7)) == []

    store.journal_ingest(spark.createDataFrame([Row(k=3, name="c")]))
    # 1 mutation < threshold, interval not elapsed -> waiting
    assert sched.generate_jobs(now + timedelta(minutes=1)) == []
    # interval elapsed with pending mutations -> fires
    jobs = sched.generate_jobs(now + timedelta(hours=6))
    assert [j.job_type for j in jobs] == [SNAPSHOT]

    # threshold reached -> fires regardless of the interval
    store.journal_ingest(spark.createDataFrame([Row(k=4, name="d")]))
    jobs = sched.generate_jobs(now + timedelta(minutes=2))
    assert [j.job_type for j in jobs] == [SNAPSHOT]
    assert jobs[0].run(spark) == 2
    assert store.num_mutations() == 0


def test_run_once_reports_by_identifier(spark, tmp_path):
    store = _fact_store(spark, tmp_path / "t")
    store.ingest(spark, _backfill_batch(
        spark, [(9, datetime(2024, 1, 3), 9.0)]), CUTOFF,
        defer_backfill=True)
    sched, t = _sched(store, config={"backfillThresholdInBytes": 1,
                                     "recordRetentionInDays": 30},
                      last_purge_time=datetime(2024, 2, 27))
    out = sched.run_once(spark, datetime(2024, 3, 1))
    assert out["events|0|backfill"] == 1
    assert "events|0|purge" in out
    # job-type disable switch (scheduler.go EnableJobType)
    sched.enable_job_type(PURGE, False)
    assert not [j for j in sched.generate_jobs(datetime(2024, 3, 10))
                if j.job_type == PURGE]


def test_job_identifier_parity():
    assert job_identifier("abc", 0, "purge") == "abc|0|purge"


def test_ingest_soak_archive_cadence_bounds_hot_store(spark, tmp_path):
    """Engine-driven ingest soak (r8): 24 micro-batches stream into a
    HotColdStore while the lifecycle scheduler ticks after each batch —
    the production composition. The 100-TB claim under test: the hot
    store (rewritten per ingest) stays BOUNDED by the archiving cadence
    — per-batch cost tracks the hot window, not total ingested history —
    while the exactly-once union view sees every row exactly once.
    Contrast run with archiving disabled: hot grows with history."""
    import statistics

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aresdb_spark.sources.hotcold import HotColdStore

    n_batches, per_batch = 24, 200
    t0 = datetime(2024, 1, 1)
    src = tmp_path / "in"
    src.mkdir()
    for k in range(n_batches):
        ts = t0 + timedelta(hours=k)
        pq.write_table(pa.table({
            "id": pa.array([k * 10_000 + j for j in range(per_batch)],
                           pa.int64()),
            "ts": pa.array([ts] * per_batch,
                           pa.timestamp("us")),
            "v": pa.array([float(j) for j in range(per_batch)],
                          pa.float64()),
        }), str(src / f"b{k:03d}.parquet"))

    def run(archive_enabled: bool, root: str):
        store = HotColdStore(path=root, time_column="ts",
                             primary_key=("id",))
        schema = "id long, ts timestamp_ntz, v double"
        empty = spark.createDataFrame([], schema)
        store.init_from(empty, t0)
        sched, _t = _sched(store, config={
            "archivingIntervalMinutes": 120,
            "archivingDelayMinutes": 60})
        if not archive_enabled:
            sched.enable_job_type(ARCHIVING, False)

        def process(batch_df, batch_id):
            hi = batch_df.agg(F.max("ts")).first()[0]
            store.ingest(spark, batch_df, cutoff=store.saved_cutoff())
            sched.run_once(spark, now=hi)

        q = (spark.readStream.format("parquet").schema(schema)
             .option("maxFilesPerTrigger", 1).load(f"{src}/*")
             .writeStream.foreachBatch(process)
             .option("checkpointLocation", f"{root}_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        durs = [p["durationMs"].get("triggerExecution", 0)
                for p in (q.recentProgress or [])
                if p and p.get("numInputRows", 0) > 0]
        return store, durs

    store, durs = run(True, str(tmp_path / "with_archive"))
    total = n_batches * per_batch
    # exactly once through every archive flip
    assert store.read(spark).count() == total
    assert store.read(spark).select("id").distinct().count() == total
    # hot bounded by the cadence window (delay 1h + interval 2h + the
    # current batch ⇒ a handful of batches), NOT total history
    hot_rows = store.hot_physical_rows()
    assert hot_rows <= 5 * per_batch, \
        f"hot holds {hot_rows} rows — archiving did not bound it"
    assert len(store.cold_day_keys()) >= 1
    # per-batch wall time flat across the soak
    assert len(durs) >= 20
    early = statistics.median(durs[3:10])
    late = statistics.median(durs[-7:])
    assert late <= max(3.0 * early, early + 2000), \
        f"per-batch time drifted: early {early}ms late {late}ms"

    # contrast: no archiving ⇒ hot accumulates ALL of history
    store2, durs2 = run(False, str(tmp_path / "no_archive"))
    assert store2.hot_physical_rows() == total
    assert store2.read(spark).count() == total
    # r9, the O(batch) claim at its sharpest: with NO archiving the hot
    # set grows every batch, yet per-batch ingest wall stays flat —
    # ingest appends one dir and never touches the accumulated hot
    # store (the pre-r9 rewrite-on-ingest design drifted upward here)
    early2 = statistics.median(durs2[3:10])
    late2 = statistics.median(durs2[-7:])
    assert late2 <= max(3.0 * early2, early2 + 2000), \
        f"per-batch ingest wall grew with hot size: " \
        f"early {early2}ms late {late2}ms"


def test_scheduler_gc_job_reaps_idle_store_ledgers(spark, tmp_path):
    """VERDICT r8 #7: a store that STOPS mutating must still reap its
    displaced-artifact ledger — post-mutation GC and purge only run on
    mutation/fact cadences. The scheduler's gc job (engine extension,
    interval-gated like purge, metadata-only generation) reaps a
    DimensionStore's old snapshot and a signature store's displaced
    version after the grace window with NO further mutation and no
    manual ares_tool call."""
    import os
    import time as _time

    from aresdb_spark.operators.dedup import build_signature_store
    from aresdb_spark.sources import pointer
    from aresdb_spark.sources.hotcold import DimensionStore, SignatureStore
    from aresdb_spark.sources.lifecycle import (GC, Scheduler,
                                                TableLifecycle)

    # dimension store: one ingest displaces snap_v0 into the ledger
    # (the default 900 s post-mutation grace keeps it on disk)
    dim = DimensionStore(path=str(tmp_path / "dim"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([(1, "a")], "k int, v string"))
    dim.ingest(spark, spark.createDataFrame([(2, "b")], "k int, v string"))
    old_snap = os.path.join(dim.path, "snap_v0")
    assert os.path.isdir(old_snap)
    assert pointer.read_state(dim.path)["displaced"]

    # signature store: a second overwrite displaces sig_v0, ledgered
    # behind the pointer
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(30)],
        "doc_id long, text string")
    sig = str(tmp_path / "sig")
    build_signature_store(docs, sig)
    build_signature_store(docs, sig)
    v0_dir = os.path.join(sig, "sig_v0")
    assert os.path.isdir(v0_dir)
    assert pointer.read_state(sig)["displaced"]

    tables = [
        TableLifecycle(name="dim", store=dim, config={
            "snapshotIntervalMinutes": 360, "snapshotThreshold": 100,
            "gcGraceSeconds": 1.0, "gcIntervalHours": 24}),
        # the table-config gcGraceSeconds is honored for signature
        # stores exactly as for the other store kinds (ADVICE r10 #4)
        TableLifecycle(name="sig",
                       store=SignatureStore(sig),
                       config={"gcGraceSeconds": 1.0,
                               "gcIntervalHours": 24}),
    ]
    sched = Scheduler(tables)
    t0 = datetime(2024, 3, 1)
    assert sched.run_once(spark, t0) == {}          # first sight seeds
    assert sched.generate_jobs(t0 + timedelta(hours=23)) == []  # gated
    _time.sleep(1.2)                                # pass the grace
    res = sched.run_once(spark, t0 + timedelta(hours=25))
    assert res.get("dim|0|gc", 0) >= 1
    assert res.get("sig|0|gc", 0) >= 1
    # displaced artifacts gone, ledgers drained — with zero mutations
    assert not os.path.isdir(old_snap)
    assert not os.path.isdir(v0_dir)
    assert not pointer.read_state(dim.path).get("displaced")
    assert not pointer.read_state(sig).get("displaced")
    # disabled like any reference job type (EnableJobType)
    sched.enable_job_type(GC, False)
    assert sched.generate_jobs(t0 + timedelta(hours=50)) == []
