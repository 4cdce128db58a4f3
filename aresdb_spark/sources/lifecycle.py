"""Lifecycle job scheduler — the reference's memstore scheduler + job
managers (memstore/scheduler.go, memstore/job_manager.go).

The reference runs a scheduler loop that, once per interval, asks four
job managers to ``generateJobs()`` over every table shard and executes
what qualifies. The ELIGIBILITY rules here are replicated rule-for-rule;
EXECUTION maps each job type onto this repo's store operations:

  archiving (job_manager.go:56-90)
      fact tables: ``newCutoff = now - archivingDelayMinutes``; run when
      ``newCutoff > currentCutoff + archivingIntervalMinutes``
      -> HotColdStore.archive(new_cutoff)
  backfill (job_manager.go:189-236, backfill_manager.go:177-181)
      fact tables: size-based when the queued backfill buffer reaches
      ``backfillThresholdInBytes``; otherwise timer-based every
      ``backfillIntervalMinutes`` (the first sighting only initializes
      the timer and waits, job_manager.go:216-221)
      -> HotColdStore.flush_backfill()
  snapshot (snapshot_manager.go:96-101)
      dimension tables: ``numMutations >= snapshotThreshold`` OR
      (``snapshotIntervalMinutes`` elapsed AND numMutations > 0)
      -> DimensionStore.snapshot()
  purge (job_manager.go:459-486, purge_manager.go:40-51)
      fact tables with ``recordRetentionInDays > 0``, at most once per
      ``purgeInterval`` (24h, purge_manager.go:40-43); drops whole
      archive day-batches with batchID in [0, nowInDay - retentionDays)
      (batch IDs are days since epoch, memstore/purge.go:23-66)
      -> HotColdStore.purge(day boundary)

Job identifiers are ``{table}|{shard}|{jobType}`` with the reference's
job-type strings (memstore/common/job.go:21-28). Config keys are the
metastore table-config JSON names (metastore/common/model.go:90-123,
defaults in aresdb_spark.metastore.DEFAULT_TABLE_CONFIG).

Scale shape: job generation is pure metadata (file sizes, saved cutoffs,
clock arithmetic) — no Spark jobs run unless a store op qualifies, so a
scheduler tick over thousands of tables is cheap; each store op is the
bounded Spark job documented on the store itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable, Union

from pyspark.sql import SparkSession

from aresdb_spark.operators.util import utc_naive
from aresdb_spark.sources.hotcold import (DimensionStore, HotColdStore,
                                          SignatureStore)

ARCHIVING = "archiving"
BACKFILL = "backfill"
SNAPSHOT = "snapshot"
PURGE = "purge"
# Engine extension (no reference analog — the reference reaps displaced
# batch versions inside purge, memstore/purge.go, which only fact tables
# run): every store keeps a displaced-artifact ledger behind its pointer
# (sources/pointer.py), and a store that stops MUTATING would otherwise
# never reap it — post-mutation GC and purge are its only other callers
# (VERDICT r8 #7). The gc job is the cadence-driven reaper for all of
# them; generation is metadata-only (pointer read + clock arithmetic).
GC = "gc"

_EPOCH = datetime(1970, 1, 1)


def job_identifier(table: str, shard: int, job_type: str) -> str:
    """``getIdentifier`` (memstore/scheduler.go:120-122)."""
    return f"{table}|{shard}|{job_type}"


@dataclass
class Job:
    """One qualified lifecycle job: eligibility already decided, ``run``
    executes the mapped store operation."""
    job_type: str
    table: str
    shard: int
    run: Callable[[SparkSession], object]
    # archiving: the new cutoff; purge: [batch_id_start, batch_id_end)
    new_cutoff: datetime | None = None
    batch_id_start: int | None = None
    batch_id_end: int | None = None

    @property
    def identifier(self) -> str:
        return job_identifier(self.table, self.shard, self.job_type)


@dataclass
class TableLifecycle:
    """One table shard under scheduler management: the store, its
    metastore config dict, and the mutable trigger state the reference
    keeps on the per-shard managers."""

    name: str
    store: Union[HotColdStore, DimensionStore, SignatureStore]
    config: dict
    shard: int = 0
    # PurgeManager.LastPurgeTime inits to "now" at construction
    # (purge_manager.go:40-43) — the scheduler seeds it on first sight.
    last_purge_time: datetime | None = None
    # backfill timer strategy: first sighting initializes LastRun and
    # waits one interval (job_manager.go:216-221)
    backfill_last_run: datetime | None = None
    # SnapshotManager.LastSnapshotTime inits to "now" likewise
    last_snapshot_time: datetime | None = None
    # gc reaper cadence state (engine extension, seeded like the others)
    last_gc_time: datetime | None = None

    @property
    def is_fact(self) -> bool:
        return isinstance(self.store, HotColdStore)


class Scheduler:
    """Deterministic-clock port of the scheduler loop: every
    ``run_once(spark, now)`` generates the qualified jobs exactly as the
    four reference job managers would at that instant, runs them, and
    advances the trigger state. Job types can be globally disabled like
    the reference's ``EnableJobType`` (scheduler.go:54)."""

    def __init__(self, tables: list[TableLifecycle]):
        self.tables = tables
        self._enabled = {ARCHIVING: True, BACKFILL: True,
                         SNAPSHOT: True, PURGE: True, GC: True}

    def enable_job_type(self, job_type: str, enable: bool) -> None:
        if job_type not in self._enabled:
            raise ValueError(f"unknown job type: {job_type}")
        self._enabled[job_type] = enable

    def is_job_type_enabled(self, job_type: str) -> bool:
        return self._enabled[job_type]

    # -- job generation (pure; no Spark work) --------------------------------

    def generate_jobs(self, now: datetime) -> list[Job]:
        now = utc_naive(now)
        jobs: list[Job] = []
        for t in self.tables:
            # first sighting seeds the time-based managers, like the
            # reference constructing them at shard-load time
            if t.last_purge_time is None:
                t.last_purge_time = now
            if t.last_snapshot_time is None:
                t.last_snapshot_time = now
            if t.last_gc_time is None:
                t.last_gc_time = now
            if t.is_fact:
                jobs += self._archiving_job(t, now)
                jobs += self._backfill_job(t, now)
                jobs += self._purge_job(t, now)
            elif isinstance(t.store, DimensionStore):
                jobs += self._snapshot_job(t, now)
            # every store kind reaps its displaced-artifact ledger on a
            # cadence — including ones that have stopped mutating
            jobs += self._gc_job(t, now)
        return [j for j in jobs if self._enabled[j.job_type]]

    def _archiving_job(self, t: TableLifecycle, now: datetime) -> list[Job]:
        interval = timedelta(minutes=t.config["archivingIntervalMinutes"])
        delay = timedelta(minutes=t.config["archivingDelayMinutes"])
        current = t.store.saved_cutoff()
        new_cutoff = now - delay
        # job_manager.go:72 — newCutoff > currentCutoff + interval
        if not new_cutoff > current + interval:
            return []

        def run(spark: SparkSession, store=t.store, cut=new_cutoff):
            store.archive(spark, cut)
            return cut

        return [Job(ARCHIVING, t.name, t.shard, run, new_cutoff=new_cutoff)]

    def _backfill_job(self, t: TableLifecycle, now: datetime) -> list[Job]:
        def run(spark: SparkSession, t=t, now=now):
            t.backfill_last_run = now
            return t.store.flush_backfill(spark)

        # size-based strategy first (backfill_manager.go:177-181)
        if t.store.backfill_buffer_bytes() >= \
                t.config["backfillThresholdInBytes"]:
            return [Job(BACKFILL, t.name, t.shard, run)]
        # timer-based: first sighting initializes LastRun and waits
        # (job_manager.go:216-228)
        if t.backfill_last_run is None:
            t.backfill_last_run = now
            return []
        interval = timedelta(minutes=t.config["backfillIntervalMinutes"])
        if now >= t.backfill_last_run + interval:
            return [Job(BACKFILL, t.name, t.shard, run)]
        return []

    def _purge_job(self, t: TableLifecycle, now: datetime) -> list[Job]:
        retention_days = t.config.get("recordRetentionInDays", 0)
        interval = timedelta(
            hours=t.config.get("purgeIntervalHours", 24))
        # QualifyForPurge: now strictly after last + interval
        # (purge_manager.go:47-51); retention 0 = keep forever
        # (job_manager.go:472-473)
        if retention_days <= 0 or not now > t.last_purge_time + interval:
            return []
        now_in_day = int((now - _EPOCH).total_seconds() // 86400)
        batch_id_end = now_in_day - retention_days

        def run(spark: SparkSession, t=t, now=now, end=batch_id_end):
            t.store.purge(spark, _EPOCH + timedelta(days=end))
            t.last_purge_time = now
            return end

        return [Job(PURGE, t.name, t.shard, run,
                    batch_id_start=0, batch_id_end=batch_id_end)]

    def _snapshot_job(self, t: TableLifecycle, now: datetime) -> list[Job]:
        mutations = t.store.num_mutations()
        threshold = t.config["snapshotThreshold"]
        interval = timedelta(minutes=t.config["snapshotIntervalMinutes"])
        # snapshot_manager.go:96-101
        if not (mutations >= threshold or
                (now - t.last_snapshot_time >= interval and mutations > 0)):
            return []

        def run(spark: SparkSession, t=t, now=now):
            t.last_snapshot_time = now
            return t.store.snapshot(spark)

        return [Job(SNAPSHOT, t.name, t.shard, run)]

    def _gc_job(self, t: TableLifecycle, now: datetime) -> list[Job]:
        interval = timedelta(hours=t.config.get("gcIntervalHours", 24))
        # interval-gated like purge (purge_manager.go:47-51): strictly
        # after last + interval; generation itself is metadata-only
        if not now > t.last_gc_time + interval:
            return []

        def run(spark: SparkSession, t=t, now=now):
            t.last_gc_time = now
            grace = t.config.get("gcGraceSeconds")
            return t.store.gc() if grace is None \
                else t.store.gc(grace_seconds=grace)

        return [Job(GC, t.name, t.shard, run)]

    # -- execution ------------------------------------------------------------

    def run_once(self, spark: SparkSession,
                 now: datetime) -> dict[str, object]:
        """One scheduler tick: generate + run every qualified job.
        Returns {job identifier: run result} for reporting (the
        reference's jobDetail surface)."""
        return {job.identifier: job.run(spark)
                for job in self.generate_jobs(now)}
