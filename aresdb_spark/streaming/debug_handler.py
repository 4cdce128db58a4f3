"""Debug/ops surface — the reference's DebugHandler + HealthCheckHandler
as pure functions (api/debug_handler.go:74-97 routes, 101-500 bodies;
api/health_check_handler.go:34-56), in the same ``(status, body)`` shape
as streaming/data_handler.py: the HTTP mount is out of scope repo-wide
(COVERAGE.md), the behaviors are not.

Covered routes and their analogs here:

  GET  /health                      → DebugDaemon.health
  POST /health/{onOrOff}            → DebugDaemon.health_switch
  GET  /dbg/health (health check)   → DebugDaemon.health_check
  GET  /dbg/{table}/{shard}         → DebugDaemon.show_shard_meta
  GET  /dbg/{table}/{shard}/batches/{batch} → DebugDaemon.show_batch
  GET  /dbg/{table}/{shard}/primary-keys    → DebugDaemon.lookup_primary_key
  POST /dbg/{table}/{shard}/archive   → DebugDaemon.trigger("archive", ...)
  POST /dbg/{table}/{shard}/backfill  → DebugDaemon.trigger("backfill")
  POST /dbg/{table}/{shard}/snapshot  → DebugDaemon.trigger("snapshot")
  POST /dbg/{table}/{shard}/purge     → DebugDaemon.trigger("purge", ...)
  GET  /dbg/{table}/{shard}/redologs… → streaming/redolog_browser.py

The reference triggers jobs through its scheduler and replies "<Job>
job submitted" before completion (debug_handler.go:363-470); here the
store operations run synchronously — the submitted-message parity is
kept, completion is implied by return. Shard is accepted-and-ignored
the way the single-shard subscriber configs treat it (shard 0)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class DebugDaemon:
    """Holds the health toggle plus the table → store map (the
    DebugHandler's memStore + healthCheckHandler dependencies,
    debug_handler.go:52-72)."""

    spark: "object"
    stores: "dict[str, object]"  # HotColdStore | DimensionStore
    _health_disabled: bool = field(default=False)

    # -- health (health_check_handler.go:39-49, debug_handler.go:108-137) --

    def health_check(self):
        """The load-balancer probe: 200 "OK", or 503 when switched off
        (health_check_handler.go:39-49 returns ServiceUnavailable while
        disabled so the node drains)."""
        if self._health_disabled:
            return 503, "Health check disabled"
        return 200, "OK"

    def health(self):
        """GET /health — whether the check is on or off ("on"/"off",
        debug_handler.go:108-117)."""
        return 200, "off" if self._health_disabled else "on"

    def health_switch(self, on_or_off: str):
        """POST /health/{onOrOff} — the reference 400s on anything but
        "on"/"off" (debug_handler.go:120-137)."""
        if on_or_off not in ("on", "off"):
            return 400, {"message": "must specify on or off in the url"}
        self._health_disabled = on_or_off == "off"
        return 200, "OK"

    # -- live-store inspection ------------------------------------------

    def show_shard_meta(self, table: str, shard: int = 0):
        """GET /dbg/{table}/{shard} — the live-store state the r6 review
        flagged as missing: committed versions, cutoff, queue depths,
        row counts, writer-lock state. All metadata reads (one pointer
        file + dir listings + parquet footers); schedules ZERO Spark
        jobs (asserted by test_debug_handler's job-group probe) — an
        ops dashboard may poll this without scheduling cluster work,
        like the reference serializing its in-memory shard struct
        (debug_handler.go ShowShardMeta)."""
        store = self.stores.get(table)
        if store is None:
            return 400, {"message": f"unknown table {table!r}"}
        from aresdb_spark.sources import pointer
        state = pointer.read_state(store.path) or {}
        meta = {"table": table, "shard": shard, "state": state,
                "writer_lock_held": os.path.exists(
                    os.path.join(store.path, "_writer.lock"))}
        if hasattr(store, "saved_cutoff"):  # fact (hot/cold) store
            meta["kind"] = "fact"
            meta["cutoff"] = store.saved_cutoff().isoformat()
            # base + pending batch dirs (footer metadata only); upper
            # bound of the logical count until compaction folds
            # repeated PKs — see HotColdStore.hot_physical_rows
            meta["hot_rows"] = store.hot_physical_rows()
            # append-only live-store depth: how many ingested batches
            # await the archive compaction (the reference exposes its
            # live batch list the same way, debug_handler.go
            # ShowShardMeta -> LiveStore.Batches)
            meta["hot_pending_batches"] = len(store._batches("hot"))
            # committed day keys straight from the pointer (metadata)
            meta["cold_days"] = store.cold_day_keys()
            meta["backfill_queue"] = {
                "batches": len(store.queued_backfill_batches()),
                "bytes": store.backfill_buffer_bytes()}
        else:  # dimension store
            meta["kind"] = "dimension"
            meta["journal_batches"] = len(store._batches("journal"))
            meta["num_mutations"] = store.num_mutations()
        return 200, meta

    def show_batch(self, table: str, shard: int = 0, batch: str = "hot",
                   start_row: int = 0, num_rows: int = 100):
        """GET /dbg/{table}/{shard}/batches/{batch} — row inspection of
        a live (hot) or archive-day batch, with the reference's clamps:
        NumRows outside (0, 100] → 100, StartRow < 0 → 0
        (debug_handler.go:141-160). ``batch`` is "hot" for the live
        store or a "YYYY-MM-DD" day for an archive batch (the
        reference's batchID *is* the day for archive batches).

        Pagination collects the ``start_row + num_rows`` prefix on the
        driver (parquet has no stable record ids to seek by), so
        ``start_row`` is additionally capped at 10_000 — a debug
        endpoint must never be able to pull an unbounded prefix of a
        large store onto the driver (the reference pages within one
        in-memory batch, which bounds it structurally). Pages are
        ordered by the table's primary key, so successive calls see a
        stable sequence (an unordered limit would repeat or skip rows
        across pages — parquet scan order is not deterministic across
        calls)."""
        from pyspark.sql import functions as F

        store = self.stores.get(table)
        if store is None:
            return 400, {"message": f"unknown table {table!r}"}
        if num_rows <= 0 or num_rows > 100:
            num_rows = 100
        start_row = min(max(start_row, 0), 10_000)
        if batch == "hot":
            if hasattr(store, "read_hot"):
                df = store.read_hot(self.spark)
            else:
                df = store.read(self.spark)
        else:
            if not hasattr(store, "read_cold"):
                return 400, {"message":
                             "dimension tables have no archive batches"}
            day = F.date_format(F.col(store.time_column), "yyyy-MM-dd")
            df = store.read_cold(self.spark).filter(day == batch)
        df = df.orderBy(*[F.col(c) for c in store.primary_key])
        rows = df.limit(start_row + num_rows).collect()[start_row:]
        return 200, {"numRows": len(rows), "startRow": start_row,
                     "columns": df.columns,
                     "rows": [list(r) for r in rows]}

    def lookup_primary_key(self, table: str, shard: int = 0,
                           key: str = ""):
        """GET /dbg/{table}/{shard}/primary-keys?key=a,b — the cuckoo
        LookupKey analog (debug_handler.go:336-360): comma-split the key
        along the PK columns, 404 with the reference's message when
        absent. Returns the matching row instead of a (batch, row)
        RecordID — parquet has no stable record ids."""
        store = self.stores.get(table)
        if store is None:
            return 400, {"message": f"unknown table {table!r}"}
        from pyspark.sql import functions as F

        parts = key.split(",")
        pk = list(store.primary_key)
        if len(parts) != len(pk):
            return 400, {"message":
                         f"key must have {len(pk)} comma-separated "
                         f"component(s) for primary key {pk}"}
        # cutoff=None: cutoff and version dirs resolve from ONE state
        # snapshot inside read() — passing saved_cutoff() here would read
        # the state twice, and an archive committing in between pairs an
        # old cutoff with new dirs (the torn-view class catalog.py
        # eliminates the same way)
        df = store.read(self.spark)
        cond = None
        for col, val in zip(pk, parts):
            c = F.col(col).cast("string") == val
            cond = c if cond is None else (cond & c)
        rows = df.filter(cond).limit(1).collect()
        if not rows:
            return 404, {"message":
                         f"key '{key}' does not exist or expired"}
        return 200, dict(zip(df.columns, list(rows[0])))

    # -- on-demand jobs (debug_handler.go:363-500) ------------------------

    def trigger(self, job: str, table: str, shard: int = 0,
                cutoff: "datetime | None" = None,
                purge_before: "datetime | None" = None):
        """POST /dbg/{table}/{shard}/{archive|backfill|snapshot|purge} —
        submit the lifecycle job on demand. Wrong store kind for the
        job → 400 (the reference's scheduler rejects e.g. snapshot on a
        fact table the same way)."""
        store = self.stores.get(table)
        if store is None:
            return 400, {"message": f"unknown table {table!r}"}
        is_fact = hasattr(store, "saved_cutoff")
        if job == "archive":
            if not is_fact:
                return 400, {"message": "archive needs a fact table"}
            if cutoff is None:
                return 400, {"message": "archive needs a cutoff"}
            store.archive(self.spark, cutoff)
            return 200, "Archiving job submitted"
        if job == "backfill":
            if not is_fact:
                return 400, {"message": "backfill needs a fact table"}
            n = store.flush_backfill(self.spark)
            return 200, f"Backfill job submitted ({n} batches)"
        if job == "snapshot":
            if is_fact:
                return 400, {"message": "snapshot needs a dimension table"}
            n = store.snapshot(self.spark)
            return 200, f"Snapshot job submitted ({n} mutations)"
        if job == "purge":
            if not is_fact:
                return 400, {"message": "purge needs a fact table"}
            if purge_before is None:
                return 400, {"message": "purge needs a boundary"}
            store.purge(self.spark, purge_before)
            return 200, "Purge job submitted"
        return 400, {"message": f"unknown job type {job!r}"}
