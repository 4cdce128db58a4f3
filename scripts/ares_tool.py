#!/usr/bin/env python3
"""ares_tool — offline inspection CLI for reference-format data.

The read-only analog of the reference's debug endpoints
(api/debug_handler.go:74-97) plus its redo-log browser
(memstore/redo_log_browser.go), pointed at files instead of a running
server — the tool a migration operator uses to answer "what is in this
deployment?" before and after ``migrate_ares_root``:

    tables ROOT                     — every table: kind, shards, cutoff,
                                      day batches, sizes (ShowShardMeta)
    show-batch ROOT TABLE BATCH     — decode one archive batch's rows
        [--shard N --start I --rows N]        (ShowBatch startRow/numRows)
    show-vp FILE [--values N]       — one vector-party file's header +
                                      leading values (LoadVectorParty)
    redologs DIR                    — redo log files + their batch
                                      offsets/sizes (ListRedoLogs /
                                      ListUpsertBatches)
    read-upsert-batch FILE OFFSET   — decode the batch at a byte offset
                                      (ReadUpsertBatch)
    migrate ROOT DEST               — run migrate_ares_root (needs Spark)
    ledger STORE                    — a Spark store's committed state +
                                      displaced-artifact ledger with ages
    gc STORE [--grace SECONDS]      — reap ledgered artifacts past the
                                      grace window (the purge-cadence
                                      reaper, run manually)

Every command prints one JSON document to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cmd_tables(root: str) -> dict:
    from aresdb_spark.sources.ares_root import list_tables, read_table_meta

    out = {}
    for t in list_tables(root):
        meta = read_table_meta(root, t)
        shards = {}
        for sh in meta.shards:
            shards[sh.shard] = {
                "archivingCutoff": sh.archiving_cutoff,
                "batches": {str(b): {"version": v[0], "seqNum": v[1],
                                     "size": v[2]}
                            for b, v in sorted(sh.batches.items())},
                "snapshot": (None if sh.snapshot is None else dict(zip(
                    ("redoLogFile", "offset", "batchID", "index"),
                    sh.snapshot))),
            }
        out[t] = {
            "isFactTable": bool(meta.schema.get("isFactTable")),
            "columns": [{"name": c["name"], "type": c["type"],
                         "deleted": bool(c.get("deleted"))}
                        for c in meta.schema.get("columns") or []],
            "primaryKeyColumns": meta.schema.get("primaryKeyColumns"),
            "archivingSortColumns": meta.schema.get("archivingSortColumns"),
            "enums": {k: len(v) for k, v in meta.enums.items()},
            "shards": shards,
        }
    return out


def cmd_show_batch(root: str, table: str, batch: int, shard: int = 0,
                   start: int = 0, rows: int = 20) -> dict:
    """ShowBatch analog (debug_handler.go:139-175): decode the batch the
    metastore selects at the shard's cutoff and window its rows with
    startRow/numRows."""
    from aresdb_spark.sources.ares_root import (
        archive_batch_dir, read_batch_columns, read_table_meta)

    meta = read_table_meta(root, table)
    sh = next(s for s in meta.shards if s.shard == shard)
    if batch not in sh.batches:
        raise SystemExit(f"batch {batch} not in metastore for {table} "
                         f"(have {sorted(sh.batches)})")
    ver, seq, size = sh.batches[batch]
    d = archive_batch_dir(root, table, shard, batch, ver, seq)
    cols = read_batch_columns(d, meta.schema, meta.enums)
    names = list(cols)
    n = len(cols[names[0]]) if names else 0
    window = slice(start, start + rows)
    return {"batchID": batch, "version": ver, "seqNum": seq,
            "metastoreSize": size, "numRows": n, "startRow": start,
            "columns": names,
            "rows": [dict(zip(names, vals)) for vals in
                     zip(*(cols[c][window] for c in names))] if n else []}


def cmd_show_vp(path: str, values: int = 10,
                type_name: "str | None" = None) -> dict:
    from aresdb_spark.sources.ares_root import (
        read_go_vector_party_bytes, read_vector_party_bytes)

    with open(path, "rb") as f:
        raw = f.read()
    # Go-type files (GeoShape) carry no magic header; --type selects
    # their codec the way read_batch_columns does via the schema
    vp = (read_go_vector_party_bytes(raw, type_name)
          if type_name == "GeoShape" else read_vector_party_bytes(raw))
    return {"dataType": vp.type_name, "length": vp.length,
            "mode": vp.mode, "nonDefaultValueCount": vp.non_default_count,
            "numRows": vp.num_rows(),
            "values": vp.values[:values],
            "counts": None if vp.counts is None else vp.counts[:values + 1]}


def cmd_redologs(dirpath: str) -> dict:
    """ListRedoLogs + ListUpsertBatches analog: every *.redolog file's
    creation time (its name) and the byte offset + size of each framed
    batch inside (redolog/file_redolog_manager.go:144-170)."""
    import struct

    from aresdb_spark.streaming.upsert_wire import REDO_LOG_MAGIC

    out = {}
    for name in sorted(os.listdir(dirpath)):
        if not name.endswith(".redolog"):
            continue
        with open(os.path.join(dirpath, name), "rb") as f:
            data = f.read()
        entry = {"bytes": len(data), "batches": []}
        if len(data) >= 4 and struct.unpack_from(
                "<I", data, 0)[0] == REDO_LOG_MAGIC:
            off = 4
            while off + 4 <= len(data):
                (size,) = struct.unpack_from("<I", data, off)
                if off + 4 + size > len(data):
                    entry["truncatedTail"] = True
                    break
                entry["batches"].append({"offset": off, "size": size})
                off += 4 + size
        else:
            entry["error"] = "bad magic header"
        out[name.removesuffix(".redolog")] = entry
    return out


def cmd_read_upsert_batch(path: str, offset: int, rows: int = 20) -> dict:
    """ReadUpsertBatch analog (debug_handler.go:94): decode the
    size-framed batch at a byte offset of a redo log file."""
    import struct

    from aresdb_spark.streaming.upsert_wire import parse_upsert_batch

    with open(path, "rb") as f:
        data = f.read()
    (size,) = struct.unpack_from("<I", data, offset)
    ub = parse_upsert_batch(bytes(data[offset + 4:offset + 4 + size]))
    return {"numRows": ub.num_rows, "arrivalTime": ub.arrival_time,
            "columns": [{"columnID": c.column_id, "type": c.type_name,
                         "updateMode": c.update_mode_name}
                        for c in ub.columns],
            "rows": [list(r) for r in ub.rows()[:rows]]}


def cmd_migrate(root: str, dest: str) -> dict:
    from aresdb_spark.session import get_spark
    from aresdb_spark.sources.ares_root import migrate_ares_root

    spark = get_spark(app_name="ares-migrate", cpus=8,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    return migrate_ares_root(spark, root, dest)


def cmd_validate(root: str, table: str, migrated: str,
                 check_values: bool = False) -> dict:
    """The migration acceptance gate: per-day counts vs the legacy
    metastore's own batch sizes; --values adds per-day content hashes
    (legacy batches re-decoded vs the migrated parquet) that catch
    corruption counts cannot."""
    from aresdb_spark.session import get_spark
    from aresdb_spark.sources.ares_root import validate_migration

    spark = get_spark(app_name="ares-validate", cpus=8,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    return validate_migration(spark, root, table, migrated,
                              check_values=check_values)


def cmd_ledger(store: str) -> dict:
    """Committed pointer state + the displaced-artifact ledger with
    per-entry ages and on-disk presence — what an operator checks
    before a forced gc (a ledgered dir that is already gone means a
    reaper was killed mid-pass; harmless, the next gc no-ops it)."""
    import time

    from aresdb_spark.sources import pointer

    state = pointer.read_state(store)
    if state is None:
        return {"store": store, "state": None,
                "note": "no committed pointer (store not initialized)"}
    now = time.time()
    ledger = []
    for e in state.get("displaced", []):
        ledger.append({
            **e, "ageSeconds": round(now - e["at"], 1),
            "onDisk": os.path.exists(os.path.join(store, e["dir"]))})
    return {"store": store,
            "state": {k: v for k, v in state.items() if k != "displaced"},
            "displaced": ledger,
            "writerLockHeld": os.path.exists(
                os.path.join(store, "_writer.lock"))}


def cmd_gc(store: str, grace: float) -> dict:
    """Run the ledger reaper with an explicit grace window. Uses the
    store's writer lock; refuses (loudly) if a writer is in flight."""
    from aresdb_spark.sources import pointer

    with pointer.write_lock(store):
        n = pointer.gc_displaced(store, grace_seconds=grace)
    return {"store": store, "reaped": n,
            "remaining": (pointer.read_state(store) or {}).get(
                "displaced", [])}


def main(argv: "list[str] | None" = None) -> dict:
    p = argparse.ArgumentParser(prog="ares_tool",
                                description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("tables")
    s.add_argument("root")
    s = sub.add_parser("show-batch")
    s.add_argument("root")
    s.add_argument("table")
    s.add_argument("batch", type=int)
    s.add_argument("--shard", type=int, default=0)
    s.add_argument("--start", type=int, default=0)
    s.add_argument("--rows", type=int, default=20)
    s = sub.add_parser("show-vp")
    s.add_argument("file")
    s.add_argument("--values", type=int, default=10)
    s.add_argument("--type", dest="type_name", default=None,
                   help="column type for header-less Go-type files "
                        "(GeoShape)")
    s = sub.add_parser("redologs")
    s.add_argument("dir")
    s = sub.add_parser("read-upsert-batch")
    s.add_argument("file")
    s.add_argument("offset", type=int)
    s.add_argument("--rows", type=int, default=20)
    s = sub.add_parser("migrate")
    s.add_argument("root")
    s.add_argument("dest")
    s = sub.add_parser("ledger")
    s.add_argument("store")
    s = sub.add_parser("gc")
    s.add_argument("store")
    s.add_argument("--grace", type=float, default=None,
                   help="seconds (default: the store's standard "
                        "read-grace window)")
    s = sub.add_parser("validate")
    s.add_argument("root")
    s.add_argument("table")
    s.add_argument("migrated")
    s.add_argument("--values", action="store_true",
                   help="also compare per-day content hashes (re-decodes "
                        "the legacy batches)")
    a = p.parse_args(argv)
    if a.cmd == "tables":
        out = cmd_tables(a.root)
    elif a.cmd == "show-batch":
        out = cmd_show_batch(a.root, a.table, a.batch, a.shard, a.start,
                             a.rows)
    elif a.cmd == "show-vp":
        out = cmd_show_vp(a.file, a.values, a.type_name)
    elif a.cmd == "redologs":
        out = cmd_redologs(a.dir)
    elif a.cmd == "read-upsert-batch":
        out = cmd_read_upsert_batch(a.file, a.offset, a.rows)
    elif a.cmd == "validate":
        out = cmd_validate(a.root, a.table, a.migrated, a.values)
    elif a.cmd == "ledger":
        out = cmd_ledger(a.store)
    elif a.cmd == "gc":
        from aresdb_spark.sources.pointer import GC_GRACE_SECONDS
        out = cmd_gc(a.store,
                     GC_GRACE_SECONDS if a.grace is None else a.grace)
    else:
        out = cmd_migrate(a.root, a.dest)
    print(json.dumps(out, indent=2, default=str))
    return out


if __name__ == "__main__":
    main()
