"""Upsert-by-primary-key with per-column update modes.

Reference: memstore/ingestion.go:170-363 (ApplyUpsertBatch: PK lookup →
in-place update or append) with the per-column ColumnUpdateMode set
(memstore/common/upsert_batch_builder.go:30-43):

  - overwrite  (UpdateOverwriteNotNull, default): new value wins when NOT
               null, otherwise the existing value is kept
  - force      (UpdateForceOverwrite): new value wins even when null
  - add        (UpdateWithAddition): existing + new when new is not null;
               existing null counts as 0
  - min / max  (UpdateWithMin/Max): min/max of existing and new when new
               is not null; existing null loses

Spark shape: a batch is collapsed to one row per PK (fold in arrival
order), then merged into the base via a single full-outer join on the PK —
one shuffle each, both sides hash-partitioned on the PK. On a Delta-backed
deployment the merge step maps 1:1 to ``MERGE INTO`` with
``UPDATE SET c = <mode expr>``; here it is expressed as pure DataFrame
logic so it runs on any store.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class UpdateMode(str, Enum):
    OVERWRITE = "overwrite"   # UpdateOverwriteNotNull (default)
    FORCE = "force"           # UpdateForceOverwrite
    ADD = "add"               # UpdateWithAddition
    MIN = "min"               # UpdateWithMin
    MAX = "max"               # UpdateWithMax


def _mode(modes: dict[str, UpdateMode | str] | None, col: str) -> UpdateMode:
    m = (modes or {}).get(col, UpdateMode.OVERWRITE)
    return UpdateMode(m)


def collapse_batch(batch: DataFrame, pk_cols: list[str],
                   modes: dict[str, UpdateMode | str] | None = None,
                   seq_col: str | None = None) -> DataFrame:
    """Collapse a batch to ONE row per PK, folding repeated rows in arrival
    order (the reference applies records sequentially against the live
    store; folding first is equivalent and keeps the merge join 1:1).

    ``seq_col`` defines arrival order; when absent, a monotonic id over the
    batch's current row order is used (deterministic for file-backed
    batches, matching redo-log replay order).
    """
    seq = seq_col or "__seq"
    b = batch if seq_col else batch.withColumn(seq, F.monotonically_increasing_id())
    aggs: list[Column] = []
    for c in batch.columns:
        if c in pk_cols or c == seq_col:
            continue
        mode = _mode(modes, c)
        if mode is UpdateMode.FORCE:
            aggs.append(F.max_by(c, F.col(seq)).alias(c))
        elif mode is UpdateMode.ADD:
            aggs.append(F.sum(c).alias(c))
        elif mode is UpdateMode.MIN:
            aggs.append(F.min(c).alias(c))
        elif mode is UpdateMode.MAX:
            aggs.append(F.max(c).alias(c))
        else:  # OVERWRITE: last non-null in arrival order
            aggs.append(
                F.max_by(c, F.when(F.col(c).isNotNull(), F.col(seq))).alias(c))
    if seq_col:
        aggs.append(F.max(seq).alias(seq_col))
    if not aggs:
        # a PK-only table: nothing to fold, collapsing is just dedupe
        return b.select(*pk_cols).distinct()
    return b.groupBy(*pk_cols).agg(*aggs)


def apply_upsert_batch(base: DataFrame, batch: DataFrame, pk_cols: list[str],
                       modes: dict[str, UpdateMode | str] | None = None,
                       seq_col: str | None = None) -> DataFrame:
    """Merge an upsert batch into ``base``: insert if the PK is absent,
    per-column-mode update if present (reference ApplyUpsertBatch).

    Physical shape: collapse (one hash shuffle on PK, map-side partial
    aggregation) + full-outer join on PK (co-partitioned after the
    collapse — AQE plans a single shuffle per side). No driver collects.
    """
    upd = collapse_batch(batch, pk_cols, modes, seq_col)
    if seq_col:
        upd = upd.drop(seq_col)
    # presence markers, NOT PK nullability: the join is null-safe, so a
    # NULL PK is a legal (single) key — detecting presence via
    # `pk IS NOT NULL` would silently drop its update
    b = base.withColumn("__in_b", F.lit(True)).alias("b")
    u = upd.withColumn("__in_u", F.lit(True)).alias("u")
    cond = None
    for k in pk_cols:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = c if cond is None else cond & c
    joined = b.join(u, cond, "full_outer")
    in_update = F.col("u.__in_u").isNotNull()
    in_base = F.col("b.__in_b").isNotNull()

    out_cols: list[Column] = []
    for k in pk_cols:
        out_cols.append(F.coalesce(F.col(f"b.{k}"), F.col(f"u.{k}")).alias(k))
    for c in base.columns:
        if c in pk_cols:
            continue
        bc, uc = F.col(f"b.{c}"), (F.col(f"u.{c}") if c in upd.columns else F.lit(None))
        mode = _mode(modes, c)
        if mode is UpdateMode.FORCE:
            merged = F.when(in_update, uc).otherwise(bc)
        elif mode is UpdateMode.ADD:
            # existing null → 0 (reference treats missing as 0); new null → keep
            merged = F.when(uc.isNotNull(), F.coalesce(bc, F.lit(0)) + uc).otherwise(bc)
        elif mode is UpdateMode.MIN:
            # least() skips nulls: existing null loses (ref: null = MAX_INT)
            merged = F.when(uc.isNotNull(), F.least(bc, uc)).otherwise(bc)
        elif mode is UpdateMode.MAX:
            merged = F.when(uc.isNotNull(), F.greatest(bc, uc)).otherwise(bc)
        else:  # OVERWRITE
            merged = F.coalesce(uc, bc)
        # rows only present in the update keep the update value outright
        out_cols.append(F.when(in_base, merged).otherwise(uc).alias(c))
    return joined.select(*out_cols)


def fold_upserts(base: DataFrame, pending: DataFrame, ordinal: str,
                 pk_cols: list[str],
                 modes: dict[str, UpdateMode | str] | None = None,
                 seq_col: str = "__seq") -> DataFrame:
    """Resolve ``base`` + a relation of pending upsert batches to one row
    per PK in a SINGLE aggregation — the read-side of the append-only
    hot store (the reference resolves its appended live batches through
    the cuckoo PK index at read, memstore/live_store.go:33-46; here the
    bounded hot set folds in one hash shuffle instead).

    ``pending`` holds every batch at once: ``base``'s columns plus
    ``ordinal`` (the batch's non-negative arrival number) and ``seq_col``
    (long, intra-batch arrival order — materialized at write time), so
    its row order is irrelevant. Equivalent to chaining
    ``apply_upsert_batch`` per batch in ordinal order because every
    mode's merge is associative over arrival order:

      - overwrite: last non-null in (ordinal, seq) order → max_by
      - force:     last value outright                   → max_by
      - add:       sum of non-null contributions         → sum
      - min/max:   running least/greatest skipping null  → min/max

    The base participates at order (-1, 0) — strictly before every
    batch row. One shuffle total, independent of the number of pending
    batches (vs. one join per batch for the iterative chain)."""
    cols = base.columns
    u = base.select(
        *cols, F.lit(-1).cast("long").alias(ordinal),
        F.lit(0).cast("long").alias(seq_col)).unionByName(pending.select(
            *cols, F.col(ordinal).cast("long"), F.col(seq_col).cast("long")))
    order = F.struct(F.col(ordinal), F.col(seq_col))
    aggs: list[Column] = []
    for c in cols:
        if c in pk_cols:
            continue
        mode = _mode(modes, c)
        if mode is UpdateMode.FORCE:
            aggs.append(F.max_by(c, order).alias(c))
        elif mode is UpdateMode.ADD:
            aggs.append(F.sum(c).alias(c))
        elif mode is UpdateMode.MIN:
            aggs.append(F.min(c).alias(c))
        elif mode is UpdateMode.MAX:
            aggs.append(F.max(c).alias(c))
        else:  # OVERWRITE: last non-null in global arrival order
            aggs.append(
                F.max_by(c, F.when(F.col(c).isNotNull(), order)).alias(c))
    if not aggs:  # PK-only table: fold is plain dedupe
        return u.select(*pk_cols).distinct()
    return u.groupBy(*pk_cols).agg(*aggs).select(*cols)


def upsert_merge_oracle_sql(base: str, batch: str, pk: str,
                            columns: dict[str, UpdateMode | str]) -> str:
    """DuckDB rendering of apply_upsert_batch for a single-column PK and an
    already-collapsed batch (one row per PK) — the oracle for correctness
    tests."""
    sel = [f"coalesce(b.{pk}, u.{pk}) AS {pk}"]
    for c, m in columns.items():
        m = UpdateMode(m)
        bc, uc = f"b.{c}", f"u.{c}"
        if m is UpdateMode.FORCE:
            merged = f"CASE WHEN u.__in_u THEN {uc} ELSE {bc} END"
        elif m is UpdateMode.ADD:
            merged = f"CASE WHEN {uc} IS NOT NULL THEN coalesce({bc}, 0) + {uc} ELSE {bc} END"
        elif m is UpdateMode.MIN:
            merged = f"CASE WHEN {uc} IS NOT NULL THEN least({bc}, {uc}) ELSE {bc} END"
        elif m is UpdateMode.MAX:
            merged = f"CASE WHEN {uc} IS NOT NULL THEN greatest({bc}, {uc}) ELSE {bc} END"
        else:
            merged = f"coalesce({uc}, {bc})"
        sel.append(f"CASE WHEN b.__in_b THEN {merged} ELSE {uc} END AS {c}")
    # presence markers + null-safe join: mirrors the Spark merge exactly,
    # including the NULL-PK-as-a-single-key semantics. ``base``/``batch``
    # are table or view names.
    return (f"SELECT {', '.join(sel)} "
            f"FROM (SELECT *, TRUE AS __in_b FROM {base}) b "
            f"FULL OUTER JOIN (SELECT *, TRUE AS __in_u FROM {batch}) u "
            f"ON b.{pk} IS NOT DISTINCT FROM u.{pk}")
