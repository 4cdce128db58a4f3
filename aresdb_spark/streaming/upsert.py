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

from aresdb_spark.operators.util import ident


class UpdateMode(str, Enum):
    OVERWRITE = "overwrite"   # UpdateOverwriteNotNull (default)
    FORCE = "force"           # UpdateForceOverwrite
    ADD = "add"               # UpdateWithAddition
    MIN = "min"               # UpdateWithMin
    MAX = "max"               # UpdateWithMax


def pk_match(left: str, right: str, pk_cols: list[str]) -> Column:
    """Join condition: the PK columns of aliases ``left`` and ``right``
    are equal NULL-safely — a NULL PK is a legal (single) key."""
    return F.expr(" AND ".join(f"{left}.{ident(k)} <=> {right}.{ident(k)}"
                               for k in pk_cols))


def _mode(modes: dict[str, UpdateMode | str] | None, col: str) -> UpdateMode:
    m = (modes or {}).get(col, UpdateMode.OVERWRITE)
    return UpdateMode(m)


# Spark-SQL text of each mode, over column ``{c}``: the aggregate that
# folds it in arrival order ``{o}`` (collapse_batch, fold_upserts), and
# the merge of base value ``{b}`` with update value ``{u}`` for a PK in
# both (apply_upsert_batch).
_FOLD = {
    UpdateMode.OVERWRITE: "max_by({c}, CASE WHEN {c} IS NOT NULL THEN {o} END)",
    UpdateMode.FORCE: "max_by({c}, {o})",   # last value outright
    UpdateMode.ADD: "sum({c})",             # sum of non-null contributions
    UpdateMode.MIN: "min({c})",             # min/max skip nulls
    UpdateMode.MAX: "max({c})",
}
_MERGE = {
    UpdateMode.OVERWRITE: "coalesce({u}, {b})",
    UpdateMode.FORCE: "CASE WHEN u.__in_u IS NOT NULL THEN {u} ELSE {b} END",
    # existing null → 0 (reference treats missing as 0); new null → keep
    UpdateMode.ADD:
        "CASE WHEN {u} IS NOT NULL THEN coalesce({b}, 0) + {u} ELSE {b} END",
    # least()/greatest() skip nulls: existing null loses (ref: null = MAX_INT)
    UpdateMode.MIN:
        "CASE WHEN {u} IS NOT NULL THEN least({b}, {u}) ELSE {b} END",
    UpdateMode.MAX:
        "CASE WHEN {u} IS NOT NULL THEN greatest({b}, {u}) ELSE {b} END",
}


def _fold_aggs(cols, modes, order: str) -> list[Column]:
    """One folding aggregate per column of ``cols``, aliased to it."""
    return [F.expr(f"{_FOLD[_mode(modes, c)].format(c=ident(c), o=order)} "
                   f"AS {ident(c)}") for c in cols]


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
    b = batch if seq_col else batch.withColumn(
        seq, F.expr("monotonically_increasing_id()"))
    aggs = _fold_aggs([c for c in batch.columns
                       if c not in pk_cols and c != seq_col], modes, ident(seq))
    if seq_col:
        aggs.append(F.expr(f"max({ident(seq)}) AS {ident(seq_col)}"))
    if not aggs:
        # a PK-only table: nothing to fold, collapsing is just dedupe
        return b.selectExpr(*map(ident, pk_cols)).distinct()
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
    b = base.selectExpr("*", "TRUE AS __in_b").alias("b")
    u = upd.selectExpr("*", "TRUE AS __in_u").alias("u")
    joined = b.join(u, pk_match("b", "u", pk_cols), "full_outer")
    upd_cols = set(upd.columns)
    out = [f"coalesce(b.{ident(k)}, u.{ident(k)}) AS {ident(k)}"
           for k in pk_cols]
    for c in base.columns:
        if c in pk_cols:
            continue
        uc = f"u.{ident(c)}" if c in upd_cols else "NULL"
        merged = _MERGE[_mode(modes, c)].format(b=f"b.{ident(c)}", u=uc)
        # rows only present in the update keep the update value outright
        out.append(f"CASE WHEN b.__in_b IS NOT NULL THEN {merged} "
                   f"ELSE {uc} END AS {ident(c)}")
    return joined.selectExpr(*out)


def fold_upserts(base: DataFrame, pending: DataFrame, ordinal: str,
                 pk_cols: list[str],
                 modes: dict[str, UpdateMode | str] | None = None,
                 seq_col: str = "__seq") -> DataFrame:
    """Resolve ``base`` + a relation of pending upsert batches to one row
    per PK in a SINGLE aggregation — the read-side of the append-only
    hot store (the reference resolves its appended live batches through
    the cuckoo PK index at read, memstore/live_store.go:33-46; here the
    bounded hot set folds in one hash shuffle instead).

    ``pending`` holds every batch at once: exactly ``base``'s columns
    plus ``ordinal`` (long, the batch's non-negative arrival number) and
    ``seq_col`` (long, intra-batch arrival order — materialized at write
    time), so its row order is irrelevant; it unions by name as is. Equivalent to chaining
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
    q = [ident(c) for c in cols]
    o, s = ident(ordinal), ident(seq_col)
    u = base.selectExpr(
        *q, f"CAST(-1 AS BIGINT) AS {o}", f"CAST(0 AS BIGINT) AS {s}"
    ).unionByName(pending)
    aggs = _fold_aggs([c for c in cols if c not in pk_cols], modes,
                      f"struct({o}, {s})")
    if not aggs:  # PK-only table: fold is plain dedupe
        return u.selectExpr(*map(ident, pk_cols)).distinct()
    return u.groupBy(*pk_cols).agg(*aggs).selectExpr(*q)


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
