"""Golden: the reference's own backfill-merge fixtures through the Spark
upsert path.

The reference's backfill job patches an archived batch with late upsert
records (memstore/backfill.go; test: memstore/backfill_test.go "apply
backfill patch should work"). Its fixtures pin the full semantics:

- base archive batch     testing/data/vps/backfill/backfillBase{0..6}
- 4 upsert batches       testing/data/upsert-batches/backfill/upsertBatch{0..3}
- expected patched base  testing/data/vps/backfill/backfillNew{0..6}
- expected spilled rows  testing/data/vps/backfill/backfillTempLiveStore{0..6}
- deleted base rows      {1, 4, 6, 7, 9}  (backfill_test.go:399-400)

The reference SPLITS the result physically: rows whose sort column (or
array size) changed are tombstoned in the base and spilled to a temp
live store; unsorted-column changes patch in place; new PKs append. On
Spark there is no such split — parquet is immutable and the merge is one
full-outer join — so the data-level contract is the LOGICAL final table:

    (backfillNew rows minus the deleted indices) ∪ backfillTempLiveStore

(the two new-PK records appear identically in both physical halves, so
the union is a 12-row set). ``apply_upsert_batch`` over the base with
the four batches applied in fixture order, PK = (c1, c2), default
overwrite-not-null modes, must produce exactly that set — including the
columns each batch omits (absent column ⇒ keep base value / NULL for
new PKs) and the tombstoned column 3, which the reference skips.
"""

from __future__ import annotations

import os

import pytest
from conftest import REFERENCE_ROOT

VPS = os.path.join(REFERENCE_ROOT, "testing", "data", "vps", "backfill")
UBS = os.path.join(REFERENCE_ROOT, "testing", "data", "upsert-batches",
                   "backfill")
pytestmark = pytest.mark.usefixtures("reference_root")

# memstore/backfill_test.go:399-400 — base rows tombstoned by the patch
DELETED_BASE_ROWS = {1, 4, 6, 7, 9}
# backfill_test.go:57-66 — PK columns [1, 2]; column 3 is Deleted
PK_COLS = ["c1", "c2"]
TOMBSTONED = 3
N_COLS = 7


def _strip(line: str) -> str:
    return line.split("#", 1)[0].strip()


def _parse_item(item: str, is_array: bool, dtype: str = "Uint32"):
    def scalar(s: str):
        if s == "null":
            return None
        if dtype == "Bool":
            return s == "true"
        if dtype.startswith("Float"):
            return float(s)
        if dtype == "UUID":
            return s
        return int(s)

    if item == "null":
        return None
    if is_array:
        return [scalar(x) for x in item.split(",")]
    return scalar(item)


def parse_vp(path: str) -> list:
    """Parse one vector-party fixture (testing/utils.go ReadVectorParty
    shape): ``data_type``/``length``/``has_counts`` header + ``values``
    items. Scalar columns with has_counts are run-length encoded as
    ``value,endCount`` pairs; array columns list one ``a,b,c`` (or null)
    item per row."""
    header: dict[str, str] = {}
    items: list[str] = []
    in_values = False
    with open(path) as f:
        for raw in f:
            line = _strip(raw)
            if not line:
                continue
            if line.startswith("- "):
                if in_values:
                    items.append(line[2:].strip())
                continue
            key, _, val = line.partition(":")
            key, val = key.strip(), val.strip()
            if key == "values":
                in_values = True
            else:
                header[key] = val
    length = int(header["length"])
    dtype = header["data_type"]
    is_array = dtype.endswith("[]")
    if is_array:
        dtype = dtype[:-2]
    has_counts = header.get("has_counts") == "true"
    assert len(items) == length, path  # length counts STORED entries
    if not is_array and has_counts:
        # run-length encoded scalars: value,endCount pairs; the logical
        # row count is the final end count
        out: list = []
        prev = 0
        for it in items:
            v, end = it.rsplit(",", 1)
            out.extend([_parse_item(v, False, dtype)] * (int(end) - prev))
            prev = int(end)
        return out
    return [_parse_item(it, is_array, dtype) for it in items]


def parse_batch_rows(name: str) -> tuple[list[dict], list[int]]:
    """Parse one upsert-batch fixture (testing/utils.go ReadUpsertBatch):
    a ``columns`` section of (column_id, data_type) followed by
    semicolon-separated ``rows``. Returns (rows-as-dicts, column_ids)."""
    col_ids: list[int] = []
    col_types: list[str] = []
    rows: list[dict] = []
    section = None
    with open(os.path.join(UBS, name)) as f:
        for raw in f:
            line = _strip(raw)
            if not line:
                continue
            if line.startswith("columns:"):
                section = "columns"
                continue
            if line.startswith("rows:"):
                section = "rows"
                continue
            if section == "columns":
                if line.startswith("- column_id:"):
                    col_ids.append(int(line.rsplit(":", 1)[1]))
                elif line.startswith("data_type:"):
                    col_types.append(line.split(":", 1)[1].strip())
            elif section == "rows" and line.startswith("- "):
                fields = line[2:].split(";")
                assert len(fields) == len(col_ids), name
                row = {}
                for cid, typ, fld in zip(col_ids, col_types, fields):
                    if cid == TOMBSTONED:
                        continue  # deleted column: reference skips it
                    row[f"c{cid}"] = _parse_item(
                        fld.strip(), typ.endswith("[]"))
                rows.append(row)
    return rows, [c for c in col_ids if c != TOMBSTONED]


def _columns_to_rows(prefix: str) -> list[tuple]:
    """Assemble (c0..c6 minus tombstoned) row tuples from the per-column
    vp fixtures; a zero/absent column contributes all-NULLs."""
    cols: dict[int, list] = {}
    n = 0
    for i in range(N_COLS):
        if i == TOMBSTONED:
            continue
        path = os.path.join(VPS, f"{prefix}{i}")
        vals = parse_vp(path) if os.path.exists(path) else []
        cols[i] = vals
        n = max(n, len(vals))
    out = []
    for r in range(n):
        out.append(tuple(
            (cols[i][r] if r < len(cols[i]) else None)
            for i in range(N_COLS) if i != TOMBSTONED))
    return out


def _schema():
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)
    fields = [StructField(f"c{i}", LongType(), True)
              for i in range(N_COLS) if i != TOMBSTONED and i != 6]
    fields.append(StructField("c6", ArrayType(IntegerType()), True))
    return StructType(fields)


def _norm(rows) -> list[tuple]:
    def k(r):
        return tuple(str(v) for v in r)
    return sorted((tuple(r) for r in rows), key=k)


def test_reference_backfill_merge_golden(spark):
    from aresdb_spark.streaming.upsert import apply_upsert_batch

    base = spark.createDataFrame(_columns_to_rows("backfillBase"), _schema())

    merged = base
    for b in range(4):
        rows, col_ids = parse_batch_rows(f"upsertBatch{b}")
        cols = [f"c{c}" for c in col_ids]
        batch = spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in rows],
            schema=",".join(
                f"{c} array<int>" if c == "c6" else f"{c} long"
                for c in cols))
        merged = apply_upsert_batch(merged, batch, PK_COLS)

    # the merge emits PK columns first; restore fixture column order
    got = _norm(tuple(r) for r in merged.select(*base.columns).collect())

    def hashable(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    new_rows = _columns_to_rows("backfillNew")
    tls_rows = _columns_to_rows("backfillTempLiveStore")
    expected_set = ({hashable(r) for i, r in enumerate(new_rows)
                     if i not in DELETED_BASE_ROWS}
                    | {hashable(r) for r in tls_rows})
    expected = _norm(
        tuple(list(v) if isinstance(v, tuple) else v for v in r)
        for r in expected_set)

    assert len(expected) == 12  # 10 base - 5 deleted + 5 spilled + 2 new
    assert got == expected
