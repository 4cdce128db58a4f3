"""Golden: the reference's archiving-merge fixtures through
merge_archive_batch.

memstore/merge_test.go pins six merge scenarios against golden batch
files (testing/data/batches/*merge*); each fixture stores per-column
vector parties (RLE for sort columns, pruned to nothing for all-default
columns). These tests decode the fixtures to plain row tables and
assert that ``merge_archive_batch`` reproduces the reference's merged
output EXACTLY — values and row order — for:

- the main 4-sort-column merge (merge_test.go:374-416)
- no sort columns ⇒ append, base rows first (:724-741)
- deleted columns: non-sort short-circuited to NULL, sort column data
  kept (:743-760)
- base rows tombstoned by backfill, 4 sort columns (:533-575)
- tombstoned base + a single sort column (:577-650)
- nil base ⇒ merged == sorted patch (:693-722)

Fixture row-decoding note: sort-column vector parties store one entry
per RUN, and all-default vectors are pruned (mode 0/1,
merge_test.go:397-405) — e.g. the 13-row merged batch's column 3 file
holds 8 null run-entries and no counts. Decoding treats any column
whose entries are all NULL as all-NULL over the batch's row count; a
non-null column that can't expand to the row count is a test error.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import REFERENCE_ROOT
from tests.test_reference_backfill import parse_vp

DATA = os.path.join(REFERENCE_ROOT, "testing", "data")
VPS = os.path.join(DATA, "vps")
BATCHES = os.path.join(DATA, "batches")
pytestmark = pytest.mark.usefixtures("reference_root")

# merge_test.go:94-101 — archivingPatch sortColumns {1, 2, 3, 4}
SORT_COLS = ("c1", "c2", "c3", "c4")
# merge_test.go:525-531 — base rows marked deleted in the tombstone cases
DELETED_ROWS = {0, 2, 4}


def read_batch(name: str, n_cols: int | None = None) -> list[tuple]:
    """Decode one batch descriptor (testing/utils.go ReadArchiveBatch)
    to row tuples: parse each listed vector party, expand all-NULL
    pruned/run-encoded columns to the batch row count, pad columns the
    batch doesn't store (missing column ⇒ default NULL) to ``n_cols``,
    transpose."""
    with open(os.path.join(BATCHES, name)) as f:
        vp_names = [line.split("- ", 1)[1].strip()
                    for line in f if line.strip().startswith("- ")]
    cols = [parse_vp(os.path.join(VPS, n)) for n in vp_names]
    n_rows = len(cols[0])  # the time column is always stored per-row
    for i, col in enumerate(cols):
        if len(col) != n_rows:
            assert all(v is None for v in col), vp_names[i]
            cols[i] = [None] * n_rows
    while n_cols is not None and len(cols) < n_cols:
        cols.append([None] * n_rows)
    return [tuple(col[r] for col in cols) for r in range(n_rows)]


def _df(spark, rows: list[tuple], n_cols: int):
    """Rows → DataFrame with c0..c{n-1} plus a batch-local position
    column. Floats ride as double so fixture decimals compare exactly."""
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StructField, StructType)

    # merge_test.go:376-377 column types; c2 is the only float column
    kinds = [LongType(), BooleanType(), DoubleType(),
             BooleanType(), LongType(), BooleanType()][:n_cols]
    schema = StructType(
        [StructField(f"c{i}", t, True) for i, t in enumerate(kinds)]
        + [StructField("__pos", LongType(), False)])
    data = [tuple(r) + (i,) for i, r in enumerate(rows)]
    return spark.createDataFrame(data, schema)


def _merged(spark, base_rows, patch_rows, n_cols, sort_columns,
            deleted_columns=()):
    from aresdb_spark.sources.archive_merge import merge_archive_batch

    base = None if base_rows is None else _df(spark, base_rows, n_cols)
    out = merge_archive_batch(base, _df(spark, patch_rows, n_cols),
                              sort_columns, pos_col="__pos",
                              deleted_columns=deleted_columns)
    return [tuple(r)[:n_cols] for r in out.collect()]


@pytest.fixture(scope="module")
def main_inputs():
    base = read_batch("archiveBatch")
    patch = read_batch("patchBatch0") + read_batch("patchBatch1")
    return base, patch


def test_merge_golden(spark, main_inputs):
    """merge_test.go:374-416 "merge" — 5 base + 8 patch rows → the
    13-row golden, sorted by c1..c4 NULLS FIRST, base first on ties."""
    base, patch = main_inputs
    assert (len(base), len(patch)) == (5, 8)
    got = _merged(spark, base, patch, 6, SORT_COLS)
    assert got == read_batch("mergedBatch")


def test_merge_no_sort_columns(spark):
    """merge_test.go:724-741 — no sort columns ⇒ plain append. The base
    batch stores only its time column; the bool column decodes all-NULL
    via the pruned-vector rule."""
    base = read_batch("no-sort-columns/baseBatch", n_cols=2)
    patch = read_batch("no-sort-columns/patchBatch")
    assert base == [(0, None), (10, None), (20, None), (30, None)]
    got = _merged(spark, base, patch, 2, ())
    assert got == read_batch("no-sort-columns/mergedBatch")


def test_merge_deleted_columns(spark, main_inputs):
    """merge_test.go:743-760 — c2 (a sort column) and c5 (not) both
    deleted: c2's data is still written, c5 comes back all-NULL."""
    base, patch = main_inputs
    got = _merged(spark, base, patch, 6, SORT_COLS,
                  deleted_columns=("c2", "c5"))
    assert got == read_batch("merge-with-deleted-columns/mergedBatch")


def test_merge_deleted_rows(spark, main_inputs):
    """merge_test.go:533-575 — base rows 0/2/4 tombstoned by backfill
    are skipped; the other ten rows merge as usual."""
    base, patch = main_inputs
    kept = [r for i, r in enumerate(base) if i not in DELETED_ROWS]
    got = _merged(spark, kept, patch, 6, SORT_COLS)
    expect = read_batch("merge-with-deleted-rows/mergedBatch")
    assert len(expect) == 10
    assert got == expect


def test_merge_deleted_rows_single_sort_column(spark):
    """merge_test.go:577-650 — two-column batch, sort on c1 only, base
    rows 0/2/4 deleted → the 6-row mergedBatch2 golden (the unsorted
    time column must skip deleted rows too: 10,30,140,150,160,170)."""
    base = read_batch("merge-with-deleted-rows/baseBatch")
    patch = read_batch("merge-with-deleted-rows/patchBatch")
    kept = [r for i, r in enumerate(base) if i not in DELETED_ROWS]
    got = _merged(spark, kept, patch, 2, ("c1",))
    expect = read_batch("merge-with-deleted-rows/mergedBatch2")
    assert [r[0] for r in expect] == [10, 30, 140, 150, 160, 170]
    assert got == expect


def test_merge_array_columns(spark):
    """memstore/merge_arrayvp_test.go — array columns ride through the
    merge as payload. Base keys (1,1)×2,(1,2)×2 carry strVals1, patch
    keys (1,2)×2,(1,3),(2,3) carry strVals2; the merged run-lengths
    {1:7,2:1} / {1:2, 2:4, 3:1, 3:1} with base-before-patch on the (1,2)
    tie put the arrays in exactly strVals1 + strVals2 order
    (mergedVals)."""
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    from aresdb_spark.sources.archive_merge import merge_archive_batch

    schema = StructType([
        StructField("k0", LongType()), StructField("k1", LongType()),
        StructField("arr", ArrayType(IntegerType())),
        StructField("__pos", LongType())])
    base_rows = [(1, 1, [11, 12]), (1, 1, [13, 14]),
                 (1, 2, [15, 16]), (1, 2, [17, 18])]
    patch_rows = [(1, 2, [21, 22]), (1, 2, [23, 24]),
                  (1, 3, [25, 26]), (2, 3, [27, 28])]
    base = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(base_rows)], schema)
    patch = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(patch_rows)], schema)
    out = merge_archive_batch(base, patch, ("k0", "k1"), pos_col="__pos")
    got = [(r["k0"], r["k1"], r["arr"]) for r in out.collect()]
    assert got == [
        (1, 1, [11, 12]), (1, 1, [13, 14]), (1, 2, [15, 16]),
        (1, 2, [17, 18]), (1, 2, [21, 22]), (1, 2, [23, 24]),
        (1, 3, [25, 26]), (2, 3, [27, 28])]


def test_merge_nil_base(spark, main_inputs):
    """merge_test.go:693-722 — nil base: merged is the patch alone in
    sort order."""
    _, patch = main_inputs
    got = _merged(spark, None, patch, 6, SORT_COLS)
    assert got == read_batch("merge-nil-base")
