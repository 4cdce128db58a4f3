"""Golden: the reference's archiving fixtures through this repo's
archive path.

memstore/archiving_test.go pins the archiving job's three stages against
shipped fixture batches (testing/data/batches/archiving,
testing/data/vps/archiving):

- patch SELECTION: snapshot-visible live rows with event time in
  [oldCutoff=100, cutoff=140) — golden recordIDs at :168-186
- patch SORT: order by sort columns [1, 2] with NULLS FIRST — golden
  order with value comments at :199-216
- MERGE into the sorted archive base — merged batch of 12 rows, time
  column all-present, row 11's Int16[] first element == 21 (:219-301)
- null event times: rows with a NULL time column are NOT archived
  (golden at :316-363, batch-120; archiving.go:150-165
  allowMissingEventTime)

The live-store snapshot rule replayed here (liveStoreSnapshot,
memstore/archiving.go:33-60): batches ascending by batch ID, batches
beyond LastReadRecord.BatchID invisible, the last batch truncated to
LastReadRecord.Index rows — the test scenario has LastReadRecord
{BatchID: -101, Index: 3} over live batches {-110 (capacity 5),
-101, -99}, so batch-99 is invisible and batch-101 contributes 3 rows.

The reference only spot-checks the merged batch (length, one array
cell); the FULL 12-row expected table below is derived by hand from the
fixture values under the pinned semantics (sort-key merge, NULLS FIRST,
base before patch on ties — established exactly by the merge goldens in
test_reference_merge.py) and the derivation is confirmed by the
reference's own row-11 assertion landing on the same row.
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

# archiving_test.go:44-45
CUTOFF, OLD_CUTOFF = 140, 100
# archiving_test.go:64 ArchivingSortColumns []int{1, 2}
SORT_COLS = ("c1", "c2")


def read_batch(name: str) -> list[tuple]:
    """Decode one live/archive batch descriptor to row tuples (5 columns:
    Uint32 time, Bool, Float32, Int16[], UUID[])."""
    with open(os.path.join(BATCHES, "archiving", name)) as f:
        vp_names = [line.split("- ", 1)[1].strip()
                    for line in f if line.strip().startswith("- ")]
    cols = [parse_vp(os.path.join(VPS, n)) for n in vp_names]
    n_rows = max(len(c) for c in cols)
    for i, col in enumerate(cols):
        if len(col) != n_rows:
            assert all(v is None for v in col), vp_names[i]
            cols[i] = [None] * n_rows
    return [tuple(col[r] for col in cols) for r in range(n_rows)]


def snapshot_visible() -> list[list[tuple]]:
    """The test's live-store snapshot: LastReadRecord {-101, 3} over
    batches {-110: capacity 5, -101, -99} (archiving_test.go:101-127) —
    ascending batch order [-110, -101], batch-110 clipped to its
    capacity, batch-101 to 3 rows, batch-99 invisible."""
    return [read_batch("batch-110")[:5], read_batch("batch-101")[:3]]


def select_patch(batches: list[list[tuple]],
                 cutoff: int = CUTOFF,
                 old_cutoff: int = OLD_CUTOFF) -> list[tuple]:
    """createArchivingPatches' row predicate (archiving.go:150-175):
    oldCutoff <= eventTime < cutoff; NULL event times never archive."""
    return [(b, r) for b, rows in enumerate(batches)
            for r, row in enumerate(rows)
            if row[0] is not None and old_cutoff <= row[0] < cutoff]


def _df(spark, rows: list[tuple]):
    """Row tuples -> DataFrame c0..c4 + a batch-local __pos column.
    Floats ride as double so fixture decimals compare exactly."""
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   LongType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("c0", LongType(), True),
        StructField("c1", BooleanType(), True),
        StructField("c2", DoubleType(), True),
        StructField("c3", ArrayType(LongType(), True), True),
        StructField("c4", ArrayType(StringType(), True), True),
        StructField("__pos", LongType(), False),
    ])
    return spark.createDataFrame(
        [tuple(r) + (i,) for i, r in enumerate(rows)], schema)


def test_patch_selection_golden():
    """archiving_test.go:168-186 — the 7 selected recordIDs."""
    assert select_patch(snapshot_visible()) == [
        (0, 1), (0, 2), (0, 3), (0, 4),
        (1, 0), (1, 1), (1, 2),
    ]


def test_patch_sort_golden(spark):
    """archiving_test.go:199-216 — sorted by (c1, c2) NULLS FIRST."""
    from pyspark.sql import functions as F

    batches = snapshot_visible()
    ids = select_patch(batches)
    rows = [(b, r) + batches[b][r] for b, r in ids]
    df = spark.createDataFrame(
        rows, "b long, r long, c0 long, c1 boolean, c2 double, "
              "c3 array<long>, c4 array<string>")
    got = [(x.b, x.r) for x in df.orderBy(
        F.asc_nulls_first("c1"), F.asc_nulls_first("c2")).collect()]
    assert got == [
        (0, 3),  # null, 1.2
        (1, 0),  # false, null
        (0, 1),  # false, 1.0
        (1, 2),  # false, 1.2
        (0, 4),  # false, 1.3
        (0, 2),  # true, null
        (1, 1),  # true, 1.1
    ]


def test_archive_merge_golden(spark):
    """archiving_test.go:219-301 — merge the sorted patch into
    archiveBatch0; full 12-row expected table (reference asserts length
    12, time all-present, and merged row 11's c3[0] == 21)."""
    from pyspark.sql import functions as F

    from aresdb_spark.sources.archive_merge import merge_archive_batch

    base_rows = read_batch("archiveBatch0")
    batches = snapshot_visible()
    patch_rows = [batches[b][r] for b, r in select_patch(batches)]
    # the patch arrives at the merge already sorted (archiving.go sorts
    # the patch before merging; test_patch_sort_golden pins that order)
    patch_sorted = sorted(
        patch_rows,
        key=lambda r: ((r[1] is not None, r[1]), (r[2] is not None, r[2])))
    merged = merge_archive_batch(
        _df(spark, base_rows), _df(spark, patch_sorted),
        sort_columns=SORT_COLS, pos_col="__pos").drop("__pos")
    got = [tuple(r) for r in merged.collect()]

    U = "-0000-0000-"
    expected = [
        # time, bool, float, int16[], uuid[]   (base rows b0..b4,
        # patch rows p{batch,row} in sorted-patch order)
        (0, None, None, [311, 312],
         [f"03000000{U}0100-000000000000", f"03000000{U}0200-000000000000"]),
        (10, None, 1.1, [421, None],
         [f"04000000{U}0100-000000000000", None]),
        (20, None, 1.2, [531], [f"05000000{U}0100-000000000000"]),
        (120, None, 1.2, [131, 132, 143],                      # p(0,3)
         [f"13000000{U}0100-000000000000", f"13000000{U}0200-000000000000",
          f"14000000{U}0300-000000000000"]),
        (100, False, None, [11, 12, 13],                       # p(1,0)
         [f"01000000{U}0100-000000000000", f"01000000{U}0200-000000000000",
          f"01000000{U}0300-000000000000"]),
        (100, False, 1.0, [None, 121],                         # p(0,1)
         [None, f"12000000{U}0100-000000000000"]),
        (120, False, 1.2, None, None),                         # p(1,2)
        (30, False, 1.3, [None, 541],                          # b3
         [None, f"06000000{U}0100-000000000000"]),
        (130, False, 1.3, [141, 142, 143],                     # p(0,4)
         [f"14000000{U}0100-000000000000", f"14000000{U}0200-000000000000",
          f"14000000{U}0300-000000000000"]),
        (40, True, None, None, None),                          # b4
        (110, True, None, None, None),                         # p(0,2)
        (110, True, 1.1, [21, None],                           # p(1,1)
         [f"02000000{U}0100-000000000000", None]),
    ]
    assert got == expected
    # the reference's own spot assertions, verbatim
    assert len(got) == 12
    assert all(r[0] is not None for r in got)      # time AllValuesPresent
    assert got[11][3][0] == 21                     # arrayColumn row 11


def test_patch_excludes_null_event_time():
    """archiving_test.go:316-363 — batch-120's time column (vp14) holds
    NULLs at rows 3-4; those rows never enter an archiving patch."""
    batches = [read_batch("batch-120")[:6], read_batch("batch-110")[:6]]
    got = select_patch(batches)
    assert got == [(0, 1), (0, 2), (1, 1), (1, 2), (1, 3), (1, 4)]
    # and the null-time rows are exactly the ones missing
    assert batches[0][3][0] is None and batches[0][4][0] is None


def test_store_archive_preserves_null_event_time(spark, tmp_path):
    """Regression at the store surface: with allow_missing_event_time,
    NULL-time rows survive an archive() cutoff advance in the HOT store
    (previously they matched neither side's filter and were deleted)."""
    from datetime import datetime

    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(str(tmp_path / "t"), time_column="ts",
                         primary_key=["id"], allow_missing_event_time=True)
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1.0), (2, datetime(2024, 1, 5), 2.0),
         (3, None, 3.0)],
        "id int, ts timestamp, v double")
    store.init_from(df, cutoff=datetime(2024, 1, 3))
    assert store.read(spark, datetime(2024, 1, 3)).count() == 3

    store.archive(spark, datetime(2024, 1, 6))
    hot = {r.id for r in store.read_hot(spark).collect()}
    assert 3 in hot                      # null-time row stayed live
    view = store.read(spark, datetime(2024, 1, 6))
    assert {r.id for r in view.collect()} == {1, 2, 3}


def test_ingest_rejects_null_event_time_by_default(spark, tmp_path):
    """ingestion.go:228-230 — a NULL event time on a table without
    allowMissingEventTime rejects the batch."""
    from datetime import datetime

    from aresdb_spark.sources.hotcold import (HotColdStore,
                                              MissingEventTimeError)

    store = HotColdStore(str(tmp_path / "t"), time_column="ts",
                         primary_key=["id"])
    base = spark.createDataFrame([(1, datetime(2024, 1, 1), 1.0)],
                                 "id int, ts timestamp, v double")
    store.init_from(base, cutoff=datetime(2024, 1, 1))
    bad = spark.createDataFrame([(2, None, 2.0)],
                                "id int, ts timestamp, v double")
    with pytest.raises(MissingEventTimeError, match="ts.*null"):
        store.ingest(spark, bad, cutoff=datetime(2024, 1, 1))

    allowed = HotColdStore(str(tmp_path / "t2"), time_column="ts",
                           primary_key=["id"],
                           allow_missing_event_time=True)
    allowed.init_from(base, cutoff=datetime(2024, 1, 1))
    allowed.ingest(spark, bad, cutoff=datetime(2024, 1, 1))
    assert {r.id for r in allowed.read_hot(spark).collect()} == {1, 2}


def test_archive_expires_null_time_rows_by_arrival(spark, tmp_path):
    """getBatchIDsToPurge (archiving.go:145-171): with
    allowMissingEventTime, a live batch whose rows are all below the
    cutoff is purged only once its max ARRIVAL time is also below the
    cutoff ("purge live batch with missing event time" golden,
    archiving_test.go:366-395). Row-level analog: archive() with an
    arrival column drops null-time rows whose arrival expired, keeps
    the rest."""
    from datetime import datetime

    from aresdb_spark.sources.hotcold import HotColdStore

    store = HotColdStore(str(tmp_path / "t"), time_column="ts",
                         primary_key=["id"], allow_missing_event_time=True)
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 1), 1.0),
         (2, None, datetime(2024, 1, 2), 2.0),    # arrival < new cutoff
         (3, None, datetime(2024, 1, 7), 3.0)],   # arrival >= new cutoff
        "id int, ts timestamp, arrival timestamp, v double")
    store.init_from(df, cutoff=datetime(2024, 1, 3))

    store.archive(spark, datetime(2024, 1, 6), arrival_column="arrival")
    hot = {r.id for r in store.read_hot(spark).collect()}
    assert hot == {3}                       # expired null-time row gone
    view = {r.id for r in store.read(spark, datetime(2024, 1, 6)).collect()}
    assert view == {1, 3}

    # cutoff passes the last arrival: the remaining null-time row expires
    # even though nothing new archives
    store.archive(spark, datetime(2024, 1, 8), arrival_column="arrival")
    assert store.read_hot(spark).count() == 0
