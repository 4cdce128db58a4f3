"""Golden: the reference's own ProcessQuery fixture scenario
(query/aql_processor_test.go:1047-1090 "ProcessQuery should work").

The reference assembles a shard from its batch fixtures — archive batch
archiveBatch0 below the archiving cutoff (100), live batches -110 and
-101 above it — and pins the exact result of a minute-bucket count over
[1970-01-01, 1970-01-02):

    {"0": 5, "60000": 4, "120000": 3}

Scan-time visibility decodes to: all 5 archive rows (c0 = 0..40), live
batch -110 up to its capacity of 5 with the cutoff filter dropping
c0=90 (visible: 100,110,120,130), and live batch -101 up to
LastReadRecord index 3 (100,110,120). Running the same AQL query
(minute bucketizer, timeUnit=millisecond, count(c1) — a ROW count even
though c1 is null on several of those rows) over a HotColdStore holding
those rows must produce the reference's exact JSON result.

The c0=90 row is the one semantic difference worth pinning: in the
reference it sits in the live store awaiting the asynchronous backfill
job, invisible to the scan; this engine backfills at ingest time, so
the same row becomes visible immediately — the post-convergence state
the reference reaches after its backfill runs. Asserted explicitly."""

import os
from datetime import datetime, timezone

import pytest

from tests.conftest import REFERENCE_ROOT
from tests.test_reference_backfill import parse_vp

VPS = os.path.join(REFERENCE_ROOT, "testing", "data", "vps", "archiving")
pytestmark = pytest.mark.usefixtures("reference_root")

CUTOFF_EPOCH = 100        # aql_processor_test.go:222 ArchivingCutoff
LIVE_110_CAPACITY = 5     # :200 Capacity
LIVE_101_LAST_READ = 3    # :193 LastReadRecord{BatchID: -101, Index: 3}


def _rows(*vp_names, limit=None):
    cols = [parse_vp(os.path.join(VPS, n)) for n in vp_names]
    n = min(len(c) for c in cols)
    if limit is not None:
        n = min(n, limit)
    return [tuple(c[i] for c in cols) for i in range(n)]


def _query(spark, catalog):
    from aresdb_spark.aql.api import execute_query

    return execute_query(spark, catalog, {
        "table": "table1",
        "measures": [{"alias": "value", "sqlExpression": "count(c1)"}],
        "dimensions": [{"alias": "t", "sqlExpression": "c0",
                        "timeBucketizer": "m",
                        "timeUnit": "millisecond"}],
        "timeFilter": {"column": "c0", "from": "1970-01-01",
                       "to": "1970-01-02"}})


def _make_store(spark, path, rows):
    from aresdb_spark.sources.hotcold import HotColdStore

    def to_ts(r):
        return (datetime.fromtimestamp(r[0], tz=timezone.utc)
                .replace(tzinfo=None), r[1], r[2])

    store = HotColdStore(path=str(path), time_column="c0",
                         primary_key=("c0",))
    store.init_from(
        spark.createDataFrame([to_ts(r) for r in rows],
                              "c0 timestamp, c1 boolean, c2 float"),
        cutoff=datetime.fromtimestamp(CUTOFF_EPOCH, tz=timezone.utc))
    return store


def test_reference_process_query_golden(spark, tmp_path):
    from aresdb_spark.catalog import Catalog, TableDef

    archive = _rows("sortedVP0", "sortedVP1", "sortedVP2")
    live110 = _rows("vp10", "vp11", "vp12", limit=LIVE_110_CAPACITY)
    live101 = _rows("vp00", "vp01", "vp02", limit=LIVE_101_LAST_READ)
    assert [r[0] for r in archive] == [0, 10, 20, 30, 40]
    assert [r[0] for r in live110] == [90, 100, 110, 120, 130]
    assert [r[0] for r in live101] == [100, 110, 120]

    # the rows the reference's scan SEES: its live iteration starts at
    # the cutoff, so the c0=90 row (pending backfill) is invisible
    visible = archive + [r for r in live110 if r[0] >= CUTOFF_EPOCH] \
        + live101
    store = _make_store(spark, tmp_path / "table1", visible)
    catalog = Catalog(str(tmp_path), tables={
        "table1": TableDef("table1", is_fact=True, time_column="c0",
                           primary_key=("c0",), hotcold=True)})
    res = _query(spark, catalog)
    # aql_processor_test.go:1082-1086 — byte-for-byte the reference's
    # result map (minute buckets rendered in milliseconds)
    assert res == {"0": 5, "60000": 4, "120000": 3}
    # several counted rows have null c1 (vp11/sortedVP1) — count(c1)
    # must be a row count for the 5/4/3 split to hold
    assert sum(1 for r in visible if r[1] is None) >= 4


def test_backfill_row_becomes_visible_at_ingest(spark, tmp_path):
    """The same scenario INCLUDING the pre-cutoff live row (c0=90): the
    reference hides it until its asynchronous backfill job runs; this
    engine routes it to the cold store at ingest, so the result is the
    reference's POST-backfill converged state — one more row in the
    second minute bucket."""
    from aresdb_spark.catalog import Catalog, TableDef

    archive = _rows("sortedVP0", "sortedVP1", "sortedVP2")
    live110 = _rows("vp10", "vp11", "vp12", limit=LIVE_110_CAPACITY)
    live101 = _rows("vp00", "vp01", "vp02", limit=LIVE_101_LAST_READ)
    store = _make_store(spark, tmp_path / "table1",
                        archive + live110 + live101)
    # init_from split the backfill row to the cold side
    cold = sorted(int(r["c0"].replace(tzinfo=timezone.utc).timestamp())
                  for r in store.read_cold(spark).collect())
    assert cold == [0, 10, 20, 30, 40, 90]

    catalog = Catalog(str(tmp_path), tables={
        "table1": TableDef("table1", is_fact=True, time_column="c0",
                           primary_key=("c0",), hotcold=True)})
    assert _query(spark, catalog) == {"0": 5, "60000": 5, "120000": 3}


def test_reference_nonagg_matrix_golden(spark, tmp_path):
    """The non-agg projection golden (aql_processor_test.go:2130-2192):
    SELECT c0, c1, c2 over the same fixture rows, every cell a string —
    bools as "0"/"1", float32s shortest-round-trip ("1.2", "1"), nulls
    as "NULL", the raw epoch for the unbucketized time column. The
    reference's matrixData order is its physical scan order (live
    batches then archive); row ORDER is not part of this engine's
    contract, so the comparison is a multiset."""
    from aresdb_spark.aql.api import execute_query
    from aresdb_spark.catalog import Catalog, TableDef

    archive = _rows("sortedVP0", "sortedVP1", "sortedVP2")
    live110 = _rows("vp10", "vp11", "vp12", limit=LIVE_110_CAPACITY)
    live101 = _rows("vp00", "vp01", "vp02", limit=LIVE_101_LAST_READ)
    visible = archive + [r for r in live110 if r[0] >= CUTOFF_EPOCH] \
        + live101
    _make_store(spark, tmp_path / "table1", visible)
    catalog = Catalog(str(tmp_path), tables={
        "table1": TableDef("table1", is_fact=True, time_column="c0",
                           primary_key=("c0",), hotcold=True)})

    res = execute_query(spark, catalog, {
        "table": "table1",
        "measures": [{"sqlExpression": "1"}],
        "dimensions": [{"alias": "c0", "sqlExpression": "c0"},
                       {"alias": "c1", "sqlExpression": "c1"},
                       {"alias": "c2", "sqlExpression": "c2"}],
        "timeFilter": {"column": "c0", "from": "1970-01-01",
                       "to": "1970-01-02"},
        "limit": 20})
    assert res["headers"] == ["c0", "c1", "c2"]
    expected = [  # aql_processor_test.go:2175-2191, as a multiset
        ["100", "0", "1"], ["110", "1", "NULL"], ["120", "NULL", "1.2"],
        ["130", "0", "1.3"], ["100", "0", "NULL"], ["110", "1", "1.1"],
        ["120", "0", "1.2"], ["0", "NULL", "NULL"], ["10", "NULL", "1.1"],
        ["20", "NULL", "1.2"], ["30", "0", "1.3"], ["40", "1", "NULL"],
    ]
    assert sorted(map(tuple, res["matrixData"])) == \
        sorted(map(tuple, expected))


def test_reference_timezone_column_golden(spark, tmp_path):
    """The timezone-column ProcessQuery golden
    (aql_processor_test.go:1126-1293): main table = live/batch-130
    (c0 = archiving/vp10 clipped to capacity 5, city_id =
    archiving/vp00), timezone table = live/batch-120 (id =
    archiving/vp00, timezone enum = archiving/vp13 over ReverseDict
    ["Africa/Algiers", "", ""]), query = 3m buckets in
    timezone(city_id), count(*). Reference result: {"0": 4, "3600": 1}.

    DOCUMENTED DEVIATION (in this engine's favor): the reference builds
    its offset lookup ONCE with each zone's offset at time.Now()
    (aql_processor.go:487-497 `time.Now().In(loc).Zone()`), so 1970
    event times get TODAY's Algiers offset (+01:00; Algeria has been
    CET since 1981). This engine converts at the event's own timestamp
    (Algiers was UTC+0 in Jan 1970), giving {"0": 5}. Both are pinned:
    the engine's history-correct result directly, and the reference's
    byte-exact golden by materializing its fixed-offset lookup rule
    into the timezone table (exactly what prepareTimezoneTable does).
    The blank enum cases ("" → UTC, Go LoadLocation("")) ride through
    the planner's blank-is-UTC rule either way."""
    from datetime import datetime as _dt
    from datetime import timezone as _tz
    from zoneinfo import ZoneInfo

    from aresdb_spark.aql.api import execute_query
    from aresdb_spark.catalog import Catalog, TableDef

    REVERSE_DICT = ["Africa/Algiers", "", ""]  # :1171 EnumDicts

    facts = _rows("vp10", "vp00", limit=5)     # batch-130, capacity 5
    assert [r[0] for r in facts] == [90, 100, 110, 120, 130]
    tz_rows = _rows("vp00", "vp13")            # batch-120
    assert [r[1] for r in tz_rows] == [0, 1, 2, 3, 1]

    def tz_name(enum_id):
        # enum id 3 is out of the 3-entry ReverseDict ⇒ no case ⇒ NULL
        return (REVERSE_DICT[enum_id]
                if enum_id < len(REVERSE_DICT) else None)

    def write_tables(root, zone_of):
        spark.createDataFrame(
            [( _dt.fromtimestamp(r[0], tz=_tz.utc).replace(tzinfo=None),
               r[1]) for r in facts],
            "c0 timestamp, city_id long"
        ).write.mode("overwrite").parquet(f"{root}/table1.parquet")
        spark.createDataFrame(
            [(r[0], zone_of(r[1])) for r in tz_rows],
            "id long, timezone string"
        ).write.mode("overwrite").parquet(f"{root}/timezones.parquet")
        return Catalog(str(root), tables={
            "table1": TableDef("table1", is_fact=True, time_column="c0",
                               primary_key=("c0",)),
            "timezones": TableDef("timezones", primary_key=("id",)),
        })

    def run(catalog):
        return execute_query(spark, catalog, {
            "table": "table1",
            "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
            "dimensions": [{"alias": "t", "sqlExpression": "c0",
                            "timeBucketizer": "3m", "timeUnit": "second"}],
            "timeFilter": {"column": "c0", "from": "1970-01-01",
                           "to": "1970-01-02"},
            "timezone": "timezone(city_id)"})

    # 1) this engine: offsets at the EVENT's timestamp — Algiers was
    # UTC+0 in Jan 1970, so every row lands in bucket 0
    d1 = tmp_path / "historic"
    assert run(write_tables(d1, tz_name)) == {"0": 5}

    # 2) the reference's rule: one fixed offset per zone, taken NOW —
    # materialize it (prepareTimezoneTable's int16 lookup) and the
    # byte-exact reference golden falls out
    def fixed_offset_zone(enum_id):
        name = tz_name(enum_id)
        if not name:            # NULL / "" ⇒ UTC, offset 0
            return None
        off = _dt.now(ZoneInfo(name)).utcoffset()
        total = int(off.total_seconds())
        sign = "+" if total >= 0 else "-"
        h, m = divmod(abs(total) // 60, 60)
        return f"GMT{sign}{h:02d}:{m:02d}"

    d2 = tmp_path / "reference_rule"
    assert run(write_tables(d2, fixed_offset_zone)) == {"0": 4, "3600": 1}


def test_reference_no_regular_filters_golden(spark, tmp_path):
    """aql_processor_test.go:2327-2359 "ProcessQuery should work for
    query without regular filters": archiveBatch1 (same five archive
    times via the RLE'd sortedVP00) + the live batches, a CONSTANT
    dimension "0" and count(*) — the whole visible set lands in one
    group: {"0": 12}."""
    from aresdb_spark.aql.api import execute_query
    from aresdb_spark.catalog import Catalog, TableDef

    archive = _rows("sortedVP00", "sortedVP1", "sortedVP2")
    assert [r[0] for r in archive] == [0, 10, 20, 30, 40]
    live110 = _rows("vp10", "vp11", "vp12", limit=LIVE_110_CAPACITY)
    live101 = _rows("vp00", "vp01", "vp02", limit=LIVE_101_LAST_READ)
    visible = archive + [r for r in live110 if r[0] >= CUTOFF_EPOCH] \
        + live101
    assert len(visible) == 12
    store = _make_store(spark, tmp_path / "table1", visible)
    catalog = Catalog(str(tmp_path), tables={
        "table1": TableDef("table1", is_fact=True, time_column="c0",
                           primary_key=("c0",), hotcold=True)})
    res = execute_query(spark, catalog, {
        "table": "table1",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
        "dimensions": [{"alias": "d", "sqlExpression": "0"}],
        "timeFilter": {"column": "c0", "from": "1970-01-01",
                       "to": "1970-01-02"}})
    assert res == {"0": 12}
