"""UTC day-key discipline under non-UTC writer sessions (ADVICE r10 #1/#2).

The cold store's day keys are derived with ``date_format`` — a
session-timezone-dependent rendering — while ``read_cold``'s engine-side
day-list pruning compares committed keys against UTC day strings
(``operators.util.utc_naive``). catalog.load pins UTC on reads, but before r10 the
mutation paths never did: a writer session in, say, America/Los_Angeles
committed LOCAL-tz day keys, so UTC pruning (and the touched/moved-day
probes in ``_cold_upsert``) silently missed rows. ``_utc_session`` now
pins UTC for the scope of every HotColdStore mutation.
"""

from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pytest


@contextmanager
def _session_tz(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _utc(y, m, d, h=0):
    return datetime(y, m, d, h, tzinfo=timezone.utc)


def test_day_keys_are_utc_under_non_utc_writer_session(spark, tmp_path):
    from aresdb_spark.sources.hotcold import HotColdStore

    # instant 2024-01-02T02:00Z renders as 2024-01-01 18:00 in LA — the
    # discriminating case: local day != UTC day
    ts = _utc(2024, 1, 2, 2)
    cutoff = _utc(2024, 2, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    with _session_tz(spark, "America/Los_Angeles"):
        store.init_from(spark.createDataFrame(
            [(1, ts, 1.0)], "id int, ts timestamp, v double"), cutoff)
        assert sorted(store._cold_day_map()) == ["2024-01-02"]

        # ingest another cross-midnight row through the EAGER cold path
        store.ingest(spark, spark.createDataFrame(
            [(2, _utc(2024, 1, 3, 1), 2.0)],
            "id int, ts timestamp, v double"), cutoff)
        # and one through the deferred queue + flush
        store.ingest(spark, spark.createDataFrame(
            [(3, _utc(2024, 1, 4, 23), 3.0)],
            "id int, ts timestamp, v double"), cutoff,
            defer_backfill=True)
        store.flush_backfill(spark)
        assert sorted(store._cold_day_map()) == [
            "2024-01-02", "2024-01-03", "2024-01-04"]
        # the writer session's own zone is restored after each mutation
        assert spark.conf.get("spark.sql.session.timeZone") == \
            "America/Los_Angeles"

    # UTC-bounded engine-side pruning finds each row in its UTC day
    got = store.read_cold(spark, time_range=(_utc(2024, 1, 2),
                                             _utc(2024, 1, 3)))
    assert [r["id"] for r in got.collect()] == [1]
    got = store.read_cold(spark, time_range=(_utc(2024, 1, 4),
                                             _utc(2024, 1, 5)))
    assert [r["id"] for r in got.collect()] == [3]


def test_moved_day_probe_matches_under_non_utc_session(spark, tmp_path):
    """The _cold_upsert touched/moved-day probe derives day keys at
    mutation time — under a non-UTC session a mismatched key would
    leave a duplicate PK across two cold days (the update's old copy
    never located)."""
    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = _utc(2024, 2, 1)
    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(
        [(1, _utc(2024, 1, 2, 2), 1.0)],
        "id int, ts timestamp, v double"), cutoff)
    with _session_tz(spark, "Asia/Tokyo"):
        # move pk 1 from UTC day 01-02 to 01-05 via the backfill
        # flush; 16:00Z is 01:00 NEXT day in Tokyo — a local-tz day key
        # would land the row in 01-06 and desync pruning
        store.ingest(spark, spark.createDataFrame(
            [(1, _utc(2024, 1, 5, 16), 9.0)],
            "id int, ts timestamp, v double"), cutoff,
            defer_backfill=True)
        store.flush_backfill(spark)
    rows = [(r["id"], r["ts"], r["v"])
            for r in store.read_cold(spark).collect()]
    assert rows == [(1, datetime(2024, 1, 5, 16), 9.0)]
    assert sorted(store._cold_day_map()) == ["2024-01-05"]


def test_catalog_exact_filter_agrees_with_pruning_for_aware_bounds(
        spark, tmp_path):
    """ADVICE r10 #2: a tz-aware non-UTC bound must filter rows at the
    same instant the day-list pruning uses — both normalize through
    utc_naive. Bound 2024-01-02T02:00+02:00 == 2024-01-02T00:00Z."""
    from zoneinfo import ZoneInfo

    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.sources.hotcold import HotColdStore

    root = tmp_path / "sf"
    root.mkdir()
    store = HotColdStore(path=str(root / "facts"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    store.init_from(spark.createDataFrame(
        [(1, _utc(2024, 1, 1, 23), 1.0), (2, _utc(2024, 1, 2, 1), 2.0)],
        "id int, ts timestamp, v double"), _utc(2024, 2, 1))

    cat = Catalog(str(root), tables={"facts": TableDef(
        "facts", is_fact=True, time_column="ts", primary_key=("id",),
        sort_columns=("ts",), hotcold=True)})
    lo = datetime(2024, 1, 2, 2, tzinfo=ZoneInfo("Europe/Helsinki"))
    hi = datetime(2024, 1, 3, 2, tzinfo=ZoneInfo("Europe/Helsinki"))
    df = cat.load(spark, "facts", time_range=(lo, hi))
    assert [r["id"] for r in df.collect()] == [2]


@pytest.mark.parametrize("tz", ["America/Los_Angeles", "UTC"])
def test_catalog_nanos_range_is_locale_independent(spark, tz, duck):
    """The raw-nanos pushed range must name the same instants whatever
    zone the calling session (or the host) runs in."""
    from aresdb_spark.catalog import Catalog

    lo, hi = _utc(2024, 1, 3), _utc(2024, 1, 5)
    import tests.conftest as c
    with _session_tz(spark, tz):
        df = Catalog(c.SF_DIR).load(spark, "events", time_range=(lo, hi))
        n = df.count()
    want = duck.execute(
        "SELECT count(*) FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-05'"
    ).fetchone()[0]
    assert n == want


def test_utc_session_interleaved_scopes_restore_original_tz(spark):
    """ADVICE r11 #3: the single-writer lock is per STORE, so two
    mutations on different stores sharing one session can interleave
    their _utc_session scopes. The per-session refcount makes the
    FIRST-in save and the LAST-out restore — the interleave (A in, B
    in, A out, B out) must restore the caller's zone, not leave the
    session pinned to UTC (the pre-fix save/restore symmetry bug)."""
    from aresdb_spark.sources.hotcold import _utc_session

    key = "spark.sql.session.timeZone"
    orig = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        a = _utc_session(spark)
        b = _utc_session(spark)
        a.__enter__()
        assert spark.conf.get(key) == "UTC"
        b.__enter__()                       # nested scope: saved once
        a.__exit__(None, None, None)        # NOT last out: no restore
        assert spark.conf.get(key) == "UTC"
        b.__exit__(None, None, None)        # last out restores A's save
        assert spark.conf.get(key) == "America/Los_Angeles"
    finally:
        spark.conf.set(key, orig)


def test_epoch_ns_is_integer_exact():
    """ADVICE r11 #4: the raw-nanos bound conversion must be exact for
    every microsecond — float64 epoch seconds lose sub-µs precision at
    large magnitudes, so the old ``timestamp()*1e6`` truncation could
    convert a bound one microsecond off and flip inclusion of rows
    exactly on it."""
    from datetime import datetime, timedelta, timezone

    from aresdb_spark.catalog import _epoch_ns

    # 2024-01-01 00:00:00 UTC = 1704067200 s (independent constant)
    base = datetime(2024, 1, 1)
    for us in list(range(0, 1000, 7)) + [1, 3, 999]:
        d = base + timedelta(microseconds=us)
        assert _epoch_ns(d) == (1704067200 * 10**6 + us) * 1000, us
    # a case the old float path demonstrably got wrong (ulp > 0.5µs):
    # epoch 16474485682 s + 453789 µs truncated to ...788 µs via float
    epoch = datetime(1970, 1, 1)
    d = epoch + timedelta(seconds=16474485682, microseconds=453789)
    assert _epoch_ns(d) == 16474485682453789000
    assert int(d.replace(tzinfo=timezone.utc).timestamp()
               * 1_000_000) * 1000 == 16474485682453788000  # the old bug


def test_cutoff_literals_ignore_the_driver_process_tz(spark, tmp_path,
                                                       monkeypatch):
    """The cutoff, retention and time-range literals name UTC instants
    whatever the driver process's ``TZ``: ``F.lit`` of a naive datetime
    converts through ``time.mktime`` in the process's local zone, which
    shifted every such literal by the UTC offset — a row an hour past
    the cutoff routed to the deferred backfill queue under
    ``TZ=America/New_York`` and stayed invisible until the flush. (The
    rows themselves are tz-aware: ``createDataFrame`` converts naive
    datetimes in the local zone too.)"""
    import time

    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.sources.hotcold import HotColdStore

    cutoff = datetime(2024, 1, 29)
    root = tmp_path / "sf"
    root.mkdir()
    store = HotColdStore(path=str(root / "facts"), time_column="ts",
                         primary_key=("id",), sort_columns=("ts",))
    cat = Catalog(str(root), tables={"facts": TableDef(
        "facts", is_fact=True, time_column="ts", primary_key=("id",),
        sort_columns=("ts",), hotcold=True)})
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        store.init_from(spark.createDataFrame(
            [(1, _utc(2024, 1, 28, 23), 1.0)],
            "id int, ts timestamp, v double"), cutoff)
        store.ingest(spark, spark.createDataFrame(
            [(2, _utc(2024, 1, 29, 1), 2.0)],
            "id int, ts timestamp, v double"), cutoff,
            retention=cutoff - timedelta(days=1), defer_backfill=True)
        assert store.queued_backfill_batches() == []
        got = cat.load(spark, "facts",
                       time_range=(cutoff - timedelta(hours=1),
                                   cutoff + timedelta(hours=2)))
        assert sorted(r["id"] for r in got.collect()) == [1, 2]
    finally:
        monkeypatch.undo()
        time.tzset()
