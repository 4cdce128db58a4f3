"""DebugDaemon — the reference DebugHandler/HealthCheckHandler behaviors
(api/debug_handler.go, api/health_check_handler.go) as pure functions:
health toggle semantics, live-store inspection, ShowBatch clamps,
LookupPrimaryKey message parity, on-demand job triggers."""

from datetime import datetime

from pyspark.sql import Row

from aresdb_spark.streaming.debug_handler import DebugDaemon
from tests.conftest import count_jobs


def _stores(spark, tmp_path):
    from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore

    ev = spark.createDataFrame([
        Row(id=1, ts=datetime(2024, 1, 1, 5), city=7, v=1.0),
        Row(id=2, ts=datetime(2024, 1, 10, 5), city=9, v=2.0),
        Row(id=3, ts=datetime(2024, 1, 20, 5), city=7, v=3.0),
    ])
    fact = HotColdStore(path=str(tmp_path / "ev"), time_column="ts",
                        primary_key=("id",))
    fact.init_from(ev, datetime(2024, 1, 15))
    dim = DimensionStore(path=str(tmp_path / "cities"),
                         primary_key=("city",))
    dim.init_from(spark.createDataFrame([Row(city=7, name="sf"),
                                         Row(city=9, name="nyc")]))
    return {"events": fact, "cities": dim}


def test_health_toggle_parity(spark, tmp_path):
    """health_check_handler.go:39-49 + debug_handler.go:108-137: the
    probe 503s while disabled; the switch 400s on anything else."""
    d = DebugDaemon(spark, {})
    assert d.health_check() == (200, "OK")
    assert d.health() == (200, "on")
    assert d.health_switch("off") == (200, "OK")
    assert d.health() == (200, "off")
    status, _ = d.health_check()
    assert status == 503
    assert d.health_switch("sideways")[0] == 400
    assert d.health_switch("on") == (200, "OK")
    assert d.health_check() == (200, "OK")


def test_show_shard_meta_live_state(spark, tmp_path):
    d = DebugDaemon(spark, _stores(spark, tmp_path))
    status, meta = d.show_shard_meta("events")
    assert status == 200
    assert meta["kind"] == "fact"
    assert meta["cutoff"] == "2024-01-15T00:00:00"
    assert meta["hot_rows"] == 1                 # only the Jan-20 row
    assert meta["hot_pending_batches"] == 0      # init = compacted base
    assert meta["cold_days"] == ["2024-01-01", "2024-01-10"]
    assert meta["backfill_queue"] == {"batches": 0, "bytes": 0}
    assert meta["writer_lock_held"] is False
    assert meta["state"]["hot"] == 0
    assert set(meta["state"]["cold_days"]) == {"2024-01-01", "2024-01-10"}

    # an ingest appends one hot batch dir: depth + footer count track it
    stores = d.stores
    stores["events"].ingest(
        spark, spark.createDataFrame(
            [Row(id=9, ts=datetime(2024, 1, 21, 5), city=7, v=9.0)]),
        cutoff=datetime(2024, 1, 15))
    _, meta = d.show_shard_meta("events")
    assert meta["hot_pending_batches"] == 1
    assert meta["hot_rows"] == 2                 # base + pending footers

    status, dmeta = d.show_shard_meta("cities")
    assert status == 200
    assert dmeta["kind"] == "dimension"
    assert dmeta["journal_batches"] == 0
    assert d.show_shard_meta("nope")[0] == 400


def test_show_batch_clamps_and_contents(spark, tmp_path):
    """debug_handler.go:141-160: NumRows outside (0,100] clamps to 100,
    StartRow < 0 clamps to 0; archive batches address by day."""
    d = DebugDaemon(spark, _stores(spark, tmp_path))
    status, body = d.show_batch("events", batch="hot",
                                start_row=-5, num_rows=0)
    assert status == 200
    assert body["startRow"] == 0          # clamped
    assert body["numRows"] == 1           # clamp asked for 100, 1 exists
    assert body["columns"] == ["id", "ts", "city", "v"]
    assert body["rows"][0][0] == 3

    status, body = d.show_batch("events", batch="2024-01-10")
    assert status == 200
    assert [r[0] for r in body["rows"]] == [2]
    assert d.show_batch("cities", batch="2024-01-10")[0] == 400

    status, body = d.show_batch("cities", batch="hot")
    assert status == 200 and body["numRows"] == 2


def test_show_shard_meta_schedules_no_spark_jobs(spark, tmp_path):
    """The probe is metadata-only (pointer file + dir listings + parquet
    footers): polling it from an ops dashboard must not schedule cluster
    work. Asserted through the job-group tracker — any Spark action the
    endpoint ran would register a job under the group."""
    d = DebugDaemon(spark, _stores(spark, tmp_path))

    def probe():
        status, meta = d.show_shard_meta("events")
        assert status == 200
        assert meta["hot_rows"] == 1            # footer count == row count
        status, dmeta = d.show_shard_meta("cities")
        assert status == 200 and dmeta["num_mutations"] == 0

    assert count_jobs(spark, probe) == 0
    # footer counts track mutations like the scan did: archive empties hot
    d.trigger("archive", "events", cutoff=datetime(2024, 1, 22))
    _, meta = d.show_shard_meta("events")
    assert meta["hot_rows"] == 0


def test_show_batch_pages_are_stable(spark, tmp_path):
    """Pages order by primary key, so paging through a batch yields each
    row exactly once and repeated calls return identical pages (an
    unordered limit/slice could repeat or skip rows across calls)."""
    stores = _stores(spark, tmp_path)
    stores["cities"].journal_ingest(spark.createDataFrame(
        [Row(city=c, name=f"c{c}") for c in (1, 3, 5, 8)]))
    d = DebugDaemon(spark, stores)
    pages = []
    for start in range(0, 6, 2):
        status, body = d.show_batch("cities", batch="hot",
                                    start_row=start, num_rows=2)
        assert status == 200
        pages.append([r[0] for r in body["rows"]])
    assert pages == [[1, 3], [5, 7], [8, 9]]
    # identical re-read: stable across calls
    _, again = d.show_batch("cities", batch="hot", start_row=2, num_rows=2)
    assert [r[0] for r in again["rows"]] == [5, 7]


def test_lookup_primary_key_message_parity(spark, tmp_path):
    """debug_handler.go:336-360: comma-split key, 404 with the
    reference's exact message when absent."""
    d = DebugDaemon(spark, _stores(spark, tmp_path))
    status, row = d.lookup_primary_key("events", key="2")
    assert (status, row["id"], row["city"]) == (200, 2, 9)
    status, err = d.lookup_primary_key("events", key="99")
    assert status == 404
    assert err["message"] == "key '99' does not exist or expired"
    assert d.lookup_primary_key("events", key="1,2")[0] == 400


def test_trigger_jobs(spark, tmp_path):
    """debug_handler.go:363-500: on-demand archive/backfill/snapshot/
    purge with the reference's submitted-message shape; wrong store
    kind → 400."""
    stores = _stores(spark, tmp_path)
    d = DebugDaemon(spark, stores)

    status, msg = d.trigger("archive", "events",
                            cutoff=datetime(2024, 1, 22))
    assert (status, msg) == (200, "Archiving job submitted")
    assert stores["events"].read_hot(spark).count() == 0  # all archived

    status, msg = d.trigger("backfill", "events")
    assert status == 200 and msg.startswith("Backfill job submitted")

    stores["cities"].journal_ingest(
        spark.createDataFrame([Row(city=9, name="NYC")]))
    status, msg = d.trigger("snapshot", "cities")
    assert (status, msg) == (200, "Snapshot job submitted (1 mutations)")

    status, msg = d.trigger("purge", "events",
                            purge_before=datetime(2024, 1, 5))
    assert (status, msg) == (200, "Purge job submitted")
    _, meta = d.show_shard_meta("events")
    assert meta["cold_days"] == ["2024-01-10", "2024-01-20"]

    assert d.trigger("archive", "cities",
                     cutoff=datetime(2024, 1, 1))[0] == 400
    assert d.trigger("snapshot", "events")[0] == 400
    assert d.trigger("archive", "events")[0] == 400  # no cutoff
    assert d.trigger("resharden", "events")[0] == 400
