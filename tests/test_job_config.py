"""Subscriber job-config tests — parsed against the reference's own
shipped job document (subscriber/config/test/jobs/job1-local.json), plus
the transform pass and a full file-backed streaming job."""

import json
import os
from datetime import datetime

import pytest
from conftest import REFERENCE_ROOT

from aresdb_spark.streaming.job_config import JobConfig

REF_JOB = os.path.join(REFERENCE_ROOT, "subscriber", "config", "test",
                       "jobs", "job1-local.json")


@pytest.mark.usefixtures("reference_root")
def test_parses_reference_job_document():
    with open(REF_JOB) as f:
        job = JobConfig.from_json(f.read())
    assert job.name == "job1"
    assert job.table == "job1"
    assert job.topic == "job1-topic"
    assert job.primary_keys == ["uuid"]
    # tombstoned f14/f15 are dropped; duplicated f19 keeps one definition
    assert "f14" not in job.columns and "f15" not in job.columns
    assert list(job.columns).count("f19") == 1
    modes = job.update_modes()
    # the job's updateMode map: num_rejections->addition is for a column
    # not in this schema; everything present defaults to overwrite
    assert set(modes.values()) == {"overwrite"}
    # decode schema has one field per live column
    assert len(job.decode_schema()) == len(job.columns)


def make_job(update_mode=None):
    return JobConfig({
        "job": "trips-job",
        "streamConfig": {"topic": "trips", "kafkaBroker": "broker:9092"},
        "aresTableConfig": {
            "schema": {
                "name": "trips",
                "columns": [
                    {"name": "request_at", "type": "Uint32"},
                    {"name": "trip_id", "type": "Int64"},
                    {"name": "status", "type": "SmallEnum",
                     "caseInsensitive": True, "defaultValue": "unknown"},
                    {"name": "fare", "type": "Float32"},
                    {"name": "legacy", "type": "UUID", "deleted": True},
                ],
                "primaryKeyColumns": [1],
                "isFactTable": True,
            },
            "updateMode": update_mode or {"fare": "addition"},
        },
    })


def test_update_modes_pk_always_overwrite():
    job = make_job({"fare": "max", "trip_id": "addition"})
    modes = job.update_modes()
    assert modes["trip_id"] == "overwrite"   # PK ignores the override
    assert modes["fare"] == "max"
    assert modes["request_at"] == "overwrite"
    # unknown mode strings fall back like parseUpdateMode's default
    assert make_job({"fare": "bogus"}).update_modes()["fare"] == "overwrite"


def test_transform_rules(spark):
    job = make_job()
    src = spark.createDataFrame(
        [(100, 1, "COMPLETED", 2.5), (200, 2, None, None)],
        "request_at bigint, trip_id bigint, status string, fare double")
    got = {r["trip_id"]: r for r in job.transform(src).collect()}
    assert got[1]["status"] == "completed"     # case-insensitive enum
    assert got[2]["status"] is None            # NULL passes through (NoOp)
    assert got[2]["fare"] is None
    assert "legacy" not in job.transform(src).columns
    # opt-in default substitution for append-only sinks
    subst = {r["trip_id"]: r
             for r in job.transform(src, substitute_defaults=True).collect()}
    assert subst[2]["status"] == "unknown"


def test_file_backed_job_end_to_end(spark, tmp_path):
    """The full subscriber pipeline: job doc → decode schema → transform
    → upsert stream into a HotColdStore, with the job's addition mode
    accumulating fares across two micro-batch files."""
    from aresdb_spark.sources.hotcold import HotColdStore

    job = make_job()
    cutoff = datetime(2024, 1, 1)
    store = HotColdStore(path=str(tmp_path / "trips"),
                         time_column="request_at",
                         primary_key=("trip_id",))
    empty = spark.createDataFrame(
        [], "request_at timestamp, trip_id bigint, status string, fare float")
    store.init_from(empty, cutoff=cutoff)

    from pyspark.sql import functions as F

    t0 = int(datetime(2024, 1, 5).timestamp())
    src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def write_file(idx, rows):
        (spark.createDataFrame(
            rows, "request_at bigint, trip_id bigint, status string, "
                  "fare double")
         .withColumn("fare", F.col("fare").cast("float"))
         .coalesce(1).write.mode("append").parquet(src_dir))

    write_file(0, [(t0, 1, "COMPLETED", 2.0), (t0 + 60, 2, None, 3.0)])
    write_file(1, [(t0, 1, None, 1.5)])

    # the job's transform runs per micro-batch; request_at arrives as
    # epoch and the store needs timestamps — chain the conversions the
    # way a deployment would (transform then cast)
    orig_transform = job.transform

    def to_store(df):
        return orig_transform(df).withColumn(
            "request_at", F.timestamp_seconds(F.col("request_at")))

    job.transform = to_store
    q = job.start(spark, store, cutoff_fn=lambda: cutoff,
                  checkpoint_dir=ckpt, path=src_dir, available_now=True)
    q.awaitTermination(120)

    rows = {r["trip_id"]: r for r in store.read_hot(spark).collect()}
    assert rows[1]["fare"] == pytest.approx(3.5)   # addition mode: 2.0+1.5
    # batch 2's NULL status did NOT clobber batch 1's value
    # (overwrite-not-null + NoOp transform keeping NULLs)
    assert rows[1]["status"] == "completed"
    assert rows[2]["status"] is None
    # the job's modes were stream-scoped: the store's own defaults were
    # never mutated (code-review r5 #2 finding)
    assert store.modes is None
