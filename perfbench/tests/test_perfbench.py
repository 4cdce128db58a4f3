"""Tests of the benchmark's own pieces (no Spark session needed).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import dashboard, inputs, realtime, run
from perfbench.tracer import Tracer, event_log_counters

ROOT = Path(__file__).resolve().parents[2]


def test_generated_payloads_decode_and_twins_are_the_only_near_pairs():
    from aresdb_spark.operators.audio import audio_fingerprint, decode_audio
    from aresdb_spark.operators.multimodal import dct_phash, decode_image

    rows, planted = inputs.media_rows(seed=3, n_groups=6)
    hashes = {}
    for mid, kind, payload in rows:
        if kind == "image":
            px = decode_image(payload)
            assert px.shape[:2] == (32, 32)
            hashes[mid] = (kind, dct_phash(px))
        else:
            samples, rate = decode_audio(payload)
            assert rate == 8000 and len(samples) == 65 * 64
            hashes[mid] = (kind, audio_fingerprint(samples))
    near = {(ka, a, b) for a, (ka, ha) in hashes.items()
            for b, (kb, hb) in hashes.items()
            if a < b and ka == kb and bin(ha ^ hb).count("1") <= 7}
    assert near == planted


def test_png_and_wav_round_trip_exactly():
    from aresdb_spark.operators.audio import decode_audio
    from aresdb_spark.operators.multimodal import decode_image

    px = np.arange(12 * 5 * 3, dtype=np.uint8).reshape(12, 5, 3)
    assert np.array_equal(decode_image(inputs.png_bytes(px)), px)
    s = np.array([0, 1, -1, 32767, -32768], dtype=np.int16)
    got, _ = decode_audio(inputs.wav_bytes(s))
    assert np.array_equal(np.asarray(got).ravel(), s)


def _small_model(seed: int) -> realtime.Model:
    return realtime.Model(inputs.events_table(seed, n=20_000).to_pandas())


def test_seeds_change_query_parameters_and_ingest_keys():
    def params(seed):
        return [q.params for page in dashboard.pages(seed) for q in page]

    assert params(1) != params(2)
    assert params(1) == params(1)                    # deterministic
    assert [[q.shape for q in page] for page in dashboard.pages(1)] == \
        [list(dashboard.SHAPES)] * len(dashboard.LANGS)

    b1 = realtime.upsert_batch(1, 0, _small_model(1), realtime.CUTOFF0)
    b2 = realtime.upsert_batch(2, 0, _small_model(2), realtime.CUTOFF0)
    assert set(b1["event_id"]) != set(b2["event_id"])
    again = realtime.upsert_batch(1, 0, _small_model(1), realtime.CUTOFF0)
    pd.testing.assert_frame_equal(b1, again)


def test_upsert_batch_shape():
    m = _small_model(5)
    b = realtime.upsert_batch(5, 0, m, realtime.CUTOFF0)
    assert len(b) == realtime.BATCH_ROWS and b["event_id"].is_unique
    late = b["ts"] < realtime.CUTOFF0
    assert late.sum() == round(realtime.BATCH_ROWS * realtime.LATE_SHARE)
    # late rows are new keys; updates keep the event time of their key
    assert not b.loc[late, "event_id"].isin(m.rows.index).any()
    upd = b[b["event_id"].isin(m.rows.index)]
    assert (m.rows.loc[upd["event_id"], "ts"].to_numpy()
            == upd["ts"].to_numpy()).all()


def test_model_check_fails_when_a_batch_is_dropped():
    cut = realtime.CUTOFF0
    full, dropped = _small_model(7), _small_model(7)
    batches = [realtime.upsert_batch(7, n, full, cut) for n in range(2)]
    for b in batches:
        full.upsert(b, cut)
    dropped.next_id = full.next_id
    dropped.upsert(batches[0], cut)           # the store lost batch 1
    want = full.query_result()
    assert realtime.result_matches(want, want)
    assert not realtime.result_matches(dropped.query_result(), want)


def test_deferred_rows_show_only_after_flush():
    cut = realtime.CUTOFF0
    m = _small_model(9)
    b = realtime.upsert_batch(9, 0, m, cut)
    m.upsert(b, cut)
    late_ids = b.loc[b["ts"] < cut, "event_id"]
    assert not late_ids.isin(m.rows.index).any()
    m.flush()
    assert late_ids.isin(m.rows.index).all()


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["realtime", "dataprep"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_self_time_subtracts_children():
    t = Tracer()
    with t.op("query"):
        with t.span("api.front_door"):
            with t.span("aql.plan"):
                pass
            with t.span("aql.execute"):
                pass
    selfs = t.self_ms()
    total = t.spans[1].ms
    assert abs(selfs[1] - (total - t.spans[2].ms - t.spans[3].ms)) < 1e-9
    assert set(t.per_op("aql.plan")) == {"query:0"}


def test_event_log_counters_group_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "query:0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000, "JVM GC Time": 3,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 9_000_000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    got = event_log_counters(str(tmp_path))
    assert list(got) == ["query:0"]
    c = got["query:0"]
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert (c["task_cpu_ms"], c["gc_ms"], c["input_bytes"],
            c["shuffle_write_bytes"]) == (2.0, 3, 100, 40)


def test_tables_follow_the_star_schema():
    ev = inputs.events_table(1, n=1000)
    assert ev.schema.field("ts").type == pa.timestamp("us")
    ts = ev.column("ts").to_pylist()
    assert min(ts) >= datetime(2024, 1, 1) and max(ts) < datetime(2024, 1, 31)
    li = inputs.lineitem_table(1, n=1000, n_parts=50)
    assert max(li.column("l_partkey").to_pylist()) < 50
