"""ares_tool CLI: the offline analog of the reference's debug
endpoints (api/debug_handler.go:74-97) driven against the reference's
own shipped fixtures and a synthetic ares-root."""

import importlib.util
import os

import pytest
from conftest import REFERENCE_ROOT

HERE = os.path.dirname(os.path.abspath(__file__))
_spec = importlib.util.spec_from_file_location(
    "ares_tool", os.path.join(os.path.dirname(HERE), "scripts",
                              "ares_tool.py"))
ares_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ares_tool)

BOOTSTRAP = os.path.join(REFERENCE_ROOT, "testing", "data", "bootstrap")
SAMPLE_REDOLOGS = os.path.join(
    REFERENCE_ROOT, "testing", "data", "integration", "sample-ares-root",
    "data", "abc_0", "redologs")


@pytest.mark.usefixtures("reference_root")
def test_tables_on_shipped_bootstrap():
    out = ares_tool.main(["tables", BOOTSTRAP])
    assert set(out) == {"dimtable1", "facttable1"}
    fact = out["facttable1"]
    assert fact["isFactTable"] is True
    assert fact["archivingSortColumns"] == [3, 4]
    shard = fact["shards"][0]
    assert shard["archivingCutoff"] == 1560049865
    assert shard["batches"]["18048"] == {
        "version": 1559436638, "seqNum": 0, "size": 78347676}
    assert out["dimtable1"]["shards"][0]["snapshot"] == {
        "redoLogFile": 1560032167, "offset": 605,
        "batchID": -2147483648, "index": 603670}


@pytest.mark.usefixtures("reference_root")
def test_redologs_and_read_upsert_batch_on_shipped_sample():
    """The reference's shipped redolog decodes exactly as its own
    redo_log_browser_test pins: one 88-byte batch of 2 rows, Uint8 +
    SmallEnum columns."""
    logs = ares_tool.main(["redologs", SAMPLE_REDOLOGS])
    assert logs == {"1501869573": {
        "bytes": 96, "batches": [{"offset": 4, "size": 88}]}}
    batch = ares_tool.main([
        "read-upsert-batch",
        os.path.join(SAMPLE_REDOLOGS, "1501869573.redolog"), "4"])
    assert batch["numRows"] == 2
    assert [c["type"] for c in batch["columns"]] == ["Uint8", "SmallEnum"]
    assert batch["rows"] == [[123, 0], [234, 1]]


def test_show_batch_and_show_vp_on_synthetic_root(tmp_path):
    from tests.test_ares_root import _build_root

    root = _build_root(tmp_path)
    out = ares_tool.main(["show-batch", root, "trips", "18048",
                          "--start", "1", "--rows", "2"])
    assert out["numRows"] == 4 and out["startRow"] == 1
    assert out["version"] == 1559436638
    assert [r["city_id"] for r in out["rows"]] == [7, 7]
    assert [r["status"] for r in out["rows"]] == ["active", None]

    vp = ares_tool.main([
        "show-vp",
        os.path.join(root, "data", "trips_0", "archiving_batches",
                     "2019-06-01_1559436638", "2.data")])
    assert vp["mode"] == 3 and vp["numRows"] == 4
    assert vp["values"] == [7, 9] and vp["counts"] == [0, 3, 4]


def test_validate_command_with_value_hashes(spark, tmp_path):
    """`ares_tool migrate` + `ares_tool validate --values` on a synthetic
    root: counts AND per-day content hashes reconcile (the CLI face of
    validate_migration's acceptance gate)."""
    from tests.test_ares_root import _build_root

    root = _build_root(tmp_path / "root")
    mig = ares_tool.main(["migrate", root, str(tmp_path / "dest")])
    out = ares_tool.main(["validate", root, "trips",
                          mig["trips"]["path"], "--values"])
    assert out["ok"] is True
    assert all(d["match"] and d["value_match"]
               for d in out["days"].values())


# --------------------------------------------------------------------------
# no-Spark property tests over the batch layer (fast, pure codec)
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_batch_write_read_property(tmp_path_factory, data):
    """A random schema + random rows, written column-by-column with the
    codec (sort column RLE'd), reads back row-identical through
    read_batch_columns."""
    from aresdb_spark.sources.ares_root import (
        read_batch_columns, write_vector_party_bytes)

    tmp = tmp_path_factory.mktemp("batch")
    uuid_s = st.integers(0, 2**128 - 1).map(
        lambda v: "-".join((f"{v:032x}"[:8], f"{v:032x}"[8:12],
                            f"{v:032x}"[12:16], f"{v:032x}"[16:20],
                            f"{v:032x}"[20:])))
    typed = {
        "Uint32": st.integers(0, 2**32 - 1),
        "Int64": st.integers(-2**63, 2**63 - 1),
        "Bool": st.booleans(),
        "Float32": st.floats(width=32, allow_nan=False),
        "UUID": uuid_s,
        "Int32[]": st.lists(st.one_of(
            st.none(), st.integers(-2**31, 2**31 - 1)), max_size=4),
        "Bool[]": st.lists(st.one_of(st.none(), st.booleans()),
                           max_size=5),
        "UUID[]": st.lists(st.one_of(st.none(), uuid_s), max_size=3),
    }
    col_types = data.draw(st.lists(
        st.sampled_from(sorted(typed)), min_size=1, max_size=4))
    n = data.draw(st.integers(1, 25))
    schema = {"name": "t", "columns": [
        {"name": f"c{i}", "type": t} for i, t in enumerate(col_types)]}
    want = {}
    for i, t in enumerate(col_types):
        vals = data.draw(st.lists(st.one_of(st.none(), typed[t]),
                                  min_size=n, max_size=n))
        want[f"c{i}"] = vals
        # first column doubles as an RLE'd sort column when scalar
        if i == 0 and not t.endswith("[]") and t != "Float32":
            runs, counts = [], [0]
            for v in vals:
                if runs and runs[-1] == v:
                    counts[-1] += 1
                else:
                    runs.append(v)
                    counts.append(counts[-1] + 1)
            buf = write_vector_party_bytes(t, runs, counts=counts)
        else:
            buf = write_vector_party_bytes(t, vals)
        with open(os.path.join(str(tmp), f"{i}.data"), "wb") as f:
            f.write(buf)
    got = read_batch_columns(str(tmp), schema, {})
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 50), st.integers(0, 3),
                          st.integers(1, 99)), max_size=8),
       st.integers(0, 60))
def test_select_batch_version_model(entries, cutoff):
    """select_batch_version == the brute-force model of
    GetArchiveBatchVersion: last appended entry with version <= cutoff,
    else (0,0,0). Entries arrive append-ordered by version."""
    from aresdb_spark.sources.ares_root import select_batch_version

    entries = sorted(entries)
    want = (0, 0, 0)
    for e in entries:
        if e[0] <= cutoff:
            want = e
    assert select_batch_version(entries, cutoff) == want


def test_ledger_and_gc_commands(spark, tmp_path, capsys):
    """ledger prints the committed state + displaced entries with ages
    and on-disk presence; gc reaps past an explicit grace window and
    reports what remains — one pointer reaper for every store kind."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators.dedup import (
        build_signature_store, compact_signature_store)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    store = str(tmp_path / "sig")
    build_signature_store(docs.filter(F.col("doc_id") % 4 == 0), store)
    compact_signature_store(spark, store, docs.select("doc_id"))

    out = ares_tool.main(["ledger", store])
    capsys.readouterr()
    assert out["state"]["sig"] == 1
    assert out["writerLockHeld"] is False
    assert len(out["displaced"]) == 1
    e = out["displaced"][0]
    assert e["dir"] == "sig_v0" and e["onDisk"] is True
    assert e["ageSeconds"] >= 0

    out = ares_tool.main(["gc", store, "--grace", "0"])
    capsys.readouterr()
    assert out["reaped"] == 1 and out["remaining"] == []
    out = ares_tool.main(["ledger", store])
    capsys.readouterr()
    assert out["displaced"] == []

    # generic (non-signature) store: ledger + gc through the pointer path
    from datetime import datetime

    from aresdb_spark.sources.hotcold import HotColdStore
    from pyspark.sql import Row
    hs = HotColdStore(path=str(tmp_path / "fact"), time_column="ts",
                      primary_key=("id",))
    hs.init_from(spark.createDataFrame(
        [Row(id=1, ts=datetime(2024, 1, 1), v=1.0),
         Row(id=2, ts=datetime(2024, 1, 20), v=2.0)]),
        datetime(2024, 1, 15))
    hs.archive(spark, datetime(2024, 1, 22))
    out = ares_tool.main(["ledger", hs.path])
    capsys.readouterr()
    # r9: archive APPENDS cold day dirs (nothing cold-side displaced);
    # the hot compaction displaces the old base
    assert {e["dir"] for e in out["displaced"]} == {"hot_v0"}
    out = ares_tool.main(["gc", hs.path, "--grace", "0"])
    capsys.readouterr()
    assert out["reaped"] == 1 and out["remaining"] == []
    assert hs.read(spark).count() == 2
