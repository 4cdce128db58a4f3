"""ares-root migration: the binary vector-party file codec
(memstore/vector_party.go:435-618), the disk-metastore reader
(metastore/disk_metastore.go), and the end-to-end migrate path — golden
against the reference's shipped bootstrap metastore fixture
(testing/data/bootstrap)."""

import os
import struct

import pytest
from conftest import REFERENCE_ROOT
from hypothesis import given, settings
from hypothesis import strategies as st

from aresdb_spark.sources.ares_root import (
    ALL_VALUES_DEFAULT,
    ALL_VALUES_PRESENT,
    HAS_COUNT_VECTOR,
    HAS_NULL_VECTOR,
    VP_MAGIC,
    VectorPartyCorruptError,
    archive_batch_dir,
    list_tables,
    migrate_ares_root,
    parse_batch_versions,
    read_batch_columns,
    read_table_meta,
    read_vector_party_bytes,
    select_batch_version,
    write_vector_party_bytes,
)

BOOTSTRAP = os.path.join(REFERENCE_ROOT, "testing", "data", "bootstrap")


# --------------------------------------------------------------------------
# codec: byte layout
# --------------------------------------------------------------------------

def test_header_layout_golden():
    """Hand-pinned bytes of a 3-value Uint32 party, mode 1: magic
    0xFADEFACE little-endian, length, type 0x00060020, nonDefault,
    mode, 6 pad bytes, then the value vector padded to 64 bytes."""
    buf = write_vector_party_bytes("Uint32", [7, 0, 9])
    assert buf[:4] == bytes.fromhex("cefadefa")
    assert struct.unpack_from("<i", buf, 4)[0] == 3
    assert struct.unpack_from("<I", buf, 8)[0] == 0x00060020
    assert struct.unpack_from("<i", buf, 12)[0] == 3
    assert struct.unpack_from("<H", buf, 16)[0] == ALL_VALUES_PRESENT
    assert buf[18:24] == b"\x00" * 6
    assert len(buf) == 24 + 64  # 12 value bytes padded to one 64B unit
    assert struct.unpack_from("<3I", buf, 24) == (7, 0, 9)
    assert buf[36:] == b"\x00" * 52


def test_mode0_writes_header_only():
    buf = write_vector_party_bytes("Int16", [None] * 5)
    assert len(buf) == 24
    vp = read_vector_party_bytes(buf)
    assert vp.mode == ALL_VALUES_DEFAULT
    assert vp.values == [None] * 5
    assert vp.non_default_count == 0


def test_vector_padding_is_64_bytes():
    # 17 Uint8 values: 17 value bytes -> 64; validity 3 bytes -> 64
    buf = write_vector_party_bytes("Uint8", [1] * 16 + [None])
    assert len(buf) == 24 + 64 + 64
    vp = read_vector_party_bytes(buf)
    assert vp.mode == HAS_NULL_VECTOR
    assert vp.values == [1] * 16 + [None]


def test_count_vector_rle_roundtrip():
    """Mode 3, the archiving sort-column form: stored entries are
    run-length groups, counts are cumulative END offsets of length+1
    (vector_party.go:497-506 writes length+1 uint32s)."""
    buf = write_vector_party_bytes("Uint16", [5, 8, None],
                                   counts=[0, 2, 3, 7])
    vp = read_vector_party_bytes(buf)
    assert vp.mode == HAS_COUNT_VECTOR
    assert vp.counts == [0, 2, 3, 7]
    assert vp.num_rows() == 7
    assert vp.rows() == [5, 5, 8, None, None, None, None]


def test_bad_magic_message_parity():
    buf = bytearray(write_vector_party_bytes("Uint8", [1]))
    buf[0] ^= 0xFF
    with pytest.raises(VectorPartyCorruptError,
                       match="Magic number does not match"):
        read_vector_party_bytes(bytes(buf))


def test_invalid_mode_rejected():
    buf = bytearray(write_vector_party_bytes("Uint8", [1]))
    struct.pack_into("<H", buf, 16, 9)
    with pytest.raises(VectorPartyCorruptError, match="Invalid mode 9"):
        read_vector_party_bytes(bytes(buf))


def test_empty_file_is_all_default_unknown_length():
    vp = read_vector_party_bytes(b"")
    assert vp.mode == ALL_VALUES_DEFAULT and vp.length == -1


def test_unknown_type_rejected():
    with pytest.raises(NotImplementedError, match="unknown data type"):
        write_vector_party_bytes("Decimal", [1])


_SCALARS = {
    "Bool": st.booleans(),
    "Int8": st.integers(-128, 127),
    "Uint8": st.integers(0, 255),
    "Int16": st.integers(-2**15, 2**15 - 1),
    "Uint16": st.integers(0, 2**16 - 1),
    "Int32": st.integers(-2**31, 2**31 - 1),
    "Uint32": st.integers(0, 2**32 - 1),
    "Int64": st.integers(-2**63, 2**63 - 1),
    "Float32": st.floats(width=32, allow_nan=False),
    "SmallEnum": st.integers(0, 254),
    "BigEnum": st.integers(0, 2**16 - 2),
}


@settings(max_examples=30, deadline=None)
@given(st.sampled_from(sorted(_SCALARS)), st.data())
def test_roundtrip_property(type_name, data):
    values = data.draw(st.lists(
        st.one_of(st.none(), _SCALARS[type_name]), max_size=40))
    vp = read_vector_party_bytes(
        write_vector_party_bytes(type_name, values))
    assert vp.type_name == type_name
    assert vp.length == len(values)
    assert vp.values == values
    assert vp.non_default_count == sum(v is not None for v in values)


def test_uuid_and_geopoint_roundtrip():
    uuids = ["0b5e8a3c-11d0-4c31-8f3a-000102030405", None,
             "ffffffff-ffff-ffff-ffff-ffffffffffff"]
    vp = read_vector_party_bytes(write_vector_party_bytes("UUID", uuids))
    assert vp.values == uuids
    pts = ["point(37.617 -122.386)", None, "point(-90 180)"]
    got = read_vector_party_bytes(
        write_vector_party_bytes("GeoPoint", pts)).values
    assert got[1] is None
    lat, lng = got[0][6:-1].split()
    assert abs(float(lat) - 37.617) < 1e-4
    assert abs(float(lng) + 122.386) < 1e-4


# --------------------------------------------------------------------------
# disk metastore semantics
# --------------------------------------------------------------------------

def test_batch_version_selection_reference_example():
    """The documented example at disk_metastore.go:882-895: cutoff 6 ->
    5-2,38; cutoff 4 -> 4-0,20; cutoff 0 -> 0-0,0."""
    entries = parse_batch_versions(
        "1-0,10\n2-0,20\n2-1,26\n4-0,20\n5-0,20\n5-1,25\n5-2,38\n")
    assert select_batch_version(entries, 6) == (5, 2, 38)
    assert select_batch_version(entries, 4) == (4, 0, 20)
    assert select_batch_version(entries, 0) == (0, 0, 0)
    # versions without a seq suffix parse as seq 0 (backward compat)
    assert parse_batch_versions("3,7\n") == [(3, 0, 7)]


@pytest.mark.usefixtures("reference_root")
def test_bootstrap_metastore_golden():
    """The reference's shipped bootstrap fixture parses exactly:
    facttable1 schema (6 cols, PK [0,1], sort [3,4]), cutoff
    1560049865, nine archive days 18048..18056, and dimtable1's
    snapshot pointer 1560032167,605,-2147483648,603670."""
    assert list_tables(BOOTSTRAP) == ["dimtable1", "facttable1"]
    fact = read_table_meta(BOOTSTRAP, "facttable1")
    assert fact.schema["isFactTable"] is True
    assert [c["name"] for c in fact.schema["columns"]] == [
        "end", "uuid1", "uuid2", "rid", "vid", "cid"]
    assert fact.schema["primaryKeyColumns"] == [0, 1]
    assert fact.schema["archivingSortColumns"] == [3, 4]
    (shard,) = fact.shards
    assert shard.archiving_cutoff == 1560049865
    assert sorted(shard.batches) == list(range(18048, 18057))
    # the selected version for every day matches the shipped batch dir
    for batch_id, (ver, seq, size) in shard.batches.items():
        assert size > 0
        d = archive_batch_dir(BOOTSTRAP, "facttable1", 0, batch_id,
                              ver, seq)
        assert os.path.isdir(d), d
    # 2019-06-01 specifically: last version line of batches/18048
    assert shard.batches[18048] == (1559436638, 0, 78347676)

    dim = read_table_meta(BOOTSTRAP, "dimtable1")
    assert dim.schema["isFactTable"] is False
    (dshard,) = dim.shards
    assert dshard.snapshot == (1560032167, 605, -2147483648, 603670)
    snap_dir = os.path.join(BOOTSTRAP, "data", "dimtable1_0",
                            "snapshots", "1560032167_605")
    assert os.path.isdir(snap_dir)


# --------------------------------------------------------------------------
# batch decode + end-to-end migration over a synthetic ares-root
# --------------------------------------------------------------------------

def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    mode = "wb" if isinstance(data, bytes) else "w"
    with open(path, mode) as f:
        f.write(data)


FACT_SCHEMA = {
    "name": "trips",
    "isFactTable": True,
    "primaryKeyColumns": [1],
    "archivingSortColumns": [2],
    "columns": [
        {"name": "request_at", "type": "Uint32", "config": {}},
        {"name": "uuid", "type": "UUID", "config": {}},
        {"name": "city_id", "type": "Uint16", "config": {}},
        {"name": "status", "type": "SmallEnum", "config": {}},
        {"name": "fare", "type": "Float32", "config": {}},
        {"name": "gone", "type": "Int32", "deleted": True},
    ],
}

DIM_SCHEMA = {
    "name": "cities",
    "isFactTable": False,
    "primaryKeyColumns": [0],
    "columns": [
        {"name": "id", "type": "Uint16", "config": {}},
        {"name": "name", "type": "BigEnum", "config": {}},
        {"name": "zips", "type": "Int32[]", "config": {}},
    ],
}


def _build_root(tmp) -> str:
    import json

    root = str(tmp)
    day = 18048  # 2019-06-01
    t0 = day * 86400
    _write(f"{root}/metastore/trips/schema", json.dumps(FACT_SCHEMA))
    _write(f"{root}/metastore/trips/enums/status",
           "completed\x00\nactive\x00\n")
    _write(f"{root}/metastore/trips/shards/0/version", "1559500000")
    # two versions for the day; only 1559436638 <= cutoff AND shipped
    _write(f"{root}/metastore/trips/shards/0/batches/{day}",
           "1559400000,2\n1559436638,4\n1559600000,9\n")
    bdir = archive_batch_dir(root, "trips", 0, day, 1559436638)
    _write(f"{bdir}/0.data", write_vector_party_bytes(
        "Uint32", [t0 + 10, t0 + 20, t0 + 30, t0 + 40]))
    _write(f"{bdir}/1.data", write_vector_party_bytes("UUID", [
        "00000000-0000-0000-0000-000000000001",
        "00000000-0000-0000-0000-000000000002",
        "00000000-0000-0000-0000-000000000003",
        "00000000-0000-0000-0000-000000000004"]))
    # sort column: RLE with counts (mode 3) — two cities over four rows
    _write(f"{bdir}/2.data", write_vector_party_bytes(
        "Uint16", [7, 9], counts=[0, 3, 4]))
    _write(f"{bdir}/3.data", write_vector_party_bytes(
        "SmallEnum", [0, 1, None, 0]))
    _write(f"{bdir}/4.data", b"")  # fare absent -> NULL column

    _write(f"{root}/metastore/cities/schema", json.dumps(DIM_SCHEMA))
    _write(f"{root}/metastore/cities/enums/name",
           "sf\x00\nnyc\x00\n")
    _write(f"{root}/metastore/cities/shards/0/snapshot",
           "1559500000,42,-2147483648,2")
    sdir = (f"{root}/data/cities_0/snapshots/1559500000_42/"
            f"{-2**31}")
    _write(f"{sdir}/0.data", write_vector_party_bytes("Uint16", [7, 9]))
    _write(f"{sdir}/1.data", write_vector_party_bytes("BigEnum", [0, 1]))
    _write(f"{sdir}/2.data", write_vector_party_bytes(
        "Int32[]", [[94103, 94110], None]))
    return root


def test_read_batch_columns_synthetic(tmp_path):
    root = _build_root(tmp_path)
    meta = read_table_meta(root, "trips")
    assert meta.shards[0].batches[18048] == (1559436638, 0, 4)
    bdir = archive_batch_dir(root, "trips", 0, 18048, 1559436638)
    cols = read_batch_columns(bdir, meta.schema, meta.enums)
    assert "gone" not in cols  # deleted columns are skipped
    assert cols["city_id"] == [7, 7, 7, 9]  # RLE expanded
    assert cols["status"] == ["completed", "active", None, "completed"]
    assert cols["fare"] == [None] * 4  # empty file -> NULL column
    assert cols["uuid"][0] == "00000000-0000-0000-0000-000000000001"


def test_migrate_ares_root_end_to_end(spark, tmp_path):
    """Full migration: synthetic ares-root -> parquet -> queryable.
    The fact table lands day-partitioned (write_archive layout) with
    enum cases translated; the dimension snapshot lands as parquet."""
    root = _build_root(tmp_path / "root")
    dest = str(tmp_path / "out")
    report = migrate_ares_root(spark, root, dest)
    assert report["trips"]["rows"] == 4
    assert report["trips"]["kind"] == "fact"
    assert report["cities"]["rows"] == 2

    trips = spark.read.parquet(report["trips"]["path"])
    assert trips.filter("__day = '2019-06-01'").count() == 4
    cities = spark.read.parquet(report["cities"]["path"])
    assert dict(cities.select("id", "zips").collect()) == {
        7: [94103, 94110], 9: None}
    got = spark.sql(
        "SELECT c.name, count(*) AS cnt, sum(CAST(t.fare AS double)) "
        "AS fare FROM {t} t JOIN {c} c ON t.city_id = c.id "
        "GROUP BY c.name ORDER BY c.name",
        t=trips, c=cities).collect()
    assert [(r.name, r.cnt, r.fare) for r in got] == [
        ("nyc", 1, None), ("sf", 3, None)]


# --------------------------------------------------------------------------
# list-archive codec (memstore/list/archive_vector_party.go)
# --------------------------------------------------------------------------

def test_list_vp_header_and_flags():
    """Magic 0xFADEFACF, mode AllValuesPresent, nonDefault 0; NULL row
    -> offset pair (0,0), empty array -> (0xFFFFFFFF, 0) with no
    payload (SetOffsetLength, vector_party.go:54-67)."""
    buf = write_vector_party_bytes("Int32[]", [[1, 2], None, []])
    assert buf[:4] == bytes.fromhex("cffadefa")
    assert struct.unpack_from("<i", buf, 4)[0] == 3
    assert struct.unpack_from("<I", buf, 8)[0] == 0x01050020
    assert struct.unpack_from("<i", buf, 12)[0] == 0
    assert struct.unpack_from("<H", buf, 16)[0] == ALL_VALUES_PRESENT
    offs = struct.unpack_from("<6I", buf, 24)
    assert offs == (0, 2, 0, 0, 0xFFFFFFFF, 0)
    # offsets pad to 64B, then uint64 totalValueBytes: one 2-int row
    # occupies (4 + 8 + 1 -> pad 8) = 16 bytes
    assert struct.unpack_from("<Q", buf, 24 + 64)[0] == 16
    vp = read_vector_party_bytes(buf)
    assert vp.values == [[1, 2], None, []]
    assert vp.num_rows() == 3


def test_list_vp_roundtrip_item_nulls_and_types():
    cases = {
        "Bool[]": [[True, None, False], None, []],
        "Uint8[]": [[0, 255, None]],
        "Int64[]": [[-2**40, None], [7]],
        "UUID[]": [["00000000-0000-0000-0000-0000000000aa", None]],
        "Float32[]": [[1.5, None, -2.25]],
    }
    for tn, vals in cases.items():
        vp = read_vector_party_bytes(write_vector_party_bytes(tn, vals))
        assert vp.type_name == tn
        assert vp.values == vals, tn


def test_list_vp_enum_array_translation(tmp_path):
    import json

    schema = {"name": "t", "isFactTable": False, "columns": [
        {"name": "id", "type": "Uint16"},
        {"name": "tags", "type": "SmallEnum[]"}]}
    d = str(tmp_path / "b")
    _write(f"{d}/0.data", write_vector_party_bytes("Uint16", [1, 2]))
    _write(f"{d}/1.data", write_vector_party_bytes(
        "SmallEnum[]", [[0, 1], None]))
    cols = read_batch_columns(d, schema, {"tags": ["red", "blue"]})
    assert cols["tags"] == [["red", "blue"], None]


def test_array_sort_column_rejected():
    with pytest.raises(ValueError, match="never sort columns"):
        write_vector_party_bytes("Int32[]", [[1]], counts=[0, 1])


# --------------------------------------------------------------------------
# export direction: engine -> reference format -> back (two-way cutover)
# --------------------------------------------------------------------------

def test_export_then_migrate_roundtrip(spark, tmp_path):
    """export_ares_root writes a reference-format root that
    migrate_ares_root (and the reference's recovery) reads back:
    values, nulls, enums, and day batching all survive the loop."""
    from aresdb_spark.sources.ares_root import export_ares_root

    schema = {"name": "ev", "isFactTable": True,
              "primaryKeyColumns": [1], "archivingSortColumns": [2],
              "columns": [
                  {"name": "t", "type": "Uint32"},
                  {"name": "id", "type": "Int64"},
                  {"name": "kind", "type": "SmallEnum"},
                  {"name": "score", "type": "Float32"},
              ]}
    day = 19000 * 86400
    rows = [(day + 10, 1, "a", 1.5), (day + 20, 2, "b", None),
            (day + 30, 3, "a", -2.25),
            (day + 86400 + 5, 4, None, 0.5),
            (day + 86400 + 6, 5, "c", 9.0)]
    df = spark.createDataFrame(
        rows, "t long, id long, kind string, score float")
    root = str(tmp_path / "root")
    rep = export_ares_root(spark, df, root, schema)
    assert rep["days"] == {19000: 3, 19001: 2}
    # metastore written in the reference's own file formats
    meta = read_table_meta(root, "ev")
    assert meta.enums["kind"] == ["a", "b", "c"]
    assert meta.shards[0].archiving_cutoff == day + 86400 + 7
    # the sort column landed RLE'd (mode 3) on the 3-row day
    bdir = archive_batch_dir(root, "ev", 0, 19000,
                             meta.shards[0].archiving_cutoff)
    with open(os.path.join(bdir, "2.data"), "rb") as f:
        vp = read_vector_party_bytes(f.read())
    assert vp.mode == HAS_COUNT_VECTOR
    assert vp.rows() == [0, 0, 1]  # enum ids a,a,b after the day sort

    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    assert out["ev"]["rows"] == 5
    back = spark.read.parquet(out["ev"]["path"])
    got = {r.id: (r.kind, r.score) for r in back.collect()}
    assert got == {1: ("a", 1.5), 2: ("b", None), 3: ("a", -2.25),
                   4: (None, 0.5), 5: ("c", 9.0)}


def test_export_enum_cardinality_guard(spark, tmp_path):
    from aresdb_spark.sources.ares_root import export_ares_root

    schema = {"name": "big", "isFactTable": True,
              "columns": [{"name": "t", "type": "Uint32"},
                          {"name": "kind", "type": "SmallEnum"}]}
    df = spark.range(300).selectExpr(
        "1000 AS t", "CAST(id AS string) AS kind")
    with pytest.raises(ValueError, match="cardinality 256"):
        export_ares_root(spark, df, str(tmp_path / "r"), schema)


def test_export_dimension_snapshot_roundtrip(spark, tmp_path):
    from aresdb_spark.sources.ares_root import (
        export_dimension_snapshot, migrate_ares_root)

    schema = {"name": "cities", "isFactTable": False,
              "primaryKeyColumns": [0], "columns": [
                  {"name": "id", "type": "Uint16"},
                  {"name": "name", "type": "BigEnum"},
                  {"name": "tags", "type": "SmallEnum[]"}]}
    df = spark.createDataFrame(
        [(7, "sf", ["x", "y"]), (9, "nyc", None)],
        "id int, name string, tags array<string>")
    root = str(tmp_path / "root")
    rep = export_dimension_snapshot(spark, df, root, schema)
    assert rep["rows"] == 2
    meta = read_table_meta(root, "cities")
    assert meta.shards[0].snapshot == (1, 0, -2**31, 1)
    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    back = spark.read.parquet(out["cities"]["path"])
    got = {r.id: (r.name, r.tags) for r in back.collect()}
    assert got == {7: ("sf", ["x", "y"]), 9: ("nyc", None)}


# --------------------------------------------------------------------------
# Go-type (GeoShape) vector parties — goLiveVectorParty format
# --------------------------------------------------------------------------

def test_geoshape_vp_roundtrip_and_layout():
    from aresdb_spark.sources.ares_root import (
        read_go_vector_party_bytes, write_go_vector_party_bytes)

    shapes = ["Polygon((10 1,20 2,30 3))", None,
              "Polygon((0 0,1 0,1 1),(0.2 0.2,0.4 0.2))"]
    buf = write_go_vector_party_bytes("GeoShape", shapes)
    # header: totalBytes = (3 + 3 + 2) points * 8; length 3; numValid 2
    assert struct.unpack_from("<QII", buf, 0) == (64, 3, 2)
    # not all valid -> each value is prefixed by its row index
    assert struct.unpack_from("<I", buf, 16)[0] == 0
    vp = read_go_vector_party_bytes(buf)
    assert vp.length == 3 and vp.non_default_count == 2
    assert vp.values[1] is None
    assert vp.values[0].lower().startswith("polygon((10 1")
    # WKT is lng-first; repo shapes store lat-first — round-trip exact
    assert vp.values[2].lower() == "polygon((0 0,1 0,1 1),(0.2 0.2,0.4 0.2))"


def test_geoshape_all_valid_omits_indices():
    from aresdb_spark.sources.ares_root import (
        read_go_vector_party_bytes, write_go_vector_party_bytes)

    buf = write_go_vector_party_bytes(
        "GeoShape", ["Polygon((1 1,2 2))", "Polygon((3 3,4 4))"])
    # all-valid: payloads start right after the 16-byte header, no
    # per-value row index (live_vector_party.go:219-224)
    assert struct.unpack_from("<I", buf, 16)[0] == 1  # numPolygons of row 0
    vp = read_go_vector_party_bytes(buf)
    assert vp.non_default_count == 2 and None not in vp.values


def test_geoshape_dimension_snapshot_migration(spark, tmp_path):
    """A geofence dimension table (the reference's geo-join pattern)
    round-trips: export snapshot -> migrate -> WKT intact."""
    from aresdb_spark.sources.ares_root import (
        export_dimension_snapshot, migrate_ares_root)

    schema = {"name": "geofences", "isFactTable": False,
              "primaryKeyColumns": [0], "columns": [
                  {"name": "fence_id", "type": "Int64"},
                  {"name": "shape", "type": "GeoShape"}]}
    df = spark.createDataFrame(
        [(1, "Polygon((0 0,40 0,40 30,0 30))"), (2, None)],
        "fence_id long, shape string")
    root = str(tmp_path / "root")
    export_dimension_snapshot(spark, df, root, schema)
    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    got = {r.fence_id: r.shape for r in spark.read.parquet(
        out["geofences"]["path"]).collect()}
    assert got[2] is None
    assert got[1].lower() == "polygon((0 0,40 0,40 30,0 30))"


def test_migrate_multi_shard_root(spark, tmp_path):
    """A table sharded across N datanodes migrates whole: every shard's
    selected batches union into one table (the engine has no shard
    concept at rest — Spark partitioning replaces it)."""
    import json

    root = str(tmp_path / "root")
    day, t0 = 18048, 18048 * 86400
    schema = {"name": "ev", "isFactTable": True, "primaryKeyColumns": [1],
              "columns": [{"name": "t", "type": "Uint32"},
                          {"name": "id", "type": "Int64"}]}
    _write(f"{root}/metastore/ev/schema", json.dumps(schema))
    for shard, ids in ((0, [1, 2]), (1, [3]), (2, [4, 5, 6])):
        _write(f"{root}/metastore/ev/shards/{shard}/version", "1600000000")
        _write(f"{root}/metastore/ev/shards/{shard}/batches/{day}",
               f"1559436638,{len(ids)}\n")
        d = archive_batch_dir(root, "ev", shard, day, 1559436638)
        _write(f"{d}/0.data", write_vector_party_bytes(
            "Uint32", [t0 + i for i in ids]))
        _write(f"{d}/1.data", write_vector_party_bytes("Int64", ids))
    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    assert out["ev"]["rows"] == 6
    got = sorted(r.id for r in spark.read.parquet(
        out["ev"]["path"]).collect())
    assert got == [1, 2, 3, 4, 5, 6]


def test_validate_migration(spark, tmp_path):
    """Per-day counts of the migrated table reconcile against the
    metastore's own batch sizes; a tampered metastore size is caught."""
    import json

    from aresdb_spark.sources.ares_root import validate_migration

    root = _build_root(tmp_path / "root")
    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    rep = validate_migration(spark, root, "trips", out["trips"]["path"])
    assert rep["ok"] is True
    assert rep["days"] == {"2019-06-01": {
        "expected": 4, "actual": 4, "match": True}}

    # tamper: metastore claims 9 rows for the day
    bpath = os.path.join(str(tmp_path / "root"), "metastore", "trips",
                         "shards", "0", "batches", "18048")
    with open(bpath, "w") as f:
        f.write("1559400000,2\n1559436638,9\n")
    bad = validate_migration(spark, root, "trips", out["trips"]["path"])
    assert bad["ok"] is False
    assert bad["days"]["2019-06-01"] == {
        "expected": 9, "actual": 4, "match": False}


def test_validate_migration_value_hashes(spark, tmp_path):
    """check_values=True re-decodes the legacy batches through the same
    codec and compares per-day CONTENT hashes against the migrated
    parquet — catching value corruption that leaves row counts intact
    (VERDICT r6 directive 7)."""
    from pyspark.sql import functions as F

    from aresdb_spark.sources.ares_root import validate_migration

    root = _build_root(tmp_path / "root")
    out = migrate_ares_root(spark, root, str(tmp_path / "back"))
    path = out["trips"]["path"]

    rep = validate_migration(spark, root, "trips", path, check_values=True)
    assert rep["ok"] is True
    assert rep["days"]["2019-06-01"]["match"] is True
    assert rep["days"]["2019-06-01"]["value_match"] is True

    # corrupt one VALUE in the migrated copy, preserving the row count:
    # per-day counts still reconcile, only the content hash catches it
    tampered = spark.read.parquet(path).withColumn(
        "city_id", F.when(F.col("uuid") ==
                          "00000000-0000-0000-0000-000000000001",
                          F.lit(999)).otherwise(F.col("city_id"))) \
        .drop("__day").localCheckpoint(eager=True)
    from aresdb_spark.sources.writer import write_archive
    write_archive(tampered.withColumn("request_at",
                                      F.col("request_at").cast("timestamp")),
                  path, "request_at", ("city_id",))

    bad = validate_migration(spark, root, "trips", path, check_values=True)
    assert bad["ok"] is False
    day = bad["days"]["2019-06-01"]
    assert day["match"] is True          # counts alone can't see it
    assert day["value_match"] is False   # the content hash does


# --------------------------------------------------------------------------
# review regressions: defaults, corruption, robustness
# --------------------------------------------------------------------------

def test_mode0_and_missing_columns_use_schema_default(tmp_path):
    """An all-default file (or a missing one) reads as the column's
    CONFIGURED defaultValue (schema.go SetDefaultValue), not NULL; a
    mode-2 null stays NULL — nulls in a present file are genuine."""
    schema = {"name": "t", "columns": [
        {"name": "id", "type": "Uint16"},
        {"name": "n", "type": "Uint32", "defaultValue": "7"},
        {"name": "flag", "type": "Bool", "defaultValue": "true"},
        {"name": "kind", "type": "SmallEnum", "defaultValue": "b"},
        {"name": "missing", "type": "Int64", "defaultValue": "-5"},
        {"name": "no_default", "type": "Int32"},
    ]}
    d = str(tmp_path / "b")
    _write(f"{d}/0.data", write_vector_party_bytes("Uint16", [1, 2]))
    _write(f"{d}/1.data", write_vector_party_bytes("Uint32", [None, None]))
    _write(f"{d}/2.data", write_vector_party_bytes("Bool", [None, None]))
    _write(f"{d}/3.data", write_vector_party_bytes(
        "SmallEnum", [None, None]))
    # column 4 has no file at all; column 5 is all-default w/o default
    _write(f"{d}/5.data", write_vector_party_bytes("Int32", [None, None]))
    cols = read_batch_columns(d, schema, {"kind": ["a", "b"]})
    assert cols["n"] == [7, 7]
    assert cols["flag"] == [True, True]
    assert cols["kind"] == ["b", "b"]  # default IS the case string
    assert cols["missing"] == [-5, -5]
    assert cols["no_default"] == [None, None]


def test_negative_length_refused():
    buf = bytearray(write_vector_party_bytes("Uint8", [1, 2]))
    struct.pack_into("<i", buf, 4, -2)
    with pytest.raises(VectorPartyCorruptError, match="negative"):
        read_vector_party_bytes(bytes(buf))


def test_stray_files_in_shards_dir_skipped(tmp_path):
    root = _build_root(tmp_path)
    _write(os.path.join(str(tmp_path), "metastore", "trips", "shards",
                        ".DS_Store"), "junk")
    meta = read_table_meta(root, "trips")
    assert [s.shard for s in meta.shards] == [0]


def test_export_rejects_empty_and_null_time(spark, tmp_path):
    from aresdb_spark.sources.ares_root import export_ares_root

    schema = {"name": "t", "isFactTable": True, "columns": [
        {"name": "ts", "type": "Uint32"},
        {"name": "id", "type": "Int64"}]}
    empty = spark.createDataFrame([], "ts long, id long")
    with pytest.raises(ValueError, match="empty DataFrame"):
        export_ares_root(spark, empty, str(tmp_path / "a"), schema)
    nulls = spark.createDataFrame([(None, 1), (1000, 2)],
                                  "ts long, id long")
    with pytest.raises(ValueError, match="NULL values"):
        export_ares_root(spark, nulls, str(tmp_path / "b"), schema)
