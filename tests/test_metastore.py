"""Schema metastore tests — validator rules, mutation semantics, handler
status codes, JSON persistence, and the bridge into query planning.

Mirrors the reference's own test coverage model for
metastore/disk_metastore.go and api/schema_handler.go.
"""

import os

import pytest

from aresdb_spark.metastore import (DEFAULT_TABLE_CONFIG,
                                    ErrChangePrimaryKeyColumn,
                                    ErrColumnDoesNotExist,
                                    ErrDeletePrimaryKeyColumn,
                                    ErrDeleteTimeColumn,
                                    ErrDuplicatedColumnName,
                                    ErrIllegalChangeSortColumn,
                                    ErrInsufficientColumnCount,
                                    ErrInvalidDataType,
                                    ErrInvalidPrimaryKeyDataType,
                                    ErrMissingPrimaryKey,
                                    ErrMissingTimeColumn,
                                    ErrReusingColumnIDNotAllowed,
                                    ErrSchemaUpdateNotAllowed,
                                    ErrTableAlreadyExist,
                                    ErrTableDoesNotExist, SchemaHandler,
                                    SchemaStore, catalog_from_store,
                                    table_def_from_schema, validate_table)
from tests.conftest import REFERENCE_ROOT, SF_DIR, assert_df_matches_duck


def dim_table(name="cities"):
    return {
        "name": name,
        "columns": [{"name": "id", "type": "Uint32"},
                    {"name": "city", "type": "BigEnum"}],
        "primaryKeyColumns": [0],
        "isFactTable": False,
    }


def fact_table(name="trips"):
    return {
        "name": name,
        "columns": [{"name": "request_at", "type": "Uint32"},
                    {"name": "trip_id", "type": "Int64"},
                    {"name": "fare", "type": "Float32"},
                    {"name": "tags", "type": "Int32[]"}],
        "primaryKeyColumns": [1],
        "isFactTable": True,
        "archivingSortColumns": [0, 2],
    }


# --- validator (metastore/validator.go) -------------------------------------

def test_validate_accepts_reference_shapes():
    validate_table(dim_table())
    validate_table(fact_table())


@pytest.mark.parametrize("mutate,err", [
    (lambda t: t["columns"].append({"name": "fare", "type": "Uint32"}),
     ErrDuplicatedColumnName),
    (lambda t: t["columns"].append({"name": "x", "type": "VarChar"}),
     ErrInvalidDataType),
    (lambda t: t.update(primaryKeyColumns=[]), ErrMissingPrimaryKey),
    (lambda t: t.update(primaryKeyColumns=[3]), ErrInvalidPrimaryKeyDataType),
    (lambda t: t["columns"].__setitem__(
        0, {"name": "request_at", "type": "Int64"}), ErrMissingTimeColumn),
])
def test_validate_rejects(mutate, err):
    t = fact_table()
    mutate(t)
    with pytest.raises(err):
        validate_table(t)


def test_update_immutability_rules():
    old = fact_table()
    renamed = fact_table()
    renamed["columns"][1]["name"] = "trip_uuid"
    with pytest.raises(ErrSchemaUpdateNotAllowed):
        validate_table(renamed, old)

    shrunk = fact_table()
    shrunk["columns"] = shrunk["columns"][:2]
    shrunk["primaryKeyColumns"] = [1]
    shrunk["archivingSortColumns"] = [0]
    with pytest.raises(ErrInsufficientColumnCount):
        validate_table(shrunk, old)

    repk = fact_table()
    repk["primaryKeyColumns"] = [2]
    with pytest.raises(ErrChangePrimaryKeyColumn):
        validate_table(repk, old)

    resort = fact_table()
    resort["archivingSortColumns"] = [2, 0]  # not a prefix extension
    with pytest.raises(ErrIllegalChangeSortColumn):
        validate_table(resort, old)

    old_del = fact_table()
    old_del["columns"][2]["deleted"] = True
    revived = fact_table()
    with pytest.raises(ErrReusingColumnIDNotAllowed):
        validate_table(revived, old_del)


# --- store mutations (disk_metastore.go) ------------------------------------

def test_create_list_get_delete_and_config_defaults():
    s = SchemaStore()
    s.create_table(dim_table())
    s.create_table(fact_table())
    assert s.list_tables() == ["cities", "trips"]
    got = s.get_table("trips")
    # DefaultTableConfig merged under the (empty) caller config
    assert got["config"]["batchSize"] == DEFAULT_TABLE_CONFIG["batchSize"]
    with pytest.raises(ErrTableAlreadyExist):
        s.create_table(dim_table())
    s.delete_table("cities")
    with pytest.raises(ErrTableDoesNotExist):
        s.get_table("cities")


def test_add_column_appends_and_extends_sort_order():
    s = SchemaStore()
    s.create_table(fact_table())
    s.add_column("trips", {"name": "city_id", "type": "Uint16"},
                 add_to_sort_order=True)
    t = s.get_table("trips")
    assert t["columns"][-1]["name"] == "city_id"
    assert t["archivingSortColumns"] == [0, 2, 4]
    assert t["version"] == 1
    # appending an invalid column must not corrupt the stored schema
    with pytest.raises(ErrInvalidDataType):
        s.add_column("trips", {"name": "bad", "type": "Text"})
    assert len(s.get_table("trips")["columns"]) == 5


def test_update_column_touches_only_config():
    s = SchemaStore()
    s.create_table(fact_table())
    s.update_column("trips", "fare", {"preloadingDays": 7})
    assert s.get_table("trips")["columns"][2]["config"] == {"preloadingDays": 7}
    with pytest.raises(ErrColumnDoesNotExist):
        s.update_column("trips", "nope", {})


def test_delete_column_tombstones_and_guards():
    s = SchemaStore()
    s.create_table(fact_table())
    s.delete_column("trips", "fare")
    col = s.get_table("trips")["columns"][2]
    assert col["deleted"] is True and col["name"] == "fare"  # id kept
    with pytest.raises(ErrColumnDoesNotExist):
        s.delete_column("trips", "fare")  # already tombstoned
    with pytest.raises(ErrDeleteTimeColumn):
        s.delete_column("trips", "request_at")
    with pytest.raises(ErrDeletePrimaryKeyColumn):
        s.delete_column("trips", "trip_id")


def test_delete_table_drops_enum_dictionaries(tmp_path):
    """Recreating a same-named table must NOT inherit the old table's
    enum dictionaries (reference removeTable deletes the table dir)."""
    s = SchemaStore(base_dir=str(tmp_path / "meta"))
    t = dim_table()
    t["columns"][1]["type"] = "SmallEnum"
    s.create_table(t)
    s.extend_enum_dict("cities", "city", ["sf", "nyc"])
    s.delete_table("cities")
    s.create_table(t)
    assert s.get_enum_cases("cities", "city") == []
    assert SchemaStore(base_dir=s.base_dir).get_enum_cases(
        "cities", "city") == []


def test_json_persistence_round_trip(tmp_path):
    base = str(tmp_path / "meta")
    s = SchemaStore(base_dir=base)
    s.create_table(fact_table())
    s.add_column("trips", {"name": "tip", "type": "Float32"})
    # a fresh store over the same dir sees the same documents
    s2 = SchemaStore(base_dir=base)
    assert s2.get_table("trips") == s.get_table("trips")
    s2.delete_table("trips")
    assert SchemaStore(base_dir=base).list_tables() == []


def test_enum_dict_extend_idempotent_with_cardinality_limit(tmp_path):
    from aresdb_spark.metastore import (ErrEnumCardinalityOverflow,
                                        ErrNotEnumColumn)
    s = SchemaStore(base_dir=str(tmp_path / "meta"))
    t = dim_table()
    t["columns"][1]["type"] = "SmallEnum"
    s.create_table(t)
    assert s.extend_enum_dict("cities", "city", ["sf", "nyc"]) == [0, 1]
    # existing cases keep their ids; only genuinely new ones get new ids
    assert s.extend_enum_dict("cities", "city", ["nyc", "la"]) == [1, 2]
    assert s.get_enum_cases("cities", "city") == ["sf", "nyc", "la"]
    # persisted with the reference's \x00\n delimiter and reloadable
    s2 = SchemaStore(base_dir=s.base_dir)
    assert s2.get_enum_cases("cities", "city") == ["sf", "nyc", "la"]
    with pytest.raises(ErrNotEnumColumn):
        s.extend_enum_dict("cities", "id", ["x"])
    with pytest.raises(ErrEnumCardinalityOverflow):
        s.extend_enum_dict("cities", "city", [f"c{i}" for i in range(254)])
    # tombstoning the column drops its dictionary
    s.delete_column("cities", "city")
    with pytest.raises(ErrColumnDoesNotExist):
        s.get_enum_cases("cities", "city")
    assert SchemaStore(base_dir=s.base_dir)._enums == {}


# --- handler layer (api/schema_handler.go) ----------------------------------

def test_handler_status_codes():
    h = SchemaHandler(SchemaStore())
    assert h.list_tables() == (200, [])
    status, _ = h.add_table(fact_table())
    assert status == 200
    assert h.add_table(fact_table())[0] == 400         # duplicate
    assert h.get_table("nope")[0] == 404               # missing → 404
    assert h.get_table("trips")[0] == 200
    assert h.add_column("trips", {"column": {"name": "tip", "type": "Float32"},
                                  "addToArchivingSortOrder": False})[0] == 200
    assert h.update_column("trips", "tip", {"preloadingDays": 1})[0] == 200
    assert h.delete_column("trips", "request_at")[0] == 400  # time column
    assert h.update_table_config("trips", {"batchSize": 1024})[0] == 200
    assert h.store.get_table("trips")["config"]["batchSize"] == 1024
    assert h.delete_table("trips")[0] == 200
    assert h.delete_table("trips")[0] == 404


def test_handler_malformed_bodies_are_400():
    """Bodies missing required fields return 400 like the reference's
    decode-failure path, never a raw KeyError (code-review r5 #2)."""
    h = SchemaHandler(SchemaStore())
    assert h.add_table({"columns": []})[0] == 400          # no name
    h.add_table(fact_table())
    assert h.add_column("trips", {})[0] == 400             # no column
    assert h.add_column("trips", {"column": {"name": "x"}})[0] == 400


def test_enum_handler_routes():
    h = SchemaHandler(SchemaStore())
    t = dim_table()
    t["columns"][1]["type"] = "BigEnum"
    h.add_table(t)
    assert h.list_enum_cases("cities", "city") == (200, [])
    assert h.add_enum_case("cities", "city",
                           {"enumCases": ["sf", "nyc"]}) == (200, [0, 1])
    assert h.list_enum_cases("cities", "city") == (200, ["sf", "nyc"])
    assert h.list_enum_cases("nope", "city")[0] == 404
    assert h.add_enum_case("cities", "id", {"enumCases": ["x"]})[0] == 400


REFERENCE_SCHEMAS = os.path.join(REFERENCE_ROOT, "examples", "1k_trips",
                                 "schema")


@pytest.mark.usefixtures("reference_root")
def test_reference_example_schemas_round_trip(tmp_path):
    """The reference's own shipped schema documents (examples/1k_trips)
    load, validate, persist, and bridge into planner TableDefs unchanged
    — the strongest document-shape parity check available."""
    import json

    s = SchemaStore(base_dir=str(tmp_path / "meta"))
    for fn in sorted(os.listdir(REFERENCE_SCHEMAS)):
        with open(os.path.join(REFERENCE_SCHEMAS, fn)) as f:
            s.create_table(json.load(f))
    assert s.list_tables() == ["cities", "trips"]

    trips = s.get_table("trips")
    # caller config preserved where set, defaults filled where absent
    assert trips["config"]["recordRetentionInDays"] == 3
    assert trips["config"]["snapshotIntervalMinutes"] == 360  # default

    td = table_def_from_schema(trips)
    assert td.is_fact and td.time_column == "request_at"
    assert td.primary_key == ("uuid",)
    assert td.sort_columns == ("city_id", "status")
    assert not table_def_from_schema(s.get_table("cities")).is_fact

    # mutations behave on the real documents
    s.extend_enum_dict("trips", "status", ["completed", "cancelled"])
    with pytest.raises(ErrDeleteTimeColumn):
        s.delete_column("trips", "request_at")
    with pytest.raises(ErrDeletePrimaryKeyColumn):
        s.delete_column("trips", "uuid")
    s.delete_column("trips", "fare")
    assert SchemaStore(base_dir=s.base_dir).get_table(
        "trips")["columns"][4]["deleted"] is True


# --- bridge into planning ----------------------------------------------------

def test_table_def_from_schema_maps_ids_to_names():
    td = table_def_from_schema(fact_table())
    assert td.is_fact and td.time_column == "request_at"
    assert td.primary_key == ("trip_id",)
    assert td.sort_columns == ("request_at", "fare")
    # tombstoned sort column drops out of the def
    t = fact_table()
    t["columns"][2]["deleted"] = True
    assert table_def_from_schema(t).sort_columns == ("request_at",)


def test_metastore_drives_query_planning(spark, duck):
    """A schema document registered through the metastore plans a real
    AQL query: fact flag routes the time filter to column 0's name."""
    from aresdb_spark.aql import Measure, Query, TimeFilter
    from aresdb_spark.aql.planner import Planner

    s = SchemaStore()
    s.create_table({
        "name": "events",
        "columns": [{"name": "ts", "type": "Uint32"},
                    {"name": "event_id", "type": "Int64"},
                    {"name": "user_id", "type": "Int64"},
                    {"name": "event_type", "type": "BigEnum"},
                    {"name": "value", "type": "Float32"}],
        "primaryKeyColumns": [1],
        "isFactTable": True,
        "archivingSortColumns": [0, 2],
    })
    cat = catalog_from_store(SF_DIR, s)
    df = Planner(spark, cat).plan(Query(
        table="events",
        measures=[Measure(expr="count(*)", alias="cnt")],
        time_filter=TimeFilter(from_="2024-01-05", to="2024-01-20")))
    assert_df_matches_duck(df, duck, """
        SELECT count(*) AS cnt FROM events
        WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-21'
    """)
