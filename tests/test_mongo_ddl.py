"""Mongo change-stream DDL normalization (mongo_ddl.rs parity): every
operationType maps to its replayable runCommand document, description
fields copy with the reference's per-op ignore rules, and malformed events
return None exactly where the reference bails."""

import pytest

from ape_dts_spark.sources.mongo_ddl import (
    build_shard_collection_ddl,
    change_stream_event_to_ddl,
    command_to_query,
    query_to_command,
)


def _ev(op, db="appdb", coll="items", **kw):
    ev = {"operationType": op, "ns": {"db": db, "coll": coll}}
    ev.update(kw)
    return ev


def test_create_drops_id_index_from_description():
    d = change_stream_event_to_ddl(_ev(
        "create",
        operationDescription={"idIndex": {"v": 2, "key": {"_id": 1}},
                              "capped": True, "size": 1024},
    ))
    assert d["ddl_type"] == "mongo_create_collection"
    assert d["command"] == {"create": "items", "capped": True, "size": 1024}
    assert query_to_command(d["query"])["create"] == "items"


def test_drop_rename_dropdatabase():
    d = change_stream_event_to_ddl(_ev("drop"))
    assert d["command"] == {"drop": "items"} and d["tb"] == "items"
    r = change_stream_event_to_ddl(_ev(
        "rename", to={"db": "appdb", "coll": "items2"}))
    assert r["ddl_type"] == "mongo_rename_collection"
    assert r["command"] == {"renameCollection": "appdb.items",
                            "to": "appdb.items2"}
    assert (r["new_schema"], r["new_tb"]) == ("appdb", "items2")
    assert change_stream_event_to_ddl(_ev("rename")) is None  # no target
    db = change_stream_event_to_ddl(
        {"operationType": "dropDatabase", "ns": {"db": "appdb"}})
    assert db["ddl_type"] == "mongo_drop_database"
    assert db["command"] == {"dropDatabase": 1} and db["tb"] == ""


def test_index_ops():
    spec = [{"v": 2, "key": {"a": 1}, "name": "a_1"}]
    c = change_stream_event_to_ddl(_ev(
        "createIndexes", operationDescription={"indexes": spec}))
    assert c["command"] == {"createIndexes": "items", "indexes": spec}
    # drop by spec document -> the index NAME (rs first_index_name)
    d = change_stream_event_to_ddl(_ev(
        "dropIndexes", operationDescription={"indexes": spec}))
    assert d["command"] == {"dropIndexes": "items", "index": "a_1"}
    # drop by bare name string
    d2 = change_stream_event_to_ddl(_ev(
        "dropIndexes", operationDescription={"indexes": "a_1"}))
    assert d2["command"]["index"] == "a_1"
    assert change_stream_event_to_ddl(_ev("createIndexes")) is None
    assert change_stream_event_to_ddl(_ev(
        "dropIndexes", operationDescription={"indexes": []})) is None


def test_collmod_and_sharding_ignore_rules():
    m = change_stream_event_to_ddl(_ev(
        "modify", operationDescription={"validationLevel": "strict"}))
    assert m["command"] == {"collMod": "items", "validationLevel": "strict"}
    s = change_stream_event_to_ddl(_ev(
        "shardCollection",
        operationDescription={"shardKey": {"uid": 1}, "unique": False,
                              "reshardUUID": "xx", "oldShardKey": {"a": 1}}))
    assert s["command"] == {"shardCollection": "appdb.items",
                            "key": {"uid": 1}, "unique": False}
    assert s["ddl_type"] == "mongo_shard_collection"
    r = change_stream_event_to_ddl(_ev(
        "refineCollectionShardKey",
        operationDescription={"shardKey": {"uid": 1, "ts": 1}}))
    assert r["ddl_type"] == "mongo_refine_collection_shard_key"
    assert change_stream_event_to_ddl(_ev("shardCollection")) is None


def test_build_shard_collection_and_query_roundtrip():
    d = build_shard_collection_ddl("appdb.items", {"uid": "hashed"}, unique=True)
    assert d["command"] == {"shardCollection": "appdb.items",
                            "key": {"uid": "hashed"}, "unique": True}
    assert build_shard_collection_ddl("noseparator", {}) is None
    with pytest.raises(ValueError, match="not a document"):
        query_to_command("[1, 2]")
    assert command_to_query({"drop": "x"}) == '{"drop": "x"}'


def test_unknown_and_malformed_events():
    assert change_stream_event_to_ddl(_ev("invalidate")) is None
    assert change_stream_event_to_ddl({"operationType": "drop"}) is None
    assert change_stream_event_to_ddl({"ns": {"db": "x"}}) is None


def test_normalize_routes_ddl_events():
    from ape_dts_spark.sources import bson_codec as bc
    from ape_dts_spark.sources.mongo_client import normalize_change_stream_event

    ev = _ev("rename", to={"db": "appdb", "coll": "items2"})
    ev["clusterTime"] = bc.Timestamp(500, 1)
    row = normalize_change_stream_event(ev, "f", 3)
    assert row["row_type"] == "ddl" and row["id"] == "mongo_rename_collection"
    assert '"renameCollection": "appdb.items"' in row["diff"]
    assert '"new_tb": "items2"' in row["doc"]
    # unknown DDL-ish events skip entirely
    ev2 = _ev("invalidate")
    ev2["clusterTime"] = bc.Timestamp(501, 1)
    assert normalize_change_stream_event(ev2) is None
