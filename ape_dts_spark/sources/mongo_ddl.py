"""Mongo change-stream DDL events -> replayable command documents.

Reference: ``dt-common/src/meta/mongo/mongo_ddl.rs`` (:21-59
command_to_query/query_to_command/build_shard_collection_ddl, :50-185
change_stream_event_to_ddl + sharding_event_to_ddl + the description-field
copy rules). MongoDB's showExpandedEvents change streams (6.0+) surface DDL
as events with an ``operationDescription``; this module normalizes each to
the runCommand document a Mongo sinker replays — create/drop/rename
collection, dropDatabase, createIndexes/dropIndexes, collMod, and the
sharding family (shardCollection/reshardCollection/refineCollectionShardKey).

Output shape: ``{"schema", "tb", "new_schema", "new_tb", "ddl_type",
"command"}`` with ``ddl_type`` the reference's serialized names
(``mongo_create_collection``, ...) and ``command`` the ordered dict whose
canonical-ext-JSON rendering is the DdlData query. Events the reference
returns None for (missing ns, unknown operation, description-less index
ops) return None here too.
"""

from __future__ import annotations

import json

from ape_dts_spark.sources import bson_codec as bc

SHARD_TYPES = {
    "shardCollection": "mongo_shard_collection",
    "reshardCollection": "mongo_reshard_collection",
    "refineCollectionShardKey": "mongo_refine_collection_shard_key",
}


def command_to_query(command: dict) -> str:
    """Command document -> canonical ext-JSON string (mongo_ddl.rs:21-23;
    the repo's to_jsonable renderings stand in for bson's canonical form,
    matching the rest of the Mongo surface)."""
    return json.dumps(bc.to_jsonable(command), sort_keys=False)


def query_to_command(query: str) -> dict:
    """JSON query string -> command dict; non-document JSON raises
    (mongo_ddl.rs:25-31)."""
    value = json.loads(query)
    if not isinstance(value, dict):
        raise ValueError(f"mongo ddl query is not a document: {value!r}")
    return value


def _copy_description_fields(description: dict, command: dict,
                             ignored: tuple = ()) -> None:
    for key, value in description.items():
        if key in ignored:
            continue
        command[key] = value


def _first_index_name(description: dict):
    """dropIndexes descriptions carry either index-spec documents (name
    field) or bare name strings, singly or as an array (rs:236-252)."""
    indexes = description.get("indexes")
    if indexes is None:
        return None
    if isinstance(indexes, list):
        indexes = indexes[0] if indexes else None
    if isinstance(indexes, str):
        return indexes
    if isinstance(indexes, dict):
        return indexes.get("name")
    return None


def _build(db: str, tb: str, new_db: str, new_tb: str, ddl_type: str,
           command: dict) -> dict:
    return {"schema": db, "tb": tb, "new_schema": new_db, "new_tb": new_tb,
            "ddl_type": ddl_type, "command": command,
            "query": command_to_query(command)}


def build_shard_collection_ddl(ns: str, key: dict, unique: bool = False) -> dict | None:
    """Config-driven shardCollection DDL (rs:33-49) — the statement a task
    emits when re-sharding the target to the source's shard key."""
    if "." not in ns:
        return None
    db, coll = ns.split(".", 1)
    return _build(db, coll, "", "", "mongo_shard_collection",
                  {"shardCollection": ns, "key": key, "unique": unique})


def change_stream_event_to_ddl(event: dict) -> dict | None:
    """One showExpandedEvents change-stream event -> the replayable command
    (change_stream_event_to_ddl parity, rs:50-185)."""
    op = event.get("operationType")
    ns = event.get("ns")
    if not isinstance(op, str) or not isinstance(ns, dict):
        return None
    db = ns.get("db")
    if not isinstance(db, str):
        return None
    coll = ns.get("coll") or ""
    desc = event.get("operationDescription")
    desc = desc if isinstance(desc, dict) else None

    if op == "create":
        command = {"create": coll}
        if desc:
            _copy_description_fields(desc, command, ignored=("idIndex",))
        return _build(db, coll, "", "", "mongo_create_collection", command)

    if op == "drop":
        return _build(db, coll, "", "", "mongo_drop_collection", {"drop": coll})

    if op == "rename":
        to = event.get("to")
        if not isinstance(to, dict):
            return None
        new_db, new_coll = to.get("db"), to.get("coll")
        if not isinstance(new_db, str) or not isinstance(new_coll, str):
            return None
        return _build(
            db, coll, new_db, new_coll, "mongo_rename_collection",
            {"renameCollection": f"{db}.{coll}", "to": f"{new_db}.{new_coll}"},
        )

    if op == "dropDatabase":
        return _build(db, "", "", "", "mongo_drop_database", {"dropDatabase": 1})

    if op == "createIndexes":
        if desc is None or "indexes" not in desc:
            return None
        return _build(db, coll, "", "", "mongo_create_index",
                      {"createIndexes": coll, "indexes": desc["indexes"]})

    if op == "dropIndexes":
        if desc is None:
            return None
        index = _first_index_name(desc)
        if index is None:
            return None
        return _build(db, coll, "", "", "mongo_drop_index",
                      {"dropIndexes": coll, "index": index})

    if op == "modify":
        command = {"collMod": coll}
        if desc:
            _copy_description_fields(desc, command)
        return _build(db, coll, "", "", "mongo_coll_mod", command)

    if op in SHARD_TYPES:
        if desc is None:
            return None
        shard_key = desc.get("shardKey")
        if not isinstance(shard_key, dict):
            return None
        command = {op: f"{db}.{coll}", "key": shard_key}
        _copy_description_fields(
            desc, command, ignored=("shardKey", "reshardUUID", "oldShardKey")
        )
        return _build(db, coll, "", "", SHARD_TYPES[op], command)

    return None
