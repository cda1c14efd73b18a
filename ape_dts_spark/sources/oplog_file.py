"""MongoDB oplog file parsing (at rest) + a deterministic writer.

Parses mongodump-style ``.bson`` dumps of ``local.oplog.rs`` (concatenated
BSON documents — the public dump format; entry shape per the public oplog
format, mongo/db/repl/oplog.cpp) into canonical change rows compatible with
the existing Mongo change model (sources/mongo.py: ``_id``-keyed JSON
document images). This completes the at-rest half of the Mongo native-CDC
story the way sources/binlog_file.py does for MySQL binlog files and
sources/pgoutput_file.py does for PG logical replication; the reference
tails the same entries over a live cursor
(dt-connector/src/extractor/mongo/mongo_cdc_extractor.rs:341-446).

Reference parity (mongo_cdc_extractor.rs):
- op dispatch 376-446: 'i' insert (o = full doc), 'u' update (o = diff,
  o2 = {_id}), 'd' delete (o = {_id}), 'c' applyOps (7.0+ deleteMany emits
  one delete per applyOps item, extract_oplog_delete_many 488-526),
  'n' noop skipped,
- update-diff flattening 95-176 (build_oplog_update_doc /
  flatten_oplog_diff): MongoDB <=4.4 sends {$set, $unset}; 5.0+ sends the
  $v:2 delta {diff: {i:…, u:…, d:…, s<field>: <nested>}} — both normalize to
  one flat {$set: {dotted.path: v}, $unset: {dotted.path: 1}} doc; an update
  that is neither is dropped (logged) exactly like rs:397-404,
- position 539-544: operation_time = ts.time (the seconds half of the BSON
  Timestamp) — MongoCdcPosition,
- ns split 530-535: db = text before the FIRST '.', tb = the rest
  (collection names may themselves contain dots).

Scale shape: the oplog is one replica set's serialized op log — inherently
sequential — so the unit of parallelism is the dump FILE: read by the shared
file scan runner (``session._scan_files``: ``binaryFile``, one Arrow-batched
``mapInPandas`` pass, or its streaming tail) with this module's decode. Total
order = (file index, ts.time, ts.inc, in-file seq). State replay
(``fold_oplog_state``) groups by (db, tb, _id) — per-document history is
small and keyed, so the fold is one shuffle keyed on the id, no driver
state.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _chain_decode, _scan_files, _write_chain
from ape_dts_spark.sources import bson_codec as bc

CHANGE_SCHEMA = (
    "file string, seq long, op_time long, op_inc long, "
    "schema string, tb string, row_type string, "
    "id string, doc string, diff string"
)

STATE_SCHEMA = "schema string, tb string, id string, doc string"


# ---------------------------------------------------------------------------
# writer (fixture generator)
# ---------------------------------------------------------------------------


def entry_insert(ns: str, doc: dict, ts: bc.Timestamp, term: int = 1) -> dict:
    return {"op": "i", "ns": ns, "ts": ts, "t": term, "v": 2, "o": doc}


def entry_update_v2(ns: str, id_v, diff: dict, ts: bc.Timestamp, term: int = 1) -> dict:
    """5.0+ $v:2 delta update: ``diff`` uses the public delta grammar
    ({i: …, u: …, d: …, s<field>: nested})."""
    return {
        "op": "u", "ns": ns, "ts": ts, "t": term, "v": 2,
        "o": {"$v": 2, "diff": diff}, "o2": {"_id": id_v},
    }


def entry_update_set(ns: str, id_v, set_doc: dict | None, unset_doc: dict | None,
                     ts: bc.Timestamp, term: int = 1) -> dict:
    """<=4.4-style modifier update: o = {$set, $unset}."""
    o: dict = {}
    if set_doc:
        o["$set"] = set_doc
    if unset_doc:
        o["$unset"] = unset_doc
    return {"op": "u", "ns": ns, "ts": ts, "t": term, "v": 2,
            "o": o, "o2": {"_id": id_v}}


def entry_delete(ns: str, id_v, ts: bc.Timestamp, term: int = 1) -> dict:
    return {"op": "d", "ns": ns, "ts": ts, "t": term, "v": 2, "o": {"_id": id_v}}


def entry_delete_many(ns: str, ids: list, ts: bc.Timestamp, term: int = 1) -> dict:
    """7.0+ deleteMany: one 'c' applyOps entry with per-id 'd' items
    (mongo_cdc_extractor.rs:470-487 example)."""
    return {
        "op": "c", "ns": "admin.$cmd", "ts": ts, "t": term, "v": 2,
        "o": {"applyOps": [
            {"op": "d", "ns": ns, "o": {"_id": i}} for i in ids
        ]},
    }


def entry_noop(ts: bc.Timestamp, term: int = 1) -> dict:
    return {"op": "n", "ns": "", "ts": ts, "t": term, "v": 2,
            "o": {"msg": "periodic noop"}}


def write_oplog_files(
    entries: list, out_dir: str, base_name: str = "oplog", per_file: int = 0
) -> list[str]:
    """Write entries (builder dicts above, already carrying Timestamps) as a
    chain of concatenated-BSON dump files."""
    return _write_chain(
        entries, per_file, out_dir, base_name, ".bson",
        lambda _i, chunk, _names: b"".join(bc.encode_document(e) for e in chunk),
    )


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _flatten_diff(diff: dict, prefix: str, set_doc: dict, unset_doc: dict) -> None:
    """$v:2 delta -> flat dotted-path {$set}/{$unset}
    (flatten_oplog_diff parity, mongo_cdc_extractor.rs:95-135)."""

    def path(field):
        return f"{prefix}.{field}" if prefix else field

    for field, value in (diff.get("i") or {}).items():
        set_doc[path(field)] = value
    for field, value in (diff.get("u") or {}).items():
        set_doc[path(field)] = value
    for field in (diff.get("d") or {}):
        unset_doc[path(field)] = 1
    for field, value in diff.items():
        if field in ("i", "u", "d", "a"):
            continue
        if not field.startswith("s") or len(field) == 1:
            continue
        if isinstance(value, dict):
            _flatten_diff(value, path(field[1:]), set_doc, unset_doc)


def build_update_doc(o: dict) -> dict:
    """Normalize either update encoding to {$set, $unset}
    (build_oplog_update_doc parity, rs:137-176). Empty result means the
    entry was neither encoding — caller drops it like rs:397-404."""
    set_doc: dict = {}
    unset_doc: dict = {}
    diff = o.get("diff")
    if isinstance(diff, dict):
        _flatten_diff(diff, "", set_doc, unset_doc)
    else:
        if isinstance(o.get("$set"), dict):
            set_doc.update(o["$set"])
        if isinstance(o.get("$unset"), dict):
            unset_doc.update(o["$unset"])
    out: dict = {}
    if set_doc:
        out["$set"] = set_doc
    if unset_doc:
        out["$unset"] = unset_doc
    return out


def _split_ns(ns: str) -> tuple[str, str]:
    db, _, tb = ns.partition(".")
    return db, tb


def _jid(v) -> str:
    return json.dumps(bc.to_jsonable(v), sort_keys=True)


def _jdoc(d: dict) -> str:
    return json.dumps(bc.to_jsonable(d), sort_keys=True)


def parse_oplog_bytes(
    data: bytes,
    file_name: str = "",
    start_time: int = 0,
    start_inc: int = 0,
) -> list[dict]:
    """Guarded entry: see _parse_oplog_entries. Corruption contract:
    malformed input raises ValueError — never struct.error/IndexError —
    the uniform quarantine contract of the at-rest source family."""
    try:
        return _parse_oplog_entries(data, file_name, start_time, start_inc)
    except (ValueError, NotImplementedError):
        raise
    except (AssertionError, struct.error, IndexError, KeyError, OverflowError, MemoryError,
            UnicodeDecodeError, EOFError, TypeError) as e:
        raise ValueError(f"corrupt oplog dump: {type(e).__name__}: {e}") from e


def _parse_oplog_entries(
    data: bytes,
    file_name: str = "",
    start_time: int = 0,
    start_inc: int = 0,
) -> list[dict]:
    """Parse one dump file's bytes into canonical change dicts.

    Emits insert/update/delete rows: ``id`` is the JSON-rendered ``_id``,
    ``doc`` the full document image (insert: o; delete: the o image the
    reference keeps as the before DOC), ``diff`` the normalized
    {$set,$unset} JSON for updates. 'c' applyOps deleteMany expands to one
    delete per item; 'n' noops and undecodable updates are skipped.

    ``(start_time, start_inc)``: resume parity with the reference's
    ``{ts: {$gte: start}}`` tail filter (rs:342-345) — entries at or below
    the checkpoint Timestamp are skipped."""
    rows: list[dict] = []
    seq = 0
    for doc in bc.iter_documents(data):
        ts = doc.get("ts")
        if not isinstance(ts, bc.Timestamp):
            continue
        if ts.sort_key() <= (start_time, start_inc) and (start_time or start_inc):
            continue
        op = doc.get("op")
        o = doc.get("o")
        base = {"file": file_name, "seq": seq, "op_time": ts.time, "op_inc": ts.inc}
        if op == "i" and isinstance(o, dict):
            db, tb = _split_ns(doc.get("ns", ""))
            rows.append({**base, "schema": db, "tb": tb, "row_type": "insert",
                         "id": _jid(o.get("_id")), "doc": _jdoc(o), "diff": None})
            seq += 1
        elif op == "u" and isinstance(o, dict):
            upd = build_update_doc(o)
            if not upd:
                continue  # neither $set/$unset nor $v:2 diff (rs:397-404)
            o2 = doc.get("o2") or {}
            db, tb = _split_ns(doc.get("ns", ""))
            rows.append({**base, "schema": db, "tb": tb, "row_type": "update",
                         "id": _jid(o2.get("_id")), "doc": None,
                         "diff": _jdoc(upd)})
            seq += 1
        elif op == "d" and isinstance(o, dict):
            db, tb = _split_ns(doc.get("ns", ""))
            rows.append({**base, "schema": db, "tb": tb, "row_type": "delete",
                         "id": _jid(o.get("_id")), "doc": _jdoc(o), "diff": None})
            seq += 1
        elif op == "c" and isinstance(o, dict) and isinstance(o.get("applyOps"), list):
            for item in o["applyOps"]:
                if not isinstance(item, dict) or item.get("op") != "d":
                    continue
                io = item.get("o")
                if not isinstance(io, dict):
                    continue
                db, tb = _split_ns(item.get("ns", ""))
                rows.append({**base, "seq": seq, "schema": db, "tb": tb,
                             "row_type": "delete", "id": _jid(io.get("_id")),
                             "doc": _jdoc(io), "diff": None})
                seq += 1
        # 'n' and unknown ops: skipped (rs:431-441)
    return rows


# ---------------------------------------------------------------------------
# distributed scan + state fold
# ---------------------------------------------------------------------------


def read_oplog_files(
    spark: SparkSession,
    path: str,
    start_time: int = 0,
    start_inc: int = 0,
) -> DataFrame:
    """Distributed dump scan: ``binaryFile`` over oplog dump files, one whole
    file per task; ``seq`` globalized as (file index << 33) | in-file seq so
    ORDER BY (op_time, op_inc, seq) is a total replay order."""
    return _scan_files(spark, path, _file_decoder(start_time, start_inc), CHANGE_SCHEMA)


def _file_decoder(start_time: int, start_inc: int):
    """The shared whole-file decode of the batch and streaming scans."""
    return _chain_decode(
        lambda name, _idx, content: parse_oplog_bytes(
            content, file_name=name, start_time=start_time, start_inc=start_inc
        )
    )


def stream_oplog_files(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming tail of an oplog dump directory: new dump chunks
    appearing in ``path`` flow through the same whole-file decode as the
    batch scan — the at-rest analogue of the reference's TailableAwait
    cursor (mongo_cdc_extractor.rs:350-353), with the stream checkpoint as
    the resume token."""
    return _scan_files(
        spark, path, _file_decoder(0, 0), CHANGE_SCHEMA,
        stream=True, max_files_per_trigger=max_files_per_trigger,
    )


def _apply_set_unset(state: dict, upd: dict) -> None:
    for path, v in (upd.get("$set") or {}).items():
        cur = state
        parts = path.split(".")
        for p in parts[:-1]:
            cur = cur.setdefault(p, {})
            if not isinstance(cur, dict):
                return
        cur[parts[-1]] = v
    for path in (upd.get("$unset") or {}):
        cur = state
        parts = path.split(".")
        ok = True
        for p in parts[:-1]:
            cur = cur.get(p)
            if not isinstance(cur, dict):
                ok = False
                break
        if ok and isinstance(cur, dict):
            cur.pop(parts[-1], None)


def fold_oplog_state(changes: DataFrame) -> DataFrame:
    """Replay parsed oplog rows to final per-document state: fold
    insert/replace/update($set,$unset)/delete per (schema, tb, id) in
    (op_time, op_inc, seq) order — MongoMerger semantics where updates are
    partial documents merged onto the current image
    (dt-pipeline/src/merger/mongo_merger.rs). Non-DML rows (ddl markers)
    cannot mutate document state and are dropped up front.

    Scale shape (r16): one shuffle keyed on the document id, then WHOLE
    key-sorted partitions flow through a group-carry Arrow kernel — an
    Arrow chunk may split a document's history, and only the LAST key of a
    chunk can straddle, so it carries into the next chunk. Per-group
    applyInPandas would instead pay one Arrow call per DOCUMENT (~rows/10
    calls); the carry kernel pays ~one per partition chunk."""
    import pandas as pd

    from pyspark.sql import functions as F

    keys = ["schema", "tb", "id"]

    def _fold_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for key, g in pdf.groupby(keys, sort=False):
            g = g.sort_values(["op_time", "op_inc", "seq"])
            state = None
            for r in g.itertuples(index=False):
                if r.row_type in ("insert", "replace"):
                    # replace: the change-stream full-image update
                    # (replaceOne / disambiguated-path fallback)
                    state = json.loads(r.doc)
                elif r.row_type == "update":
                    if state is not None:
                        _apply_set_unset(state, json.loads(r.diff))
                elif r.row_type == "delete":
                    state = None
            if state is not None:
                rows.append({
                    "schema": key[0], "tb": key[1], "id": key[2],
                    "doc": json.dumps(state, sort_keys=True),
                })
        return pd.DataFrame(rows, columns=["schema", "tb", "id", "doc"])

    def _fold_stream(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            last = tuple(pdf.iloc[-1][k] for k in keys)
            mask = (
                (pdf["schema"] == last[0]) & (pdf["tb"] == last[1])
                & (pdf["id"] == last[2])
            )
            head, carry = pdf[~mask], pdf[mask]
            if len(head):
                yield _fold_groups(head)
        if carry is not None and len(carry):
            yield _fold_groups(carry)

    dml = changes.filter(
        F.col("row_type").isin("insert", "replace", "update", "delete")
    )
    shuffled = dml.repartition(*keys).sortWithinPartitions(
        *keys, "op_time", "op_inc", "seq"
    )
    return shuffled.mapInPandas(_fold_stream, STATE_SCHEMA)
