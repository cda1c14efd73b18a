"""Live MongoDB wire client — the SOCKET half of the reference's
``mongo_snapshot_extractor.rs`` / ``mongo_cdc_extractor.rs`` (which delegate
the wire to the public ``mongodb`` Rust driver), previously the last missing
transport next to the fully-modeled at-rest Mongo surface (sources/mongo.py
change model, sources/bson_codec.py, sources/oplog_file.py).

Speaks the public MongoDB wire protocol (mongodb.com "MongoDB Wire
Protocol" + the SCRAM RFCs 5802/7677):

- message framing: 16-byte header (messageLength, requestID, responseTo,
  opCode LE) + OP_MSG (opCode 2013) body: u32 flagBits, kind-0/kind-1
  sections, optional CRC-32C checksum (flag bit 0) — verified on receive,
  reusing the Kafka segment scanner's Castagnoli table;
- connection handshake: ``hello`` on admin (server version, maxWireVersion
  gate >= 6, the first OP_MSG-capable generation);
- authentication: SCRAM-SHA-256 via ``saslStart``/``saslContinue``
  (client-first-bare, PBKDF2 salted password, client proof, server
  signature VERIFIED — a silent server can't fake success);
- snapshot: ``find`` ordered by ``{_id: 1}`` + ``getMore`` cursor pages
  (mongo_snapshot_extractor.rs:152-170), keyset resume via the mixed-type
  ``{$expr: {$gt: ["$_id", <key>]}}`` filter (:231-243 build_resume_filter),
  sampling via ``count`` -> ceil(count*rate/100) limit (extractor/mod.rs:17
  estimated_sample_limit);
- CDC: tailable/awaitData ``find`` on ``local.oplog.rs`` filtered
  ``{ts: {$gte: <Timestamp>}}`` (mongo_cdc_extractor.rs:341-353), entries
  re-encoded into the mongodump concatenated-BSON framing and decoded by
  the SAME at-rest parser the ``oplog_file_parse`` gate proves
  (sources/oplog_file.py) — $v:2 diff flattening, applyOps deleteMany
  expansion and (ts, inc) resume skipping included; the socket layer adds
  transport, not a second decoder;
- command failures (``ok: 0``) surface as ValueError with the server's
  errmsg/code; framing damage (bad length, checksum mismatch, unexpected
  opCode) raises ValueError, never struct.error.

Scale shape: one cursor serves one collection's (or the oplog's) serialized
document stream — inherently sequential — so the unit of parallelism is the
COLLECTION (snapshot) or the replica set (CDC): the ``read_*`` wrappers run
one client session per endpoint through the shared endpoint pull runner
(``session._pull_endpoints``, one Arrow task each),
mirroring the reference's table-worker-per-collection dispatch
(mongo_snapshot_extractor.rs:59-69).

Tested end-to-end in tests/test_mongo_client.py against a loopback fake
mongod speaking these exact bytes (OP_MSG framing, SCRAM verification,
cursor paging, filter shapes, oplog tail).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import secrets
import socket
import struct
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _pull_endpoints
from ape_dts_spark.sources import bson_codec as bc
from ape_dts_spark.sources.kafka_segment import crc32c
from ape_dts_spark.sources.oplog_file import CHANGE_SCHEMA, parse_oplog_bytes

OP_MSG = 2013

FLAG_CHECKSUM_PRESENT = 0x1
FLAG_MORE_TO_COME = 0x2
FLAG_EXHAUST_ALLOWED = 0x10000

_KNOWN_FLAGS = FLAG_CHECKSUM_PRESENT | FLAG_MORE_TO_COME | FLAG_EXHAUST_ALLOWED


def estimated_sample_limit(sample_rate: int | None, estimated_count: int) -> int | None:
    """ceil(count * rate / 100), rate valid in 1..99 — extractor/mod.rs:17-28."""
    if sample_rate is None or not (1 <= sample_rate < 100) or estimated_count <= 0:
        return None
    return max(1, (estimated_count * sample_rate + 99) // 100)


def build_resume_filter(key) -> dict:
    """Keyset-resume filter over a mixed-type ``_id`` space: ``$expr $gt``
    orders ACROSS BSON types where a plain ``{_id: {$gt: key}}`` would only
    match the key's own type (mongo_snapshot_extractor.rs:231-243)."""
    return {"$expr": {"$gt": ["$_id", key]}}


def encode_op_msg(
    doc: dict,
    request_id: int,
    response_to: int = 0,
    sequences: dict[str, list[dict]] | None = None,
    more_to_come: bool = False,
    checksum: bool = False,
) -> bytes:
    """One OP_MSG message: kind-0 body section + optional kind-1 document
    sequences (identifier -> docs), optional trailing CRC-32C."""
    flags = (FLAG_MORE_TO_COME if more_to_come else 0) | (
        FLAG_CHECKSUM_PRESENT if checksum else 0
    )
    body = struct.pack("<I", flags) + b"\x00" + bc.encode_document(doc)
    for ident, docs in (sequences or {}).items():
        blob = b"".join(bc.encode_document(d) for d in docs)
        ident_b = ident.encode() + b"\x00"
        body += b"\x01" + struct.pack("<i", 4 + len(ident_b) + len(blob)) + ident_b + blob
    total = 16 + len(body) + (4 if checksum else 0)
    msg = struct.pack("<iiii", total, request_id, response_to, OP_MSG) + body
    if checksum:
        msg += struct.pack("<I", crc32c(msg))
    return msg


def decode_op_msg(frame: bytes) -> tuple[int, int, dict]:
    """Full wire frame -> (request_id, response_to, document); kind-1
    sequences are folded into the body document as array fields (the
    semantic equivalence the spec defines). Verifies the CRC-32C when the
    checksumPresent flag is set; unknown required flags raise."""
    if len(frame) < 16:
        raise ValueError("short wire message")
    total, request_id, response_to, op_code = struct.unpack_from("<iiii", frame, 0)
    if total != len(frame):
        raise ValueError(f"message length {total} != frame {len(frame)}")
    if op_code != OP_MSG:
        raise ValueError(f"unsupported opCode {op_code} (only OP_MSG)")
    (flags,) = struct.unpack_from("<I", frame, 16)
    if flags & ~_KNOWN_FLAGS:
        raise ValueError(f"unknown OP_MSG flag bits 0x{flags:x}")
    end = len(frame)
    if flags & FLAG_CHECKSUM_PRESENT:
        end -= 4
        (want,) = struct.unpack_from("<I", frame, end)
        if crc32c(frame[:end]) != want:
            raise ValueError("OP_MSG checksum mismatch")
    i, body, seqs = 20, None, {}
    while i < end:
        kind = frame[i]
        i += 1
        if kind == 0:
            doc, i = bc.decode_document(frame, i)
            if body is not None:
                raise ValueError("duplicate kind-0 section")
            body = doc
        elif kind == 1:
            (size,) = struct.unpack_from("<i", frame, i)
            sec_end = i + size
            j = frame.index(0, i + 4)
            ident = frame[i + 4 : j].decode()
            j += 1
            docs = []
            while j < sec_end:
                d, j = bc.decode_document(frame, j)
                docs.append(d)
            seqs[ident] = docs
            i = sec_end
        else:
            raise ValueError(f"unknown OP_MSG section kind {kind}")
    if body is None:
        raise ValueError("OP_MSG without a kind-0 section")
    body.update(seqs)
    return request_id, response_to, body


class MongoSocket:
    """Buffered wire framing: whole-message reads + OP_MSG encode/decode."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self._buf = b""
        self.next_request_id = 1

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            try:
                chunk = self.sock.recv(65536)
            except socket.timeout:
                raise  # bounded-pull currency, handled by callers
            except OSError as e:  # reset/refused -> the ValueError contract
                raise ValueError(f"connection lost mid-message: {e}") from e
            if not chunk:
                raise ValueError("connection closed mid-message")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_msg(self) -> tuple[int, int, dict]:
        head = self._read_exact(4)
        (total,) = struct.unpack("<i", head)
        if not 16 <= total <= 48_000_000:  # maxMessageSizeBytes
            raise ValueError(f"implausible message length {total}")
        return decode_op_msg(head + self._read_exact(total - 4))

    def send_doc(self, doc: dict, response_to: int = 0,
                 sequences: dict[str, list[dict]] | None = None) -> int:
        rid = self.next_request_id
        self.next_request_id += 1
        try:
            self.sock.sendall(encode_op_msg(doc, rid, response_to, sequences))
        except OSError as e:  # reset/refused -> the ValueError contract
            raise ValueError(f"connection lost mid-send: {e}") from e
        return rid


def _scram_sha256_exchange(username: str, password: str,
                           cnonce: str | None = None):
    """Client-side SCRAM-SHA-256 state machine: yields client-first-bare,
    receives server-first, yields client-final, verifies server signature.
    Returned as (client_first_bare, continue_fn). '=' and ',' in the
    username are escaped per RFC 5802 (=3D / =2C). ``cnonce`` is
    injectable so the RFC 7677 published vector pins the arithmetic."""
    if cnonce is None:
        cnonce = base64.b64encode(secrets.token_bytes(18)).decode()
    uname = username.replace("=", "=3D").replace(",", "=2C")
    client_first_bare = f"n={uname},r={cnonce}"

    def _continue(server_first: str) -> tuple[str, "callable"]:
        attrs = dict(p.split("=", 1) for p in server_first.split(","))
        nonce, salt, iters = attrs["r"], base64.b64decode(attrs["s"]), int(attrs["i"])
        if not nonce.startswith(cnonce):
            raise ValueError("server nonce does not extend the client nonce")
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
        client_key = hmac.digest(salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        without_proof = f"c=biws,r={nonce}"
        auth_msg = f"{client_first_bare},{server_first},{without_proof}".encode()
        proof = bytes(
            a ^ b for a, b in zip(client_key, hmac.digest(stored_key, auth_msg, "sha256"))
        )
        client_final = f"{without_proof},p={base64.b64encode(proof).decode()}"
        server_key = hmac.digest(salted, b"Server Key", "sha256")
        want_sig = base64.b64encode(hmac.digest(server_key, auth_msg, "sha256")).decode()

        def _verify(server_final: str) -> None:
            attrs2 = dict(p.split("=", 1) for p in server_final.split(","))
            if attrs2.get("v") != want_sig:
                raise ValueError("SCRAM server signature mismatch")

        return client_final, _verify

    return client_first_bare, _continue


class MongoWireClient:
    """One endpoint's session. Usage::

        c = MongoWireClient(host, port, username=..., password=...)
        c.connect()
        for doc in c.snapshot_collection("tpch", "part", batch_size=101): ...
        rows = c.oplog_changes(start_time=0, start_inc=0, max_entries=500)
    """

    def __init__(
        self,
        host: str,
        port: int,
        username: str | None = None,
        password: str | None = None,
        auth_db: str = "admin",
        timeout: float = 10.0,
    ):
        self.host, self.port = host, int(port)
        self.username, self.password, self.auth_db = username, password, auth_db
        self.timeout = timeout
        self.hello: dict = {}
        self.conn: MongoSocket | None = None

    # -- session ----------------------------------------------------------
    def connect(self) -> None:
        sock = socket.create_connection((self.host, self.port), self.timeout)
        sock.settimeout(self.timeout)
        self.conn = MongoSocket(sock)
        self.hello = self.run_command("admin", {"hello": 1})
        wire = self.hello.get("maxWireVersion", 0)
        if wire < 6:
            raise ValueError(f"server maxWireVersion {wire} < 6 (no OP_MSG)")
        if self.username is not None:
            self._auth_scram_sha256()

    def close(self) -> None:
        if self.conn is not None:
            self.conn.sock.close()
            self.conn = None

    def run_command(self, db: str, cmd: dict,
                    sequences: dict[str, list[dict]] | None = None) -> dict:
        assert self.conn is not None, "connect first"
        cmd = dict(cmd)
        cmd["$db"] = db
        rid = self.conn.send_doc(cmd, sequences=sequences)
        while True:
            _, response_to, reply = self.conn.read_msg()
            if response_to == rid:
                break
        ok = reply.get("ok")
        if ok not in (1, 1.0, True):
            raise ValueError(
                f"command failed: code={reply.get('code')} "
                f"errmsg={reply.get('errmsg')!r}"
            )
        return reply

    def _auth_scram_sha256(self) -> None:
        first_bare, cont = _scram_sha256_exchange(
            self.username or "", self.password or ""
        )
        start = self.run_command(self.auth_db, {
            "saslStart": 1,
            "mechanism": "SCRAM-SHA-256",
            "payload": bc.Binary(f"n,,{first_bare}".encode()),
            "options": {"skipEmptyExchange": True},
        })
        client_final, verify = cont(bytes(start["payload"].data).decode())
        final = self.run_command(self.auth_db, {
            "saslContinue": 1,
            "conversationId": start["conversationId"],
            "payload": bc.Binary(client_final.encode()),
        })
        verify(bytes(final["payload"].data).decode())
        if not final.get("done"):
            # servers without skipEmptyExchange need one empty round
            final = self.run_command(self.auth_db, {
                "saslContinue": 1,
                "conversationId": start["conversationId"],
                "payload": bc.Binary(b""),
            })
            if not final.get("done"):
                raise ValueError("SCRAM conversation did not complete")

    # -- cursors ------------------------------------------------------------
    def find_docs(
        self,
        db: str,
        coll: str,
        filter: dict | None = None,
        sort: dict | None = None,
        limit: int | None = None,
        batch_size: int = 101,
        tailable: bool = False,
        await_data: bool = False,
        max_docs: int | None = None,
    ) -> Iterator[dict]:
        """``find`` + ``getMore`` pagination; exhausts the cursor or stops
        at ``max_docs`` (killing the live cursor so the server can free
        it). A socket timeout on an awaitData tail ends a bounded pull."""
        cmd: dict = {"find": coll, "batchSize": batch_size}
        if filter:
            cmd["filter"] = filter
        if sort:
            cmd["sort"] = sort
        if limit:
            cmd["limit"] = limit
        if tailable:
            cmd["tailable"] = True
        if await_data:
            cmd["awaitData"] = True
        reply = self.run_command(db, cmd)
        yield from self._iter_cursor(db, reply, batch_size, max_docs)

    def _iter_cursor(
        self, db: str, reply: dict, batch_size: int, max_docs: int | None
    ) -> Iterator[dict]:
        """Shared cursor walk for find and aggregate replies: drains
        firstBatch/nextBatch pages via getMore (collection name taken from
        the cursor's own ns, so collectionless $cmd.aggregate cursors work),
        kills a live cursor on an early max_docs stop, and ends a bounded
        awaitData tail on socket timeout."""
        yielded = 0
        while True:
            cursor = reply.get("cursor")
            if not isinstance(cursor, dict):
                raise ValueError("find/getMore reply without a cursor document")
            ns = cursor.get("ns", "")
            getmore_coll = ns.split(".", 1)[1] if "." in ns else ns
            for doc in cursor.get("firstBatch", cursor.get("nextBatch", [])):
                yield doc
                yielded += 1
                if max_docs is not None and yielded >= max_docs:
                    if cursor.get("id"):
                        self.run_command(db, {
                            "killCursors": getmore_coll,
                            "cursors": [bc.Int64(int(cursor["id"]))],
                        })
                    return
            cid = int(cursor.get("id") or 0)
            if cid == 0:
                return
            try:
                reply = self.run_command(db, {
                    "getMore": bc.Int64(cid), "collection": getmore_coll,
                    "batchSize": batch_size,
                })
            except socket.timeout:
                return  # bounded tail: nothing more buffered within timeout

    def estimated_document_count(self, db: str, coll: str) -> int:
        return int(self.run_command(db, {"count": coll}).get("n", 0))

    # -- snapshot (mongo_snapshot_extractor.rs:107-244) ---------------------
    def snapshot_collection(
        self,
        db: str,
        coll: str,
        batch_size: int = 101,
        resume_key=None,
        sample_rate: int | None = None,
    ) -> Iterator[dict]:
        """Full-collection scan ordered by ``_id``: keyset resume via the
        $expr filter, sampling via the estimated-count LIMIT — the
        table-worker body of the reference's snapshot extractor."""
        limit = None
        if sample_rate is not None:
            limit = estimated_sample_limit(
                sample_rate, self.estimated_document_count(db, coll)
            )
        filt = build_resume_filter(resume_key) if resume_key is not None else None
        return self.find_docs(
            db, coll, filter=filt, sort={"_id": 1}, limit=limit,
            batch_size=batch_size,
        )

    def aggregate_docs(
        self,
        db: str,
        coll,
        pipeline: list,
        batch_size: int = 101,
        max_docs: int | None = None,
    ) -> Iterator[dict]:
        """``aggregate`` + ``getMore`` cursor walk; ``coll`` may be 1 for a
        collectionless (deployment-level) aggregation like $changeStream."""
        reply = self.run_command(db, {
            "aggregate": coll, "pipeline": pipeline,
            "cursor": {"batchSize": batch_size},
        })
        return self._iter_cursor(db, reply, batch_size, max_docs)

    def change_stream_events(
        self,
        start_time: int = 0,
        start_inc: int = 0,
        resume_after: dict | None = None,
        max_events: int | None = None,
        batch_size: int = 101,
        show_expanded_events: bool = True,
        file_name: str = "",
    ) -> tuple[list[dict], str | None]:
        """MongoCdcSource::ChangeStream — the reference's watch() options
        rendered as the deployment-level ``$changeStream`` aggregation
        (extract_change_stream: fullDocument=updateLookup,
        fullDocumentBeforeChange=whenAvailable, showExpandedEvents on 6.0+,
        startAfter resume token XOR startAtOperationTime). Received events
        normalize through normalize_change_stream_event into the oplog
        CHANGE_SCHEMA rows; returns (rows, last_resume_token_json) — the
        token is the MongoCdcPosition currency the next tail resumes from."""
        stage: dict = {
            "allChangesForCluster": True,
            "fullDocument": "updateLookup",
            "fullDocumentBeforeChange": "whenAvailable",
        }
        if show_expanded_events and self.hello.get("maxWireVersion", 0) >= 17:
            stage["showExpandedEvents"] = True
        if resume_after is not None:
            stage["startAfter"] = resume_after
        elif start_time or start_inc:
            stage["startAtOperationTime"] = bc.Timestamp(start_time, start_inc)
        rows: list[dict] = []
        last_token = None
        tag = file_name or f"{self.host}:{self.port}/changestream"
        for event in self.aggregate_docs(
            "admin", 1, [{"$changeStream": stage}],
            batch_size=batch_size, max_docs=max_events,
        ):
            if isinstance(event.get("_id"), dict):
                last_token = json.dumps(bc.to_jsonable(event["_id"]), sort_keys=True)
            row = normalize_change_stream_event(event, tag, len(rows))
            if row is not None:
                rows.append(row)
        return rows, last_token

    # -- CDC (mongo_cdc_extractor.rs:341-446) -------------------------------
    def oplog_changes(
        self,
        start_time: int = 0,
        start_inc: int = 0,
        max_entries: int | None = None,
        batch_size: int = 101,
        file_name: str = "",
    ) -> list[dict]:
        """Tail ``local.oplog.rs`` from a Timestamp checkpoint and decode
        with the shared at-rest parser: received entries are re-framed into
        the mongodump concatenated-BSON layout, so diff flattening,
        applyOps expansion and inclusive-checkpoint skipping are exactly
        the gated parser's. The wire filter is the reference's inclusive
        ``$gte`` (rs:342-345); the parser then drops entries at or below
        (start_time, start_inc), the replay-once resume contract."""
        filt = {"ts": {"$gte": bc.Timestamp(start_time, start_inc)}}
        data = bytearray()
        n = 0
        for doc in self.find_docs(
            "local", "oplog.rs", filter=filt, batch_size=batch_size,
            tailable=True, await_data=True, max_docs=max_entries,
        ):
            data += bc.encode_document(doc)
            n += 1
        return parse_oplog_bytes(
            bytes(data), file_name=file_name or f"{self.host}:{self.port}/oplog.rs",
            start_time=start_time, start_inc=start_inc,
        )


# ---------------------------------------------------------------------------
# change streams (MongoCdcSource::ChangeStream — the reference's second CDC
# mode, mongo_cdc_extractor.rs:384-260 extract_change_stream + the
# updateDescription normalization at :137-258)
# ---------------------------------------------------------------------------


def _get_path(doc, field: str):
    """Dotted-path lookup through nested docs/arrays (the reference's
    get_path_value used for truncatedArrays repair)."""
    cur = doc
    for part in field.split("."):
        if isinstance(cur, dict):
            if part not in cur:
                return None
            cur = cur[part]
        elif isinstance(cur, list):
            try:
                cur = cur[int(part)]
            except (ValueError, IndexError):
                return None
        else:
            return None
    return cur


def change_stream_requires_full_document(update_description: dict) -> bool:
    """disambiguatedPaths may refer to literal dotted field names, so the
    normal $set/$unset dotted-path form could update the wrong shape — the
    reference falls back to the full after-image
    (change_stream_update_requires_full_document, rs:234-258)."""
    paths = update_description.get("disambiguatedPaths")
    if not isinstance(paths, dict):
        return False

    def _needs(components) -> bool:
        if not isinstance(components, list) or not components:
            return True
        for c in components:
            if isinstance(c, bool):
                return True
            if isinstance(c, str):
                if "." in c:
                    return True
            elif not isinstance(c, int):
                return True
        return False

    return any(_needs(v) for v in paths.values())


def build_change_stream_update_doc(
    update_description: dict, full_document: dict | None = None
) -> dict:
    """updateDescription -> the oplog-normalized {$set, $unset} doc
    (build_change_stream_update_doc parity, rs:181-232): updatedFields ->
    $set, removedFields -> $unset, truncatedArrays repaired by copying the
    truncated array's CURRENT value out of the full document."""
    set_doc: dict = {}
    unset_doc: dict = {}
    uf = update_description.get("updatedFields")
    if isinstance(uf, dict):
        set_doc.update(uf)
    rf = update_description.get("removedFields")
    if isinstance(rf, list):
        for field in rf:
            if isinstance(field, str):
                unset_doc[field] = 1
    ta = update_description.get("truncatedArrays")
    if isinstance(ta, list):
        for t in ta:
            if not isinstance(t, dict) or not isinstance(t.get("field"), str):
                continue
            if full_document is not None:
                v = _get_path(full_document, t["field"])
                if v is not None:
                    set_doc[t["field"]] = v
    out: dict = {}
    if set_doc:
        out["$set"] = set_doc
    if unset_doc:
        out["$unset"] = unset_doc
    return out


def normalize_change_stream_event(
    event: dict, file_name: str = "", seq: int = 0
) -> dict | None:
    """One change-stream event -> the oplog CHANGE_SCHEMA row shape (so
    fold_oplog_state and the downstream compaction work on either CDC
    mode), or None for skipped/unsupported events — mirroring the
    reference's operation_type dispatch (rs:reference extract_change_stream):

    - insert: fullDocument required; full image;
    - delete: documentKey required; key image;
    - update: updateDescription -> {$set,$unset} diff; disambiguatedPaths
      needing the full document degrade to a REPLACE with fullDocument
      (or skip when it's missing, like the reference's log-and-continue);
    - replace: fullDocument required; full image as an update;
    - DDL-ish events (drop/rename/dropDatabase/create/…, the
      showExpandedEvents surface): row_type 'ddl' with the event name so
      the stream's DDL barrier can split on them.
    """
    ct = event.get("clusterTime")
    op_time, op_inc = (ct.time, ct.inc) if isinstance(ct, bc.Timestamp) else (0, 0)
    ns = event.get("ns") or {}
    db = ns.get("db", "") if isinstance(ns, dict) else ""
    coll = ns.get("coll", "") if isinstance(ns, dict) else ""
    op = event.get("operationType")
    base = {"file": file_name, "seq": seq, "op_time": op_time, "op_inc": op_inc,
            "schema": db, "tb": coll}
    key_doc = event.get("documentKey")
    key_id = key_doc.get("_id") if isinstance(key_doc, dict) else None
    if op == "insert":
        doc = event.get("fullDocument")
        if not isinstance(doc, dict):
            return None
        return {**base, "row_type": "insert", "id": _jrender(doc.get("_id", key_id)),
                "doc": _jrender(doc), "diff": None}
    if op == "delete":
        if not isinstance(key_doc, dict):
            return None
        return {**base, "row_type": "delete", "id": _jrender(key_id),
                "doc": _jrender(key_doc), "diff": None}
    if op == "replace":
        doc = event.get("fullDocument")
        if not isinstance(doc, dict) or not isinstance(key_doc, dict):
            return None
        return {**base, "row_type": "replace", "id": _jrender(key_id),
                "doc": _jrender(doc), "diff": None}
    if op == "update":
        if not isinstance(key_doc, dict):
            return None
        ud = event.get("updateDescription")
        if not isinstance(ud, dict):
            return None
        full = event.get("fullDocument")
        if change_stream_requires_full_document(ud):
            if not isinstance(full, dict):
                return None  # rs: log_error + continue
            return {**base, "row_type": "replace", "id": _jrender(key_id),
                    "doc": _jrender(full), "diff": None}
        upd = build_change_stream_update_doc(
            ud, full if isinstance(full, dict) else None
        )
        if not upd:
            return None  # rs: empty/unsupported updateDescription
        return {**base, "row_type": "update", "id": _jrender(key_id),
                "doc": None, "diff": _jrender(upd)}
    from ape_dts_spark.sources.mongo_ddl import change_stream_event_to_ddl

    ddl = change_stream_event_to_ddl(event)
    if ddl is not None:
        # the replayable runCommand document rides in diff; a rename's
        # target ns rides in doc — the DDL barrier splits on row_type
        return {**base, "row_type": "ddl", "id": ddl["ddl_type"],
                "doc": _jrender({"new_schema": ddl["new_schema"],
                                 "new_tb": ddl["new_tb"]}),
                "diff": ddl["query"]}
    return None  # invalidate / unknown: skipped


# ---------------------------------------------------------------------------
# distributed wrappers
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = "schema string, tb string, id string, doc string, seq long"


def _jrender(v) -> str:
    return json.dumps(bc.to_jsonable(v), sort_keys=True)


@contextmanager
def _session(host, port, username, password, timeout):
    """A connected client for one endpoint's pull, closed on exit."""
    client = MongoWireClient(
        host, port, username=username, password=password, timeout=timeout
    )
    try:
        client.connect()
        yield client
    finally:
        client.close()


def read_mongo_collections(
    spark: SparkSession,
    sources: list[tuple[str, int, str, str]],
    batch_size: int = 101,
    sample_rate: int | None = None,
    resume_keys: dict | None = None,
    username: str | None = None,
    password: str | None = None,
    timeout: float = 10.0,
) -> DataFrame:
    """Distributed live snapshot: one Arrow task per (host, port, db,
    collection) runs a cursor session ordered by ``_id`` and emits
    ``(schema, tb, id, doc, seq)`` rows — ``id`` the JSON-rendered key,
    ``doc`` the sorted-key extended-JSON document (the existing Mongo change
    model's string-document currency), ``seq`` the in-scan ordinal (the
    chunk position basis). ``resume_keys``: {(db, tb): key} keyset
    checkpoints, applied as the $expr filter — the collection-per-task
    mirror of the reference's table-worker dispatch."""
    rk = dict(resume_keys or {})

    def pull(host, port, db, coll):
        with _session(host, port, username, password, timeout) as client:
            # the reference skips keyless docs (rs:178)
            return [
                (db, coll, _jrender(doc["_id"]), _jrender(doc), seq)
                for seq, doc in enumerate(client.snapshot_collection(
                    db, coll, batch_size=batch_size,
                    resume_key=rk.get((db, coll)), sample_rate=sample_rate,
                ))
                if "_id" in doc
            ]

    return _pull_endpoints(
        spark, sources, "host string, port int, db string, coll string", pull,
        SNAPSHOT_SCHEMA,
    )


def read_change_stream_changes(
    spark: SparkSession,
    endpoints: list[tuple[str, int]],
    start_time: int = 0,
    start_inc: int = 0,
    max_events: int | None = None,
    username: str | None = None,
    password: str | None = None,
    timeout: float = 10.0,
) -> DataFrame:
    """Distributed live change-stream tail: one Arrow task per deployment
    endpoint runs the $changeStream cursor and emits the at-rest
    CHANGE_SCHEMA rows — the SAME shape as the oplog mode, so
    fold_oplog_state and the downstream compaction take either CDC source
    (MongoCdcSource::OpLog / ::ChangeStream) interchangeably."""

    def pull(host, port):
        with _session(host, port, username, password, timeout) as client:
            return client.change_stream_events(
                start_time=start_time, start_inc=start_inc, max_events=max_events,
            )[0]

    return _pull_endpoints(spark, endpoints, "host string, port int", pull, CHANGE_SCHEMA)


def read_live_oplog_changes(
    spark: SparkSession,
    endpoints: list[tuple[str, int]],
    start_time: int = 0,
    start_inc: int = 0,
    max_entries: int | None = None,
    username: str | None = None,
    password: str | None = None,
    timeout: float = 10.0,
) -> DataFrame:
    """Distributed live oplog tail: one Arrow task per replica-set endpoint
    runs the tailable cursor and emits the at-rest CHANGE_SCHEMA rows
    (file = endpoint tag), so fold_oplog_state and the downstream compaction
    work unchanged on live capture."""

    def pull(host, port):
        with _session(host, port, username, password, timeout) as client:
            return client.oplog_changes(
                start_time=start_time, start_inc=start_inc, max_entries=max_entries,
            )

    return _pull_endpoints(spark, endpoints, "host string, port int", pull, CHANGE_SCHEMA)
