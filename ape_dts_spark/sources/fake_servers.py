"""Loopback fake servers for the four live replication protocols: the
server side of MySQL binlog dump, the PG walsender, Redis PSYNC and Mongo
OP_MSG, each speaking the real wire bytes. The live gates, the tests and
examples/live_wire_cdc.py all build these same classes; the production
clients under test are mysql_binlog_client.py, pg_replication.py,
redis_psync.py and mongo_client.py.

Every server binds an ephemeral 127.0.0.1 port at construction.
``start()`` runs one accept loop that serves any number of sessions, one
daemon thread each, until ``stop()`` is called or no client has connected
for ``IDLE_TIMEOUT_S`` — so repeated evaluations of one gate (bench reruns,
count + collect) each get fresh sessions."""

from __future__ import annotations

import base64
import hashlib
import hmac
import secrets
import socket
import struct
import threading
import time

from ape_dts_spark.sources import bson_codec as bc
from ape_dts_spark.sources.aof_manifest import encode_resp
from ape_dts_spark.sources.binlog_file import (
    BINLOG_MAGIC,
    FORMAT_DESCRIPTION_EVENT,
    GTID_EVENT,
    PREVIOUS_GTIDS_EVENT,
    ROTATE_EVENT,
    gtid_event_id,
)
from ape_dts_spark.sources.mongo_client import MongoSocket, encode_op_msg
from ape_dts_spark.sources.mysql_binlog_client import (
    COM_BINLOG_DUMP,
    COM_BINLOG_DUMP_GTID,
    COM_QUERY,
    COM_REGISTER_SLAVE,
    MysqlSocket,
    decode_gtid_set,
    gtid_set_contains,
    native_password_proof,
)
from ape_dts_spark.sources.pg_replication import PgSocket, _cstr
from ape_dts_spark.sources.redis_psync import RespSocket

IDLE_TIMEOUT_S = 600
SESSION_TIMEOUT_S = 60


class LoopbackServer(threading.Thread):
    """The shared accept loop; subclasses implement ``serve(sock)`` for one
    client session. A session ends quietly on ValueError/OSError (client
    closed, timed out or sent damage)."""

    host = "127.0.0.1"

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.srv = socket.create_server((self.host, 0), backlog=16)
        self.srv.settimeout(IDLE_TIMEOUT_S)
        self.port = self.srv.getsockname()[1]

    def run(self) -> None:
        try:
            while True:
                try:
                    sock, _ = self.srv.accept()
                except OSError:  # idle timeout, or stop()
                    return
                threading.Thread(
                    target=self._session, args=(sock,), daemon=True
                ).start()
        finally:
            self.srv.close()

    def stop(self) -> None:
        try:
            self.srv.shutdown(socket.SHUT_RDWR)  # wakes the blocked accept
        except OSError:
            pass
        self.srv.close()

    def _session(self, sock: socket.socket) -> None:
        sock.settimeout(SESSION_TIMEOUT_S)
        try:
            self.serve(sock)
        except (ValueError, OSError):
            pass
        finally:
            sock.close()

    def serve(self, sock: socket.socket) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# MySQL: v10 handshake, mysql_native_password, COM_QUERY / REGISTER_SLAVE /
# BINLOG_DUMP / BINLOG_DUMP_GTID over binlog files from the at-rest writer
# ---------------------------------------------------------------------------

_MYSQL_OK = b"\x00\x00\x00\x02\x00\x00\x00"
_MYSQL_EOF = b"\xfe\x00\x00\x02\x00"
# file-level maintenance events a GTID dump always sends
_ALWAYS_SENT = {ROTATE_EVENT, FORMAT_DESCRIPTION_EVENT, PREVIOUS_GTIDS_EVENT}


def split_events(binlog_file_bytes: bytes) -> list[tuple[int, bytes]]:
    """File bytes -> [(start_offset, event_bytes)]: each event's size rides
    at header offset 9..13."""
    if binlog_file_bytes[:4] != BINLOG_MAGIC:
        raise ValueError("not a binlog file: bad magic")
    out, i = [], 4
    while i + 13 <= len(binlog_file_bytes):
        (size,) = struct.unpack_from("<I", binlog_file_bytes, i + 9)
        if size < 19:  # shorter than its own header: the walk would stall
            raise ValueError(f"corrupt event size {size} at offset {i}")
        out.append((i, binlog_file_bytes[i : i + size]))
        i += size
    return out


def filter_events_by_gtid_set(events, gs):
    """Real-master semantics for COM_BINLOG_DUMP_GTID: transactions whose
    GTID the client's set already covers are skipped WHOLE (GTID event
    through the next GTID boundary); file-level maintenance events always
    flow. ``events``: [(start_offset, event_bytes)]."""
    skipping = False
    for start, ev in events:
        etype = ev[4]
        if etype == GTID_EVENT:
            skipping = gtid_set_contains(gs, *gtid_event_id(ev[19:]))
        elif etype in _ALWAYS_SENT:
            yield start, ev
            continue
        if not skipping:
            yield start, ev


def _mysql_err(code: int, state: str, msg: str) -> bytes:
    return b"\xff" + struct.pack("<H", code) + f"#{state}{msg}".encode()


class FakeMysqlServer(LoopbackServer):
    """``binlogs``: {file name: full file bytes (with magic)}."""

    def __init__(self, binlogs: dict[str, bytes], user: str = "repl",
                 password: str = ""):
        super().__init__()
        self.binlogs = binlogs
        self.user, self.password = user, password
        self.registered_server_ids: list[int] = []
        self.dump_requests: list[tuple[str, int, int]] = []  # (file, pos, server_id)
        self.gtid_dump_requests: list[tuple] = []  # (file, gtid_set, server_id, flags)
        self.queries: list[str] = []

    def serve(self, sock: socket.socket) -> None:
        conn = MysqlSocket(sock)
        scramble = secrets.token_bytes(20)
        greeting = (
            b"\x0a" + b"8.0.36-fixture\x00"
            + struct.pack("<I", 7)                # thread id
            + scramble[:8] + b"\x00"
            + struct.pack("<H", 0xFFFF)           # caps low
            + b"\x21"                             # charset
            + struct.pack("<HH", 2, 0xFFFF)       # status, caps high
            + bytes([21]) + b"\x00" * 10          # auth data len, reserved
            + scramble[8:] + b"\x00" + b"mysql_native_password\x00"
        )
        conn.send_packet(greeting, seq=0)

        resp = conn.read_packet()
        i = 4 + 4 + 1 + 23
        j = resp.index(0, i)
        user = resp[i:j].decode()
        n = resp[j + 1]
        proof = resp[j + 2 : j + 2 + n]
        if user != self.user or proof != native_password_proof(self.password, scramble):
            conn.send_packet(_mysql_err(1045, "28000", "Access denied for user"),
                             seq=conn.seq)
            return
        conn.send_packet(_MYSQL_OK, seq=conn.seq)

        while True:
            conn.reset_seq()
            pkt = conn.read_packet()
            if not pkt:
                return
            cmd = pkt[0]
            if cmd == COM_QUERY:
                self.queries.append(pkt[1:].decode(errors="replace"))
                conn.send_packet(_MYSQL_OK)
            elif cmd == COM_REGISTER_SLAVE:
                (sid,) = struct.unpack_from("<I", pkt, 1)
                self.registered_server_ids.append(sid)
                conn.send_packet(_MYSQL_OK)
            elif cmd == COM_BINLOG_DUMP_GTID:
                flags, sid = struct.unpack_from("<HI", pkt, 1)
                (fn_len,) = struct.unpack_from("<I", pkt, 7)
                fname = pkt[11 : 11 + fn_len].decode()
                i = 11 + fn_len + 8  # skip the u64 position
                (gs_len,) = struct.unpack_from("<I", pkt, i)
                gs = decode_gtid_set(pkt[i + 4 : i + 4 + gs_len])
                self.gtid_dump_requests.append((fname, gs, sid, flags))
                events = self._events(conn, fname or next(iter(self.binlogs), ""))
                if events is None:
                    continue
                for _start, ev in filter_events_by_gtid_set(events, gs):
                    conn.send_packet(b"\x00" + ev)
                conn.send_packet(_MYSQL_EOF)
            elif cmd == COM_BINLOG_DUMP:
                pos, _flags, sid = struct.unpack_from("<IHI", pkt, 1)
                fname = pkt[11:].decode()
                self.dump_requests.append((fname, pos, sid))
                events = self._events(conn, fname)
                if events is None:
                    continue
                # real servers always lead with the FORMAT_DESCRIPTION
                # event, whatever position was requested
                if events:
                    conn.send_packet(b"\x00" + events[0][1])
                for start, ev in events[1:]:
                    if start >= max(pos, 4):
                        conn.send_packet(b"\x00" + ev)
                conn.send_packet(_MYSQL_EOF)
            else:
                conn.send_packet(_mysql_err(1047, "08S01", "Unknown command"))

    def _events(self, conn: MysqlSocket, fname: str) -> list | None:
        """The requested file's events, or None after answering ERR 1236
        for a missing or unreadable file."""
        blob = self.binlogs.get(fname)
        if blob is None:
            msg = f"Could not find first log file name {fname}"
        else:
            try:
                return split_events(blob)
            except ValueError as e:
                msg = f"binlog file {fname}: {e}"
        conn.send_packet(_mysql_err(1236, "HY000", msg))
        return None


# ---------------------------------------------------------------------------
# PG: v3 startup + optional cleartext auth, IDENTIFY_SYSTEM /
# CREATE_REPLICATION_SLOT, START_REPLICATION -> CopyBoth with a keepalive,
# the XLogData frames and CopyDone, standby-status-update bookkeeping
# ---------------------------------------------------------------------------


def segment_to_frames(segment: bytes) -> list[bytes]:
    """Captured-segment bytes (u32 len + XLogData each) -> the raw XLogData
    messages a live walsender sends as CopyData payloads."""
    frames, i = [], 0
    while i < len(segment):
        (ln,) = struct.unpack_from(">I", segment, i)
        frames.append(segment[i + 4 : i + 4 + ln])
        i += 4 + ln
    return frames


def _row_description(cols: list[str]) -> bytes:
    out = struct.pack(">H", len(cols))
    for c in cols:
        out += _cstr(c) + struct.pack(">IHIhiH", 0, 0, 25, -1, -1, 0)
    return out


def _data_row(vals: list[str]) -> bytes:
    out = struct.pack(">H", len(vals))
    for v in vals:
        b = v.encode()
        out += struct.pack(">i", len(b)) + b
    return out


def _pg_error(severity: str, msg: str, code: str = "") -> bytes:
    fields = b"S" + _cstr(severity) + (b"C" + _cstr(code) if code else b"")
    return fields + b"M" + _cstr(msg) + b"\x00"


class FakeWalsender(LoopbackServer):
    """``password``: None = trust auth. ``known_slots``: None = accept any
    slot name in START_REPLICATION."""

    def __init__(self, frames: list[bytes] | None = None,
                 password: str | None = None,
                 known_slots: set[str] | None = None):
        super().__init__()
        self.frames = frames or []
        self.password = password
        self.known_slots = known_slots
        self.status_updates: list[tuple[int, int, int, int]] = []

    def serve(self, sock: socket.socket) -> None:
        conn = PgSocket(sock)
        conn.read_startup()
        if self.password is not None:
            conn.send_msg(b"R", struct.pack(">I", 3))  # CleartextPassword
            mtype, payload = conn.read_msg()
            if mtype != b"p" or payload.rstrip(b"\x00").decode() != self.password:
                conn.send_msg(b"E", _pg_error(
                    "FATAL", "password authentication failed", "28P01"))
                return
        conn.send_msg(b"R", struct.pack(">I", 0))  # AuthenticationOk
        conn.send_msg(b"S", _cstr("server_version") + _cstr("16.3"))
        conn.send_msg(b"K", struct.pack(">II", 4242, 7))
        conn.send_msg(b"Z", b"I")
        while True:
            mtype, payload = conn.read_msg()
            if mtype == b"Q":
                self._query(conn, payload.rstrip(b"\x00").decode())
            elif mtype == b"d" and payload[:1] == b"r":
                rx, fl, ap, _clock, reply = struct.unpack(">QQQqB", payload[1:34])
                self.status_updates.append((rx, fl, ap, reply))
            elif mtype == b"X":
                return

    def _query(self, conn: PgSocket, sql: str) -> None:
        up = sql.upper()
        if up.startswith("IDENTIFY_SYSTEM"):
            conn.send_msg(b"T", _row_description(
                ["systemid", "timeline", "xlogpos", "dbname"]))
            conn.send_msg(b"D", _data_row(
                ["7284066108532061456", "1", "0/1000000", "postgres"]))
            conn.send_msg(b"C", _cstr("IDENTIFY_SYSTEM"))
        elif up.startswith("CREATE_REPLICATION_SLOT"):
            slot = sql.split()[1]
            conn.send_msg(b"T", _row_description(
                ["slot_name", "consistent_point", "snapshot_name", "output_plugin"]))
            conn.send_msg(b"D", _data_row(
                [slot, "1/0", "00000003-000001", "pgoutput"]))
            conn.send_msg(b"C", _cstr("CREATE_REPLICATION_SLOT"))
        elif up.startswith("START_REPLICATION"):
            slot = sql.split()[2]
            if self.known_slots is not None and slot not in self.known_slots:
                conn.send_msg(b"E", _pg_error(
                    "ERROR", f'replication slot "{slot}" does not exist', "42704"))
            else:
                conn.send_msg(b"W", b"\x00\x00\x00")  # CopyBothResponse
                # primary keepalive requesting a reply
                conn.send_msg(b"d", b"k" + struct.pack(">QqB", 0, 0, 1))
                for frame in self.frames:
                    conn.send_msg(b"d", frame)
                conn.send_msg(b"c")  # CopyDone: stream drained
                return
        else:
            conn.send_msg(b"E", _pg_error("ERROR", "unknown command"))
        conn.send_msg(b"Z", b"I")


# ---------------------------------------------------------------------------
# Redis: AUTH / PING / REPLCONF, PSYNC -> +FULLRESYNC with a length- or
# EOF-framed RDB payload, or +CONTINUE; the RESP command stream; ACKs
# ---------------------------------------------------------------------------


class FakeMaster(LoopbackServer):
    """``repl_id``: random when None. ``keepalive_newlines``: '\\n' bytes
    sent before the RDB payload, like a forking master.
    ``drop_after_bytes``: full-sync sessions send only that many stream
    bytes, then close (a mid-command drop). ``offset_aware``: +CONTINUE
    serves the stream from the REQUESTED offset (relative to
    ``master_offset``) instead of replaying every command, and answers -ERR
    to an offset outside the stream. ``drop_resumes``: close right after
    +CONTINUE."""

    def __init__(
        self,
        rdb_bytes: bytes = b"",
        commands: list[list[str]] | None = None,
        repl_id: str | None = None,
        master_offset: int = 1000,
        diskless: bool = False,
        password: str | None = None,
        keepalive_newlines: int = 2,
        drop_after_bytes: int | None = None,
        offset_aware: bool = False,
        drop_resumes: bool = False,
    ):
        super().__init__()
        self.rdb_bytes = rdb_bytes
        self.commands = commands or []
        self.repl_id = repl_id or secrets.token_hex(20)
        self.master_offset = master_offset
        self.diskless = diskless
        self.password = password
        self.keepalive_newlines = keepalive_newlines
        self.drop_after_bytes = drop_after_bytes
        self.offset_aware = offset_aware
        self.drop_resumes = drop_resumes
        self.acks: list[int] = []

    def stream_bytes(self) -> bytes:
        return b"".join(encode_resp(cmd) for cmd in self.commands)

    def serve(self, sock: socket.socket) -> None:
        conn = RespSocket(sock)
        authed = self.password is None
        while True:
            kind, v, _ = conn.read_value()
            if kind != "array" or not isinstance(v, list):
                return
            argv = [x.decode() if isinstance(x, bytes) else str(x) for x in v]
            name = argv[0].lower()
            if name == "auth":
                if argv[1] != self.password:
                    conn.send_raw(b"-ERR invalid password\r\n")
                    return
                authed = True
                conn.send_raw(b"+OK\r\n")
            elif not authed:
                conn.send_raw(b"-NOAUTH Authentication required.\r\n")
                return
            elif name == "ping":
                conn.send_raw(b"+PONG\r\n")
            elif name == "replconf":
                if argv[1].lower() == "ack":
                    self.acks.append(int(argv[2]))  # ACK gets no reply
                else:
                    conn.send_raw(b"+OK\r\n")
            elif name == "psync":
                # after the stream: keep reading ACKs until the client closes
                if not self._psync(conn, argv[1], int(argv[2])):
                    return
            else:
                conn.send_raw(f"-ERR unknown command '{argv[0]}'\r\n".encode())

    def _full_resync(self, conn: RespSocket) -> None:
        conn.send_raw(f"+FULLRESYNC {self.repl_id} {self.master_offset}\r\n".encode())
        conn.send_raw(b"\n" * self.keepalive_newlines)  # fork keepalives
        if self.diskless:
            delim = secrets.token_hex(20).encode()  # 40 bytes
            conn.send_raw(b"$EOF:" + delim + b"\r\n" + self.rdb_bytes + delim)
        else:
            conn.send_raw(b"$%d\r\n" % len(self.rdb_bytes) + self.rdb_bytes)

    def _psync(self, conn: RespSocket, repl_id: str, offset: int) -> bool:
        """Answer one PSYNC; False ends the session."""
        stream = self.stream_bytes()
        if repl_id != self.repl_id:  # '?' or an unknown history
            self._full_resync(conn)
            if self.drop_after_bytes is not None:
                conn.send_raw(stream[: self.drop_after_bytes])
                return False  # mid-command drop: resume or bust
            conn.send_raw(stream)
            return True
        rel = offset - self.master_offset
        if self.offset_aware and not 0 <= rel <= len(stream):
            conn.send_raw(b"-ERR cannot continue from offset %d\r\n" % offset)
            return False
        conn.send_raw(b"+CONTINUE\r\n")
        if self.drop_resumes:
            return False  # a master that keeps failing resumes
        conn.send_raw(stream[rel:] if self.offset_aware else stream)
        return True


# ---------------------------------------------------------------------------
# Mongo: OP_MSG (optionally checksummed replies), hello, SCRAM-SHA-256,
# find / aggregate($changeStream) / getMore / killCursors / count
# ---------------------------------------------------------------------------

# BSON type-order ranks (MongoDB "Comparison/Sort Order" docs): numbers sort
# together before strings; the subset covers the _id types fixtures use.
_RANKS = [
    (type(None), 5),
    (bool, 40),  # before int — bool is an int subclass
    ((int, float), 10),
    (str, 15),
    (dict, 20),
    (list, 25),
    (bc.Binary, 30),
    (bc.ObjectId, 35),
    (bc.DateTime, 45),
    (bc.Timestamp, 50),
]


def bson_sort_key(v):
    for klass, rank in _RANKS:
        if isinstance(v, klass):
            if isinstance(v, bc.ObjectId):
                return (rank, v.raw)
            if isinstance(v, bc.Binary):
                return (rank, v.data)
            if isinstance(v, bc.DateTime):
                return (rank, v.ms)
            if isinstance(v, bc.Timestamp):
                return (rank, v.sort_key())
            if isinstance(v, (dict, list)):
                return (rank, str(v))
            if isinstance(v, bool):
                return (rank, int(v))
            return (rank, v)
    raise TypeError(f"no BSON sort rank for {type(v).__name__}")


def _matches(doc: dict, filt: dict | None) -> bool:
    """The client's filter shapes: {}, {ts: {$gte}}, {$expr: {$gt:
    ["$_id", key]}}, plus plain equality."""
    if not filt:
        return True
    if "ts" in filt and isinstance(filt["ts"], dict) and "$gte" in filt["ts"]:
        ts = doc.get("ts")
        want = filt["ts"]["$gte"]
        return isinstance(ts, bc.Timestamp) and ts.sort_key() >= want.sort_key()
    if "$expr" in filt:
        (op, args), = filt["$expr"].items()
        if op != "$gt" or args[0] != "$_id":
            raise ValueError(f"fake mongod: unsupported $expr {filt}")
        return bson_sort_key(doc.get("_id")) > bson_sort_key(args[1])
    return all(doc.get(k) == v for k, v in filt.items())


class FakeMongod(LoopbackServer):
    """``collections``: {(db, coll): [doc, ...]} (insertion order = natural
    order, the oplog contract). ``users``: {name: password} — when
    non-empty, every command except hello/sasl* requires a completed
    SCRAM-SHA-256 exchange. ``hold_tail_open``: tailable cursors keep a
    live id after draining (the real TailableAwait shape), so client-side
    max_docs / timeout bounding is exercised; when False the drained cursor
    closes. ``change_events``: deployment-level events served by the
    $changeStream aggregation (each carries an _id resume token and a
    clusterTime)."""

    def __init__(
        self,
        collections: dict[tuple[str, str], list[dict]],
        users: dict[str, str] | None = None,
        hold_tail_open: bool = False,
        checksum_replies: bool = False,
        change_events: list[dict] | None = None,
    ):
        super().__init__()
        self.collections = collections
        self.users = users or {}
        self.hold_tail_open = hold_tail_open
        self.checksum_replies = checksum_replies
        self.change_events = change_events or []
        self.commands_seen: list[str] = []
        self.killed_cursors: list[int] = []

    def serve(self, sock: socket.socket) -> None:
        conn = MongoSocket(sock)
        cursors: dict[int, dict] = {}  # id -> {coll, docs, tailable}
        next_cursor = [secrets.randbelow(1 << 30) + 1]
        authed = [not self.users]
        scram: dict = {}

        def reply(to_rid: int, doc: dict) -> None:
            rid = conn.next_request_id
            conn.next_request_id += 1
            sock.sendall(encode_op_msg(
                doc, rid, response_to=to_rid, checksum=self.checksum_replies))

        while True:
            rid, _, cmd = conn.read_msg()
            name = next(iter(cmd))
            self.commands_seen.append(name)
            if name == "hello":
                reply(rid, {
                    "isWritablePrimary": True, "setName": "rs0",
                    "maxWireVersion": 17, "minWireVersion": 0,
                    "maxBsonObjectSize": 16 * 1024 * 1024, "ok": 1.0,
                })
            elif name == "saslStart":
                reply(rid, self._sasl_start(cmd, scram))
            elif name == "saslContinue":
                reply(rid, self._sasl_continue(cmd, scram, authed))
            elif not authed[0]:
                reply(rid, {"ok": 0.0, "code": 13,
                            "errmsg": "command requires authentication"})
            elif name == "count":
                docs = self.collections.get((cmd["$db"], cmd["count"]), [])
                reply(rid, {"n": len(docs), "ok": 1.0})
            elif name == "find":
                reply(rid, self._find(cmd, cursors, next_cursor))
            elif name == "aggregate":
                reply(rid, self._aggregate(cmd, cursors, next_cursor))
            elif name == "getMore":
                reply(rid, self._get_more(cmd, cursors))
            elif name == "killCursors":
                ids = [int(getattr(c, "value", c)) for c in cmd.get("cursors", [])]
                for cid in ids:
                    cursors.pop(cid, None)
                    self.killed_cursors.append(cid)
                reply(rid, {"cursorsKilled": ids, "ok": 1.0})
            else:
                reply(rid, {"ok": 0.0, "code": 59,
                            "errmsg": f"no such command: '{name}'"})

    # -- SCRAM server side ---------------------------------------------------
    def _sasl_start(self, cmd: dict, scram: dict) -> dict:
        payload = bytes(cmd["payload"].data).decode()
        if cmd.get("mechanism") != "SCRAM-SHA-256":
            return {"ok": 0.0, "code": 2,
                    "errmsg": f"unsupported mechanism {cmd.get('mechanism')}"}
        bare = payload.split(",", 2)[2]  # strip gs2 header "n,,"
        attrs = dict(p.split("=", 1) for p in bare.split(","))
        cnonce = attrs["r"]
        user = attrs.get("n", "").replace("=2C", ",").replace("=3D", "=")
        if user not in self.users:
            return {"ok": 0.0, "code": 18,
                    "errmsg": f"authentication failed for {user!r}"}
        snonce = cnonce + base64.b64encode(secrets.token_bytes(18)).decode()
        salt, iters = secrets.token_bytes(16), 4096
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.users[user].encode(), salt, iters)
        server_first = f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
        scram.update(
            bare=bare, server_first=server_first, snonce=snonce, salted=salted
        )
        return {"conversationId": 1, "done": False,
                "payload": bc.Binary(server_first.encode()), "ok": 1.0}

    def _sasl_continue(self, cmd: dict, scram: dict, authed: list) -> dict:
        payload = bytes(cmd["payload"].data).decode()
        if authed[0] or not payload:  # post-verification empty exchange
            authed[0] = True
            return {"conversationId": 1, "done": True,
                    "payload": bc.Binary(b""), "ok": 1.0}
        attrs = dict(p.split("=", 1) for p in payload.split(","))
        if attrs.get("r") != scram["snonce"]:
            return {"ok": 0.0, "code": 18, "errmsg": "nonce mismatch"}
        client_key = hmac.digest(scram["salted"], b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        without_proof = payload.rsplit(",p=", 1)[0]
        auth_msg = f"{scram['bare']},{scram['server_first']},{without_proof}".encode()
        want = bytes(
            a ^ b
            for a, b in zip(client_key, hmac.digest(stored_key, auth_msg, "sha256"))
        )
        if base64.b64decode(attrs["p"]) != want:
            return {"ok": 0.0, "code": 18, "errmsg": "authentication failed"}
        server_key = hmac.digest(scram["salted"], b"Server Key", "sha256")
        sig = base64.b64encode(hmac.digest(server_key, auth_msg, "sha256")).decode()
        authed[0] = True
        return {"conversationId": 1, "done": True,
                "payload": bc.Binary(f"v={sig}".encode()), "ok": 1.0}

    # -- cursors -------------------------------------------------------------
    @staticmethod
    def _open_cursor(cursors: dict, next_cursor: list, coll: str, rest: list,
                     tailable: bool) -> int:
        if not (rest or tailable):
            return 0
        cid = next_cursor[0]
        next_cursor[0] += 1
        cursors[cid] = {"coll": coll, "docs": rest, "tailable": tailable}
        return cid

    def _find(self, cmd: dict, cursors: dict, next_cursor: list) -> dict:
        db, coll = cmd["$db"], cmd["find"]
        docs = [d for d in self.collections.get((db, coll), [])
                if _matches(d, cmd.get("filter"))]
        if cmd.get("sort"):
            (field, direction), = cmd["sort"].items()
            docs = sorted(docs, key=lambda d: bson_sort_key(d.get(field)),
                          reverse=direction < 0)
        if cmd.get("limit"):
            docs = docs[: int(cmd["limit"])]
        batch = int(cmd.get("batchSize", 101))
        tailable = bool(cmd.get("tailable")) and self.hold_tail_open
        cid = self._open_cursor(cursors, next_cursor, coll, docs[batch:], tailable)
        return {
            "cursor": {"firstBatch": docs[:batch], "id": bc.Int64(cid),
                       "ns": f"{db}.{coll}"},
            "ok": 1.0,
        }

    def _aggregate(self, cmd: dict, cursors: dict, next_cursor: list) -> dict:
        """Deployment-level $changeStream aggregation: serves the configured
        change-stream events, honoring startAtOperationTime (clusterTime >=)
        XOR startAfter (strictly after the event with that _id token)."""
        pipeline = cmd.get("pipeline") or []
        if not (pipeline and isinstance(pipeline[0], dict)
                and "$changeStream" in pipeline[0]):
            return {"ok": 0.0, "code": 40324,
                    "errmsg": "only $changeStream aggregations supported"}
        stage = pipeline[0]["$changeStream"]
        events = list(self.change_events)
        if "startAfter" in stage:
            token = stage["startAfter"]
            idx = next((i for i, e in enumerate(events) if e.get("_id") == token),
                       None)
            if idx is None:
                return {"ok": 0.0, "code": 286,
                        "errmsg": "resume token not found"}
            events = events[idx + 1:]
        elif "startAtOperationTime" in stage:
            want = stage["startAtOperationTime"].sort_key()
            events = [
                e for e in events
                if isinstance(e.get("clusterTime"), bc.Timestamp)
                and e["clusterTime"].sort_key() >= want
            ]
        batch = int((cmd.get("cursor") or {}).get("batchSize", 101))
        cid = self._open_cursor(cursors, next_cursor, "$cmd.aggregate",
                                events[batch:], self.hold_tail_open)
        return {
            "cursor": {"firstBatch": events[:batch], "id": bc.Int64(cid),
                       "ns": f"{cmd['$db']}.$cmd.aggregate"},
            "ok": 1.0,
        }

    def _get_more(self, cmd: dict, cursors: dict) -> dict:
        cid = int(getattr(cmd["getMore"], "value", cmd["getMore"]))
        state = cursors.get(cid)
        if state is None:
            return {"ok": 0.0, "code": 43, "errmsg": f"cursor id {cid} not found"}
        batch = int(cmd.get("batchSize", 101))
        out, state["docs"] = state["docs"][:batch], state["docs"][batch:]
        if state["docs"] or state["tailable"]:
            new_id = cid
        else:
            new_id = 0
            cursors.pop(cid, None)
        if state["tailable"] and not out:
            # TailableAwait with nothing new: stall past the client's socket
            # timeout before replying — the bounded pull must end via its
            # own timeout, exactly like a quiet production oplog
            time.sleep(10)
        return {
            "cursor": {"nextBatch": out, "id": bc.Int64(new_id),
                       "ns": f"{cmd['$db']}.{state['coll']}"},
            "ok": 1.0,
        }
