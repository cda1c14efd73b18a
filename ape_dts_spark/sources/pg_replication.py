"""Live PostgreSQL logical-replication client — the SOCKET half of the
reference's ``pg_cdc_extractor.rs``, previously the out-of-scope remainder
next to the fully-decoded at-rest pgoutput surface.

Speaks the public frontend/backend protocol v3 (PostgreSQL docs, "Frontend/
Backend Protocol" + "Streaming Replication Protocol"):

- StartupMessage with ``replication=database`` (a walsender session), trust
  or cleartext-password auth, parameter/ready handshake;
- ``IDENTIFY_SYSTEM`` and ``CREATE_REPLICATION_SLOT`` via simple query;
- ``START_REPLICATION SLOT ... LOGICAL <lsn> (proto_version '1',
  publication_names '...')`` -> CopyBothResponse, then CopyData frames:
  ``'w'`` XLogData (wal_start, wal_end, clock, pgoutput payload) and
  ``'k'`` primary keepalives, answered with ``'r'`` Standby Status Updates
  carrying the received/flushed/applied LSNs (pg_cdc_extractor.rs:250-270 —
  the stream drops if postgres receives no keepalive ack);
- ErrorResponse surfaces as ValueError with the server's message fields.

Received XLogData payloads are re-framed into the captured-segment layout
(u32 length + XLogData) and decoded by the SAME at-rest parser the
``pgoutput_file_parse`` gate proves (sources/pgoutput_file.py) — the socket
layer adds transport, not a second decoder.

Scale shape: one replication slot serves one database's serialized WAL —
inherently sequential — so the unit of parallelism is the SLOT/database:
``read_replication_changes`` runs one walsender session per (host, port,
slot) through the shared endpoint pull runner (``session._pull_endpoints``,
one Arrow task per endpoint).

Tested end-to-end in tests/test_pg_replication.py against a loopback fake
walsender speaking these exact bytes (startup, auth variants, CopyBoth,
XLogData built by the at-rest encoder, keepalive/status-update bookkeeping).
"""

from __future__ import annotations

import re
import socket
import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _pull_endpoints
from ape_dts_spark.sources.pgoutput_file import CHANGE_SCHEMA, lsn_text, parse_pgoutput_bytes

PG_PROTO_V3 = 196608  # 3.0
PG_EPOCH_US = 946_684_800_000_000  # 2000-01-01 in unix µs


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgSocket:
    """Framing for the v3 protocol: startup (no type byte) + typed
    ``type(1) len(4 incl itself) payload`` messages both ways."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self._buf = b""

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

    def _sendall(self, data: bytes) -> None:
        try:
            self.sock.sendall(data)
        except OSError as e:  # reset/refused -> the ValueError contract
            raise ValueError(f"connection lost mid-send: {e}") from e

    def send_startup(self, params: dict[str, str]) -> None:
        body = struct.pack(">I", PG_PROTO_V3)
        for k, v in params.items():
            body += _cstr(k) + _cstr(v)
        body += b"\x00"
        self._sendall(struct.pack(">I", len(body) + 4) + body)

    def send_msg(self, mtype: bytes, payload: bytes = b"") -> None:
        self._sendall(mtype + struct.pack(">I", len(payload) + 4) + payload)

    def read_msg(self) -> tuple[bytes, bytes]:
        mtype = self._read_exact(1)
        (ln,) = struct.unpack(">I", self._read_exact(4))
        if ln < 4:
            raise ValueError(f"bad message length {ln}")
        return mtype, self._read_exact(ln - 4)

    def read_startup(self) -> dict[str, str]:
        """Server side (tests): startup message -> parameter dict."""
        (ln,) = struct.unpack(">I", self._read_exact(4))
        body = self._read_exact(ln - 4)
        (proto,) = struct.unpack(">I", body[:4])
        if proto != PG_PROTO_V3:
            raise ValueError(f"unsupported protocol {proto}")
        parts = body[4:].split(b"\x00")
        params = {}
        for i in range(0, len(parts) - 1, 2):
            if parts[i]:
                params[parts[i].decode()] = parts[i + 1].decode()
        return params


def _error_text(payload: bytes) -> str:
    """ErrorResponse fields (code byte + cstr, NUL-terminated list)."""
    fields, i = {}, 0
    while i < len(payload) and payload[i] != 0:
        code = chr(payload[i])
        j = payload.index(0, i + 1)
        fields[code] = payload[i + 1 : j].decode(errors="replace")
        i = j + 1
    return f"{fields.get('S', 'ERROR')}: {fields.get('M') or payload!r}"


class PgReplicationClient:
    """One slot's walsender session. Usage::

        c = PgReplicationClient(host, port, user=..., database=...,
                                slot="s", publication="p")
        c.connect()
        ident = c.identify_system()
        c.start_replication(start_lsn=...)
        for row in c.stream(max_changes=100): ...
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str = "repl",
        database: str = "postgres",
        password: str | None = None,
        slot: str = "ape_dts_slot",
        publication: str = "ape_dts_pub",
        timeout: float = 10.0,
    ):
        self.host, self.port = host, int(port)
        self.user, self.database, self.password = user, database, password
        # slot/publication are interpolated into walsender SQL below —
        # refuse anything outside the safe identifier alphabet up front so
        # a malformed operator config fails here, not as a server error
        for label, name in (("slot", slot), ("publication", publication)):
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                raise ValueError(f"unsafe {label} name {name!r}")
        self.slot, self.publication = slot, publication
        self.timeout = timeout
        self.parameters: dict[str, str] = {}
        self.flushed_lsn = 0
        self.status_updates_sent = 0
        self.conn: PgSocket | None = None

    # -- session ----------------------------------------------------------
    def connect(self) -> None:
        sock = socket.create_connection((self.host, self.port), self.timeout)
        sock.settimeout(self.timeout)
        self.conn = PgSocket(sock)
        self.conn.send_startup(
            {"user": self.user, "database": self.database,
             "replication": "database"}
        )
        while True:
            mtype, payload = self.conn.read_msg()
            if mtype == b"R":
                (code,) = struct.unpack(">I", payload[:4])
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # CleartextPassword
                    if self.password is None:
                        raise ValueError("server requires a password")
                    self.conn.send_msg(b"p", _cstr(self.password))
                    continue
                raise ValueError(f"unsupported auth method {code}")
            if mtype == b"S":  # ParameterStatus
                k, v = payload.split(b"\x00")[:2]
                self.parameters[k.decode()] = v.decode()
            elif mtype == b"K":  # BackendKeyData
                continue
            elif mtype == b"Z":  # ReadyForQuery
                return
            elif mtype == b"E":
                raise ValueError(f"startup failed: {_error_text(payload)}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.sock.close()
            self.conn = None

    # -- simple query -------------------------------------------------------
    def simple_query(self, sql: str) -> list[dict]:
        """Q -> RowDescription/DataRow/CommandComplete/ReadyForQuery, rows
        as {col: str|None} — enough for the walsender commands
        (IDENTIFY_SYSTEM, CREATE_REPLICATION_SLOT)."""
        assert self.conn is not None, "connect first"
        self.conn.send_msg(b"Q", _cstr(sql))
        cols: list[str] = []
        rows: list[dict] = []
        while True:
            mtype, payload = self.conn.read_msg()
            if mtype == b"T":
                (n,) = struct.unpack(">H", payload[:2])
                i, cols = 2, []
                for _ in range(n):
                    j = payload.index(0, i)
                    cols.append(payload[i:j].decode())
                    i = j + 1 + 18  # fixed per-field descriptor tail
            elif mtype == b"D":
                (n,) = struct.unpack(">H", payload[:2])
                i, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack(">i", payload[i : i + 4])
                    i += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[i : i + ln].decode())
                        i += ln
                rows.append(dict(zip(cols, vals)))
            elif mtype == b"C":
                continue
            elif mtype == b"Z":
                return rows
            elif mtype == b"E":
                raise ValueError(f"query failed: {_error_text(payload)}")

    def identify_system(self) -> dict:
        rows = self.simple_query("IDENTIFY_SYSTEM")
        if not rows:
            raise ValueError("IDENTIFY_SYSTEM returned no row")
        return rows[0]

    def create_replication_slot(self) -> dict:
        rows = self.simple_query(
            f"CREATE_REPLICATION_SLOT {self.slot} LOGICAL pgoutput"
        )
        if not rows:
            raise ValueError("CREATE_REPLICATION_SLOT returned no row")
        return rows[0]

    # -- replication --------------------------------------------------------
    def start_replication(self, start_lsn: int = 0) -> None:
        """START_REPLICATION ... -> CopyBothResponse ('W')."""
        assert self.conn is not None, "connect first"
        sql = (
            f"START_REPLICATION SLOT {self.slot} LOGICAL {lsn_text(start_lsn)}"
            f" (proto_version '1', publication_names '{self.publication}')"
        )
        self.conn.send_msg(b"Q", _cstr(sql))
        while True:
            mtype, payload = self.conn.read_msg()
            if mtype == b"W":
                self.flushed_lsn = start_lsn
                return
            if mtype == b"E":
                raise ValueError(f"START_REPLICATION failed: {_error_text(payload)}")
            if mtype in (b"S", b"C"):
                continue
            raise ValueError(f"unexpected message {mtype!r} before CopyBoth")

    def standby_status_update(self, clock_us: int = 0, reply: int = 0) -> None:
        """'r' CopyData: received/flushed/applied LSNs + clock + reply flag
        (the keepalive ack pg_cdc_extractor.rs:250-270 sends)."""
        assert self.conn is not None
        lsn = self.flushed_lsn
        body = b"r" + struct.pack(">QQQqB", lsn, lsn, lsn, clock_us, reply)
        self.conn.send_msg(b"d", body)
        self.status_updates_sent += 1

    def stream(self, max_changes: int | None = None) -> Iterator[dict]:
        """Yield canonical change rows (the at-rest parser's shape) from the
        live CopyBoth stream: XLogData payloads are re-framed into the
        captured-segment layout and decoded per COMMIT by
        parse_pgoutput_bytes — identical rows to parsing the same bytes at
        rest. Keepalives requesting a reply are acked immediately; a final
        status update flushes the last received LSN. A socket timeout ends
        a bounded pull (nothing more buffered)."""
        assert self.conn is not None, "start_replication first"
        # Relation frames are sent once per connection but scope the WHOLE
        # session — cache them so each per-commit parse stays self-
        # describing (re-registering a relation is idempotent)
        rel_cache = bytearray()
        pending = bytearray()  # segment-framed XLogData since last commit
        emitted = 0
        next_start_lsn = 0  # last txn's end: the reference's position basis
        while max_changes is None or emitted < max_changes:
            try:
                mtype, payload = self.conn.read_msg()
            except socket.timeout:
                break  # bounded pull: nothing more buffered within timeout
            if mtype == b"E":
                raise ValueError(f"stream error: {_error_text(payload)}")
            if mtype == b"c":  # CopyDone: server ended the stream
                break
            if mtype != b"d" or not payload:
                continue
            kind = payload[:1]
            if kind == b"k":
                end_lsn, _clock, reply = struct.unpack(">QqB", payload[1:18])
                self.flushed_lsn = max(self.flushed_lsn, end_lsn)
                if reply:
                    self.standby_status_update(reply=0)
                continue
            if kind != b"w":
                continue
            _wal_start, wal_end = struct.unpack(">QQ", payload[1:17])
            self.flushed_lsn = max(self.flushed_lsn, wal_end)
            frame = struct.pack(">I", len(payload)) + payload
            # pgoutput message type rides right after the 24-byte XLogData
            # header ('w' + 3x u64)
            tag = payload[25:26]
            if tag == b"R":
                rel_cache += frame
            pending += frame
            if tag in (b"C", b"c"):  # Commit / StreamCommit completes a txn
                for row in parse_pgoutput_bytes(bytes(rel_cache + pending)):
                    if row["row_type"] == "commit":
                        # data rows carry the LAST txn's end as their
                        # position basis (rs:178 get_position(last_tx_end));
                        # a per-chunk parse starts that counter at 0, so
                        # track the boundary across chunks here
                        hi, lo = row["lsn"].split("/")
                        next_start_lsn = (int(hi, 16) << 32) | int(lo, 16)
                    else:
                        row["lsn"] = lsn_text(next_start_lsn)
                    yield row
                    emitted += 1
                    if max_changes is not None and emitted >= max_changes:
                        break
                # relations already moved to the cache; drop the txn frames
                pending.clear()
        self.standby_status_update(reply=0)


def read_replication_changes(
    spark: SparkSession,
    slots: list[tuple[str, int, str]],
    user: str = "repl",
    database: str = "postgres",
    password: str | None = None,
    publication: str = "ape_dts_pub",
    start_lsn: int = 0,
    max_changes: int | None = None,
    timeout: float = 10.0,
) -> DataFrame:
    """Distributed bounded pull over live walsenders: one Arrow task per
    (host, port, slot) runs the replication session and emits the canonical
    change rows (the pgoutput_file schema) — the slot-per-task layout of a
    multi-database capture."""

    def pull(host, port, slot):
        client = PgReplicationClient(
            host, port, user=user, database=database, password=password,
            slot=slot, publication=publication, timeout=timeout,
        )
        try:
            client.connect()
            client.start_replication(start_lsn)
            # per-chunk parses restart seq; the live stream's apply order IS
            # arrival order — stamp it per slot
            return [
                {**r, "file": f"{host}:{port}/{slot}", "seq": seq}
                for seq, r in enumerate(client.stream(max_changes=max_changes))
            ]
        finally:
            client.close()

    return _pull_endpoints(
        spark, slots, "host string, port int, slot string", pull, CHANGE_SCHEMA
    )
