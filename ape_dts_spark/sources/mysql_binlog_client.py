"""Live MySQL binlog replication client — the SOCKET half of the
reference's ``mysql_cdc_extractor.rs`` (which delegates the wire to the
public ``mysql_binlog_connector_rust`` BinlogClient), previously the
out-of-scope remainder next to the fully-decoded at-rest binlog surface.

Speaks the public MySQL client/server protocol:

- packet framing: u24 LE length + u8 sequence + payload;
- Initial Handshake v10 (server version, 8+12-byte auth scramble,
  capability flags, auth plugin name) -> HandshakeResponse41 with the
  ``mysql_native_password`` proof ``SHA1(pwd) XOR SHA1(scramble +
  SHA1(SHA1(pwd)))`` -> OK / ERR;
- ``COM_QUERY`` for the session setup real replicas send
  (``SET @master_binlog_checksum = @@global.binlog_checksum``);
- ``COM_REGISTER_SLAVE`` (server_id registration) then ``COM_BINLOG_DUMP``
  (start position + file name) -> a stream of packets each carrying
  ``0x00`` + one binlog EVENT's bytes, ended by EOF under the non-blocking
  flag;
- ERR packets surface as ValueError with the server's message.

Received events are reassembled into a virtual binlog file (magic +
events) and decoded by the SAME at-rest parser the ``binlog_file_parse``
gate proves (sources/binlog_file.py) — CRC32 verification, TABLE_MAP
registry, GTID stamping and partial-JSON apply all included; the socket
layer adds transport, not a second decoder.

Scale shape: one dump connection serves one server's serialized binlog —
inherently sequential — so the unit of parallelism is the SERVER:
``read_binlog_changes`` runs one replica session per endpoint through the
shared endpoint pull runner (``session._pull_endpoints``, one Arrow task per
endpoint) and emits the at-rest scan's change schema.

Tested end-to-end in tests/test_mysql_binlog_client.py against a loopback
fake server speaking these exact bytes (handshake/auth vectors, register +
dump, event packetization of writer-generated binlogs, resume positions).
"""

from __future__ import annotations

import hashlib
import socket
import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _pull_endpoints
from ape_dts_spark.sources.binlog_file import BINLOG_MAGIC, CHANGE_SCHEMA, parse_binlog_bytes

CLIENT_LONG_PASSWORD = 0x1
CLIENT_PROTOCOL_41 = 0x200
CLIENT_SECURE_CONNECTION = 0x8000
CLIENT_PLUGIN_AUTH = 0x80000

COM_QUERY = 0x03
COM_BINLOG_DUMP = 0x12
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP_GTID = 0x1E

BINLOG_DUMP_NON_BLOCK = 0x01
BINLOG_THROUGH_GTID = 0x04

NATIVE_PLUGIN = b"mysql_native_password"


# -- GTID sets (the reference's gtid_enabled start path: StartPosition::Gtid
# in mysql_cdc_extractor.rs:142-143; text + wire forms per the public MySQL
# replication docs) --------------------------------------------------------


def _norm_uuid(uuid: str) -> str:
    """Lowercase dashed canonical form (accepts dashed or bare hex)."""
    raw = uuid.strip().lower().replace("-", "")
    if len(raw) != 32 or any(c not in "0123456789abcdef" for c in raw):
        raise ValueError(f"malformed server uuid {uuid!r}")
    return f"{raw[:8]}-{raw[8:12]}-{raw[12:16]}-{raw[16:20]}-{raw[20:]}"


def parse_gtid_set(text: str) -> dict[str, list[tuple[int, int]]]:
    """MySQL GTID-set text (``uuid:1-5:8,uuid2:3``) -> {uuid: [(start,
    end_inclusive)]}, uuids normalized to lowercase dashed hex. An empty
    string is the empty set (resume from the very beginning)."""
    out: dict[str, list[tuple[int, int]]] = {}
    for part in filter(None, (p.strip() for p in text.split(","))):
        uuid, *intervals = part.split(":")
        if not intervals:
            raise ValueError(f"malformed GTID set element {part!r}")
        uuid = _norm_uuid(uuid)
        ivs = out.setdefault(uuid, [])
        for iv in intervals:
            lo, _, hi = iv.partition("-")
            start, end = int(lo), int(hi) if hi else int(lo)
            if end < start or start < 1:
                raise ValueError(f"bad GTID interval {iv!r}")
            ivs.append((start, end))
        ivs.sort()
    return out


def encode_gtid_set(gs: dict[str, list[tuple[int, int]]]) -> bytes:
    """Wire form (COM_BINLOG_DUMP_GTID payload): u64 n_sids, then per sid
    16 raw uuid bytes + u64 n_intervals + per interval u64 start and u64
    end EXCLUSIVE (the wire's half-open convention)."""
    out = struct.pack("<Q", len(gs))
    for uuid, ivs in gs.items():
        out += bytes.fromhex(uuid.replace("-", ""))
        out += struct.pack("<Q", len(ivs))
        for start, end in ivs:
            out += struct.pack("<QQ", start, end + 1)
    return out


def decode_gtid_set(data: bytes) -> dict[str, list[tuple[int, int]]]:
    """Wire form -> the parse_gtid_set dict (end back to inclusive)."""
    (n_sids,) = struct.unpack_from("<Q", data, 0)
    i, out = 8, {}
    for _ in range(n_sids):
        raw = data[i : i + 16].hex()
        uuid = f"{raw[:8]}-{raw[8:12]}-{raw[12:16]}-{raw[16:20]}-{raw[20:]}"
        (n_ivs,) = struct.unpack_from("<Q", data, i + 16)
        i += 24
        ivs = []
        for _ in range(n_ivs):
            start, end = struct.unpack_from("<QQ", data, i)
            ivs.append((start, end - 1))
            i += 16
        out[uuid] = ivs
    return out


def gtid_set_contains(gs: dict, uuid: str, gno: int) -> bool:
    return any(lo <= gno <= hi for lo, hi in gs.get(_norm_uuid(uuid), ()))


def native_password_proof(password: str, scramble: bytes) -> bytes:
    """mysql_native_password: SHA1(pwd) XOR SHA1(scramble + SHA1(SHA1(pwd)));
    empty for an empty password (the protocol's documented scheme)."""
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(scramble + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


class MysqlSocket:
    """u24-length + u8-seq packet framing both ways."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self._buf = b""
        self.seq = 0

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            try:
                chunk = self.sock.recv(65536)
            except socket.timeout:
                raise  # bounded-pull currency, handled by callers
            except OSError as e:  # reset/refused -> the ValueError contract
                raise ValueError(f"connection lost mid-packet: {e}") from e
            if not chunk:
                raise ValueError("connection closed mid-packet")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_packet(self) -> bytes:
        # A u24 length of exactly 0xffffff signals a split payload: the
        # logical packet continues in the next frame(s) until one arrives
        # with length < 0xffffff (possibly zero-length). Reassemble here so
        # >=16MB binlog events (large JSON/BLOB rows) survive the wire.
        out = b""
        while True:
            head = self._read_exact(4)
            ln = head[0] | (head[1] << 8) | (head[2] << 16)
            self.seq = (head[3] + 1) & 0xFF
            out += self._read_exact(ln)
            if ln < 0xFFFFFF:
                return out

    def send_packet(self, payload: bytes, seq: int | None = None) -> None:
        if seq is None:
            seq = self.seq
        # Split >=16MB payloads into 0xffffff-length continuation frames,
        # ending with a final frame of length < 0xffffff (possibly empty) —
        # the mirror of read_packet's reassembly.
        off = 0
        while True:
            chunk = payload[off : off + 0xFFFFFF]
            try:
                self.sock.sendall(
                    struct.pack("<I", len(chunk))[:3] + bytes([seq & 0xFF]) + chunk
                )
            except OSError as e:  # reset/refused -> the ValueError contract
                raise ValueError(f"connection lost mid-send: {e}") from e
            seq = (seq + 1) & 0xFF
            off += len(chunk)
            if len(chunk) < 0xFFFFFF:
                break
        self.seq = seq & 0xFF

    def reset_seq(self) -> None:
        self.seq = 0


def _err_text(payload: bytes) -> str:
    if len(payload) < 3:  # damaged ERR frame: still the ValueError path
        return f"ERR (malformed packet {payload!r})"
    code = struct.unpack("<H", payload[1:3])[0]
    msg = payload[3:]
    if msg[:1] == b"#":  # sql-state marker
        msg = msg[6:]
    return f"ERR {code}: {msg.decode(errors='replace')}"


class MysqlBinlogClient:
    """One server's replica session. Usage::

        c = MysqlBinlogClient(host, port, user, password, server_id=2001)
        c.connect()
        c.register_slave()
        c.binlog_dump("binlog.000001", pos=4)
        rows = c.stream_changes(tables, max_events=100)
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str = "repl",
        password: str = "",
        server_id: int = 2001,
        timeout: float = 10.0,
    ):
        self.host, self.port = host, int(port)
        self.user, self.password = user, password
        self.server_id = server_id
        self.timeout = timeout
        self.server_version = ""
        self.conn: MysqlSocket | None = None

    # -- session ----------------------------------------------------------
    def connect(self) -> None:
        sock = socket.create_connection((self.host, self.port), self.timeout)
        sock.settimeout(self.timeout)
        self.conn = MysqlSocket(sock)
        greeting = self.conn.read_packet()
        if greeting[:1] == b"\xff":
            raise ValueError(f"server refused connection: {_err_text(greeting)}")
        if greeting[0] != 0x0A:
            raise ValueError(f"unsupported handshake protocol {greeting[0]}")
        i = greeting.index(0, 1)
        self.server_version = greeting[1:i].decode()
        i += 1 + 4  # thread id
        part1 = greeting[i : i + 8]
        i += 8 + 1  # filler
        i += 2 + 1 + 2 + 2  # cap_low, charset, status, cap_high
        i += 1 + 10  # auth data length, reserved
        # part 2 is 12 scramble bytes plus a NUL terminator; a scramble byte
        # may itself be 0x00, so cut by length, never by stripping NULs
        scramble = part1 + greeting[i : i + 12]
        caps = (
            CLIENT_LONG_PASSWORD | CLIENT_PROTOCOL_41
            | CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH
        )
        proof = native_password_proof(self.password, scramble)
        resp = struct.pack("<IIB", caps, 1 << 24, 33) + b"\x00" * 23
        resp += self.user.encode() + b"\x00"
        resp += bytes([len(proof)]) + proof
        resp += NATIVE_PLUGIN + b"\x00"
        self.conn.send_packet(resp)
        ok = self.conn.read_packet()
        if ok[:1] == b"\xff":
            raise ValueError(f"authentication failed: {_err_text(ok)}")
        if ok[:1] != b"\x00":
            raise ValueError(f"unexpected auth reply {ok[:1]!r}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.sock.close()
            self.conn = None

    def _command(self, payload: bytes) -> bytes:
        assert self.conn is not None, "connect first"
        self.conn.reset_seq()
        self.conn.send_packet(payload)
        reply = self.conn.read_packet()
        if reply[:1] == b"\xff":
            raise ValueError(_err_text(reply))
        return reply

    def query_ok(self, sql: str) -> None:
        """COM_QUERY for statements answered by a bare OK (the SET commands
        a replica issues before dumping)."""
        reply = self._command(bytes([COM_QUERY]) + sql.encode())
        if reply[:1] != b"\x00":
            raise ValueError(f"expected OK for {sql!r}, got {reply[:1]!r}")

    def register_slave(self, report_port: int = 3306) -> None:
        body = struct.pack("<I", self.server_id)
        body += b"\x00" * 3  # empty hostname/user/password (len-prefixed)
        body += struct.pack("<HII", report_port, 0, 0)
        reply = self._command(bytes([COM_REGISTER_SLAVE]) + body)
        if reply[:1] != b"\x00":
            raise ValueError(f"REGISTER_SLAVE not acknowledged: {reply[:1]!r}")

    # -- dump ---------------------------------------------------------------
    def binlog_dump(self, file_name: str, pos: int = 4, non_block: bool = True) -> None:
        body = struct.pack(
            "<IHI", pos, BINLOG_DUMP_NON_BLOCK if non_block else 0, self.server_id
        )
        body += file_name.encode()
        assert self.conn is not None, "connect first"
        self.conn.reset_seq()
        self.conn.send_packet(bytes([COM_BINLOG_DUMP]) + body)

    def binlog_dump_gtid(
        self,
        gtid_set: str,
        file_name: str = "",
        pos: int = 4,
        non_block: bool = True,
    ) -> None:
        """COM_BINLOG_DUMP_GTID — the gtid_enabled dump the reference starts
        when resuming from a GTID set (mysql_cdc_extractor.rs:58-59,142):
        flags BINLOG_THROUGH_GTID (+NON_BLOCK), server_id, length-prefixed
        file name + u64 position (empty/4 = let the set decide), then the
        encoded set of transactions the server must SKIP (already applied)."""
        gs = parse_gtid_set(gtid_set)
        flags = BINLOG_THROUGH_GTID | (BINLOG_DUMP_NON_BLOCK if non_block else 0)
        fname = file_name.encode()
        body = struct.pack("<HI", flags, self.server_id)
        body += struct.pack("<I", len(fname)) + fname
        body += struct.pack("<Q", pos)
        data = encode_gtid_set(gs)
        body += struct.pack("<I", len(data)) + data
        assert self.conn is not None, "connect first"
        self.conn.reset_seq()
        self.conn.send_packet(bytes([COM_BINLOG_DUMP_GTID]) + body)

    def events(self, max_events: int | None = None) -> Iterator[bytes]:
        """Raw event byte strings from the dump stream: each packet is
        0x00 + event; EOF (0xfe, short) ends a non-blocking dump; a socket
        timeout ends a bounded pull."""
        assert self.conn is not None, "binlog_dump first"
        seen = 0
        while max_events is None or seen < max_events:
            try:
                pkt = self.conn.read_packet()
            except socket.timeout:
                break
            if not pkt:
                continue
            if pkt[:1] == b"\xff":
                raise ValueError(f"dump stream error: {_err_text(pkt)}")
            if pkt[:1] == b"\xfe" and len(pkt) < 9:
                break  # EOF: the non-blocking dump drained the file
            if pkt[:1] != b"\x00":
                raise ValueError(f"unexpected dump packet marker {pkt[:1]!r}")
            yield pkt[1:]
            seen += 1

    def stream_changes(
        self,
        tables: dict,
        file_name: str = "",
        max_events: int | None = None,
        start_pos: int = 0,
    ) -> list[dict]:
        """Collect a bounded dump and decode it with the shared at-rest
        parser: events reassemble into a virtual binlog file (magic +
        events), so CRC verification, TABLE_MAP state, GTID stamping and
        resume filtering are exactly the gated parser's."""
        data = BINLOG_MAGIC + b"".join(self.events(max_events))
        return parse_binlog_bytes(data, tables, file_name, start_pos)


def read_binlog_changes(
    spark: SparkSession,
    endpoints: list[tuple],
    tables: dict,
    user: str = "repl",
    password: str = "",
    server_id: int = 2001,
    max_events: int | None = None,
    timeout: float = 10.0,
    gtid_mode: bool = False,
) -> DataFrame:
    """Distributed bounded pull over live servers: one Arrow task per
    (host, port, binlog_file) runs the replica session and emits the change
    rows ``stream_changes`` decodes, in the at-rest scan's
    ``binlog_file.CHANGE_SCHEMA`` (map images, ``xid``) — so live rows go
    through ``fluid_to_typed`` like the at-rest ones; ``seq`` is the
    event's ordinal within its dump session.

    ``gtid_mode``: endpoints are (host, port, binlog_file, gtid_set) and
    the dump is COM_BINLOG_DUMP_GTID — the server skips transactions whose
    GTIDs the set already covers (the reference's gtid_enabled resume)."""

    def pull(host, port, fname, gset):
        client = MysqlBinlogClient(
            host, port, user=user, password=password, server_id=server_id,
            timeout=timeout,
        )
        try:
            client.connect()
            client.query_ok("SET @master_binlog_checksum = @@global.binlog_checksum")
            client.register_slave()
            if gset is None:
                client.binlog_dump(fname)
            else:
                client.binlog_dump_gtid(gset, fname)
            return client.stream_changes(tables, file_name=fname, max_events=max_events)
        finally:
            client.close()

    rows = (
        [tuple(e) for e in endpoints]
        if gtid_mode
        else [tuple(e[:3]) + (None,) for e in endpoints]
    )
    return _pull_endpoints(
        spark, rows, "host string, port int, binlog_file string, gtid_set string",
        pull, CHANGE_SCHEMA,
    )
