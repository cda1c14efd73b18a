"""Live Redis PSYNC replication client — the SOCKET half of the reference's
``redis_psync_extractor.rs`` (+ ``redis_client.rs`` framing), previously the
out-of-scope remainder next to the fully-decoded at-rest RDB/RESP surface.

Protocol (public Redis replication spec, mirrored from
redis_psync_extractor.rs:133-177 start_psync / :179-280 receive_rdb /
:282-... receive_aof):

1. optional ``AUTH`` (redis_client.rs), then ``REPLCONF listening-port <p>``
   -> ``+OK``;
2. ``PSYNC ? -1`` (full) or ``PSYNC <repl_id> <offset>`` (resume) ->
   ``+FULLRESYNC <id> <offset>`` or ``+CONTINUE``;
3. full sync: keepalive ``\\n`` bytes, then ``$<len>\\r\\n`` + len RDB bytes
   (plus the diskless ``$EOF:<40-byte delim>`` framing real masters use with
   ``repl-diskless-sync`` — beyond the reference, which only handles the
   length form);
4. command tail: RESP values, ``repl_offset`` advanced by the BYTE length of
   every value consumed (redis_psync_extractor.rs:321-327), periodic
   ``REPLCONF ACK <offset>`` keepalives (:keep_alive_ack), ``SELECT``
   tracked into ``now_db_id``.

The decoded payloads ride the existing at-rest models: ``receive_rdb``
output feeds ``redis_rdb.parse_rdb_bytes`` and the tail feeds the
``sources/redis.py`` command->entry->compaction path, so the socket layer
adds transport, not a second decoder.

Scale shape: one PSYNC connection serves ONE node's keyspace (an inherently
sequential byte stream, like an RDB file) — the unit of parallelism is the
NODE: ``read_psync_snapshots`` runs one session per master through the shared
endpoint pull runner (``session._pull_endpoints``, one Arrow task each),
mirroring the cluster extractor's one-extractor-per-node layout
(redis_cluster_psync_extractor.rs).

Tested end-to-end in tests/test_redis_psync.py against a loopback fake
master that speaks these exact bytes (handshake, RDB framing in both forms,
command stream, ACK bookkeeping).
"""

from __future__ import annotations

import socket
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _pull_endpoints
from ape_dts_spark.sources.aof_manifest import encode_resp
from ape_dts_spark.sources.redis_rdb import ENTRY_SCHEMA


class RespSocket:
    """Buffered RESP framing over a socket: command encode (array of bulk
    strings, cmd_encoder.rs:25-54) + incremental value decode with exact
    consumed-byte accounting (redis_resp_reader.rs / read_with_len)."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        # pointer-based buffer: consuming a value advances ``_pos`` instead of
        # re-slicing the buffer per read — a replication tail parses ~200k
        # values per session and per-value buffer copies dominated the pull
        self._buf = b""
        self._pos = 0

    # -- low-level reads ----------------------------------------------------
    def _recv(self, where: str) -> bytes:
        try:
            chunk = self.sock.recv(65536)
        except socket.timeout:
            raise  # bounded-pull currency, handled by callers
        except OSError as e:  # reset/refused -> the ValueError contract
            raise ValueError(f"connection lost {where}: {e}") from e
        if not chunk:
            raise ValueError(f"connection closed {where}")
        return chunk

    def _fill(self, where: str) -> None:
        if self._pos:
            self._buf = self._buf[self._pos :]
            self._pos = 0
        self._buf += self._recv(where)

    def read_exact(self, n: int) -> bytes:
        while len(self._buf) - self._pos < n:
            self._fill("mid-frame")
        p = self._pos
        self._pos = p + n
        return self._buf[p : p + n]

    def read_line(self) -> bytes:
        """Bytes up to and including CRLF (returned without it)."""
        idx = self._buf.find(b"\r\n", self._pos)
        while idx < 0:
            self._fill("mid-line")
            idx = self._buf.find(b"\r\n", self._pos)
        line = self._buf[self._pos : idx]
        self._pos = idx + 2
        return line

    # -- send ---------------------------------------------------------------
    def send_cmd(self, *args: str | bytes) -> None:
        self.send_raw(encode_resp(list(args)))

    def send_raw(self, data: bytes) -> None:
        try:
            self.sock.sendall(data)
        except OSError as e:  # reset/refused -> the ValueError contract
            raise ValueError(f"connection lost mid-send: {e}") from e

    # -- RESP value decode --------------------------------------------------
    def read_value(self) -> tuple[str, object, int]:
        """One RESP value -> (kind, value, consumed_bytes). kind in
        status/error/int/bulk/array/nil. consumed_bytes is the wire length
        of the whole value — the replication offset currency. Stray bare
        ``\\n`` keepalive bytes before a value are consumed and COUNTED
        (masters that emit them include them in the offset stream)."""
        line = self.read_line()
        n = len(line) + 2
        # tolerate bare-'\n' keepalives glued before the value: strip
        # leading newline bytes, keeping them in the consumed-byte count
        while line[:1] == b"\n":
            line = line[1:]
        t, body = line[:1], line[1:]
        if t == b"+":
            return "status", body.decode(), n
        if t == b"-":
            return "error", body.decode(), n
        if t == b":":
            return "int", int(body), n
        if t == b"$":
            ln = int(body)
            if ln == -1:
                return "nil", None, n
            payload = self.read_exact(ln + 2)[:-2]
            return "bulk", payload, n + ln + 2
        if t == b"*":
            argc = int(body)
            if argc == -1:
                return "nil", None, n
            items = []
            read_line, read_exact = self.read_line, self.read_exact
            for _ in range(argc):
                # fast path: arrays of bulk strings are the whole replication
                # command stream — parse inline instead of recursing
                el = read_line()
                if el[:1] == b"$":
                    ln = int(el[1:])
                    n += len(el) + 2
                    if ln == -1:
                        items.append(None)
                        continue
                    items.append(read_exact(ln + 2)[:-2])
                    n += ln + 2
                else:
                    _, v, c = self._value_from_line(el)
                    items.append(v)
                    n += c
            return "array", items, n
        raise ValueError(f"unknown RESP type byte {t!r}")

    def _value_from_line(self, line: bytes) -> tuple[str, object, int]:
        """General-case parse of a value whose first line is already read
        (the array fast path falls back here for non-bulk elements)."""
        n = len(line) + 2
        while line[:1] == b"\n":
            line = line[1:]
        t, body = line[:1], line[1:]
        if t == b"+":
            return "status", body.decode(), n
        if t == b"-":
            return "error", body.decode(), n
        if t == b":":
            return "int", int(body), n
        if t == b"$":
            ln = int(body)
            if ln == -1:
                return "nil", None, n
            payload = self.read_exact(ln + 2)[:-2]
            return "bulk", payload, n + ln + 2
        if t == b"*":
            argc = int(body)
            if argc == -1:
                return "nil", None, n
            items = []
            for _ in range(argc):
                _, v, c = self._value_from_line(self.read_line())
                items.append(v)
                n += c
            return "array", items, n
        raise ValueError(f"unknown RESP type byte {t!r}")


class PsyncClient:
    """One node's replication client. Usage::

        c = PsyncClient(host, port, password=...)
        full = c.start_psync()           # handshake; True = RDB follows
        entries = c.receive_rdb()        # raw RDB dump bytes
        for argv, offset in c.tail(max_commands=100): ...
    """

    def __init__(
        self,
        host: str,
        port: int,
        password: str | None = None,
        listening_port: int = 12345,
        timeout: float = 10.0,
        ack_every: int = 100,
    ):
        self.host, self.port = host, int(port)
        self.password = password
        self.listening_port = listening_port
        self.timeout = timeout
        self.ack_every = ack_every
        self.repl_id = ""
        self.repl_offset = 0
        self.now_db_id = 0
        self.conn: RespSocket | None = None

    # -- lifecycle ------------------------------------------------------
    def connect(self) -> None:
        sock = socket.create_connection((self.host, self.port), self.timeout)
        sock.settimeout(self.timeout)
        self.conn = RespSocket(sock)
        if self.password is not None:
            self.conn.send_cmd("AUTH", self.password)
            kind, v, _ = self.conn.read_value()
            if kind != "status" or v != "OK":
                raise ValueError(f"AUTH failed: {v}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.sock.close()
            self.conn = None

    # -- handshake (start_psync, redis_psync_extractor.rs:133-177) -------
    def start_psync(self, repl_id: str = "", repl_offset: int = 0) -> bool:
        if self.conn is None:
            self.connect()
        assert self.conn is not None
        self.conn.send_cmd("replconf", "listening-port", str(self.listening_port))
        kind, v, _ = self.conn.read_value()
        if (kind, v) != ("status", "OK"):
            raise ValueError(f"replconf listening-port response is not Ok: {v}")

        full_sync = not repl_id and repl_offset == 0
        args = ("?", "-1") if full_sync else (repl_id, str(repl_offset))
        self.conn.send_cmd("PSYNC", *args)
        kind, v, _ = self.conn.read_value()
        if kind != "status":
            raise ValueError(f"PSYNC response is not status: {v}")
        assert isinstance(v, str)
        if full_sync:
            tokens = v.split()
            if tokens[0] != "FULLRESYNC" or len(tokens) != 3:
                raise ValueError(f"unexpected PSYNC response: {v}")
            self.repl_id = tokens[1]
            self.repl_offset = int(tokens[2])
        elif v != "CONTINUE":
            raise ValueError(f"PSYNC response is NOT CONTINUE: {v}")
        else:
            self.repl_id, self.repl_offset = repl_id, repl_offset
        return full_sync

    # -- RDB payload (receive_rdb, :179-280) ------------------------------
    def receive_rdb(self) -> bytes:
        assert self.conn is not None, "start_psync first"
        conn = self.conn
        while True:  # masters send '\n' keepalives while forking
            b = conn.read_exact(1)
            if b == b"\n":
                continue
            if b != b"$":
                raise ValueError(f"invalid rdb framing, expected '$', got {b!r}")
            break
        header = bytearray()
        while True:
            c = conn.read_exact(1)
            if c == b"\n":
                break
            if c != b"\r":
                header += c
        if header.startswith(b"EOF:"):
            # diskless framing: stream until the 40-byte delimiter repeats
            delim = bytes(header[4:])
            if len(delim) != 40:
                raise ValueError(f"bad EOF delimiter length {len(delim)}")
            payload = bytearray()
            while not payload.endswith(delim):
                payload += conn.read_exact(1)
            return bytes(payload[: -len(delim)])
        return conn.read_exact(int(header))

    # -- command tail (receive_aof, :282-) --------------------------------
    def ack(self) -> None:
        assert self.conn is not None
        self.conn.send_cmd("REPLCONF", "ACK", str(self.repl_offset))

    def tail(
        self, max_commands: int | None = None
    ) -> Iterator[tuple[int, list[str], int]]:
        """Yield ``(db_id, argv, repl_offset)`` per replicated command.
        ``SELECT`` updates the tracked db and is consumed (the reference's
        now_db_id handling); every value's wire length advances the offset;
        a ``REPLCONF ACK <offset>`` keepalive goes out every ``ack_every``
        commands and once at the end."""
        assert self.conn is not None, "start_psync first"
        seen = 0
        while max_commands is None or seen < max_commands:
            try:
                kind, v, n = self.conn.read_value()
            except socket.timeout:
                break  # bounded pull: nothing more buffered within timeout
            self.repl_offset += n
            if kind != "array" or not v:
                continue  # masters may interleave newline keepalives/PINGs
            assert isinstance(v, list)
            argv = [
                x.decode("utf-8", errors="replace") if isinstance(x, bytes) else str(x)
                for x in v
            ]
            name = argv[0].lower()
            if name == "select":
                self.now_db_id = int(argv[1])
                continue
            seen += 1
            yield self.now_db_id, argv, self.repl_offset
            if seen % self.ack_every == 0:
                self.ack()
        self.ack()


def tail_with_resume(
    host: str,
    port: int,
    password: str | None = None,
    timeout: float = 10.0,
    max_commands: int | None = None,
    max_resumes: int = 4,
) -> tuple[list[tuple[int, int, list[str], int]], bytes, int]:
    """Full sync + command tail with automatic PARTIAL-RESYNC recovery: a
    master dropping the connection mid-tail (the failure PSYNC exists for)
    triggers a reconnect with ``PSYNC <repl_id> <offset>`` that must answer
    ``+CONTINUE``, and the tail resumes from the exact byte offset — the
    client's per-value offset accounting decides where, so an off-by-one
    replays or loses a command (redis_psync_extractor.rs:133-177 resume
    branch). A drop with NO progress since the last one raises (a master
    that keeps dropping at the same offset is down, not flaky). Returns
    ``([(seq, db_id, argv, offset)], rdb_bytes, resumes_used)`` — the tail
    ends on a quiet-socket timeout, the bounded-pull contract."""
    client = PsyncClient(host, port, password=password, timeout=timeout)
    if not client.start_psync():
        raise ValueError("expected FULLRESYNC on first contact")
    rdb = client.receive_rdb()
    out: list[tuple[int, int, list[str], int]] = []
    resumes = 0
    last_fail_offset = -1
    while True:
        try:
            for db_id, argv, off in client.tail(
                max_commands=None if max_commands is None
                else max_commands - len(out)
            ):
                out.append((len(out), db_id, argv, off))
            break  # clean end: quiet socket or max_commands reached
        except (ValueError, OSError) as e:
            if resumes >= max_resumes:
                raise ValueError(
                    f"tail dropped {resumes + 1} times, giving up: {e}"
                ) from e
            if client.repl_offset == last_fail_offset:
                raise ValueError(
                    f"master drops repeatedly at offset {last_fail_offset}: {e}"
                ) from e
            last_fail_offset = client.repl_offset
            prev = client
            prev.close()
            client = PsyncClient(host, port, password=password, timeout=timeout)
            if client.start_psync(prev.repl_id, prev.repl_offset):
                raise ValueError("master answered FULLRESYNC to a resume PSYNC")
            client.now_db_id = prev.now_db_id  # SELECT state survives resume
            resumes += 1
    client.close()
    return out, rdb, resumes


def read_psync_tails(
    spark: SparkSession,
    nodes: list[tuple[str, int]],
    password: str | None = None,
    timeout: float = 10.0,
    max_commands: int | None = None,
    max_resumes: int = 4,
) -> DataFrame:
    """Distributed live command tail over live masters: one Arrow task per
    node runs full sync (RDB payload received and discarded — snapshot rows
    are read_psync_snapshots' job) then the replicated-command tail with
    +CONTINUE partial-resync recovery, and emits
    ``(host, port, seq, db_id, cmd, offset, resumes)`` rows — ``cmd`` the
    argv array the command->entry model consumes, ``seq`` the per-node
    arrival ordinal (replication apply order), ``offset`` the replication
    offset AFTER the command (checkpoint currency)."""

    def pull(host, port):
        tailed, _rdb, resumes = tail_with_resume(
            host, port, password=password, timeout=timeout,
            max_commands=max_commands, max_resumes=max_resumes,
        )
        return [(host, port, seq, db_id, argv, off, resumes)
                for seq, db_id, argv, off in tailed]

    return _pull_endpoints(
        spark, nodes, "host string, port int", pull,
        "host string, port int, seq long, db_id long, cmd array<string>, "
        "offset long, resumes int",
    )


def read_psync_snapshots(
    spark: SparkSession,
    nodes: list[tuple[str, int]],
    password: str | None = None,
    tail_commands: int = 0,
    timeout: float = 10.0,
) -> DataFrame:
    """Distributed full-sync snapshot over live masters: one Arrow task per
    node runs the PSYNC handshake, receives the RDB payload, decodes it with
    the shared at-rest parser, optionally tails ``tail_commands`` replicated
    commands (surfaced as ``resp_command`` rows the command->entry model
    consumes), and emits typed entry rows. The node relation is repartitioned
    so each connection lives in its own task — the cluster extractor's
    one-extractor-per-node layout at DataFrame altitude."""
    from ape_dts_spark.sources.redis_rdb import parse_rdb_bytes

    def pull(host, port):
        client = PsyncClient(host, port, password=password, timeout=timeout)
        try:
            if not client.start_psync():
                raise ValueError("resume requested on a snapshot pull")
            rows = parse_rdb_bytes(client.receive_rdb())
            for db_id, argv, _off in client.tail(max_commands=tail_commands):
                rows.append(
                    {
                        "db_id": db_id,
                        "key": argv[1] if len(argv) > 1 else "",
                        "entry_type": "resp_command",
                        "member": argv[0],
                        "value": " ".join(argv),
                        "ord": 0,
                        "expire_ms": None,
                    }
                )
            return rows
        finally:
            client.close()

    return _pull_endpoints(spark, nodes, "host string, port int", pull, ENTRY_SCHEMA)
