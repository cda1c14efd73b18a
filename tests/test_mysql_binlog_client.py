"""Live MySQL binlog client over loopback sockets: v10 handshake +
mysql_native_password, COM_QUERY/REGISTER_SLAVE/BINLOG_DUMP, the event
packet stream — the socket half of the reference's binlog connection proven
against a fake server packetizing binlogs written by the repo's own at-rest
writer, with events decoded by the same gated parser."""

import pytest

from ape_dts_spark.sources import binlog_file as bf
from ape_dts_spark.sources.fake_servers import FakeMysqlServer
from ape_dts_spark.sources.mysql_binlog_client import (
    MysqlBinlogClient,
    native_password_proof,
    read_binlog_changes,
)

USERS = bf.BinlogTable(
    "db", "users",
    (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("name", bf.MYSQL_TYPE_VARCHAR, 255)),
    101,
)
TABLES = {("db", "users"): USERS}
ROW1 = {"id": 1, "name": "alice"}
ROW2 = {"id": 2, "name": "bob"}
TXNS = [
    [(("db", "users"), "insert", None, ROW1),
     (("db", "users"), "insert", None, ROW2)],
    [(("db", "users"), "update", ROW1, dict(ROW1, name="al2"))],
    [(("db", "users"), "delete", ROW2, None)],
]
FILE = "binlog.000001"


def _key(r):
    return (r["pos"], r["gtid"], r["schema"], r["tb"], r["row_type"],
            r["before"], r["after"])


def test_native_password_vector():
    """Algorithm identity: proof XOR SHA1(scramble + SHA1(SHA1(pwd))) ==
    SHA1(pwd) — and the empty-password shortcut."""
    import hashlib

    scr = bytes(range(20))
    proof = native_password_proof("s3cret", scr)
    h1 = hashlib.sha1(b"s3cret").digest()
    mask = hashlib.sha1(scr + hashlib.sha1(h1).digest()).digest()
    assert bytes(a ^ b for a, b in zip(proof, mask)) == h1
    assert native_password_proof("", scr) == b""


def test_dump_matches_at_rest_parse():
    blob = bf.encode_binlog_file(TXNS, TABLES, FILE)
    want = [_key(r) for r in bf.parse_binlog_bytes(blob, TABLES, FILE)]
    srv = FakeMysqlServer({FILE: blob}, password="pw")
    srv.start()
    client = MysqlBinlogClient("127.0.0.1", srv.port, password="pw",
                               server_id=4242, timeout=5)
    try:
        client.connect()
        assert client.server_version.startswith("8.0")
        client.query_ok("SET @master_binlog_checksum = @@global.binlog_checksum")
        client.register_slave()
        client.binlog_dump(FILE)
        got = [_key(r) for r in client.stream_changes(TABLES, FILE)]
    finally:
        client.close()
        srv.stop()
    assert got == want and len(got) > 4
    assert srv.registered_server_ids == [4242]
    assert srv.dump_requests == [(FILE, 4, 4242)]
    assert "binlog_checksum" in srv.queries[0]


def test_resume_position_skips_replayed_events():
    """Dumping from a later position: the server re-sends the FDE then
    events from pos; start_pos makes the parser treat earlier events as
    context only — matching the at-rest resume contract."""
    blob = bf.encode_binlog_file(TXNS, TABLES, FILE)
    full = bf.parse_binlog_bytes(blob, TABLES, FILE)
    # resume from the position right after txn 1's commit
    commit1 = next(r for r in full if r["row_type"] == "commit")
    resume_pos = commit1["pos"]
    srv = FakeMysqlServer({FILE: blob})
    srv.start()
    client = MysqlBinlogClient("127.0.0.1", srv.port, timeout=5)
    try:
        client.connect()
        client.register_slave()
        client.binlog_dump(FILE, pos=resume_pos)
        got = client.stream_changes(TABLES, FILE, start_pos=resume_pos)
    finally:
        client.close()
        srv.stop()
    want = [r for r in full if r["pos"] > resume_pos]
    assert [_key(r) for r in got] == [_key(r) for r in want]
    assert all(r["row_type"] != "insert" for r in got)  # txn1 not replayed


def test_auth_rejected_and_unknown_file():
    blob = bf.encode_binlog_file(TXNS, TABLES, FILE)
    srv = FakeMysqlServer({FILE: blob}, password="right")
    srv.start()
    bad = MysqlBinlogClient("127.0.0.1", srv.port, password="wrong", timeout=5)
    with pytest.raises(ValueError, match="authentication failed"):
        bad.connect()
    bad.close()
    client = MysqlBinlogClient("127.0.0.1", srv.port, password="right", timeout=5)
    try:
        client.connect()
        client.binlog_dump("binlog.000099")
        with pytest.raises(ValueError, match="Could not find first log"):
            list(client.events())
    finally:
        client.close()
        srv.stop()


def test_scramble_ending_in_nul_authenticates(monkeypatch):
    """The 20-byte scramble is random, so its tail can be 0x00 (about one
    handshake in 256). The client must hash all 20 bytes, not the scramble
    with its trailing NULs stripped as if they were the terminator."""
    from ape_dts_spark.sources import fake_servers

    token_bytes = fake_servers.secrets.token_bytes
    scramble = bytes(range(1, 19)) + b"\x00\x00"
    monkeypatch.setattr(fake_servers.secrets, "token_bytes",
                        lambda n: scramble if n == 20 else token_bytes(n))
    srv = FakeMysqlServer({}, password="pw")
    srv.start()
    client = MysqlBinlogClient("127.0.0.1", srv.port, password="pw", timeout=5)
    try:
        client.connect()
        client.query_ok("SELECT 1")
    finally:
        client.close()
        srv.stop()


@pytest.mark.parametrize("gtid", [False, True])
@pytest.mark.parametrize("blob", [
    b"not a binlog at all",
    bf.BINLOG_MAGIC + bytes(19),  # an event header claiming size 0
], ids=["bad_magic", "zero_size_event"])
def test_non_binlog_file_answers_err_1236(blob, gtid):
    """A served file the server cannot split into events gets ERR 1236 on
    both dump commands, well inside the client's timeout — never a dead
    session the client has to wait out."""
    import time

    srv = FakeMysqlServer({FILE: blob})
    srv.start()
    client = MysqlBinlogClient("127.0.0.1", srv.port, timeout=5)
    try:
        client.connect()
        t0 = time.monotonic()
        if gtid:
            client.binlog_dump_gtid("", FILE)
        else:
            client.binlog_dump(FILE)
        with pytest.raises(ValueError, match="1236"):
            list(client.events())
        assert time.monotonic() - t0 < 2
    finally:
        client.close()
        srv.stop()


def test_distributed_two_server_pull(spark):
    """read_binlog_changes: one replica session per Arrow task; both
    servers' changes land tagged by their file."""
    blob_a = bf.encode_binlog_file(TXNS[:1], TABLES, "a.000001")
    blob_b = bf.encode_binlog_file(TXNS[1:], TABLES, "b.000001", start_gno=50)
    s_a = FakeMysqlServer({"a.000001": blob_a})
    s_b = FakeMysqlServer({"b.000001": blob_b})
    s_a.start(), s_b.start()
    try:
        df = read_binlog_changes(
            spark,
            [("127.0.0.1", s_a.port, "a.000001"), ("127.0.0.1", s_b.port, "b.000001")],
            TABLES,
            timeout=5,
        )
        rows = df.collect()
        by_file = {}
        for r in rows:
            by_file.setdefault(r["file"], []).append(r)
        assert sorted(r["row_type"] for r in by_file["a.000001"]) == [
            "commit", "insert", "insert"]
        assert sorted(r["row_type"] for r in by_file["b.000001"]) == [
            "commit", "commit", "delete", "update"]
        upd = next(r for r in by_file["b.000001"] if r["row_type"] == "update")
        assert upd["after"]["name"] == "al2" and ":50" in upd["gtid"]
        assert df.rdd.getNumPartitions() == 2
    finally:
        s_a.stop(), s_b.stop()


def test_live_rows_apply_through_fluid_to_typed(spark, tmp_path):
    """read_binlog_changes emits the at-rest scan's CHANGE_SCHEMA (map
    images, xid), so a live pull goes through fluid_to_typed and
    CdcPipeline.apply_batch exactly like read_binlog_files output."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.streaming.cdc import CdcPipeline, fluid_to_typed

    payload = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    srv = FakeMysqlServer({FILE: bf.encode_binlog_file(TXNS, TABLES, FILE)})
    srv.start()
    try:
        changes = read_binlog_changes(spark, [("127.0.0.1", srv.port, FILE)], TABLES, timeout=5)
        batch = fluid_to_typed(
            changes.filter(F.col("row_type").isin("insert", "update", "delete")).select(
                "schema", "tb", "row_type", "before", "after", "seq",
                F.col("ts").cast("timestamp").alias("ts"),
            ),
            payload,
        )
        table = ParquetTable(spark, str(tmp_path / "tgt"), payload)
        CdcPipeline(spark, table, ["id"], stream_id="live").apply_batch(batch, 0)
    finally:
        srv.stop()
    assert [(r["id"], r["name"]) for r in table.current().collect()] == [(1, "al2")]
    assert changes.schema.simpleString() == T.DataType.fromDDL(bf.CHANGE_SCHEMA).simpleString()


@pytest.mark.parametrize("size", [0xFFFFFF - 1, 0xFFFFFF, 0xFFFFFF + 5])
def test_packet_continuation_roundtrip(size):
    """>=16MB payloads split into 0xffffff continuation frames (terminated
    by a frame of length < 0xffffff, possibly empty) and reassemble on
    read — the protocol's large-packet rule the loopback fixtures never
    exercised before."""
    import socket
    import threading

    from ape_dts_spark.sources.mysql_binlog_client import MysqlSocket

    a, b = socket.socketpair()
    payload = (bytes(range(256)) * (size // 256 + 1))[:size]
    assert len(payload) == size
    tx, rx = MysqlSocket(a), MysqlSocket(b)
    t = threading.Thread(target=tx.send_packet, args=(payload, 0), daemon=True)
    t.start()
    got = rx.read_packet()
    t.join(10)
    assert got == payload
    # frame count: one 0xffffff frame per full chunk + the short terminator
    n_frames = size // 0xFFFFFF + 1
    assert tx.seq == n_frames & 0xFF
    assert rx.seq == n_frames & 0xFF
    a.close(), b.close()


def test_resp_value_tolerates_newline_keepalive():
    """A bare '\\n' keepalive glued before a RESP value is consumed and
    counted into the offset instead of raising (redis_psync read_value)."""
    import socket

    from ape_dts_spark.sources.redis_psync import RespSocket

    a, b = socket.socketpair()
    a.sendall(b"\n+OK\r\n:7\r\n")
    r = RespSocket(b)
    kind, v, n = r.read_value()
    assert (kind, v, n) == ("status", "OK", 6)  # '\n' counted
    kind, v, n = r.read_value()
    assert (kind, v, n) == ("int", 7, 4)
    a.close(), b.close()


def test_gtid_set_text_wire_roundtrip():
    from ape_dts_spark.sources.mysql_binlog_client import (
        decode_gtid_set,
        encode_gtid_set,
        gtid_set_contains,
        parse_gtid_set,
    )

    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    gs = parse_gtid_set(f"{uuid}:1-5:8,{'ab' * 16}:3")
    assert gs[uuid] == [(1, 5), (8, 8)]
    assert decode_gtid_set(encode_gtid_set(gs)) == gs
    assert gtid_set_contains(gs, uuid.upper(), 5)
    assert not gtid_set_contains(gs, uuid, 6)
    assert gtid_set_contains(gs, "ab" * 16, 3)  # undashed lookup normalizes
    with pytest.raises(ValueError, match="malformed|bad"):
        parse_gtid_set("nonsense:1")
    with pytest.raises(ValueError, match="bad GTID interval"):
        parse_gtid_set(f"{uuid}:5-2")
    assert parse_gtid_set("") == {}


def test_gtid_dump_skips_covered_transactions():
    """COM_BINLOG_DUMP_GTID resume: the server withholds transactions whose
    GTIDs the supplied set covers — resuming past txn 1 must yield exactly
    txns 2 and 3, and the complementary set yields exactly txn 1."""
    from ape_dts_spark.sources.mysql_binlog_client import parse_gtid_set

    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    blob = bf.encode_binlog_file(TXNS, TABLES, FILE)
    want_all = [_key(r) for r in bf.parse_binlog_bytes(blob, TABLES, FILE)]
    srv = FakeMysqlServer({FILE: blob})
    srv.start()
    client = MysqlBinlogClient("127.0.0.1", srv.port, timeout=5)
    try:
        client.connect()
        client.register_slave()
        client.binlog_dump_gtid(f"{uuid}:1", FILE)
        got_23 = [_key(r) for r in client.stream_changes(TABLES, FILE)]
        client.binlog_dump_gtid(f"{uuid}:2-3", FILE)
        got_1 = [_key(r) for r in client.stream_changes(TABLES, FILE)]
        # txn rows: gtid strings end with :gno
        assert all(r[1].endswith((":2", ":3")) for r in got_23 if r[1])
        assert all(r[1].endswith(":1") for r in got_1 if r[1])
        # the two complementary pulls reassemble the full stream exactly
        assert sorted(got_23 + got_1) == sorted(want_all)
        (fname, gs, _sid, flags) = srv.gtid_dump_requests[0]
        assert fname == FILE and gs == parse_gtid_set(f"{uuid}:1")
        assert flags & 0x04  # BINLOG_THROUGH_GTID
    finally:
        client.close()
        srv.stop()


def test_gtid_distributed_complementary_pull(spark):
    """read_binlog_changes(gtid_mode=True): two endpoints with complementary
    GTID sets over the same file reconstruct the full change set."""
    from ape_dts_spark.sources.mysql_binlog_client import read_binlog_changes

    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    blob = bf.encode_binlog_file(TXNS, TABLES, FILE)
    srv = FakeMysqlServer({FILE: blob})
    srv.start()
    try:
        df = read_binlog_changes(
            spark,
            [("127.0.0.1", srv.port, FILE, f"{uuid}:2-3"),
             ("127.0.0.1", srv.port, FILE, f"{uuid}:1")],
            TABLES, timeout=5, gtid_mode=True,
        )
        rows = df.collect()
        full = read_binlog_changes(
            spark, [("127.0.0.1", srv.port, FILE)], TABLES, timeout=5
        ).collect()
        key = lambda r: (r["pos"], r["gtid"], r["row_type"],  # noqa: E731
                         sorted((r["before"] or {}).items()),
                         sorted((r["after"] or {}).items()))
        assert sorted(map(key, rows)) == sorted(map(key, full))
    finally:
        srv.stop()


def test_gtid_set_codec_property():
    """Property: any well-formed set survives text-parse -> wire-encode ->
    wire-decode unchanged, and containment agrees with the raw intervals."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ape_dts_spark.sources.mysql_binlog_client import (
        decode_gtid_set,
        encode_gtid_set,
        gtid_set_contains,
        parse_gtid_set,
    )

    uuids = st.lists(
        st.binary(min_size=16, max_size=16).map(lambda b: b.hex()),
        min_size=1, max_size=4, unique=True)
    intervals = st.lists(
        st.tuples(st.integers(1, 10_000), st.integers(0, 50)).map(
            lambda t: (t[0], t[0] + t[1])),
        min_size=1, max_size=5)

    @settings(max_examples=60, deadline=None)
    @given(uuids, st.data())
    def run(us, data):
        parts = []
        want = {}
        for u in us:
            ivs = sorted(data.draw(intervals))
            dashed = f"{u[:8]}-{u[8:12]}-{u[12:16]}-{u[16:20]}-{u[20:]}"
            want[dashed] = ivs
            parts.append(u + ":" + ":".join(
                f"{a}-{b}" if b > a else str(a) for a, b in ivs))
        gs = parse_gtid_set(",".join(parts))
        assert gs == want
        assert decode_gtid_set(encode_gtid_set(gs)) == gs
        for dashed, ivs in want.items():
            for a, b in ivs:
                assert gtid_set_contains(gs, dashed, a)
                assert gtid_set_contains(gs, dashed, b)
                covered = any(lo <= b + 1 <= hi for lo, hi in ivs)
                assert gtid_set_contains(gs, dashed, b + 1) == covered

    run()
