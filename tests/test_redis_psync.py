"""Live PSYNC replication client over loopback sockets: the full handshake,
both RDB framings, offset accounting, ACK keepalives, resume, auth — the
socket half of redis_psync_extractor.rs proven against a fake master that
speaks the real wire bytes, with payloads decoded by the same at-rest
parsers the rest of the repo gates."""

import pytest
from pyspark.sql import functions as F

from ape_dts_spark.sources import redis_rdb as rdb
from ape_dts_spark.sources.fake_servers import FakeMaster
from ape_dts_spark.sources.redis_psync import PsyncClient, read_psync_snapshots


def e(key, etype, member=None, value=None, ord_=0, db=0, exp=None):
    return {"db_id": db, "key": key, "entry_type": etype, "member": member,
            "value": value, "ord": ord_, "expire_ms": exp}


KEYSPACE = [
    e("s:1", "string", value="v1"),
    e("s:2", "string", value="42", exp=1_700_000_060_000),
    e("h:1", "hash", "f0", "a"), e("h:1", "hash", "f1", "b"),
    e("L:1", "list", value="x", ord_=0), e("L:1", "list", value="y", ord_=1),
    e("z:1", "zset", "m0", "1.5"),
    e("set:1", "set", "7"), e("set:1", "set", "9"),
]

STREAM = [
    ["SELECT", "0"],
    ["SET", "s:1", "v2"],
    ["SELECT", "3"],
    ["HSET", "h:other", "f", "w"],
    ["PING"],
    ["DEL", "s:2"],
]


def run_full_sync(**master_kw):
    master = FakeMaster(rdb_bytes=rdb.encode_rdb(KEYSPACE), commands=STREAM,
                        **master_kw)
    master.start()
    client = PsyncClient("127.0.0.1", master.port,
                         password=master_kw.get("password"))
    try:
        assert client.start_psync() is True
        assert client.repl_id == master.repl_id
        assert client.repl_offset == master.master_offset
        payload = client.receive_rdb()
        entries = rdb.parse_rdb_bytes(payload)
        tailed = list(client.tail(max_commands=4))  # 6 minus 2 SELECTs
    finally:
        client.close()
        master.stop()
    return master, client, entries, tailed


def test_full_sync_rdb_and_tail():
    master, client, entries, tailed = run_full_sync()
    got = sorted(
        (x["key"], x["entry_type"], x["member"], x["value"], x["expire_ms"])
        for x in entries
    )
    want = sorted(
        (x["key"], x["entry_type"], x["member"], x["value"], x["expire_ms"])
        for x in KEYSPACE
    )
    assert got == want
    # SELECTs consumed into db tracking; PING surfaces (heartbeat marker)
    assert [(db, argv[0]) for db, argv, _ in tailed] == [
        (0, "SET"), (3, "HSET"), (3, "PING"), (3, "DEL")]
    assert client.now_db_id == 3
    # offset advanced by the exact wire length of every value consumed
    wire = b""
    for cmd in STREAM:
        wire += ("*%d\r\n" % len(cmd)).encode() + b"".join(
            b"$%d\r\n%s\r\n" % (len(a), a.encode()) for a in cmd
        )
    assert tailed[-1][2] == master.master_offset + len(wire)


def test_final_ack_reaches_master():
    import time

    master, client, _entries, tailed = run_full_sync()
    deadline = time.time() + 5
    while not master.acks and time.time() < deadline:
        time.sleep(0.05)
    assert master.acks and master.acks[-1] == tailed[-1][2]


def test_diskless_eof_framing():
    _m, _c, entries, _t = run_full_sync(diskless=True)
    assert len(entries) == len(KEYSPACE)


def test_partial_resync_continue():
    master = FakeMaster(rdb_bytes=b"", commands=STREAM, repl_id="r" * 40)
    master.start()
    client = PsyncClient("127.0.0.1", master.port)
    try:
        full = client.start_psync(repl_id="r" * 40, repl_offset=500)
        assert full is False  # +CONTINUE: no RDB, straight to the tail
        assert client.repl_offset == 500
        tailed = list(client.tail(max_commands=4))
        assert [argv[0] for _, argv, _ in tailed] == ["SET", "HSET", "PING", "DEL"]
    finally:
        client.close()
        master.stop()


@pytest.mark.parametrize("past_end", [True, False])
def test_resume_offset_outside_stream_is_refused(past_end):
    """An offset-aware master answers -ERR to a resume offset before its
    history or past its stream end, instead of serving the wrong bytes."""
    master = FakeMaster(commands=STREAM, repl_id="r" * 40, offset_aware=True)
    master.start()
    stream_len = len(master.stream_bytes())
    offset = (master.master_offset + stream_len + 10 if past_end
              else master.master_offset - 1)
    client = PsyncClient("127.0.0.1", master.port, timeout=3)
    try:
        with pytest.raises(ValueError, match="cannot continue"):
            client.start_psync("r" * 40, offset)
    finally:
        client.close()
        master.stop()


def test_auth_required_and_rejected():
    master = FakeMaster(rdb_bytes=rdb.encode_rdb(KEYSPACE), password="sekrit")
    master.start()
    good = PsyncClient("127.0.0.1", master.port, password="sekrit")
    try:
        assert good.start_psync() is True
        assert len(rdb.parse_rdb_bytes(good.receive_rdb())) == len(KEYSPACE)
    finally:
        good.close()
    bad = PsyncClient("127.0.0.1", master.port, password="wrong")
    with pytest.raises(ValueError, match="AUTH failed"):
        bad.start_psync()
    bad.close()
    master.stop()


def test_distributed_snapshot_two_nodes(spark):
    """read_psync_snapshots: one Arrow task per master; the union of two
    live nodes' keyspaces lands as typed entry rows and compacts with the
    standard path."""
    shard_a = [r for r in KEYSPACE if r["key"] < "m"]
    shard_b = [r for r in KEYSPACE if r["key"] >= "m"]
    m_a = FakeMaster(rdb_bytes=rdb.encode_rdb(shard_a))
    m_b = FakeMaster(rdb_bytes=rdb.encode_rdb(shard_b), commands=STREAM)
    m_a.start(), m_b.start()
    try:
        df = read_psync_snapshots(
            spark,
            [("127.0.0.1", m_a.port), ("127.0.0.1", m_b.port)],
            tail_commands=2,
            timeout=3,  # node A streams no commands: bounded pull times out
        )
        rows = df.collect()
        snap = [r for r in rows if r["entry_type"] != "resp_command"]
        cmds = [r for r in rows if r["entry_type"] == "resp_command"]
        assert len(snap) == len(KEYSPACE)
        assert sorted(r["value"] for r in cmds) == [
            "HSET h:other f w", "SET s:1 v2"]
        # keys land intact for downstream slot partitioning / compaction
        assert {r["key"] for r in snap} == {x["key"] for x in KEYSPACE}
        n_parts = df.rdd.getNumPartitions()
        assert n_parts == 2  # one connection per task
    finally:
        m_a.stop(), m_b.stop()


def test_malformed_master_confined_to_valueerror():
    """A master that answers PSYNC with garbage framing must surface
    ValueError, never a hang or struct error."""
    import socket
    import threading

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def bad_master():
        s, _ = srv.accept()
        conn_buf, ok_sent = b"", False
        while b"PSYNC" not in conn_buf and b"psync" not in conn_buf:
            data = s.recv(4096)
            if not data:
                return
            conn_buf += data
            if b"replconf" in conn_buf.lower() and not ok_sent:
                s.sendall(b"+OK\r\n")
                ok_sent = True
        s.sendall(b"+FULLRESYNC deadbeef 1\r\n")
        s.sendall(b"#notdollar")  # corrupt RDB framing
        s.close()

    t = threading.Thread(target=bad_master, daemon=True)
    t.start()
    client = PsyncClient("127.0.0.1", port, timeout=5)
    client.start_psync()
    with pytest.raises(ValueError, match="invalid rdb framing"):
        client.receive_rdb()
    client.close()
    srv.close()


def test_tail_with_resume_recovers_mid_command_drop():
    """The master drops mid-command at an arbitrary byte cut; the client
    reconnects with PSYNC <id> <offset>, gets +CONTINUE, and the union of
    both sessions is EXACTLY the full command stream — offset accounting
    decides the resume point, so the cut command is neither lost nor
    doubled."""
    from ape_dts_spark.sources.redis_psync import tail_with_resume

    master = FakeMaster(
        rdb_bytes=rdb.encode_rdb([]), commands=STREAM, repl_id="r" * 40,
        drop_after_bytes=len(FakeMaster(commands=STREAM).stream_bytes()) // 2,
        offset_aware=True, keepalive_newlines=0,
    )
    master.start()
    try:
        tailed, payload, resumes = tail_with_resume(
            "127.0.0.1", master.port, timeout=2)
        assert resumes == 1
        assert rdb.parse_rdb_bytes(payload) == []
        assert [argv[0] for _, _, argv, _ in tailed] == [
            "SET", "HSET", "PING", "DEL"]
        # db tracking survives the resume (SELECT 3 was pre-drop or post-drop
        # depending on the cut; final db must be 3 either way)
        assert tailed[-1][1] == 3
        # final offset = master_offset + full stream length
        assert tailed[-1][3] == master.master_offset + len(master.stream_bytes())
    finally:
        master.stop()


@pytest.mark.parametrize("cut_frac", [0.15, 0.35, 0.8, 0.95])
def test_tail_with_resume_any_cut_point(cut_frac):
    from ape_dts_spark.sources.redis_psync import tail_with_resume

    stream_len = len(FakeMaster(commands=STREAM).stream_bytes())
    master = FakeMaster(
        rdb_bytes=rdb.encode_rdb([]), commands=STREAM, repl_id="r" * 40,
        drop_after_bytes=int(stream_len * cut_frac), offset_aware=True,
        keepalive_newlines=0,
    )
    master.start()
    try:
        tailed, _, resumes = tail_with_resume("127.0.0.1", master.port, timeout=2)
        assert resumes == 1
        assert [argv[0] for _, _, argv, _ in tailed] == [
            "SET", "HSET", "PING", "DEL"]
    finally:
        master.stop()


def test_tail_with_resume_gives_up_without_progress():
    """A master that drops every resume session at the same offset trips the
    no-progress guard instead of looping forever."""
    from ape_dts_spark.sources.redis_psync import tail_with_resume

    master = FakeMaster(
        rdb_bytes=rdb.encode_rdb([]), commands=STREAM, repl_id="r" * 40,
        drop_after_bytes=0, offset_aware=True, drop_resumes=True,
        keepalive_newlines=0,
    )
    master.start()
    try:
        with pytest.raises(ValueError, match="drops repeatedly|giving up"):
            tail_with_resume("127.0.0.1", master.port, timeout=2, max_resumes=4)
    finally:
        master.stop()
