"""Live PG logical-replication client over loopback sockets: startup + auth
variants, walsender commands, CopyBoth streaming with keepalive acks and
standby status updates — the socket half of pg_cdc_extractor.rs proven
against a fake walsender speaking the real wire bytes, with XLogData
payloads decoded by the same at-rest parser the pgoutput gate proves."""

import pytest

from ape_dts_spark.sources import pgoutput_file as pg
from ape_dts_spark.sources.fake_servers import FakeWalsender, segment_to_frames
from ape_dts_spark.sources.pg_replication import (
    PgReplicationClient,
    read_replication_changes,
)

USERS = pg.PgTable(
    "public", "users",
    (("id", 20, True), ("name", 25, False), ("bal", 701, False)),
    rel_id=77, replident="d",
)
TABLES = {("public", "users"): USERS}
ROW1 = {"id": 1, "name": "ann", "bal": 10.5}
TXNS = [
    [(("public", "users"), "insert", None, ROW1),
     (("public", "users"), "insert", None, {"id": 2, "name": None, "bal": -3.25})],
    [(("public", "users"), "update", ROW1, dict(ROW1, name="bob"))],
    [(("public", "users"), "delete", {"id": 2, "name": None, "bal": -3.25}, None)],
]


def _key(r):
    return (r["lsn"], r["xid"], r["schema"], r["tb"], r["row_type"],
            r["before"], r["after"])


def test_stream_matches_at_rest_parse():
    """Rows streamed over the live protocol == the at-rest parse of the
    identical bytes; relations sent once per connection scope every txn."""
    segment, _ = pg.encode_segment(TXNS, TABLES)
    want = [_key(r) for r in pg.parse_pgoutput_bytes(segment)]
    master = FakeWalsender(frames=segment_to_frames(segment))
    master.start()
    client = PgReplicationClient("127.0.0.1", master.port, timeout=3)
    try:
        client.connect()
        assert client.parameters.get("server_version") == "16.3"
        ident = client.identify_system()
        assert ident["dbname"] == "postgres" and ident["timeline"] == "1"
        client.start_replication(start_lsn=0)
        got = [_key(r) for r in client.stream(max_changes=100)]
    finally:
        client.close()
        master.stop()
    assert got == want and len(got) > 3
    # the keepalive requested a reply AND the bounded pull flushed at end
    assert client.status_updates_sent >= 2


def test_status_updates_reach_server():
    import time

    segment, end_lsn = pg.encode_segment(TXNS, TABLES)
    master = FakeWalsender(frames=segment_to_frames(segment))
    master.start()
    client = PgReplicationClient("127.0.0.1", master.port, timeout=3)
    try:
        client.connect()
        client.start_replication(start_lsn=0)
        list(client.stream(max_changes=100))
        final = client.flushed_lsn
        deadline = time.time() + 5
        while len(master.status_updates) < 2 and time.time() < deadline:
            time.sleep(0.05)
        # ack for the reply-requested keepalive + the final flush; the last
        # update carries the last XLogData's wal_end
        assert master.status_updates
        assert master.status_updates[-1][:3] == (final, final, final)
        assert final > 0
    finally:
        client.close()
        master.stop()


def test_cleartext_auth_and_rejection():
    segment, _ = pg.encode_segment(TXNS, TABLES)
    master = FakeWalsender(frames=segment_to_frames(segment), password="pw")
    master.start()
    good = PgReplicationClient("127.0.0.1", master.port, password="pw", timeout=3)
    try:
        good.connect()
        assert good.parameters  # handshake completed
    finally:
        good.close()
    bad = PgReplicationClient("127.0.0.1", master.port, password="nope", timeout=3)
    with pytest.raises(ValueError, match="password authentication failed"):
        bad.connect()
    bad.close()
    none = PgReplicationClient("127.0.0.1", master.port, timeout=3)
    with pytest.raises(ValueError, match="requires a password"):
        none.connect()
    none.close()
    master.stop()


def test_create_slot_and_unknown_slot_error():
    master = FakeWalsender(frames=[], known_slots={"good_slot"})
    master.start()
    client = PgReplicationClient(
        "127.0.0.1", master.port, slot="bad_slot", timeout=3
    )
    try:
        client.connect()
        made = client.create_replication_slot()
        assert made["slot_name"] == "bad_slot"
        assert made["output_plugin"] == "pgoutput"
        with pytest.raises(ValueError, match="does not exist"):
            client.start_replication()
    finally:
        client.close()
        master.stop()


def test_distributed_two_slot_pull(spark):
    """read_replication_changes: one walsender session per Arrow task; both
    databases' changes land as canonical rows tagged by their slot."""
    seg_a, _ = pg.encode_segment(TXNS[:1], TABLES)
    seg_b, _ = pg.encode_segment(TXNS[1:], TABLES, start_xid=2000)
    m_a = FakeWalsender(frames=segment_to_frames(seg_a))
    m_b = FakeWalsender(frames=segment_to_frames(seg_b))
    m_a.start(), m_b.start()
    try:
        df = read_replication_changes(
            spark,
            [("127.0.0.1", m_a.port, "slot_a"), ("127.0.0.1", m_b.port, "slot_b")],
            max_changes=50,
            timeout=3,
        )
        rows = df.collect()
        by_slot = {}
        for r in rows:
            by_slot.setdefault(r["file"].rsplit("/", 1)[1], []).append(r)
        # seg_a: 2 inserts + commit; seg_b: update + commit, delete + commit
        assert [r["row_type"] for r in by_slot["slot_a"]] == [
            "insert", "insert", "commit"]
        assert sorted(r["row_type"] for r in by_slot["slot_b"]) == [
            "commit", "commit", "delete", "update"]
        upd = next(r for r in by_slot["slot_b"] if r["row_type"] == "update")
        assert upd["after"]["name"] == "bob" and upd["xid"] == 2000
        assert df.rdd.getNumPartitions() == 2
    finally:
        m_a.stop(), m_b.stop()
