"""Live MongoDB wire client over loopback sockets: OP_MSG framing +
checksums, hello gate, SCRAM-SHA-256 both directions, find/getMore cursor
paging ordered by _id, the $expr mixed-type resume filter, count-based
sampling limits, the tailable oplog pull feeding the gated at-rest parser,
and the distributed collection-per-task / endpoint-per-task wrappers —
the socket half of mongo_snapshot_extractor.rs / mongo_cdc_extractor.rs
proven against a fake mongod speaking the same bytes."""

import socket

import pytest

from ape_dts_spark.sources import bson_codec as bc
from ape_dts_spark.sources import oplog_file as ofl
from ape_dts_spark.sources.fake_servers import FakeMongod, bson_sort_key
from ape_dts_spark.sources.mongo_client import (
    MongoWireClient,
    build_resume_filter,
    decode_op_msg,
    encode_op_msg,
    estimated_sample_limit,
    read_live_oplog_changes,
    read_mongo_collections,
)

DOCS = [
    {"_id": i, "name": f"doc{i}", "grp": i % 3, "tags": [i, i + 1]}
    for i in range(25)
]
COLLS = {("appdb", "items"): list(DOCS)}


def _client(srv, **kw):
    c = MongoWireClient("127.0.0.1", srv.port, timeout=kw.pop("timeout", 5), **kw)
    c.connect()
    return c


# ---------------------------------------------------------------------------
# framing
# ---------------------------------------------------------------------------


def test_op_msg_roundtrip_with_sequences_and_checksum():
    doc = {"find": "items", "$db": "appdb", "n": 3, "pi": 3.5}
    seqs = {"documents": [{"_id": 1}, {"_id": "two"}]}
    frame = encode_op_msg(doc, 7, 0, sequences=seqs, checksum=True)
    rid, rto, out = decode_op_msg(frame)
    assert (rid, rto) == (7, 0)
    assert out["find"] == "items" and out["pi"] == 3.5
    assert out["documents"] == [{"_id": 1}, {"_id": "two"}]


def test_corrupt_frames_raise_valueerror():
    frame = encode_op_msg({"ok": 1}, 1, 0, checksum=True)
    flipped = frame[:-2] + bytes([frame[-2] ^ 0xFF]) + frame[-1:]
    with pytest.raises(ValueError, match="checksum"):
        decode_op_msg(flipped)
    with pytest.raises(ValueError, match="opCode"):
        decode_op_msg(frame[:12] + b"\x01\x00\x00\x00" + frame[16:])
    with pytest.raises(ValueError, match="length"):
        decode_op_msg(frame + b"junk")
    with pytest.raises(ValueError):
        decode_op_msg(frame[:20])


# ---------------------------------------------------------------------------
# handshake + auth
# ---------------------------------------------------------------------------


def test_hello_and_unauthenticated_find():
    srv = FakeMongod(COLLS)
    srv.start()
    try:
        c = _client(srv)
        assert c.hello["setName"] == "rs0"
        docs = list(c.find_docs("appdb", "items", sort={"_id": 1}, batch_size=10))
        assert [d["_id"] for d in docs] == list(range(25))
        assert docs[3]["tags"] == [3, 4]
        c.close()
    finally:
        srv.stop()


def test_scram_sha256_success_and_wrong_password():
    srv = FakeMongod(COLLS, users={"app": "s3cret"})
    srv.start()
    try:
        c = _client(srv, username="app", password="s3cret")
        assert len(list(c.find_docs("appdb", "items"))) == 25
        c.close()
        with pytest.raises(ValueError, match="authentication|SCRAM"):
            _client(srv, username="app", password="wrong")
        with pytest.raises(ValueError, match="authentication"):
            _client(srv, username="ghost", password="s3cret")
    finally:
        srv.stop()


def test_unauthenticated_command_rejected_when_auth_required():
    srv = FakeMongod(COLLS, users={"app": "pw"})
    srv.start()
    try:
        c = _client(srv)  # no credentials: hello works, find must not
        with pytest.raises(ValueError, match="requires authentication"):
            list(c.find_docs("appdb", "items"))
        c.close()
    finally:
        srv.stop()


def test_checksummed_replies_verify():
    srv = FakeMongod(COLLS, checksum_replies=True)
    srv.start()
    try:
        c = _client(srv)
        assert len(list(c.find_docs("appdb", "items", batch_size=9))) == 25
        c.close()
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# snapshot semantics (mongo_snapshot_extractor.rs parity)
# ---------------------------------------------------------------------------


def test_getmore_pagination_and_batch_size():
    srv = FakeMongod(COLLS)
    srv.start()
    try:
        c = _client(srv)
        docs = list(c.snapshot_collection("appdb", "items", batch_size=4))
        assert [d["_id"] for d in docs] == list(range(25))
        # 25 docs / batch 4 -> 1 find + 6 getMore
        assert srv.commands_seen.count("getMore") >= 6
        c.close()
    finally:
        srv.stop()


def test_resume_filter_mixed_id_types():
    """$expr $gt resumes across a mixed int/string _id space: ints sort
    before strings (BSON type order), so resuming from the last int key
    must return every string-keyed doc plus later ints."""
    mixed = [{"_id": i, "v": i} for i in range(6)] + [
        {"_id": f"s{i}", "v": 100 + i} for i in range(3)
    ]
    srv = FakeMongod({("appdb", "mixed"): mixed})
    srv.start()
    try:
        c = _client(srv)
        full = [d["_id"] for d in c.snapshot_collection("appdb", "mixed")]
        assert full == [0, 1, 2, 3, 4, 5, "s0", "s1", "s2"]
        resumed = [
            d["_id"]
            for d in c.snapshot_collection("appdb", "mixed", resume_key=3)
        ]
        assert resumed == [4, 5, "s0", "s1", "s2"]
        from_str = [
            d["_id"]
            for d in c.snapshot_collection("appdb", "mixed", resume_key="s0")
        ]
        assert from_str == ["s1", "s2"]
        assert build_resume_filter(3) == {"$expr": {"$gt": ["$_id", 3]}}
        c.close()
    finally:
        srv.stop()


def test_sample_rate_limit():
    assert estimated_sample_limit(20, 25) == 5
    assert estimated_sample_limit(1, 1) == 1
    assert estimated_sample_limit(None, 100) is None
    assert estimated_sample_limit(100, 50) is None  # rate must be 1..99
    assert estimated_sample_limit(20, 0) is None
    srv = FakeMongod(COLLS)
    srv.start()
    try:
        c = _client(srv)
        docs = list(c.snapshot_collection("appdb", "items", sample_rate=20))
        # ceil(25*20/100)=5 first docs in _id order
        assert [d["_id"] for d in docs] == [0, 1, 2, 3, 4]
        assert "count" in srv.commands_seen
        c.close()
    finally:
        srv.stop()


def test_command_error_raises():
    srv = FakeMongod(COLLS)
    srv.start()
    try:
        c = _client(srv)
        with pytest.raises(ValueError, match="no such command"):
            c.run_command("admin", {"shutdown": 1})
        c.close()
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# oplog tail (mongo_cdc_extractor.rs parity)
# ---------------------------------------------------------------------------

T = bc.Timestamp
OPLOG = [
    ofl.entry_insert("db.users", {"_id": 1, "name": "alice"}, T(100, 1)),
    ofl.entry_insert("db.users", {"_id": 2, "name": "bob"}, T(100, 2)),
    ofl.entry_update_v2("db.users", 1, {"u": {"name": "al2"}}, T(101, 1)),
    ofl.entry_noop(T(101, 2)),
    ofl.entry_delete("db.users", 2, T(102, 1)),
    ofl.entry_delete_many("db.users", [3, 4], T(103, 1)),
]


def test_oplog_tail_matches_at_rest_parse():
    blob = b"".join(bc.encode_document(e) for e in OPLOG)
    want = ofl.parse_oplog_bytes(blob, "f")
    srv = FakeMongod({("local", "oplog.rs"): list(OPLOG)})
    srv.start()
    try:
        c = _client(srv)
        rows = c.oplog_changes(file_name="f")
        assert rows == want
        assert [r["row_type"] for r in rows] == [
            "insert", "insert", "update", "delete", "delete", "delete"]
    finally:
        srv.stop()


def test_oplog_resume_skips_checkpoint_inclusive():
    """Wire filter is $gte (reference rs:342-345); the parser then drops the
    checkpoint entry itself — entries strictly after (101,1) remain."""
    srv = FakeMongod({("local", "oplog.rs"): list(OPLOG)})
    srv.start()
    try:
        c = _client(srv)
        rows = c.oplog_changes(start_time=101, start_inc=1, file_name="f")
        assert [(r["op_time"], r["op_inc"]) for r in rows] == [
            (102, 1), (103, 1), (103, 1)]
    finally:
        srv.stop()


def test_oplog_bounded_pull_max_entries_kills_cursor():
    srv = FakeMongod({("local", "oplog.rs"): list(OPLOG)}, hold_tail_open=True)
    srv.start()
    try:
        c = _client(srv)
        rows = c.oplog_changes(max_entries=3, file_name="f")
        # 3 raw entries = insert, insert, update
        assert [r["row_type"] for r in rows] == ["insert", "insert", "update"]
        assert srv.killed_cursors  # live cursor freed on early stop
    finally:
        srv.stop()


def test_oplog_quiet_tail_ends_on_timeout():
    srv = FakeMongod({("local", "oplog.rs"): list(OPLOG)}, hold_tail_open=True)
    srv.start()
    try:
        c = MongoWireClient("127.0.0.1", srv.port, timeout=2)
        c.connect()
        rows = c.oplog_changes(file_name="f")  # drains, then times out
        assert len(rows) == 6
        c.close()
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# robustness
# ---------------------------------------------------------------------------


def test_garbage_and_disconnect_confined_to_valueerror():
    # server that sends garbage bytes after accept
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    import threading

    def _garbage():
        s, _ = srv.accept()
        s.sendall(b"\x20\x00\x00\x00" + b"\xde\xad" * 14)
        s.close()

    threading.Thread(target=_garbage, daemon=True).start()
    c = MongoWireClient("127.0.0.1", port, timeout=3)
    with pytest.raises(ValueError):
        c.connect()
    srv.close()

    # mid-message disconnect
    srv2 = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv2.bind(("127.0.0.1", 0))
    srv2.listen(1)
    port2 = srv2.getsockname()[1]

    def _cut():
        s, _ = srv2.accept()
        s.sendall(b"\xff\x00\x00\x00")  # length then nothing
        s.close()

    threading.Thread(target=_cut, daemon=True).start()
    c2 = MongoWireClient("127.0.0.1", port2, timeout=3)
    with pytest.raises(ValueError, match="closed|lost"):
        c2.connect()
    srv2.close()


def test_bson_sort_key_type_order():
    vals = [bc.Timestamp(1, 1), "a", 3, None, True, bc.ObjectId(b"\x00" * 12),
            bc.DateTime(5), 2.5]
    ranked = sorted(vals, key=bson_sort_key)
    assert ranked[0] is None
    assert ranked[1:3] == [2.5, 3]
    assert ranked[3] == "a"
    assert isinstance(ranked[-1], bc.Timestamp)


# ---------------------------------------------------------------------------
# distributed wrappers
# ---------------------------------------------------------------------------


def test_distributed_snapshot_two_servers(spark):
    srv_a = FakeMongod({("appdb", "items"): DOCS[:12]})
    srv_b = FakeMongod({("appdb", "others"): DOCS[12:]})
    srv_a.start(), srv_b.start()
    try:
        df = read_mongo_collections(
            spark,
            [("127.0.0.1", srv_a.port, "appdb", "items"),
             ("127.0.0.1", srv_b.port, "appdb", "others")],
            batch_size=5, timeout=10,
        )
        rows = df.collect()
        assert df.rdd.getNumPartitions() == 2
        by_tb = {}
        for r in rows:
            by_tb.setdefault(r["tb"], []).append(r)
        assert [r["id"] for r in sorted(by_tb["items"], key=lambda r: r["seq"])] == [
            str(i) for i in range(12)]
        assert len(by_tb["others"]) == 13
        assert '"name": "doc3"' in next(
            r["doc"] for r in by_tb["items"] if r["id"] == "3")
    finally:
        srv_a.stop(), srv_b.stop()


def test_distributed_oplog_pull(spark):
    srv = FakeMongod({("local", "oplog.rs"): list(OPLOG)})
    srv.start()
    try:
        df = read_live_oplog_changes(spark, [("127.0.0.1", srv.port)], timeout=10)
        state = ofl.fold_oplog_state(df).collect()
        assert len(state) == 1
        assert state[0]["id"] == "1" and '"name": "al2"' in state[0]["doc"]
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# change streams (MongoCdcSource::ChangeStream)
# ---------------------------------------------------------------------------


def _cs_event(i, op, db="db", coll="users", **kw):
    ev = {"_id": {"_data": f"tok{i:04d}"}, "operationType": op,
          "clusterTime": T(200 + i, 1), "ns": {"db": db, "coll": coll}}
    ev.update(kw)
    return ev


CS_EVENTS = [
    _cs_event(0, "insert", fullDocument={"_id": 1, "name": "alice", "tags": [1, 2, 3]},
              documentKey={"_id": 1}),
    _cs_event(1, "insert", fullDocument={"_id": 2, "name": "bob"},
              documentKey={"_id": 2}),
    _cs_event(2, "update", documentKey={"_id": 1},
              updateDescription={"updatedFields": {"name": "al2"},
                                 "removedFields": []}),
    _cs_event(3, "update", documentKey={"_id": 1},
              fullDocument={"_id": 1, "name": "al2", "tags": [1, 2]},
              updateDescription={"updatedFields": {},
                                 "removedFields": [],
                                 "truncatedArrays": [{"field": "tags", "newSize": 2}]}),
    _cs_event(4, "replace", documentKey={"_id": 2},
              fullDocument={"_id": 2, "name": "bobby"}),
    _cs_event(5, "delete", documentKey={"_id": 2}),
    _cs_event(6, "drop"),
]


def test_change_stream_normalization_branches():
    from ape_dts_spark.sources.mongo_client import (
        build_change_stream_update_doc,
        change_stream_requires_full_document,
        normalize_change_stream_event,
    )

    rows = [normalize_change_stream_event(e, "f", i) for i, e in enumerate(CS_EVENTS)]
    assert [r["row_type"] for r in rows] == [
        "insert", "insert", "update", "update", "replace", "delete", "ddl"]
    assert rows[2]["diff"] == '{"$set": {"name": "al2"}}'
    # truncatedArrays repaired out of the full document
    assert '"tags": [1, 2]' in rows[3]["diff"]
    # removedFields -> $unset
    upd = build_change_stream_update_doc(
        {"updatedFields": {"a": 1}, "removedFields": ["b", "c"]})
    assert upd == {"$set": {"a": 1}, "$unset": {"b": 1, "c": 1}}
    # disambiguatedPaths: dotted literal field name forces the full image
    amb = {"updatedFields": {"a.b": 1},
           "disambiguatedPaths": {"a.b": ["a.b"]}}
    assert change_stream_requires_full_document(amb)
    ev = _cs_event(9, "update", documentKey={"_id": 3},
                   fullDocument={"_id": 3, "a.b": 1},
                   updateDescription=amb)
    row = normalize_change_stream_event(ev)
    assert row["row_type"] == "replace" and '"a.b": 1' in row["doc"]
    # ...and without the full document the event is skipped (rs log+continue)
    ev2 = _cs_event(9, "update", documentKey={"_id": 3}, updateDescription=amb)
    assert normalize_change_stream_event(ev2) is None
    # index-only disambiguated paths do NOT force the full image
    assert not change_stream_requires_full_document(
        {"disambiguatedPaths": {"a.0.b": ["a", 0, "b"]}})


def test_change_stream_tail_and_fold(spark):
    from ape_dts_spark.sources.mongo_client import read_change_stream_changes

    srv = FakeMongod({}, change_events=CS_EVENTS)
    srv.start()
    try:
        df = read_change_stream_changes(spark, [("127.0.0.1", srv.port)],
                                        timeout=10)
        state = ofl.fold_oplog_state(
            df.filter(df.row_type != "ddl")).collect()
        # user 1 survives with the truncated tags; user 2 deleted after replace
        assert len(state) == 1
        assert state[0]["id"] == "1"
        assert '"name": "al2"' in state[0]["doc"]
        assert '"tags": [1, 2]' in state[0]["doc"]
    finally:
        srv.stop()


def test_change_stream_resume_modes():
    from ape_dts_spark.sources.mongo_client import MongoWireClient

    srv = FakeMongod({}, change_events=CS_EVENTS)
    srv.start()
    try:
        c = MongoWireClient("127.0.0.1", srv.port, timeout=5)
        c.connect()
        # full pull returns a resume token for the LAST event
        rows, token = c.change_stream_events()
        assert len(rows) == 7 and token == '{"_data": "tok0006"}'
        # startAtOperationTime: inclusive clusterTime filter
        rows2, _ = c.change_stream_events(start_time=204, start_inc=0)
        assert [r["row_type"] for r in rows2] == ["replace", "delete", "ddl"]
        # startAfter a mid-stream token: strictly-after semantics
        rows3, _ = c.change_stream_events(resume_after={"_data": "tok0003"})
        assert [r["row_type"] for r in rows3] == ["replace", "delete", "ddl"]
        # unknown token is the server's error, surfaced as ValueError
        with pytest.raises(ValueError, match="resume token"):
            c.change_stream_events(resume_after={"_data": "nope"})
        c.close()
    finally:
        srv.stop()


def test_change_stream_bounded_tail(spark):
    srv = FakeMongod({}, change_events=CS_EVENTS, hold_tail_open=True)
    srv.start()
    try:
        c = MongoWireClient("127.0.0.1", srv.port, timeout=2)
        c.connect()
        rows, _ = c.change_stream_events(max_events=3)
        assert len(rows) == 3 and srv.killed_cursors
        c.close()
    finally:
        srv.stop()


def test_scram_sha256_rfc7677_vector():
    """The RFC 7677 §3 published exchange, byte for byte: user/pencil with
    the spec's fixed nonces, salt and iteration count must produce the
    spec's exact client proof and accept the spec's server signature."""
    from ape_dts_spark.sources.mongo_client import _scram_sha256_exchange

    first_bare, cont = _scram_sha256_exchange(
        "user", "pencil", cnonce="rOprNGfwEbeRWgbNEkqO")
    assert first_bare == "n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = ("r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
                    "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    client_final, verify = cont(server_first)
    assert client_final == (
        "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    verify("v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")  # no raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        verify("v=AAAATRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
