"""Adversarial robustness matrix for the at-rest source decoders: every
truncation point and flipped byte of a well-formed artifact must either
parse (flips can land in payload bytes) or raise ValueError /
NotImplementedError — never struct.error / IndexError / a hang. This is
the same contract tests/test_media_robustness.py pins for the media codec
family (r13), applied to the RDB/AOF/RESP/Kafka source family (r14; the
RDB matrix itself lives in test_redis.py next to its fixtures)."""

import pytest

ALLOWED = (ValueError, NotImplementedError)


def _fuzz(parse, blob: bytes, flip_stride: int = 1):
    for n in range(len(blob)):
        try:
            parse(blob[:n])
        except ALLOWED:
            pass
    for i in range(0, len(blob), flip_stride):
        for x in (0x01, 0xFF):
            mutated = bytearray(blob)
            mutated[i] ^= x
            try:
                parse(bytes(mutated))
            except ALLOWED:
                pass


@pytest.mark.parametrize("codec", ["none", "gzip", "snappy", "lz4", "zstd"])
def test_kafka_segment_fuzz(codec):
    from ape_dts_spark.sources import kafka_segment as ks

    msgs = [
        (f"k{k}".encode(), f"v{k}!".encode() * 3, {"h": b"x", "n": None})
        for k in range(8)
    ]
    blob = ks.encode_batch(msgs, 0, 1_700_000_000_000, compression=codec)
    blob += ks.encode_batch(msgs[:3], 8, 1_700_000_000_100, compression=codec)
    _fuzz(lambda b: ks.parse_segment_bytes(b, "t", 0), blob)
    # seek-path variant shares the decode but skips below the checkpoint
    _fuzz(lambda b: ks.parse_segment_bytes(b, "t", 0, start_offset=5), blob)


def test_kafka_segment_crc_and_length_guards():
    import struct

    from ape_dts_spark.sources import kafka_segment as ks

    blob = ks.encode_batch([(b"k", b"v", {})], 0, 1_700_000_000_000)
    # corrupt the batch length to a non-advancing value: must error, not hang
    bad = bytearray(blob)
    struct.pack_into(">i", bad, 8, -12)
    with pytest.raises(ValueError, match="batch length"):
        ks.parse_segment_bytes(bytes(bad))
    # flip one payload byte: CRC32C catches it
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        ks.parse_segment_bytes(bytes(bad))
    # verify_crc=False still confines the damage to ValueError
    try:
        ks.parse_segment_bytes(bytes(bad), verify_crc=False)
    except ALLOWED:
        pass


def test_resp_stream_fuzz():
    from ape_dts_spark.sources.aof_manifest import encode_resp
    from ape_dts_spark.sources.redis import parse_resp_bytes

    blob = b"".join(
        encode_resp([c, f"key:{i}", "v" * (i % 5 + 1)])
        for i, c in enumerate(["SET", "HSET", "RPUSH", "DEL"] * 4)
    ) + b"PING\r\nSET inline value\r\n"
    _fuzz(parse_resp_bytes, blob)


def test_resp_negative_bulk_lengths():
    from ape_dts_spark.sources.redis import parse_resp_bytes

    # $-1 null bulk is legal and must not hang or crash
    assert parse_resp_bytes(b"*2\r\n$3\r\nGET\r\n$-1\r\n") == [["GET", ""]]
    with pytest.raises(ValueError, match="bulk length"):
        parse_resp_bytes(b"*1\r\n$-7\r\nxxxxxxx\r\n")


def test_aof_manifest_fuzz():
    from ape_dts_spark.sources.aof_manifest import parse_manifest

    text = (
        "file base.rdb seq 1 type b\n"
        "file incr_1.aof seq 1 type i\n"
        "file incr_2.aof seq 2 type i\n"
    )
    blob = text.encode()
    ok = parse_manifest(text)
    assert [t for _, _, t in ok] == ["b", "i", "i"]
    _fuzz(lambda b: parse_manifest(b.decode("utf-8", errors="replace")), blob)


def test_binlog_fuzz():
    """Binlog v4 files: truncation + flips confined to ValueError (CRC32
    catches most flips; header/length corruption must not escape as
    struct.error or hang)."""
    from ape_dts_spark.sources import binlog_file as bf

    t = bf.BinlogTable(
        "db", "t",
        (("id", bf.MYSQL_TYPE_LONG, 0), ("v", bf.MYSQL_TYPE_VARCHAR, 255),
         ("d", bf.MYSQL_TYPE_JSON, 4)),
        table_id=55,
    )
    tables = {("db", "t"): t}
    txns = [[
        (("db", "t"), "insert", None, {"id": 1, "v": "a", "d": '{"x":1}'}),
        (("db", "t"), "partial_update", {"id": 1, "v": "a", "d": '{"x":1}'},
         {"id": 1, "v": "b", "d": bf.JsonDiffs([(bf.DIFF_REPLACE, "$.x", 2)])}),
        (("db", "t"), "delete", {"id": 1, "v": "b", "d": '{"x":2}'}, None),
    ]]
    for wrap in (False, "zstd"):
        blob = bf.encode_binlog_file(txns, tables, "bin.000001", payload_wrap=wrap)
        _fuzz(lambda b: bf.parse_binlog_bytes(b, tables), blob, flip_stride=2)


def test_pgoutput_fuzz():
    from ape_dts_spark.sources import pgoutput_file as pg

    t = pg.PgTable("public", "t", (("id", 23, True), ("v", 25, False)), 16384)
    blob, _ = pg.encode_segment(
        [[
            (("public", "t"), "insert", None, {"id": "1", "v": "a"}),
            (("public", "t"), "update", {"id": "1", "v": "a"}, {"id": "1", "v": "b"}),
            (("public", "t"), "delete", {"id": "1", "v": "b"}, None),
        ]],
        {("public", "t"): t},
    )
    _fuzz(pg.parse_pgoutput_bytes, blob, flip_stride=2)


def test_oplog_fuzz():
    from ape_dts_spark.sources import bson_codec as bc
    from ape_dts_spark.sources import oplog_file as of

    entries = [
        {"ts": bc.Timestamp(1700000000, 1), "op": "i", "ns": "db.c",
         "o": {"_id": 1, "v": "a"}},
        {"ts": bc.Timestamp(1700000000, 2), "op": "u", "ns": "db.c",
         "o": {"$v": 2, "diff": {"u": {"v": "b"}}}, "o2": {"_id": 1}},
        {"ts": bc.Timestamp(1700000000, 3), "op": "d", "ns": "db.c",
         "o": {"_id": 1}},
    ]
    blob = b"".join(bc.encode_document(e) for e in entries)
    _fuzz(of.parse_oplog_bytes, blob, flip_stride=2)


def test_dump_payload_fuzz():
    """RESTORE/DUMP payloads (r15): truncations shift the CRC footer and
    byte flips break it or land inside the checked region — every mutation
    is confined to ValueError by the CRC/version/decoder guards."""
    from ape_dts_spark.sources import redis_rdb as rdb

    rows = [
        {"db_id": 0, "key": "h", "entry_type": "hash", "member": f"f{i}",
         "value": f"v{i}", "ord": i, "expire_ms": None}
        for i in range(4)
    ]
    _fuzz(lambda b: rdb.parse_dump_payload("h", b), rdb.dump_value(rows))


def test_orc_manifest_robustness(tmp_path):
    """orc_sequencer meta-dir damage matrix: corrupt/truncated JSON, missing
    fields, filename/body sequence disagreement, path-escaping or
    non-conforming data_file_name, missing data files, and a missing
    finished marker are all confined to ValueError naming the problem;
    non-conforming filenames and .tmp leftovers are skipped as non-commits
    — the merge never silently produces a wrong table."""
    import json
    import shutil

    import pytest

    from ape_dts_spark.sinks import orc_sequencer as oseq

    def fresh(name):
        root = tmp_path / name
        meta = root / "db" / "t" / "meta"
        meta.mkdir(parents=True)
        body = {
            "sequencer_id": 5, "push_epoch": 5, "push_sequence": 0,
            "schema": "db", "tb": "t",
            "data_file_name": "log_dml_0_0_u0.orc", "insert_only": True,
        }
        (meta / "0000000005_0000000000_log_dml_0_0_u0.json").write_text(
            json.dumps(body)
        )
        return root, meta, body

    # baseline parses
    root, meta, body = fresh("ok")
    assert len(oseq.read_manifest(str(root), "db", "t")) == 1

    # skipped non-commits: finished marker, crashed-rename .tmp, droppings
    (meta / "finished").write_text("")
    (meta / "0000000005_0000000001_log_dml_x.json.tmp").write_text("{")
    (meta / ".DS_Store").write_text("junk")
    assert len(oseq.read_manifest(str(root), "db", "t")) == 1
    assert len(oseq.read_manifest(str(root), "db", "t", require_finished=True)) == 1

    # missing finished marker with require_finished
    (meta / "finished").unlink()
    with pytest.raises(ValueError, match="finished"):
        oseq.read_manifest(str(root), "db", "t", require_finished=True)

    def expect(name, content, match):
        root, meta, _ = fresh(name)
        (meta / "0000000005_0000000001_log_dml_0_0_u1.json").write_text(content)
        with pytest.raises(ValueError, match=match):
            oseq.read_manifest(str(root), "db", "t")

    good = dict(body, push_sequence=1, data_file_name="log_dml_0_0_u1.orc")
    expect("trunc", json.dumps(good)[:20], "corrupt push meta")
    expect("notjson", "\xff\xfe not json", "corrupt push meta")
    expect("missing", json.dumps({"sequencer_id": 5}), "missing fields")
    expect("notdict", json.dumps([1, 2]), "missing fields")
    expect("strseq", json.dumps(dict(good, push_sequence="1")),
           "non-integer sequence")
    expect("disagree", json.dumps(dict(good, push_sequence=7)), "disagrees")
    expect("escape", json.dumps(dict(good, data_file_name="../../evil.orc")),
           "bad data_file_name")
    expect("notorc", json.dumps(dict(good, data_file_name="log_dml_0_0_u1.txt")),
           "bad data_file_name")
    expect("notpush", json.dumps(dict(good, data_file_name="other_u1.orc")),
           "bad data_file_name")

    # manifest names a data file that was never written -> merge refuses
    root, meta, _ = fresh("nodata")
    with pytest.raises(ValueError, match="missing push data"):
        from ape_dts_spark.session import get_spark

        oseq.merge_pushes(get_spark("t"), str(root), "db", "t", ["k"])

    # empty meta dir
    root = tmp_path / "empty"
    (root / "db" / "t" / "meta").mkdir(parents=True)
    with pytest.raises(ValueError, match="no pushed files"):
        from ape_dts_spark.session import get_spark

        oseq.merge_pushes(get_spark("t"), str(root), "db", "t", ["k"])
    shutil.rmtree(tmp_path, ignore_errors=True)


# ---------------------------------------------------------------------------
# wire clients (r16): every truncation point (server closes mid-transcript)
# and flipped byte of a valid server transcript must end the client flow in
# success or ValueError/NotImplementedError — never struct.error/IndexError/
# an unhandled OSError, and never a hang (the server always closes).
# socket.timeout is allowed: it is the clients' documented bounded-pull
# currency and cannot hang (per-flow timeouts are short).
# ---------------------------------------------------------------------------

import socket as _socket
import struct as _struct
import threading as _threading

WIRE_ALLOWED = (ValueError, NotImplementedError, TimeoutError)


def _serve_script(blob: bytes):
    """One-shot script server: accept, drain client bytes in the background,
    send ``blob``, close. Returns the bound port."""
    srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def _run():
        try:
            sock, _ = srv.accept()
        except OSError:
            return
        sock.settimeout(10)

        def _drain():
            try:
                while sock.recv(65536):
                    pass
            except OSError:
                pass

        _threading.Thread(target=_drain, daemon=True).start()
        try:
            sock.sendall(blob)
        except OSError:
            pass
        finally:
            try:
                sock.shutdown(_socket.SHUT_WR)
            except OSError:
                pass
            import time

            time.sleep(0.5)  # let the client read the tail before close
            sock.close()
            srv.close()

    _threading.Thread(target=_run, daemon=True).start()
    return port


def _wire_fuzz(transcript: bytes, flow, trunc_stride: int = 13,
               flip_stride: int = 17):
    for n in range(0, len(transcript), trunc_stride):
        port = _serve_script(transcript[:n])
        try:
            flow(port)
        except WIRE_ALLOWED:
            pass
    for i in range(0, len(transcript), flip_stride):
        mutated = bytearray(transcript)
        mutated[i] ^= 0xFF
        port = _serve_script(bytes(mutated))
        try:
            flow(port)
        except WIRE_ALLOWED:
            pass
    # the unmodified transcript must complete the flow cleanly
    flow(_serve_script(transcript))


def test_mysql_binlog_client_wire_fuzz():
    from ape_dts_spark.sources import binlog_file as bf
    from ape_dts_spark.sources.mysql_binlog_client import MysqlBinlogClient

    users = bf.BinlogTable(
        "db", "users",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("name", bf.MYSQL_TYPE_VARCHAR, 255)),
        101,
    )
    tables = {("db", "users"): users}
    blob = bf.encode_binlog_file(
        [[(("db", "users"), "insert", None, {"id": 1, "name": "a"})]],
        tables, "f.000001",
    )

    def _pkt(seq, payload):
        return _struct.pack("<I", len(payload))[:3] + bytes([seq]) + payload

    scramble = bytes(range(1, 21))
    greeting = (
        b"\x0a" + b"8.0.36-script\x00" + _struct.pack("<I", 7)
        + scramble[:8] + b"\x00" + _struct.pack("<H", 0xFFFF) + b"\x21"
        + _struct.pack("<HH", 2, 0xFFFF) + bytes([21]) + b"\x00" * 10
        + scramble[8:] + b"\x00" + b"mysql_native_password\x00"
    )
    ok = b"\x00\x00\x00\x02\x00\x00\x00"
    events = []
    i = 4
    while i + 13 <= len(blob):
        (size,) = _struct.unpack_from("<I", blob, i + 9)
        events.append(blob[i : i + size])
        i += size
    transcript = _pkt(0, greeting) + _pkt(2, ok) + _pkt(1, ok) + _pkt(1, ok)
    transcript += b"".join(_pkt(1 + j, b"\x00" + ev) for j, ev in enumerate(events))
    transcript += _pkt(len(events) + 1, b"\xfe\x00\x00\x02\x00")

    def flow(port):
        c = MysqlBinlogClient("127.0.0.1", port, timeout=5)
        try:
            c.connect()
            c.query_ok("SET @master_binlog_checksum = @@global.binlog_checksum")
            c.register_slave()
            c.binlog_dump("f.000001")
            c.stream_changes(tables, "f.000001")
        finally:
            c.close()

    _wire_fuzz(transcript, flow)


def test_pg_replication_client_wire_fuzz():
    from ape_dts_spark.sources import pgoutput_file as pg
    from ape_dts_spark.sources.fake_servers import segment_to_frames
    from ape_dts_spark.sources.pg_replication import PgReplicationClient
    from tests.test_pg_replication import TABLES, TXNS

    segment, _ = pg.encode_segment(TXNS, TABLES)

    def _msg(mtype, payload=b""):
        return mtype + _struct.pack(">I", len(payload) + 4) + payload

    transcript = (
        _msg(b"R", _struct.pack(">I", 0))
        + _msg(b"S", b"server_version\x0016.3\x00")
        + _msg(b"Z", b"I")
        + _msg(b"W", b"\x00\x00\x00")
        + b"".join(_msg(b"d", f) for f in segment_to_frames(segment))
        + _msg(b"c")
    )

    def flow(port):
        c = PgReplicationClient("127.0.0.1", port, timeout=5)
        try:
            c.connect()
            c.start_replication()
            list(c.stream())
        finally:
            c.close()

    _wire_fuzz(transcript, flow)


def test_redis_psync_client_wire_fuzz():
    from ape_dts_spark.sources import redis_rdb as rdb
    from ape_dts_spark.sources.redis_psync import PsyncClient

    keyspace = [
        {"db_id": 0, "key": "s:1", "entry_type": "string", "member": None,
         "value": "v1", "ord": 0, "expire_ms": None},
        {"db_id": 0, "key": "h:1", "entry_type": "hash", "member": "f",
         "value": "w", "ord": 0, "expire_ms": None},
    ]
    payload = rdb.encode_rdb(keyspace)
    cmds = [["SET", "s:1", "v2"], ["DEL", "h:1"]]
    transcript = (
        b"+OK\r\n+FULLRESYNC " + b"f" * 40 + b" 0\r\n"
        + b"$" + str(len(payload)).encode() + b"\r\n" + payload
        + b"".join(
            ("*%d\r\n" % len(c)).encode()
            + b"".join(b"$%d\r\n%s\r\n" % (len(a), a.encode()) for a in c)
            for c in cmds
        )
    )

    def flow(port):
        c = PsyncClient("127.0.0.1", port, timeout=5)
        try:
            c.start_psync()
            rdb.parse_rdb_bytes(c.receive_rdb())
            list(c.tail(max_commands=len(cmds)))
        finally:
            c.close()

    _wire_fuzz(transcript, flow, trunc_stride=7, flip_stride=11)


def test_mongo_client_wire_fuzz():
    from ape_dts_spark.sources import bson_codec as bc
    from ape_dts_spark.sources.mongo_client import MongoWireClient, encode_op_msg

    hello = encode_op_msg(
        {"isWritablePrimary": True, "setName": "rs0", "maxWireVersion": 17,
         "minWireVersion": 0, "ok": 1.0}, 100, response_to=1)
    find = encode_op_msg(
        {"cursor": {"firstBatch": [{"_id": 1, "v": "a"}, {"_id": 2, "v": "b"}],
                    "id": bc.Int64(7), "ns": "db.c"}, "ok": 1.0},
        101, response_to=2)
    more = encode_op_msg(
        {"cursor": {"nextBatch": [{"_id": 3, "v": "c"}],
                    "id": bc.Int64(0), "ns": "db.c"}, "ok": 1.0},
        102, response_to=3)
    transcript = hello + find + more

    def flow(port):
        c = MongoWireClient("127.0.0.1", port, timeout=5)
        try:
            c.connect()
            list(c.find_docs("db", "c", sort={"_id": 1}, batch_size=2))
        finally:
            c.close()

    _wire_fuzz(transcript, flow, trunc_stride=7, flip_stride=11)


def test_stream_load_transport_fuzz():
    from ape_dts_spark.sinks.stream_load import _put_stream_load

    body = (b'{"TxnId": 42, "Label": "l1", "Status": "Success", '
            b'"NumberLoadedRows": 3}')
    transcript = (
        b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )

    def flow(port):
        _put_stream_load(
            f"127.0.0.1:{port}", "/api/db/tb/_stream_load",
            {"label": "l1"}, b"1\n", "root", "", timeout=5,
        )

    _wire_fuzz(transcript, flow, trunc_stride=5, flip_stride=7)
