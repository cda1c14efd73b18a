"""MySQL binlog file writer/parser (sources/binlog_file.py): byte-level
round trips, CRC verification, rotation chains, and replay equivalence
through the full CDC apply path — the at-rest half of the native-CDC story
(the reference consumes the same events over a socket,
mysql_cdc_extractor.rs:195-394)."""

import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.sources import binlog_file as bf

USERS = bf.BinlogTable(
    "db", "users",
    (
        ("id", bf.MYSQL_TYPE_LONGLONG, 0),
        ("name", bf.MYSQL_TYPE_VARCHAR, 255),
        ("bal", bf.MYSQL_TYPE_DOUBLE, 8),
        ("ts", bf.MYSQL_TYPE_TIMESTAMP2, 6),
        ("tag", bf.MYSQL_TYPE_BLOB, 2),
        ("n8", bf.MYSQL_TYPE_TINY, 0),
        ("n16", bf.MYSQL_TYPE_SHORT, 0),
        ("n24", bf.MYSQL_TYPE_INT24, 0),
        ("n32", bf.MYSQL_TYPE_LONG, 0),
        ("f", bf.MYSQL_TYPE_FLOAT, 4),
    ),
    101,
)
TABLES = {("db", "users"): USERS}

ROW1 = {
    "id": 1, "name": "alice", "bal": 10.5, "ts": 1_700_000_000_123_456,
    "tag": b"\x01\xff", "n8": -5, "n16": -300, "n24": 70000,
    "n32": -(2**31), "f": 3.25,
}
ROW2 = {
    "id": 2, "name": "bøb",  # non-ascii exercises utf-8 length vs char count
    "bal": None, "ts": None, "tag": None, "n8": None, "n16": 1, "n24": 2,
    "n32": 3, "f": None,
}


def _basic_txns():
    row1b = dict(ROW1, name="alice2", bal=11.25)
    return [
        [(("db", "users"), "insert", None, ROW1), (("db", "users"), "insert", None, ROW2)],
        [
            (("db", "users"), "update", ROW1, row1b),
            (("db", "users"), "ddl", None, {"query": "ALTER TABLE db.users ADD COLUMN x INT"}),
        ],
        [(("db", "users"), "delete", ROW2, None)],
    ]


def test_roundtrip_all_types_and_nulls():
    data = bf.encode_binlog_file(_basic_txns(), TABLES, "binlog.000001")
    evs = bf.parse_binlog_bytes(data, TABLES, "binlog.000001")
    dml = [e for e in evs if e["row_type"] in ("insert", "update", "delete")]
    assert [e["row_type"] for e in dml] == ["insert", "insert", "update", "delete"]
    ins1 = dml[0]["after"]
    assert ins1 == {
        "id": "1", "name": "alice", "bal": "10.5", "ts": "1700000000123456",
        "tag": "01ff", "n8": "-5", "n16": "-300", "n24": "70000",
        "n32": "-2147483648", "f": "3.25",
    }
    assert dml[1]["after"]["name"] == "bøb" and dml[1]["after"]["bal"] is None
    upd = dml[2]
    assert upd["before"]["name"] == "alice" and upd["after"]["name"] == "alice2"
    assert upd["after"]["bal"] == "11.25"
    assert dml[3]["before"]["id"] == "2" and dml[3]["after"] is None
    # txn markers: one commit per txn, xid = gno, gtid stamped on every row
    commits = [e for e in evs if e["row_type"] == "commit"]
    assert [c["xid"] for c in commits] == [1, 2, 3]
    assert all(e["gtid"] and ":" in e["gtid"] for e in dml)
    ddls = [e for e in evs if e["row_type"] == "ddl"]
    assert ddls[0]["after"]["query"].startswith("ALTER TABLE db.users")
    assert ddls[0]["schema"] == "db"
    # positions are the header's next_event_position: strictly increasing,
    # last event's pos == file size (MysqlCdcPosition semantics)
    poss = [e["pos"] for e in evs]
    assert poss == sorted(poss) and poss[-1] <= len(data)


def test_crc_corruption_detected():
    data = bytearray(bf.encode_binlog_file(_basic_txns(), TABLES, "binlog.000001"))
    data[300] ^= 0xFF  # flip a byte inside an event body
    with pytest.raises(ValueError, match="CRC"):
        bf.parse_binlog_bytes(bytes(data), TABLES, "binlog.000001")


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="magic"):
        bf.parse_binlog_bytes(b"nope" + b"\x00" * 64, TABLES)


def test_unsupported_type_is_honest():
    t = bf.BinlogTable("db", "t", (("d", 11, 0),), 7)  # legacy pre-5.6 TIME
    with pytest.raises(NotImplementedError):
        bf.encode_binlog_file([[(("db", "t"), "insert", None, {"d": 1})]], {("db", "t"): t}, "b.1")


def test_multi_row_events_in_one_rows_event():
    """A single WRITE_ROWS event may carry many rows (the server batches);
    the parser must loop rows until the event body is exhausted."""
    w = bf._FileWriter(1_700_000_000)
    w.event(bf.FORMAT_DESCRIPTION_EVENT, bf._fde_payload())
    w.event(bf.TABLE_MAP_EVENT, bf._table_map_payload(USERS))
    w.event(
        bf.WRITE_ROWS_EVENT_V2,
        bf._rows_payload(USERS, bf.WRITE_ROWS_EVENT_V2, [ROW1, ROW2, dict(ROW1, id=3)]),
    )
    evs = bf.parse_binlog_bytes(bytes(w.buf), TABLES, "b.1")
    assert [e["after"]["id"] for e in evs] == ["1", "2", "3"]


def test_rotation_chain_and_global_order(spark, tmp_path):
    """write_binlog_files splits txns across a rotation chain with
    continuous gnos; the distributed scan globalizes seq as
    (file index << 33) | in-file seq so ORDER BY seq == (file, pos) order —
    model/position.MysqlCdcPosition.sort_key."""
    txns = [
        [(("db", "users"), "insert", None, dict(ROW1, id=i))] for i in range(1, 8)
    ]
    out = str(tmp_path / "logs")
    os.makedirs(out)
    paths = bf.write_binlog_files(txns, TABLES, out, per_file=3)
    assert [os.path.basename(p) for p in paths] == [
        "binlog.000001", "binlog.000002", "binlog.000003",
    ]
    df = bf.read_binlog_files(spark, out, TABLES)
    rows = df.orderBy("seq").collect()
    ins = [r for r in rows if r["row_type"] == "insert"]
    assert [r["after"]["id"] for r in ins] == [str(i) for i in range(1, 8)]
    # gnos continuous across the chain: 1..7 in order
    gnos = [int(r["gtid"].split(":")[1]) for r in ins]
    assert gnos == list(range(1, 8))
    # rotate markers link each file to the next
    rot = [r for r in rows if r["row_type"] == "rotate"]
    assert [r["after"]["next_file"] for r in rot] == ["binlog.000002", "binlog.000003"]
    # seq ordering equals position sort_key ordering
    from ape_dts_spark.model.position import MysqlCdcPosition

    keys = [MysqlCdcPosition(r["file"], r["pos"]).sort_key() for r in rows]
    assert keys == sorted(keys)


def test_gtid_set_coalesces_from_parsed_stream():
    """The gtid column feeds GtidSet algebra: the parsed stream's gtids
    coalesce to one contiguous interval per server uuid."""
    from ape_dts_spark.model.position import GtidSet

    data = bf.encode_binlog_file(_basic_txns(), TABLES, "binlog.000001")
    evs = bf.parse_binlog_bytes(data, TABLES, "binlog.000001")
    gs = GtidSet.parse("")
    for e in evs:
        if e["row_type"] == "commit":
            gs = gs.union(GtidSet.parse(e["gtid"]))
    assert gs.to_text() == "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-3"


def test_replay_equivalence_through_apply_path(spark, tmp_path):
    """Kafka-bridge-style equivalence (tests/test_avro.py pattern): binlog
    bytes -> distributed parse -> canonical change frame -> compact + MERGE
    apply must land the same target state as applying the source-of-truth
    changes directly. Changing the transport (binlog file vs envelope) must
    not change state."""
    from ape_dts_spark.operators.merge import compact_changes
    from ape_dts_spark.sinks.parquet_table import ParquetTable

    txns = []
    for i in range(1, 21):
        txns.append([(("db", "users"), "insert", None, dict(ROW1, id=i, name=f"u{i}"))])
    for i in range(2, 21, 2):
        before = dict(ROW1, id=i, name=f"u{i}")
        txns.append([(("db", "users"), "update", before, dict(before, bal=float(i)))])
    for i in range(5, 21, 5):
        txns.append([(("db", "users"), "delete", dict(ROW1, id=i), None)])
    out = str(tmp_path / "logs")
    os.makedirs(out)
    bf.write_binlog_files(txns, TABLES, out, per_file=10)

    payload = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
        ]
    )
    def typed(colname):
        s = F.struct(
            *[F.col(colname)[f.name].cast(f.dataType).alias(f.name) for f in payload.fields]
        )
        return F.when(F.col(colname).isNotNull(), s).alias(colname)

    ch = (
        bf.read_binlog_files(spark, out, TABLES)
        .filter(F.col("row_type").isin("insert", "update", "delete"))
        .select("schema", "tb", "row_type", "seq", typed("before"), typed("after"))
    )
    compacted, spilled = compact_changes(ch, ["id"])
    table = ParquetTable(spark, str(tmp_path / "tgt"), payload)
    table.merge_apply(compacted, spilled, ["id"], stream_id="binlog", batch_id=0)
    state = {r["id"]: (r["name"], r["bal"]) for r in table.current().collect()}
    expected = {}
    for i in range(1, 21):
        expected[i] = (f"u{i}", float(i) if i % 2 == 0 else 10.5)
    for i in range(5, 21, 5):
        del expected[i]
    assert state == expected


def test_resume_from_checkpoint_position(spark, tmp_path):
    """StartPosition::BinlogPosition parity (mysql_cdc_extractor.rs:144-145):
    a parse resumed from a checkpoint (file, pos) emits exactly the events
    the full parse has after that position — context (TABLE_MAP/GTID) stays
    warm across the skipped prefix, earlier files are pruned entirely."""
    txns = [[(("db", "users"), "insert", None, dict(ROW1, id=i))] for i in range(1, 10)]
    out = str(tmp_path / "logs")
    os.makedirs(out)
    bf.write_binlog_files(txns, TABLES, out, per_file=3)

    full = bf.read_binlog_files(spark, out, TABLES).collect()
    full_by_seq = {r["seq"]: r for r in full}
    # checkpoint = the commit of txn 5 (file 2): resume must yield only later
    ckpt = next(
        r for r in sorted(full, key=lambda r: r["seq"])
        if r["row_type"] == "commit" and r["xid"] == 5
    )
    resumed = bf.read_binlog_files(
        spark, out, TABLES, start_file=ckpt["file"], start_pos=ckpt["pos"]
    ).collect()
    got = sorted(r["seq"] for r in resumed)
    want = sorted(s for s, r in full_by_seq.items() if s > ckpt["seq"])
    assert got == want
    # inserts 6..9 present with warm table-map context, 1..5 absent
    ids = sorted(int(r["after"]["id"]) for r in resumed if r["row_type"] == "insert")
    assert ids == [6, 7, 8, 9]


def test_decimal_date_datetime_codecs_roundtrip():
    """NEWDECIMAL (9-digit group packing, sign inversion), DATE (3-byte
    packed) and DATETIME2 (5-byte packed calendar + fractional) round-trip
    bit-exactly, including negatives, signed zero-scale edges, fsp 0 and 6 —
    the remaining common types of the reference's column convertor
    (MysqlColValueConvertor::from_binlog)."""
    t = bf.BinlogTable(
        "db", "pricing",
        (
            ("id", bf.MYSQL_TYPE_LONGLONG, 0),
            ("price", bf.MYSQL_TYPE_NEWDECIMAL, (12 << 8) | 2),
            ("rate", bf.MYSQL_TYPE_NEWDECIMAL, (20 << 8) | 10),
            ("day", bf.MYSQL_TYPE_DATE, 0),
            ("at6", bf.MYSQL_TYPE_DATETIME2, 6),
            ("at0", bf.MYSQL_TYPE_DATETIME2, 0),
        ),
        7,
    )
    tables = {("db", "pricing"): t}
    cases = [
        {"id": 1, "price": "1234567890.12", "rate": "0.0000000001",
         "day": "1997-03-05", "at6": "2024-02-29 23:59:59.123456",
         "at0": "1970-01-01 00:00:00"},
        {"id": 2, "price": "-987.65", "rate": "-3.1415926535",
         "day": "2000-01-01", "at6": "1999-12-31 00:00:01.000001",
         "at0": "2038-01-19 03:14:07"},
        {"id": 3, "price": "0.00", "rate": "0.0000000000",
         "day": "2024-12-31", "at6": "2001-01-01 01:01:01.000000",
         "at0": "2001-01-01 01:01:01"},
        {"id": 4, "price": "-0.01", "rate": "123456789.9999999999",
         "day": "1992-07-14", "at6": "2010-06-15 12:30:45.500000",
         "at0": "2010-06-15 12:30:45"},
    ]
    txns = [[(("db", "pricing"), "insert", None, c)] for c in cases]
    data = bf.encode_binlog_file(txns, tables, "binlog.000001")
    evs = [
        e for e in bf.parse_binlog_bytes(data, tables, "binlog.000001")
        if e["row_type"] == "insert"
    ]
    for c, e in zip(cases, evs):
        assert e["after"] == {k: str(v) for k, v in c.items()}


def test_streaming_tail_of_binlog_dir(spark, tmp_path):
    """stream_binlog_files: a readStream tail of the rotation directory
    drives the standard CdcPipeline — files present at start apply, files
    arriving later apply on the next run from the SAME checkpoint without
    re-applying the old ones (the reference's always-on client mapped onto
    file-arrival micro-batches)."""
    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.streaming.cdc import CdcPipeline

    out = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)
    txns1 = [[(("db", "users"), "insert", None, dict(ROW1, id=i))] for i in range(1, 6)]
    bf.write_binlog_files(txns1, TABLES, out, per_file=0)

    payload = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
    ])

    def typed(colname):
        s = F.struct(
            *[F.col(colname)[f.name].cast(f.dataType).alias(f.name) for f in payload.fields]
        )
        return F.when(F.col(colname).isNotNull(), s).alias(colname)

    def changes():
        return (
            bf.stream_binlog_files(spark, out, TABLES)
            .filter(F.col("row_type").isin("insert", "update", "delete"))
            .select(
                "schema", "tb", "row_type", "seq",
                F.col("ts").cast("timestamp").alias("ts"),
                typed("before"), typed("after"),
            )
        )

    table = ParquetTable(spark, str(tmp_path / "tgt"), payload)
    pipe = CdcPipeline(spark, table, key_cols=["id"], stream_id="binlog-tail")
    pipe.run(changes(), ckpt)
    assert sorted(r["id"] for r in table.current().collect()) == [1, 2, 3, 4, 5]
    v1 = table._read_meta()["version"]

    # a later rotation arrives: update id=3, delete id=5, insert id=6
    row3 = dict(ROW1, id=3)
    txns2 = [
        [(("db", "users"), "update", row3, dict(row3, name="late", bal=9.0))],
        [(("db", "users"), "delete", dict(ROW1, id=5), None)],
        [(("db", "users"), "insert", None, dict(ROW1, id=6))],
    ]
    data = bf.encode_binlog_file(txns2, TABLES, "binlog.000002", start_gno=100)
    with open(os.path.join(out, "binlog.000002"), "wb") as f:
        f.write(data)
    pipe.run(changes(), ckpt)
    state = {r["id"]: (r["name"], r["bal"]) for r in table.current().collect()}
    assert state[3] == ("late", 9.0) and 5 not in state and 6 in state
    # checkpoint really skipped the first file: exactly one more applied batch
    assert table._read_meta()["version"] > v1


def test_binlog_ddl_barrier_evolves_target_schema(spark, tmp_path):
    """A QUERY(ALTER TABLE ... ADD COLUMN) event inside the binlog stream
    reaches CdcPipeline's DDL barrier: DML before the DDL applies against
    the old schema, the DDL evolves the target (NULL-filled schema-on-read),
    and later DML lands with the new column — end-to-end from real binlog
    bytes (mysql_cdc_extractor.rs:396-456 -> apply_ddl)."""
    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.streaming.cdc import CdcPipeline

    out = str(tmp_path / "logs")
    os.makedirs(out)
    txns = [
        [(("db", "users"), "insert", None, dict(ROW1, id=1))],
        [(("db", "users"), "ddl", None,
          {"query": "ALTER TABLE users ADD COLUMN note VARCHAR(32)"})],
        [(("db", "users"), "insert", None, dict(ROW1, id=2))],
    ]
    bf.write_binlog_files(txns, TABLES, out)

    payload = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])

    def typed(colname):
        s = F.struct(
            *[F.col(colname)[f.name].cast(f.dataType).alias(f.name) for f in payload.fields]
        )
        return F.when(F.col(colname).isNotNull(), s).alias(colname)

    batch = (
        bf.read_binlog_files(spark, out, TABLES)
        .filter(F.col("row_type").isin("insert", "update", "delete", "ddl"))
        .select(
            "schema", "tb", "row_type", "seq",
            F.col("ts").cast("timestamp").alias("ts"),
            typed("before"), typed("after"),
            F.when(F.col("row_type") == "ddl", F.col("after")["query"]).alias("ddl"),
        )
    )
    table = ParquetTable(spark, str(tmp_path / "tgt"), payload)
    pipe = CdcPipeline(spark, table, key_cols=["id"], stream_id="binlog-ddl")
    pipe.apply_batch(batch, batch_id=0)
    cur = table.current()
    assert "note" in cur.columns  # DDL evolved the read schema
    assert sorted(r["id"] for r in cur.collect()) == [1, 2]
    assert all(r["note"] is None for r in cur.collect())


def test_charset_column_roundtrip():
    """charset_test suite parity: binlog stores VARCHAR bytes in the COLUMN
    charset — a gbk or latin1 table must round-trip non-ASCII text through
    its own encoding, and the same text must produce DIFFERENT wire bytes
    per charset (proving the bytes really are charset-encoded)."""
    text = "中文测试"
    latin = "café"
    gbk_t = bf.BinlogTable("db", "gbk_t", (("id", bf.MYSQL_TYPE_LONGLONG, 0),
                                           ("s", bf.MYSQL_TYPE_VARCHAR, 255)),
                           201, charset="gbk")
    lat_t = bf.BinlogTable("db", "lat_t", (("id", bf.MYSQL_TYPE_LONGLONG, 0),
                                           ("s", bf.MYSQL_TYPE_VARCHAR, 255)),
                           202, charset="latin-1")
    tables = {("db", "gbk_t"): gbk_t, ("db", "lat_t"): lat_t}
    txns = [[(("db", "gbk_t"), "insert", None, {"id": 1, "s": text})],
            [(("db", "lat_t"), "insert", None, {"id": 2, "s": latin})]]
    data = bf.encode_binlog_file(txns, tables, "binlog.000001")
    ins = [e for e in bf.parse_binlog_bytes(data, tables, "binlog.000001")
           if e["row_type"] == "insert"]
    assert ins[0]["after"]["s"] == text
    assert ins[1]["after"]["s"] == latin
    # the wire bytes differ from utf-8: gbk encodes the text in 8 bytes
    assert bf._enc_value(bf.MYSQL_TYPE_VARCHAR, 255, text, "gbk") != \
        bf._enc_value(bf.MYSQL_TYPE_VARCHAR, 255, text, "utf-8")


def test_big_value_roundtrip():
    """big_packet_test parity: a multi-megabyte BLOB survives the writer ->
    parser round trip (4-byte length BLOB meta; the reference chunks the
    network packet, at rest the value is contiguous)."""
    big = bytes(range(256)) * (4 * 1024 * 4)  # 4 MiB
    t = bf.BinlogTable("db", "big", (("id", bf.MYSQL_TYPE_LONGLONG, 0),
                                     ("payload", bf.MYSQL_TYPE_BLOB, 4)), 203)
    tables = {("db", "big"): t}
    data = bf.encode_binlog_file(
        [[(("db", "big"), "insert", None, {"id": 1, "payload": big})]],
        tables, "binlog.000001",
    )
    ins = [e for e in bf.parse_binlog_bytes(data, tables, "binlog.000001")
           if e["row_type"] == "insert"][0]
    assert ins["after"]["payload"] == big.hex()


def test_json_binary_column_roundtrip():
    """json_test suite parity: MySQL JSON columns (type 245) carry the
    binary json_binary format in row events — small objects/arrays with
    sorted keys, inlined literals/int16, offset-addressed strings/nested
    docs, varint string lengths. Full encode -> parse round trip through a
    binlog file, rendered as canonical JSON text."""
    import json as _json

    t = bf.BinlogTable(
        "db", "j",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("doc", bf.MYSQL_TYPE_JSON, 4)),
        301,
    )
    tables = {("db", "j"): t}
    docs = [
        {"a": 1, "bb": [True, None, "x"], "c": {"deep": -0.5}},
        [1, "two", 3.0, None, {"k": 1 << 40}],
        "bare string",
        42,
        None,
    ]
    txns = [
        [(("db", "j"), "insert", None, {"id": i, "doc": _json.dumps(d)})]
        for i, d in enumerate(docs)
    ]
    data = bf.encode_binlog_file(txns, tables, "binlog.000001")
    ins = [e for e in bf.parse_binlog_bytes(data, tables, "binlog.000001")
           if e["row_type"] == "insert"]
    got = [_json.loads(e["after"]["doc"]) for e in ins]
    assert got == docs
    # inline int16 boundary + string varint > 127 bytes
    edge = {"n": 32767, "m": -32768, "s": "y" * 200}
    assert bf._dec_json_binary(bf._enc_json_binary(edge)) == edge


def test_transaction_payload_wrap_roundtrip(spark, tmp_path):
    """TRANSACTION_PAYLOAD (event 40, MySQL 8.0.20+ transaction
    compression): a whole BEGIN..XID transaction rides one wrapping event
    as TLV header + unchecksummed inner events. The reference dispatches
    TransactionPayload the same way (SURVEY §2 MySQL CDC row). Parse output
    must equal the unwrapped encoding of the same history, for both the
    uncompressed and the zstd-compressed (pyarrow codec)
    payload forms; unknown compression types raise honestly."""
    txns = _basic_txns()
    plain = bf.parse_binlog_bytes(
        bf.encode_binlog_file(txns, TABLES, "binlog.000001"), TABLES, "b")
    wrapped_bytes = bf.encode_binlog_file(
        txns, TABLES, "binlog.000001", payload_wrap=True)
    wrapped = bf.parse_binlog_bytes(wrapped_bytes, TABLES, "b")

    def strip(rows):
        return [
            (r["row_type"], r["schema"], r["tb"], r["gtid"], r["xid"],
             r["before"], r["after"])
            for r in rows
        ]

    assert strip(wrapped) == strip(plain)
    # all inner rows share the wrapping event's position
    by_gtid = {}
    for r in wrapped:
        by_gtid.setdefault(r["gtid"], set()).add(r["pos"])
    assert all(len(v) == 1 for v in by_gtid.values())

    # zstd-compressed payload: same rows as plain, smaller event bytes
    zstd_bytes = bf.encode_binlog_file(
        txns, TABLES, "binlog.000001", payload_wrap="zstd")
    zstd_rows = bf.parse_binlog_bytes(zstd_bytes, TABLES, "b")
    assert strip(zstd_rows) == strip(plain)

    # unknown compression marker raises, not garbage
    import struct as _st

    inner = bf._inner_event(0, bf.XID_EVENT, _st.pack("<Q", 1))
    tlv = (bf._packed(bf._OTW_COMPRESSION_TYPE) + bf._packed(1) + bf._packed(7)
           + bf._packed(bf._OTW_END))
    w = bf._FileWriter(0)
    w.event(bf.FORMAT_DESCRIPTION_EVENT, bf._fde_payload())
    w.event(bf.TRANSACTION_PAYLOAD_EVENT, tlv + inner)
    with pytest.raises(NotImplementedError, match="compression type 7"):
        bf.parse_binlog_bytes(bytes(w.buf), TABLES, "b")

    # a corrupted zstd payload surfaces as a loud decode error
    bad = bytearray(zstd_bytes)
    # flip a byte inside the last TRANSACTION_PAYLOAD event body (past the
    # FDE; the CRC trailer would catch most flips, so rewrite CRC too)
    with pytest.raises(ValueError):
        evs = []
        k = len(bf.BINLOG_MAGIC)
        while k < len(bad):
            _, et, _, esz, _, _ = bf._HEADER.unpack_from(bad, k)
            evs.append((k, et, esz))
            k += esz
        off, _, esz = [e for e in evs if e[1] == bf.TRANSACTION_PAYLOAD_EVENT][-1]
        bad[off + bf.HEADER_LEN + 20] ^= 0xFF
        import zlib as _zl
        crc = _zl.crc32(bytes(bad[off : off + esz - 4]))
        bad[off + esz - 4 : off + esz] = _st.pack("<I", crc)
        bf.parse_binlog_bytes(bytes(bad), TABLES, "b")


def test_enum_set_time2_year_codecs():
    """The remaining common column codecs (charset_test/basic_test column
    inventory): YEAR (1 byte, 1900-biased), ENUM (1/2-byte 1-based index —
    names live in the catalog, not the binlog), SET (1-8 byte bitmask),
    TIME2 (sign-biased 24-bit pack + DATETIME2-style fractional), incl. the
    negative and 838-hour TIME extremes."""
    t = bf.BinlogTable(
        "db", "k",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0),
         ("y", bf.MYSQL_TYPE_YEAR, 0),
         ("e", bf.MYSQL_TYPE_ENUM, 1),
         ("s", bf.MYSQL_TYPE_SET, 8),
         ("t0", bf.MYSQL_TYPE_TIME2, 0),
         ("t6", bf.MYSQL_TYPE_TIME2, 6)),
        401,
    )
    tables = {("db", "k"): t}
    row = {"id": 1, "y": "2024", "e": "3", "s": str((1 << 50) | 5),
           "t0": "-838:59:59", "t6": "-03:04:05.123456"}
    data = bf.encode_binlog_file([[(("db", "k"), "insert", None, row)]],
                                 tables, "binlog.000001")
    ins = [e for e in bf.parse_binlog_bytes(data, tables, "b")
           if e["row_type"] == "insert"][0]
    assert ins["after"] == {k: str(v) for k, v in row.items()}


def test_time2_negative_fractional_spec_encoding():
    """Negative TIME with fsp>0 stores the COMBINED packed+frac quantity in
    two's complement (my_time.c my_time_packed_to_binary), not a separate
    unsigned frac field (ADVICE r7) — byte-level checks against the known
    server encodings, then round-trips across every fsp."""
    # -00:00:00.000001 @ fsp 6 is the canonical probe: one µs below the
    # offset midpoint of the combined 6-byte form
    assert bf._enc_value(bf.MYSQL_TYPE_TIME2, 6, "-00:00:00.000001").hex() == "7fffffffffff"
    assert bf._enc_value(bf.MYSQL_TYPE_TIME2, 0, "00:00:00").hex() == "800000"
    # fsp 2: int part shifts down by one, frac byte is 0x100 - centis
    assert bf._enc_value(bf.MYSQL_TYPE_TIME2, 2, "-00:00:01.50").hex() == "7ffffe" + "ce"
    for fsp, v in [(1, "-00:00:01.5"), (2, "-01:02:03.99"), (3, "-01:02:03.999"),
                   (4, "-01:02:03.0001"), (5, "-11:22:33.00001"),
                   (6, "-838:59:58.999999"), (6, "10:20:30.000001")]:
        enc = bf._enc_value(bf.MYSQL_TYPE_TIME2, fsp, v)
        dec, off = bf._dec_value(bf.MYSQL_TYPE_TIME2, fsp, enc, 0)
        assert dec == v and off == len(enc), (v, fsp, enc.hex(), dec)


def test_snapshot_then_binlog_file_cutover(spark, tmp_path):
    """The documented no-data-loss migration composed with the at-rest
    transport: capture the binlog position BEFORE the snapshot, bulk-load a
    snapshot that already includes some post-position changes (the overlap),
    then tail the binlog DIRECTORY from the captured position — overlap
    replay converges, the genuinely-new tail applies, final state equals a
    direct full replay (snapshot_and_cdc_without_data_loss.md +
    stream_binlog_files)."""
    from ape_dts_spark.streaming.cdc import snapshot_then_cdc
    from ape_dts_spark.sinks.parquet_table import ParquetTable

    out = str(tmp_path / "logs")
    os.makedirs(out)
    # history: inserts 1..10, update id=4, delete id=7, insert 11
    txns = [[(("db", "users"), "insert", None, dict(ROW1, id=i, name=f"u{i}"))]
            for i in range(1, 11)]
    txns.append([(("db", "users"), "update", dict(ROW1, id=4, name="u4"),
                  dict(ROW1, id=4, name="u4x"))])
    txns.append([(("db", "users"), "delete", dict(ROW1, id=7, name="u7"), None)])
    txns.append([(("db", "users"), "insert", None, dict(ROW1, id=11, name="u11"))])
    bf.write_binlog_files(txns, TABLES, out, per_file=5)

    payload = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("name", T.StringType()),
    ])

    def typed(colname):
        s = F.struct(
            *[F.col(colname)[f.name].cast(f.dataType).alias(f.name) for f in payload.fields]
        )
        return F.when(F.col(colname).isNotNull(), s).alias(colname)

    parsed = (
        bf.read_binlog_files(spark, out, TABLES)
        .filter(F.col("row_type").isin("insert", "update", "delete"))
        .select("schema", "tb", "row_type", "seq",
                F.col("ts").cast("timestamp").alias("ts"),
                typed("before"), typed("after"))
    )
    all_rows = sorted(parsed.collect(), key=lambda r: r["seq"])
    # position captured before the snapshot = after insert 6; the snapshot
    # is consistent as of insert 8 (so 7 and 8 are the overlap)
    start_seq = all_rows[5]["seq"]
    snap_rows = [(r["after"]["id"], r["after"]["name"]) for r in all_rows[:8]]
    snapshot_df = spark.createDataFrame(snap_rows, "id long, name string")

    stream = (
        bf.stream_binlog_files(spark, out, TABLES)
        .filter(F.col("row_type").isin("insert", "update", "delete"))
        .select("schema", "tb", "row_type", "seq",
                F.col("ts").cast("timestamp").alias("ts"),
                typed("before"), typed("after"))
    )
    table = ParquetTable(spark, str(tmp_path / "tgt"), payload)
    snapshot_then_cdc(
        spark, table, ["id"], snapshot_df, stream,
        str(tmp_path / "ckpt"), start_seq, schema="db", tb="users",
    )
    state = {r["id"]: r["name"] for r in table.current().collect()}
    want = {i: f"u{i}" for i in range(1, 12)}
    want[4] = "u4x"
    del want[7]
    assert state == want


def test_unsigned_bit_geometry_codecs():
    """MySQL 8.0.1+ TABLE_MAP optional metadata: the SIGNEDNESS bitmap (one
    MSB-first bit per numeric column, set = UNSIGNED) governs integer decode
    — the reference gets signedness from table meta instead
    (mysql_col_type.rs:85,172). Plus MYSQL_TYPE_BIT (2-byte meta = bit
    width, big-endian cell) and MYSQL_TYPE_GEOMETRY (BLOB-shaped, 4-byte
    SRID + WKB payload, hex rendering) — the sysbench/spatial schema tail."""
    import struct as _s

    # WKB POINT(1 2) with SRID 4326
    wkb = _s.pack("<I", 4326) + b"\x01" + _s.pack("<I", 1) + _s.pack("<dd", 1.0, 2.0)
    t = bf.BinlogTable(
        "db", "u",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0),
         ("u8", bf.MYSQL_TYPE_TINY, 0),
         ("s8", bf.MYSQL_TYPE_TINY, 0),
         ("u16", bf.MYSQL_TYPE_SHORT, 0),
         ("u24", bf.MYSQL_TYPE_INT24, 0),
         ("u32", bf.MYSQL_TYPE_LONG, 0),
         ("u64", bf.MYSQL_TYPE_LONGLONG, 0),
         ("flags", bf.MYSQL_TYPE_BIT, 12),
         ("geo", bf.MYSQL_TYPE_GEOMETRY, 4)),
        402,
        unsigned=("u8", "u16", "u24", "u32", "u64"),
    )
    tables = {("db", "u"): t}
    row = {"id": 1, "u8": 255, "s8": -128, "u16": 65535, "u24": 16777215,
           "u32": 4294967295, "u64": 18446744073709551615,
           "flags": 0b101010101010, "geo": wkb.hex()}
    data = bf.encode_binlog_file([[(("db", "u"), "insert", None, row)]],
                                 tables, "binlog.000001")
    ins = [e for e in bf.parse_binlog_bytes(data, tables, "b")
           if e["row_type"] == "insert"][0]
    assert ins["after"] == {k: str(v) for k, v in row.items()}
    # signedness travels in the TABLE_MAP bitmap, not the registry the
    # PARSER was handed: decoding against a signed-only registry still
    # yields the unsigned renderings because the bitmap rules
    t_signed = bf.BinlogTable("db", "u", t.cols, 402)
    ins2 = [e for e in bf.parse_binlog_bytes(data, {("db", "u"): t_signed}, "b")
            if e["row_type"] == "insert"][0]
    assert ins2["after"]["u64"] == "18446744073709551615"
    # a writer without unsigned= rejects out-of-range ints instead of
    # silently wrapping
    import pytest as _pt
    with _pt.raises(Exception):
        bf.encode_binlog_file([[(("db", "u"), "insert", None, row)]],
                              {("db", "u"): t_signed}, "binlog.000001")


# -- JSON partial updates (WL#2955 PARTIAL_UPDATE_ROWS_EVENT, event 39)


def _json_table():
    from ape_dts_spark.sources import binlog_file as bf

    return bf.BinlogTable(
        "db", "j",
        (("id", bf.MYSQL_TYPE_LONG, 0), ("doc", bf.MYSQL_TYPE_JSON, 4),
         ("doc2", bf.MYSQL_TYPE_JSON, 4)),
        table_id=91,
    )


def test_partial_update_roundtrip_all_ops():
    """Diff vector wire roundtrip + apply: REPLACE member/array, INSERT
    member/array (with shift), REMOVE; mixed partial + full JSON columns
    in one row; plain and zstd TRANSACTION_PAYLOAD framing."""
    import json

    from ape_dts_spark.sources import binlog_file as bf

    t = _json_table()
    before = {
        "id": 1,
        "doc": '{"cnt":10,"tags":["a","b"],"tmp":1}',
        "doc2": '{"v":1}',
    }
    after = {
        "id": 1,
        "doc": bf.JsonDiffs([
            (bf.DIFF_REPLACE, "$.cnt", 17),
            (bf.DIFF_REMOVE, "$.tmp", None),
            (bf.DIFF_INSERT, "$.new", "xv"),
            (bf.DIFF_INSERT, "$.tags[1]", "m"),   # shifts "b" right
            (bf.DIFF_REPLACE, "$.tags[0]", "z"),
        ]),
        "doc2": '{"v":2}',  # full (non-partial) JSON cell in the same row
    }
    tables = {("db", "j"): t}
    for wrap in (False, "zstd"):
        blob = bf.encode_binlog_file(
            [[(("db", "j"), "partial_update", before, after)]], tables,
            "bin.000001", payload_wrap=wrap,
        )
        rows = [r for r in bf.parse_binlog_bytes(blob, tables) if r["row_type"] == "update"]
        assert len(rows) == 1
        got = rows[0]["after"]
        assert json.loads(got["doc"]) == {
            "cnt": 17, "new": "xv", "tags": ["z", "m", "b"],
        }
        assert got["doc2"] == '{"v":2}'
        assert rows[0]["before"]["doc"] == before["doc"]


def test_partial_update_array_append_and_root():
    from ape_dts_spark.sources import binlog_file as bf

    # array INSERT past the end appends; root REPLACE swaps the document
    assert bf.apply_json_diffs('{"a":[1]}', [(bf.DIFF_INSERT, "$.a[9]", 5)]) == '{"a":[1,5]}'
    assert bf.apply_json_diffs('{"x":1}', [(bf.DIFF_REPLACE, "$", {"y": 2})]) == '{"y":2}'
    # quoted member path
    assert bf.apply_json_diffs('{"a b":1}', [(bf.DIFF_REPLACE, '$."a b"', 2)]) == '{"a b":2}'


def test_partial_update_apply_violations_raise():
    import pytest as _pytest

    from ape_dts_spark.sources import binlog_file as bf

    cases = [
        ('{"a":1}', [(bf.DIFF_REPLACE, "$.b", 2)]),      # replace missing
        ('{"a":1}', [(bf.DIFF_INSERT, "$.a", 2)]),       # insert existing
        ('{"a":1}', [(bf.DIFF_REMOVE, "$.b", None)]),    # remove missing
        ('{"a":[1]}', [(bf.DIFF_REPLACE, "$.a[4]", 2)]),  # replace bad index
        ('{"a":1}', [(bf.DIFF_REPLACE, "$.a.b", 2)]),    # path into scalar
        ('{"a":[1]}', [(bf.DIFF_REPLACE, "$.a.k", 2)]),  # member step on array
        ('{"a":1}', [(bf.DIFF_INSERT, "$", 2)]),         # non-replace at root
    ]
    for doc, diffs in cases:
        with _pytest.raises(ValueError):
            bf.apply_json_diffs(doc, diffs)
    with _pytest.raises(ValueError):
        bf._json_path_tokens("a.b")  # must start with $
    with _pytest.raises(ValueError):
        bf._json_path_tokens("$.")  # empty member


def test_partial_update_diff_wire_vectors():
    """Byte-level wire check: op byte, packed path length, packed value
    length over a json_binary value; REMOVE carries no value."""
    from ape_dts_spark.sources import binlog_file as bf

    blob = bf._enc_json_diffs([(bf.DIFF_REMOVE, "$.k", None)])
    assert blob[0] == 2 and blob[1] == 3 and blob[2:5] == b"$.k" and len(blob) == 5
    diffs = bf._dec_json_diffs(
        bf._enc_json_diffs([
            (bf.DIFF_REPLACE, "$.a", 300),
            (bf.DIFF_INSERT, "$.b[0]", {"q": [1, None, "s"]}),
            (bf.DIFF_REMOVE, "$.c", None),
        ])
    )
    assert diffs == [
        (0, "$.a", 300),
        (1, "$.b[0]", {"q": [1, None, "s"]}),
        (2, "$.c", None),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="diff operation"):
        bf._dec_json_diffs(b"\x07\x01x")
