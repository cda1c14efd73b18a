"""Kafka log-segment parsing (sources/kafka_segment.py).

Reference parity: dt-connector/src/extractor/kafka/kafka_extractor.rs:38-86
(consume -> decode payload -> Position::Kafka{topic, partition, offset});
wire format per the public Kafka record-batch v2 spec.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.sources import kafka_segment as ks


def _msgs(n, start=0):
    return [(f"k{i}".encode(), f"v{i}".encode(), None) for i in range(start, start + n)]


def test_crc32c_known_answer():
    # RFC 3720 test vector
    assert ks.crc32c(b"123456789") == 0xE3069283
    assert ks.crc32c(b"") == 0


def test_varint_zigzag_roundtrip():
    for n in (0, 1, -1, 63, -64, 64, 127, 128, 300, -300, 1 << 40, -(1 << 40)):
        buf = bytearray()
        ks._w_varint(buf, n)
        got, i = ks._r_varint(bytes(buf), 0)
        assert got == n and i == len(buf)


def test_batch_roundtrip_nulls_headers_gzip():
    msgs = _msgs(100)
    msgs[7] = (None, None, None)
    msgs[9] = (b"k9", b"v9", {"origin": b"node_a", "none": None})
    for comp in ("none", "gzip"):
        rows = ks.parse_segment_bytes(
            ks.encode_batch(msgs, 1000, 5000, compression=comp), "t", 3
        )
        assert len(rows) == 100
        assert rows[0]["offset"] == 1000 and rows[99]["offset"] == 1099
        assert rows[7]["key"] is None and rows[7]["value"] is None
        assert rows[9]["headers"] == {"origin": b"node_a", "none": None}
        assert rows[42]["ts"] == 5042 and rows[42]["partition"] == 3


def test_crc_corruption_detected():
    data = bytearray(ks.encode_batch(_msgs(10), 0, 0))
    data[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        ks.parse_segment_bytes(bytes(data))


def test_unsupported_codec_honest():
    data = bytearray(ks.encode_batch(_msgs(2), 0, 0))
    # flip attributes to codec 5 (beyond any defined codec) and re-CRC so
    # only the codec differs
    import struct

    after = bytearray(data[21:])
    attrs = (struct.unpack_from(">h", after, 0)[0] & ~0x07) | 5
    struct.pack_into(">h", after, 0, attrs)
    struct.pack_into(">I", data, 17, ks.crc32c(bytes(after)))
    data[21:] = after
    with pytest.raises(NotImplementedError, match="codec 5"):
        ks.parse_segment_bytes(bytes(data))


def test_resume_skips_whole_batches():
    multi = ks.encode_batch(_msgs(100), 0, 0) + ks.encode_batch(_msgs(100, 100), 100, 100)
    got = [r["offset"] for r in ks.parse_segment_bytes(multi, start_offset=149)]
    assert got == list(range(150, 200))
    assert ks.parse_segment_bytes(multi, start_offset=199) == []


def test_distributed_scan_layout_and_resume(spark, tmp_path):
    """Broker on-disk layout (<topic>-<partition>/<base>.log) scans into
    (topic, partition, offset) rows; Position::Kafka resume prunes fully
    consumed segments by file NAME and offset-filters the survivor."""
    out = str(tmp_path / "kafka")
    ks.write_segment_files(_msgs(250), out, "orders", 0, per_batch=50, per_segment=100)
    ks.write_segment_files(_msgs(40), out, "orders", 1, per_batch=20, per_segment=100)
    names = sorted(os.listdir(os.path.join(out, "orders-0")))
    assert names == [
        "00000000000000000000.log", "00000000000000000100.log",
        "00000000000000000200.log",
    ]
    df = ks.read_kafka_segments(spark, out)
    assert df.count() == 290
    per_part = {
        (r["topic"], r["partition"]): r["n"]
        for r in df.groupBy("topic", "partition").agg(F.count("*").alias("n")).collect()
    }
    assert per_part == {("orders", 0): 250, ("orders", 1): 40}
    # resume: partition 0 consumed through offset 149, partition 1 fully
    resumed = ks.read_kafka_segments(
        spark, out, start_offsets={("orders", 0): 149, ("orders", 1): 39}
    )
    rows = resumed.collect()
    assert all(r["partition"] == 0 and r["offset"] >= 150 for r in rows)
    assert len(rows) == 100
    vals = {r["offset"]: bytes(r["value"]) for r in rows}
    assert vals[200] == b"v200"


def test_resume_lists_segments_without_a_job(spark, tmp_path, spark_jobs):
    """The resume's name-only pruning reads the file index, not the files:
    building the resumed relation starts no Spark job, and it keeps the
    segments the full scan's offset filter would, also under a directory
    whose name a file URI escapes."""
    out = str(tmp_path / "seg dir")
    ks.write_segment_files(_msgs(250), out, "orders", 0, per_batch=50, per_segment=100)
    ck = {("orders", 0): 149}
    with spark_jobs() as jobs:
        resumed = ks.read_kafka_segments(spark, out, start_offsets=ck)
    assert jobs.n == 0
    got = sorted((r["offset"], bytes(r["value"])) for r in resumed.collect())
    full = ks.read_kafka_segments(spark, out).filter(F.col("offset") > 149)
    assert got == sorted((r["offset"], bytes(r["value"])) for r in full.collect())
    assert [o for o, _ in got] == list(range(150, 250))
    assert resumed.select(F.input_file_name()).distinct().count() == 2


def test_chains_into_envelope_decode(spark, tmp_path):
    """Segment value bytes -> wire_format.decode_events reproduces typed
    change rows: the at-rest transport chains into the same envelope path
    the reference's consumer feeds its avro_converter through
    (kafka_extractor.rs:67-86)."""
    import json

    from ape_dts_spark.sinks.wire_format import decode_events

    payload = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.StringType()),
    ])
    msgs = []
    for i in range(30):
        env = {"schema": "db", "tb": "t", "operation": "insert",
               "before": None, "after": {"id": i, "v": f"x{i}"}, "seq": i}
        msgs.append((b"db.t", json.dumps(env).encode(), None))
    out = str(tmp_path / "kafka")
    ks.write_segment_files(msgs, out, "cdc", 0, per_batch=7, per_segment=20)
    raw = ks.read_kafka_segments(spark, out).withColumn(
        "value", F.col("value").cast("string")
    )
    decoded = decode_events(raw, payload)
    got = sorted((r["after"]["id"], r["after"]["v"]) for r in decoded.collect())
    assert got == [(i, f"x{i}") for i in range(30)]


def test_streaming_tail_of_segment_tree(spark, tmp_path):
    """stream_kafka_segments: rolled segments appearing under the topic
    tree drain through the stream checkpoint without re-consuming."""
    out = str(tmp_path / "kafka")
    ckpt = str(tmp_path / "ckpt")
    ks.write_segment_files(_msgs(30), out, "t", 0, per_batch=10, per_segment=30)
    seen = []

    def run():
        q = (
            ks.stream_kafka_segments(spark, out)
            .writeStream.foreachBatch(
                lambda b, _id: seen.extend(r["offset"] for r in b.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert sorted(seen) == list(range(30))
    # the broker rolls a new segment
    import os as _os

    with open(_os.path.join(out, "t-0", ks.segment_file_name(30)), "wb") as f:
        f.write(ks.encode_batch(_msgs(5, 30), 30, 999))
    run()
    assert sorted(seen) == list(range(35))
