"""Kafka log-segment file parsing (at rest) + a deterministic writer.

Parses on-disk Kafka partition log segments — the public, documented record
batch format v2 (magic 2; Kafka protocol docs, "Record Batch") — into
(topic, partition, offset, ts, key, value, headers) message rows, which
chain into the existing envelope decoders (sinks/wire_format.decode_events
for JSON envelopes, sinks/avro_codec.decode_events_avro for Avro) exactly
the way the reference's Kafka extractor chains a live consumer into its
avro_converter (dt-connector/src/extractor/kafka/kafka_extractor.rs:38-86:
recv -> avro_value_to_dt_data -> Position::Kafka{topic, partition, offset}).
This completes the at-rest half of the Kafka-source story the way
sources/binlog_file.py does for MySQL binlog and sources/pgoutput_file.py
does for PG logical replication; the live broker socket is out of scope in
this environment.

Wire format parity (per the public spec):
- batch header: baseOffset i64 | batchLength i32 | partitionLeaderEpoch i32
  | magic i8(=2) | crc u32 (CRC32C over everything AFTER the crc field) |
  attributes i16 | lastOffsetDelta i32 | baseTimestamp i64 | maxTimestamp
  i64 | producerId i64 | producerEpoch i16 | baseSequence i32 | recordCount
  i32 | records...  (all big-endian),
- record: length varint | attributes i8 | timestampDelta varlong |
  offsetDelta varint | keyLen varint (-1 = null) | key | valueLen varint |
  value | headerCount varint | [hKeyLen varint | hKey | hValLen varint |
  hVal]...  (all varints ZigZag),
- attributes bits 0-2: compression codec over the records block — 0 none,
  1 gzip, 2 snappy (snappy-java stream framing, as the Java producer
  emits it), 3 lz4 (LZ4 frame), 4 zstd — all through pyarrow's codecs in
  sources/compression.py. Unknown codec values raise an honest error,
- CRC32C (Castagnoli), NOT the zlib CRC32 — table-driven implementation
  below,
- segment file name = 20-digit base offset + ".log"; directory name =
  "<topic>-<partition>" (the broker's on-disk layout).

Scale shape: partitions × segments are the parallelism grid — the shared
file scan runner (``session._scan_files``: ``binaryFile`` over the topic
directory, one Arrow-batched ``mapInPandas`` pass) decodes one whole segment
per task, with batch-level CRC verification. Resume-from-offset
does segment-level pruning on the driver from file NAMES only (the 20-digit
base offset is the index — no data read), then batch/record-level filtering
inside the task: exactly a consumer's seek(offset).
"""

from __future__ import annotations

import re
import struct
from zlib import error as _zlib_error

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _scan_files
from ape_dts_spark.sources.compression import compress, decompress

MESSAGE_SCHEMA = (
    "topic string, partition int, offset long, ts long, "
    "key binary, value binary, headers map<string,binary>"
)

_ATTR_CODEC_MASK = 0x07
_CODEC_NONE = 0
_CODEC_NAMES = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}
_CODEC_IDS = {name: i for i, name in _CODEC_NAMES.items()}

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — table-driven, reflected polynomial 0x82F63B78
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# ZigZag varints (protobuf encoding, as Kafka records use)
# ---------------------------------------------------------------------------


def _zz_enc(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zz_dec(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _w_varint(buf: bytearray, n: int) -> None:
    u = _zz_enc(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _r_varint(b, i: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        byte = b[i]
        i += 1
        u |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return _zz_dec(u), i
        shift += 7


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _encode_record(ts_delta: int, off_delta: int, key: bytes | None,
                   value: bytes | None, headers: dict | None) -> bytes:
    body = bytearray()
    body.append(0)  # record attributes (unused by the spec so far)
    _w_varint(body, ts_delta)
    _w_varint(body, off_delta)
    for blob in (key, value):
        if blob is None:
            _w_varint(body, -1)
        else:
            _w_varint(body, len(blob))
            body += blob
    headers = headers or {}
    _w_varint(body, len(headers))
    for hk, hv in headers.items():
        hkb = hk.encode()
        _w_varint(body, len(hkb))
        body += hkb
        if hv is None:
            _w_varint(body, -1)
        else:
            _w_varint(body, len(hv))
            body += hv
    out = bytearray()
    _w_varint(out, len(body))
    out += body
    return bytes(out)


def encode_batch(
    msgs: list,
    base_offset: int,
    base_ts: int,
    compression: str = "none",
    producer_id: int = -1,
) -> bytes:
    """Encode messages ``(key, value, headers)`` into one record batch.
    Timestamps are base_ts + index (deterministic)."""
    recs = bytearray()
    max_ts = base_ts
    for i, (key, value, headers) in enumerate(msgs):
        recs += _encode_record(i, i, key, value, headers)
        max_ts = base_ts + i
    attrs = _CODEC_NONE
    rec_bytes = bytes(recs)
    if compression != "none":
        rec_bytes = compress(compression, rec_bytes)  # ValueError if unknown
        attrs = _CODEC_IDS[compression]
    after_crc = struct.pack(
        ">hiqqqhii",
        attrs, len(msgs) - 1, base_ts, max_ts,
        producer_id, -1, -1, len(msgs),
    ) + rec_bytes
    crc = crc32c(after_crc)
    body = struct.pack(">bI", 2, crc) + after_crc  # magic=2, crc
    # batchLength = byte count AFTER the batchLength field (leaderEpoch + body)
    return struct.pack(">qii", base_offset, 4 + len(body), -1) + body


def parse_segment_bytes(
    data: bytes,
    topic: str = "",
    partition: int = 0,
    start_offset: int = -1,
    verify_crc: bool = True,
) -> list[dict]:
    """Parse one segment file's record batches into message dicts.

    ``start_offset``: consumer-seek parity — only messages with
    offset > start_offset are emitted; whole batches below it are skipped
    without record decode (the broker's index-driven seek).

    Corruption contract: malformed input (truncated at any byte, any
    flipped byte) raises ``ValueError``/``NotImplementedError`` — never
    struct.error/IndexError — so distributed scans can quarantine bad
    segments uniformly (the RDB/media-codec contract)."""
    try:
        return _parse_segment_records(data, topic, partition, start_offset, verify_crc)
    except (ValueError, NotImplementedError):
        raise
    except (
        AssertionError, struct.error, IndexError, KeyError, OverflowError, MemoryError,
        UnicodeDecodeError, EOFError, OSError, _zlib_error,
    ) as e:
        raise ValueError(f"corrupt kafka segment: {type(e).__name__}: {e}") from e


def _parse_segment_records(
    data: bytes, topic: str, partition: int, start_offset: int, verify_crc: bool
) -> list[dict]:
    rows: list[dict] = []
    i, n = 0, len(data)
    while i < n:
        base_offset, batch_len = struct.unpack_from(">qi", data, i)
        batch_end = i + 12 + batch_len
        if batch_len < 49 or batch_end > n:
            # v2 batch header alone is 49 bytes past the length field; a
            # shorter (or stream-overrunning) length is corruption — and the
            # lower bound also guarantees loop progress
            raise ValueError(f"bad record batch length {batch_len} at {i}")
        _leader_epoch, magic = struct.unpack_from(">ib", data, i + 12)
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        (crc,) = struct.unpack_from(">I", data, i + 17)
        after_crc = data[i + 21 : batch_end]
        if verify_crc and crc32c(after_crc) != crc:
            raise ValueError(f"record batch CRC32C mismatch at offset {base_offset}")
        attrs, last_off_delta, base_ts = struct.unpack_from(">hiq", after_crc, 0)
        (rec_count,) = struct.unpack_from(">i", after_crc, 36)
        if start_offset >= base_offset + last_off_delta:
            i = batch_end  # whole batch at or below the checkpoint
            continue
        codec = attrs & _ATTR_CODEC_MASK
        rec_bytes = after_crc[40:]
        if codec in _CODEC_NAMES:
            rec_bytes = decompress(_CODEC_NAMES[codec], rec_bytes)
        elif codec != _CODEC_NONE:
            raise NotImplementedError(
                f"compression codec {codec} not available in this environment"
            )
        j = 0
        for _ in range(rec_count):
            rec_len, j = _r_varint(rec_bytes, j)
            rec_end = j + rec_len
            j += 1  # record attributes
            ts_delta, j = _r_varint(rec_bytes, j)
            off_delta, j = _r_varint(rec_bytes, j)
            klen, j = _r_varint(rec_bytes, j)
            key = bytes(rec_bytes[j : j + klen]) if klen >= 0 else None
            j += max(klen, 0)
            vlen, j = _r_varint(rec_bytes, j)
            value = bytes(rec_bytes[j : j + vlen]) if vlen >= 0 else None
            j += max(vlen, 0)
            hcount, j = _r_varint(rec_bytes, j)
            headers = {}
            for _h in range(hcount):
                hklen, j = _r_varint(rec_bytes, j)
                hk = rec_bytes[j : j + hklen].decode()
                j += hklen
                hvlen, j = _r_varint(rec_bytes, j)
                headers[hk] = bytes(rec_bytes[j : j + hvlen]) if hvlen >= 0 else None
                j += max(hvlen, 0)
            j = rec_end
            off = base_offset + off_delta
            if off > start_offset:
                rows.append({
                    "topic": topic, "partition": partition, "offset": off,
                    "ts": base_ts + ts_delta, "key": key, "value": value,
                    "headers": headers,
                })
        i = batch_end
    return rows


# ---------------------------------------------------------------------------
# on-disk layout + distributed scan
# ---------------------------------------------------------------------------


def segment_file_name(base_offset: int) -> str:
    return f"{base_offset:020d}.log"


def write_segment_files(
    msgs: list,
    out_dir: str,
    topic: str,
    partition: int = 0,
    per_batch: int = 100,
    per_segment: int = 1000,
    base_ts: int = 1_700_000_000_000,
    compression: str = "none",
) -> list[str]:
    """Write messages ``(key, value, headers)`` as the broker's on-disk
    layout: ``<out_dir>/<topic>-<partition>/<20-digit-base>.log`` segments
    of ``per_segment`` messages, each a chain of ``per_batch``-message
    record batches with continuous offsets."""
    import os

    pdir = os.path.join(out_dir, f"{topic}-{partition}")
    os.makedirs(pdir, exist_ok=True)
    paths = []
    for seg_start in range(0, len(msgs), per_segment):
        seg = msgs[seg_start : seg_start + per_segment]
        buf = bytearray()
        for b_start in range(0, len(seg), per_batch):
            batch = seg[b_start : b_start + per_batch]
            base = seg_start + b_start
            buf += encode_batch(batch, base, base_ts + base, compression=compression)
        p = os.path.join(pdir, segment_file_name(seg_start))
        with open(p, "wb") as f:
            f.write(bytes(buf))
        paths.append(p)
    return paths


def read_kafka_segments(
    spark: SparkSession,
    path: str,
    start_offsets: dict | None = None,
) -> DataFrame:
    """Distributed segment scan: ``binaryFile`` over
    ``<path>/<topic>-<partition>/*.log``; topic/partition come from the
    directory name, the segment's base offset from the file name.

    ``start_offsets``: {(topic, partition): last_consumed_offset} — resume
    parity with Position::Kafka (kafka_extractor.rs:43-52). Pruning is
    two-level: segments whose SUCCESSOR's base offset is <= the checkpoint
    are dropped on the driver from file names alone (the broker's segment
    index), and surviving tasks batch-filter on the offset."""
    start_offsets = start_offsets or {}

    def prune(listing):
        # keep a segment iff its successor's base > checkpoint
        by_part: dict = {}
        for p in listing:
            tp = _topic_partition(p)
            if tp is None:
                continue
            by_part.setdefault(tp, []).append((int(p.rsplit("/", 1)[-1].split(".")[0]), p))
        keep = set()
        for tp, segs in by_part.items():
            segs.sort()
            ck = start_offsets.get(tp, -1)
            for idx, (base, p) in enumerate(segs):
                nxt = segs[idx + 1][0] if idx + 1 < len(segs) else None
                if nxt is not None and ck >= nxt - 1:
                    continue  # fully consumed: every offset here is <= ck
                keep.add(p)
        return keep

    return _scan_files(
        spark, path + "/*/*.log", _segment_decoder(start_offsets), MESSAGE_SCHEMA,
        prune=prune if start_offsets else None,
    )


def _topic_partition(path: str) -> tuple | None:
    """(topic, partition) of a segment from its ``<topic>-<partition>``
    directory name; None when the directory does not have that shape."""
    m = re.match(r"^(.*)-(\d+)$", path.rsplit("/", 2)[-2])
    return (m.group(1), int(m.group(2))) if m else None


def _segment_decoder(start_offsets: dict):
    """The shared whole-segment decode of the batch and streaming scans."""

    def decode(path, content):
        topic, part = _topic_partition(path) or (path.rsplit("/", 2)[-2], 0)
        return parse_segment_bytes(
            content, topic=topic, partition=part,
            start_offset=start_offsets.get((topic, part), -1),
        )

    return decode


def stream_kafka_segments(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming tail of a segment directory tree: the broker
    rolls segments as it writes; each rolled (closed) segment appearing
    under ``<path>/<topic>-<partition>/`` flows through the same decode as
    the batch scan. The stream checkpoint replaces the consumer-group
    offset commit (Position::Kafka, kafka_extractor.rs:43-52) at segment
    granularity."""
    return _scan_files(
        spark, path + "/*/*.log", _segment_decoder({}), MESSAGE_SCHEMA,
        stream=True, max_files_per_trigger=max_files_per_trigger,
    )
