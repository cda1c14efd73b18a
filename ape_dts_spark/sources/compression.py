"""Kafka record-batch and MySQL binlog compression through pyarrow's codecs.

One helper owns the codec decision for ``kafka_segment.py`` (record-batch
attribute codecs gzip/snappy/lz4/zstd) and ``binlog_file.py`` (zstd
TRANSACTION_PAYLOAD, MySQL 8.0.20+ binlog_transaction_compression). The
reference links the native codec libraries; pyarrow ships the same ones.

- zstd and lz4 are whole frames (multi-frame and skippable zstd streams
  included), decoded with Arrow's streaming decompressor.
- snappy is the snappy-java stream framing the Java Kafka producer writes
  (xerial ``SnappyOutputStream``: magic, two version ints, then
  [4-byte BE length][raw snappy block] chunks). Input without the magic is
  one bare block, as older clients wrote it.
- gzip stays on the standard library.

Every decode failure surfaces as ``ValueError``, the at-rest sources'
quarantine contract.
"""

from __future__ import annotations

import gzip
import struct
import zlib

import pyarrow as pa

CODECS = ("gzip", "snappy", "lz4", "zstd")

_SNAPPY_JAVA_MAGIC = b"\x82SNAPPY\x00"
_SNAPPY_JAVA_BLOCK = 32 * 1024
# a snappy copy tag expands 3 bytes into at most 64 (~21x); a preamble past
# this ratio is corrupt and must not size an allocation
_SNAPPY_MAX_RATIO = 32


def compress(codec: str, data: bytes) -> bytes:
    _check(codec)
    if codec == "gzip":
        return gzip.compress(data, mtime=0)
    if codec != "snappy":
        return pa.compress(data, codec=codec, asbytes=True)
    out = bytearray(_SNAPPY_JAVA_MAGIC + struct.pack(">ii", 1, 1))
    for i in range(0, len(data), _SNAPPY_JAVA_BLOCK):
        block = pa.compress(data[i : i + _SNAPPY_JAVA_BLOCK], codec="snappy", asbytes=True)
        out += struct.pack(">i", len(block)) + block
    return bytes(out)


def decompress(codec: str, data: bytes) -> bytes:
    _check(codec)
    try:
        if codec == "gzip":
            return gzip.decompress(data)
        if codec == "snappy":
            return _snappy_java_unframe(data)
        return pa.input_stream(pa.BufferReader(data), compression=codec).read()
    except (OSError, EOFError, struct.error, zlib.error, pa.ArrowException) as e:
        raise ValueError(f"corrupt {codec} data: {e}") from e


def _check(codec: str) -> None:
    if codec not in CODECS:
        raise ValueError(f"unsupported compression {codec!r}")


def _snappy_java_unframe(data: bytes) -> bytes:
    if not data.startswith(_SNAPPY_JAVA_MAGIC):
        return _snappy_block(data)
    out = bytearray()
    i = len(_SNAPPY_JAVA_MAGIC) + 8  # skip the two version ints
    while i < len(data):
        (blen,) = struct.unpack_from(">i", data, i)
        i += 4
        if not 0 <= blen <= len(data) - i:
            raise ValueError(f"bad snappy-java chunk length {blen}")
        out += _snappy_block(data[i : i + blen])
        i += blen
    return bytes(out)


def _snappy_block(block: bytes) -> bytes:
    # the block's own varint preamble is the only safe output size: a larger
    # one makes Arrow return uninitialised bytes past the real output
    size = shift = 0
    for b in block[:5]:
        size |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    else:
        raise ValueError("bad snappy length preamble")
    if size > _SNAPPY_MAX_RATIO * len(block):
        raise ValueError(f"snappy preamble {size} too large for a {len(block)}-byte block")
    return pa.decompress(block, decompressed_size=size, codec="snappy", asbytes=True)
