"""Kafka / binlog compression helper (sources/compression.py).

Vectors:
- REAL reference-encoder byte vectors: the ``_VECTORS`` frames below were
  produced by the reference ``zstd`` CLI (v1.5.x) at several levels and
  are embedded verbatim, with their plaintexts rebuilt deterministically
  here; the larger ones live in ``fixtures/zstd_vectors.bin``;
- a CLI-gated property sweep (skipped when no ``zstd`` binary is present)
  re-derives fresh vectors at random levels/shapes and feeds the helper's
  frames back to ``zstd -d``;
- snappy block vectors hand-built from google/snappy
  ``format_description.txt`` (varint preamble + literal/copy tags);
- block-linked LZ4 frames (the liblz4 default) wrapped in Kafka batches;
- corruption of every kind surfaces as ``ValueError``.
"""

from __future__ import annotations

import base64
import os
import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest

from ape_dts_spark.sources import compression as C
from ape_dts_spark.sources import kafka_segment as ks

_ZSTD_CLI = shutil.which("zstd")
_LZ4_CLI = shutil.which("lz4")
_ZSTD_MAGIC = 0xFD2FB528
_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _plain_hello() -> bytes:
    return b"hello world, hello zstd, hello hello hello\n" * 10


def _plain_semi(n: int = 600) -> bytes:
    return b"".join(("row-%d,value=%d;" % (i % 97, (i * i) % 413)).encode() for i in range(n))


def _plain_mixed() -> bytes:
    rng = random.Random(1234)
    return bytes(rng.choice(b"abcdefgh \n") for _ in range(4096))


def _plain_words() -> bytes:
    """Word soup whose CLI frame (level 3) contains a TREELESS literals
    block with Size_Format 0 — the single-stream reuse path a multi-block
    producer (Kafka codec 4, binlog TRANSACTION_PAYLOAD) actually emits."""
    rng = random.Random(3)
    words = [
        bytes(rng.choice(b"etaoinshr") for _ in range(rng.randint(2, 9)))
        for _ in range(50)
    ]
    return b" ".join(rng.choice(words) for _ in range(40000))


# (plaintext function, base64 of the reference-CLI frame, CLI level used)
_VECTORS = {
    "empty_l3": (lambda: b"", "KLUv/SQAAQAAmenYUQ==", "-3"),
    "hello_l1": (
        _plain_hello,
        "KLUv/QRITQEA4GhlbGxvIHdvcmxkLCBoZWxsbyB6c3RoZWxsbwoEAHpOKQD4gqG9KE1pCSsv",
        "-1",
    ),
    "rle_l3": (
        lambda: b"\xabZ" + b"\x00" * 5000,
        "KLUv/QRYVQAAGKtaAAEAhNODIWCjVUg=",
        "-3",
    ),
    "nocheck_l5": (
        lambda: _plain_semi()[:1000],
        "KLUv/QBYvQcAIo0eE7Cn2Jg4MVqSxmpl75QyvfswegIUEAyFwQEgRByFEaiaO9nt9Zvuzu+3"
        "PZF8OXN5ey7N5Tm5t4123dQci413oU3VqXev1K1d35JerUUcvpxO0UgLh3pm7azO4el8VJuU"
        "mbEz2bmodJ7GV3OGOAojIAKCoTA4AIQ4CiN1qHFo3P0zgKMkbhA6pt0G4DG7DZpZfyTn53l7"
        "z/6qXAzNJyYitwlNxiDSWZHdaXZjPbutJ68KwiJhR+Kdxtbi1Jo5j7ntY5pFRy+yQFy1KQyl"
        "XWc8yicOrRqPK9P1gpmsUt3srlUXtGTsGM4SDLxf3QdJCb+vEMPHKg==",
        "-5 --no-check",
    ),
}

# the larger entropy-heavy vectors, kept separate for readability
_VECTORS_LARGE_KEYS = ("semi_l19", "mixed_l9", "treeless_sf0_l3")


def _load_blobs(name: str) -> list[bytes]:
    """A fixture file of [u32 LE length][blob] records."""
    with open(os.path.join(_FIXTURES, name), "rb") as f:
        raw = f.read()
    out = []
    i = 0
    while i < len(raw):
        (ln,) = struct.unpack_from("<I", raw, i)
        out.append(raw[i + 4 : i + 4 + ln])
        i += 4 + ln
    return out


def _load_large_vectors() -> dict[str, bytes]:
    return dict(zip(_VECTORS_LARGE_KEYS, _load_blobs("zstd_vectors.bin")))


# ---------------------------------------------------------------------------
# zstd
# ---------------------------------------------------------------------------


def test_reference_cli_vectors_decode():
    for name, (plain_fn, b64, _lvl) in _VECTORS.items():
        assert C.decompress("zstd", base64.b64decode(b64)) == plain_fn(), name


def test_reference_cli_vectors_large():
    large = _load_large_vectors()
    assert C.decompress("zstd", large["semi_l19"]) == _plain_semi()
    assert C.decompress("zstd", large["mixed_l9"]) == _plain_mixed()
    assert C.decompress("zstd", large["treeless_sf0_l3"]) == _plain_words()


def test_treeless_single_stream_vector_shape():
    """Prove the treeless_sf0_l3 vector really contains a Treeless literals
    block with Size_Format 0 (single stream, RFC 8878 §3.1.1.3.1.1), so that
    path stays exercised even if the fixture is ever regenerated."""
    frame = _load_large_vectors()["treeless_sf0_l3"]
    i = 4  # magic
    fhd = frame[i]
    i += 1
    if not (fhd & 0x20):
        i += 1  # window descriptor
    i += (0, 1, 2, 4)[fhd & 3]
    fcs_flag = fhd >> 6
    i += (1 if (fhd & 0x20) else 0, 2, 4, 8)[fcs_flag]
    shapes = []
    while True:
        bh = int.from_bytes(frame[i : i + 3], "little")
        i += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 2:
            h0 = frame[i]
            shapes.append((h0 & 3, (h0 >> 2) & 3))  # (lit_type, size_format)
            i += bsize
        else:
            shapes.append((None, None))
            i += 1 if btype == 1 else bsize
        if last:
            break
    assert (3, 0) in shapes, shapes  # Treeless, Size_Format 00


def test_writer_roundtrip_and_frame_shape():
    for data in (b"", b"a", b"\x00" * 300000, _plain_semi(), bytes(range(256)) * 600):
        frame = C.compress("zstd", data)
        assert struct.unpack_from("<I", frame, 0)[0] == _ZSTD_MAGIC
        assert C.decompress("zstd", frame) == data


def test_multi_frame_and_skippable():
    f1 = C.compress("zstd", b"frame one ")
    skip = struct.pack("<II", 0x184D2A50, 9) + b"skippable"
    f2 = C.compress("zstd", b"frame two")
    assert C.decompress("zstd", f1 + skip + f2) == b"frame one frame two"


def test_error_cases():
    good = C.compress("zstd", b"payload payload payload")
    checked = bytearray(base64.b64decode(_VECTORS["hello_l1"][1]))
    checked[-1] ^= 0x55  # content checksum mismatch
    reserved = bytearray(good)
    reserved[4] |= 0x08  # reserved frame-header bit
    # dictionary frames are refused, not mis-decoded: dict-ID flag 1, ID 7
    dict_hdr = struct.pack("<I", _ZSTD_MAGIC) + bytes([0x01 | 0x20]) + b"\x07"
    for bad in (
        b"\x00\x00\x00\x00rest",  # bad magic
        b"\x28\xb5",  # truncated magic
        good[: len(good) // 2],  # truncated frame
        bytes(checked),
        bytes(reserved),
        dict_hdr + b"\x00" * 8,
    ):
        with pytest.raises(ValueError):
            C.decompress("zstd", bad)


def test_frame_content_size_is_checked():
    frame = bytearray(C.compress("zstd", b"12345678"))
    assert frame[4] == 0x20  # single segment: one FCS byte follows the descriptor
    frame[5] = 9  # lie about the content size
    with pytest.raises(ValueError):
        C.decompress("zstd", bytes(frame))


def test_dictionary_error_paths():
    """Dictionary frames (``zstd --train`` + ``zstd -D``, with and without a
    Dictionary_ID) never reach a MySQL or Kafka decoder, so no dictionary is
    ever supplied: both fixture frames are rejected, not mis-decoded."""
    _dictblob, c19, cnoid = _load_blobs("zstd_dict_vectors.bin")
    for frame in (c19, cnoid):
        with pytest.raises(ValueError):
            C.decompress("zstd", frame)


@pytest.mark.skipif(_ZSTD_CLI is None, reason="no reference zstd CLI in PATH")
def test_property_sweep_against_reference_cli():
    rng = random.Random(20260815)
    for t in range(25):
        kind = t % 4
        sz = rng.randrange(0, 120000)
        if kind == 0:
            d = bytes(rng.randrange(256) for _ in range(min(sz, 20000)))
        elif kind == 1:
            d = bytes(rng.choice(b"abcdefgh \n") for _ in range(sz))
        elif kind == 2:
            d = b"".join(("%d:%s;" % (i, "v" * rng.randrange(1, 20))).encode() for i in range(sz // 100))
        else:
            d = (b"pattern" * 1000 + bytes([rng.randrange(256)]))[: sz or 1]
        lvl = rng.choice(["-1", "-3", "-7", "-12", "-19"])
        comp = subprocess.run([_ZSTD_CLI, lvl, "-c"], input=d, capture_output=True).stdout
        assert C.decompress("zstd", comp) == d, (t, kind, sz, lvl)
        # and the reference decoder accepts the helper's frames
        mine = C.compress("zstd", d)
        p = subprocess.run([_ZSTD_CLI, "-d", "-c"], input=mine, capture_output=True)
        assert p.returncode == 0 and p.stdout == d, (t, "writer")


# ---------------------------------------------------------------------------
# snappy
# ---------------------------------------------------------------------------


def test_snappy_hand_vector_literal_plus_copy1():
    # varint(12) | literal len3 "abc" | copy1 len=9 off=3 (overlapping copy)
    assert C.decompress("snappy", b"\x0c\x08abc\x15\x03") == b"abcabcabcabc"


def test_snappy_copy2_and_copy4_decode():
    # literal "abcd", then copy2 (tag&3==2) len=4 off=4, then copy4 len=4 off=4
    blob = b"\x0c" + b"\x0cabcd" + bytes([((4 - 1) << 2) | 2]) + struct.pack("<H", 4)
    blob += bytes([((4 - 1) << 2) | 3]) + struct.pack("<I", 4)
    assert C.decompress("snappy", blob) == b"abcdabcdabcd"


def test_snappy_long_literal_length_bytes():
    rng = random.Random(1)
    data = bytes(rng.randrange(256) for _ in range(100))
    # 100 > 60: tag 60 says the literal length-1 follows in one extra byte
    blob = b"\x64" + bytes([60 << 2, 99]) + data
    assert C.decompress("snappy", blob) == data


def test_snappy_length_mismatch_detected():
    with pytest.raises(ValueError):
        C.decompress("snappy", b"\x05\x08abc")  # preamble says 5, literal is 3


def test_snappy_bad_offset_detected():
    with pytest.raises(ValueError):
        C.decompress("snappy", b"\x08\x01\x09")  # copy1 before any output


def test_snappy_java_framing_shape():
    data = bytes(range(256)) * 300  # crosses the 32 KB block boundary
    framed = C.compress("snappy", data)
    assert framed.startswith(b"\x82SNAPPY\x00")
    assert struct.unpack_from(">ii", framed, 8) == (1, 1)
    (blen,) = struct.unpack_from(">i", framed, 16)
    assert C.decompress("snappy", framed[20 : 20 + blen]) == data[: 32 * 1024]
    assert C.decompress("snappy", framed) == data
    # raw-block fallback (older clients): no magic -> bare block decode
    raw = pa.compress(b"hello", codec="snappy", asbytes=True)
    assert C.decompress("snappy", raw) == b"hello"


def test_snappy_preamble_guard():
    """A snappy block is decoded at its own preamble length only, and a
    preamble no copy tag could reach (>32x the block) fails before any
    allocation — a too-large output size would otherwise come back padded
    with uninitialised bytes."""
    with pytest.raises(ValueError, match="too large"):
        C.decompress("snappy", b"\xff\xff\xff\xff\x0f" + b"\x00abc")
    with pytest.raises(ValueError):
        C.decompress("snappy", b"\x0d\x08abc\x15\x03")  # preamble 13, output 12
    for bad in (b"", b"\x80\x80\x80\x80\x80\x00"):  # empty / unterminated varint
        with pytest.raises(ValueError, match="preamble"):
            C.decompress("snappy", bad)

    # the same guard inside a Kafka batch whose CRC is not verified: widen
    # the first block's varint preamble to its maximum at the same width
    msgs = [(b"k%d" % i, b"x" * 200, None) for i in range(10)]
    seg = bytearray(ks.encode_batch(msgs, 0, 0, compression="snappy"))
    rec = 61 + 16  # records block, then snappy-java magic + version ints
    (blen,) = struct.unpack_from(">i", seg, rec)
    pre = rec + 4
    width = next(k for k in range(5) if not seg[pre + k] & 0x80) + 1
    seg[pre : pre + width] = b"\xff" * (width - 1) + b"\x7f"
    assert (1 << 7 * width) - 1 > 32 * blen
    with pytest.raises(ValueError, match="too large"):
        ks.parse_segment_bytes(bytes(seg), verify_crc=False)


# ---------------------------------------------------------------------------
# LZ4 frames
# ---------------------------------------------------------------------------


def test_lz4_frame_shape_and_checksums():
    data = b"The quick brown fox jumps over the lazy dog. " * 200
    framed = C.compress("lz4", data)
    assert struct.unpack_from("<I", framed, 0)[0] == 0x184D2204
    assert framed[4] >> 6 == 1  # frame version 01
    assert C.decompress("lz4", framed) == data
    # header-checksum corruption is detected
    bad = bytearray(framed)
    bad[6] ^= 0xFF
    with pytest.raises(ValueError):
        C.decompress("lz4", bytes(bad))


def test_lz4_frame_incompressible_stores_raw():
    rng = random.Random(9)
    data = bytes(rng.randrange(256) for _ in range(5000))
    framed = C.compress("lz4", data)
    assert not framed[4] & 0x08  # no content-size field: block 1 starts at 7
    (bsize,) = struct.unpack_from("<I", framed, 7)
    assert bsize & 0x80000000  # stored-uncompressed flag
    assert C.decompress("lz4", framed) == data


def test_lz4_frame_dictid_rejected_explicitly():
    fr = bytearray(C.compress("lz4", b"payload " * 40))
    fr[4] |= 0x01  # FLG DictID bit
    with pytest.raises(ValueError):
        C.decompress("lz4", bytes(fr))


def _linked_payload_msgs() -> list:
    """~180 KB of records whose 3,000-byte value repeats across the 64 KB
    block boundaries, so later blocks match into earlier ones."""
    rng = random.Random(5)
    chunk = bytes(rng.randrange(256) for _ in range(3000))
    return [(b"k%d" % i, chunk, None) for i in range(60)]


def _cli_linked_frame(data: bytes) -> bytes:
    # lz4 1.9.4 keeps -BD (block dependency) only alongside an explicit
    # block size; -B4 = 64 KB blocks
    return subprocess.run(
        [_LZ4_CLI, "-B4", "-BD", "-c"], input=data, capture_output=True, check=True
    ).stdout


@pytest.mark.parametrize("writer", ["arrow", "lz4_cli"])
def test_lz4_block_linked_frame(writer, monkeypatch):
    """Block-linked LZ4 frames (FLG bit 5 = 0), the default of liblz4 and
    Arrow, decode inside a Kafka batch: matches may reach back into the
    previous block."""
    if writer == "lz4_cli" and _LZ4_CLI is None:
        pytest.skip("no lz4 CLI in PATH")
    write = _cli_linked_frame if writer == "lz4_cli" else (lambda d: C.compress("lz4", d))
    frames = []

    def compress(_codec, data):
        frames.append(write(data))
        return frames[-1]

    monkeypatch.setattr(ks, "compress", compress)
    msgs = _linked_payload_msgs()
    seg = ks.encode_batch(msgs, 0, 0, compression="lz4")
    (frame,) = frames
    assert frame[4] & 0x20 == 0  # block-linked
    assert len(seg) < 60 * 3000 // 4  # matches crossed the blocks
    rows = ks.parse_segment_bytes(seg, topic="t")
    assert [(r["key"], r["value"]) for r in rows] == [(k, v) for k, v, _ in msgs]


# ---------------------------------------------------------------------------
# all codecs, through the helper and through Kafka batches
# ---------------------------------------------------------------------------


def test_roundtrips_random_and_repetitive():
    rng = random.Random(42)
    for _ in range(60):
        n = rng.randrange(0, 3000)
        data = bytes(rng.randrange(256) for _ in range(n))
        if rng.random() < 0.5 and n:
            data = (data[: max(1, n // 40)] * 50)[:n]
        for codec in C.CODECS:
            assert C.decompress(codec, C.compress(codec, data)) == data, codec


def test_unknown_codec_name_rejected():
    for fn in (C.compress, C.decompress):
        with pytest.raises(ValueError, match="unsupported compression"):
            fn("brotli", b"x")


def test_kafka_batch_snappy_and_lz4():
    msgs = [(f"k{i}".encode(), (f"v{i}" * 30).encode(), {"h": b"x"}) for i in range(40)]
    for comp in ("snappy", "lz4"):
        seg = ks.encode_batch(msgs, base_offset=500, base_ts=9_000, compression=comp)
        rows = ks.parse_segment_bytes(seg, topic="t", partition=3)
        assert len(rows) == 40
        assert rows[11]["offset"] == 511
        assert rows[11]["value"] == b"v11" * 30
        assert rows[11]["headers"] == {"h": b"x"}
        # compression actually engaged (repetitive values shrink)
        assert len(seg) < len(ks.encode_batch(msgs, 500, 9_000))


def test_kafka_zstd_roundtrip():
    msgs = [(b"k%d" % i, b"value-%d" % i, None) for i in range(30)]
    data = ks.encode_batch(msgs, 0, 0, compression="zstd")
    rows = ks.parse_segment_bytes(data, topic="t")
    assert [(r["key"], r["value"]) for r in rows] == [(k, v) for k, v, _ in msgs]
