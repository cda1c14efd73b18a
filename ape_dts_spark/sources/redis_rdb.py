"""Redis RDB dump parsing (at rest) + a deterministic writer.

Parses the binary RDB file format into the same typed entry rows the
RESP/AOF command path produces (sources/redis.py commands_to_entries ->
compact_entries): ``(db_id, key, entry_type, member, value, ord,
expire_ms)`` — completing the snapshot story next to the command-stream
path. The writer emits spec-conformant dumps (used as the fixture generator
for the gate and as a dump sink), exercising the compact encodings: int
strings, ziplist hashes, listpack/quicklist2 lists, ascii-score zsets,
intsets.

Scale shape: an RDB file is one node's serialized keyspace — an inherently
sequential byte stream — so the unit of parallelism is the FILE: one dump
per shard/node at scale, read by the shared file scan runner
(``session._scan_files``: ``binaryFile``, one Arrow-batched ``mapInPandas``
pass) with this module's decode (each task parses whole files; no
driver-side byte handling).

Reference parity: dt-connector/src/extractor/redis/redis_psync_extractor.rs
streams this same format over PSYNC; the object decoders mirror
dt-connector/src/extractor/redis/rdb/** (ziplist/listpack/intset/quicklist
readers). Wire format per the public RDB specification.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _scan_files

RDB_HEADER = b"REDIS0011"

# value-type ids (public RDB spec)
T_STRING = 0
T_LIST = 1
T_SET = 2
T_ZSET = 3
T_HASH = 4
T_MODULE = 6  # module v1: no length prefix, undecodable without the module
T_MODULE_2 = 7  # module v2: self-describing opcode stream -> skippable
T_HASH_ZIPMAP = 9
T_LIST_ZIPLIST = 10
T_SET_INTSET = 11
T_ZSET_ZIPLIST = 12
T_HASH_ZIPLIST = 13
T_LIST_QUICKLIST = 14
T_STREAM_LISTPACKS = 15
T_HASH_LISTPACK = 16
T_ZSET_LISTPACK = 17
T_LIST_QUICKLIST2 = 18
T_STREAM_LISTPACKS_2 = 19
T_SET_LISTPACK = 20
T_STREAM_LISTPACKS_3 = 21
# Redis 7.4 hash-field-TTL formats (beyond the reference, whose decoder
# stops at type 21 — a real 7.4 dump using HEXPIRE fails to migrate there):
T_HASH_METADATA_PRE_GA = 22  # absolute per-field TTLs, no minExpire prefix
T_HASH_LISTPACK_EX_PRE_GA = 23
T_HASH_METADATA = 24  # minExpire + delta-encoded per-field TTLs
T_HASH_LISTPACK_EX = 25  # minExpire + (field, value, ttl) listpack triples

OP_SLOT_INFO = 0xF4  # Redis 7.4+ cluster slot hint: 3 lengths, skipped
OP_MODULE_AUX = 0xF7  # module aux payload: opcode-walk skip (no key attached)
OP_IDLE = 0xF8  # LRU idle hint: length-encoded, skipped
OP_FREQ = 0xF9  # LFU frequency hint: 1 byte, skipped
OP_AUX = 0xFA
OP_RESIZEDB = 0xFB
OP_EXPIRETIME_MS = 0xFC
OP_EXPIRETIME = 0xFD
OP_SELECTDB = 0xFE
OP_EOF = 0xFF

ENTRY_SCHEMA = (
    "db_id long, key string, entry_type string, member string, value string, "
    "ord long, expire_ms long"
)


# ---------------------------------------------------------------------------
# primitive decoders
# ---------------------------------------------------------------------------


def _read_len(b: bytes, i: int) -> tuple[int, bool, int]:
    """Length encoding -> (value, is_special, next_i). Special = the 2 MSBs
    are 11: value is then the special-string-encoding id (int8/16/32/LZF)."""
    first = b[i]
    kind = first >> 6
    if kind == 0:
        return first & 0x3F, False, i + 1
    if kind == 1:
        return ((first & 0x3F) << 8) | b[i + 1], False, i + 2
    if first == 0x80:
        return struct.unpack_from(">I", b, i + 1)[0], False, i + 5
    if first == 0x81:
        return struct.unpack_from(">Q", b, i + 1)[0], False, i + 9
    if kind == 2:  # 0x82-0xBF: reserved — fail at the corruption point
        raise ValueError(f"unknown RDB length encoding byte 0x{first:02x}")
    return first & 0x3F, True, i + 1


def _lzf_decompress(data: bytes, expected: int) -> bytes:
    """LZF block decode (the only compression RDB string encoding uses)."""
    out = bytearray()
    i = 0
    while i < len(data):
        ctrl = data[i]
        i += 1
        if ctrl < 32:  # literal run of ctrl+1 bytes
            out += data[i : i + ctrl + 1]
            i += ctrl + 1
        else:  # back-reference
            length = ctrl >> 5
            if length == 7:
                length += data[i]
                i += 1
            ref = len(out) - ((ctrl & 0x1F) << 8) - data[i] - 1
            i += 1
            for _ in range(length + 2):
                out.append(out[ref])
                ref += 1
    if len(out) != expected:
        raise ValueError(f"LZF length mismatch: {len(out)} != {expected}")
    return bytes(out)


def _read_string(b: bytes, i: int) -> tuple[bytes, int]:
    n, special, i = _read_len(b, i)
    if not special:
        return b[i : i + n], i + n
    if n == 0:  # int8
        return str(struct.unpack_from("<b", b, i)[0]).encode(), i + 1
    if n == 1:  # int16
        return str(struct.unpack_from("<h", b, i)[0]).encode(), i + 2
    if n == 2:  # int32
        return str(struct.unpack_from("<i", b, i)[0]).encode(), i + 4
    if n == 3:  # LZF-compressed
        clen, _, i = _read_len(b, i)
        ulen, _, i = _read_len(b, i)
        return _lzf_decompress(b[i : i + clen], ulen), i + clen
    raise ValueError(f"unknown string special encoding {n}")


def _parse_ziplist(b: bytes) -> list[bytes]:
    """ziplist payload -> entries (each bytes). Layout: zlbytes(4LE)
    zltail(4LE) zllen(2LE) entries... 0xFF; entry = prevlen(1|5) enc data."""
    out: list[bytes] = []
    i = 10
    while i < len(b) and b[i] != 0xFF:
        i += 5 if b[i] == 0xFE else 1  # prevlen
        enc = b[i]
        top = enc >> 6
        if top == 0:
            n = enc & 0x3F
            out.append(b[i + 1 : i + 1 + n])
            i += 1 + n
        elif top == 1:
            n = ((enc & 0x3F) << 8) | b[i + 1]
            out.append(b[i + 2 : i + 2 + n])
            i += 2 + n
        elif top == 2:
            n = struct.unpack_from(">I", b, i + 1)[0]
            out.append(b[i + 5 : i + 5 + n])
            i += 5 + n
        elif enc == 0xC0:
            out.append(str(struct.unpack_from("<h", b, i + 1)[0]).encode())
            i += 3
        elif enc == 0xD0:
            out.append(str(struct.unpack_from("<i", b, i + 1)[0]).encode())
            i += 5
        elif enc == 0xE0:
            out.append(str(struct.unpack_from("<q", b, i + 1)[0]).encode())
            i += 9
        elif enc == 0xF0:  # int24 LE
            v = int.from_bytes(b[i + 1 : i + 4], "little", signed=True)
            out.append(str(v).encode())
            i += 4
        elif enc == 0xFE:  # int8
            out.append(str(struct.unpack_from("<b", b, i + 1)[0]).encode())
            i += 2
        elif 0xF1 <= enc <= 0xFD:  # immediate 0..12
            out.append(str((enc & 0x0F) - 1).encode())
            i += 1
        else:
            raise ValueError(f"bad ziplist encoding {enc:#x}")
    return out


def _lp_backlen_size(entry_len: int) -> int:
    for size, limit in ((1, 1 << 7), (2, 1 << 14), (3, 1 << 21), (4, 1 << 28)):
        if entry_len < limit:
            return size
    return 5


def _lp_backlen_bytes(used: int) -> bytes:
    """lpEncodeBacklen: 7-bit chunks, MSB chunk first (no flag), lower
    chunks carry the continuation bit — read right-to-left by Redis."""
    chunks = [used & 127]
    used >>= 7
    while used:
        chunks.append(used & 127)
        used >>= 7
    return bytes([chunks[-1], *[c | 128 for c in reversed(chunks[:-1])]])


def _parse_listpack(b: bytes) -> list[bytes]:
    """listpack payload -> entries. Layout: total(4LE) count(2LE) entries...
    0xFF; each entry is followed by its back-length bytes."""
    out: list[bytes] = []
    i = 6
    while i < len(b) and b[i] != 0xFF:
        e = b[i]
        if e < 0x80:  # 7-bit uint
            out.append(str(e).encode())
            used = 1
        elif e >> 6 == 0b10:  # 6-bit string length
            n = e & 0x3F
            out.append(b[i + 1 : i + 1 + n])
            used = 1 + n
        elif e >> 5 == 0b110:  # 13-bit signed int
            v = ((e & 0x1F) << 8) | b[i + 1]
            if v >= 1 << 12:
                v -= 1 << 13
            out.append(str(v).encode())
            used = 2
        elif e >> 4 == 0b1110:  # 12-bit string length
            n = ((e & 0x0F) << 8) | b[i + 1]
            out.append(b[i + 2 : i + 2 + n])
            used = 2 + n
        elif e == 0xF0:  # 32-bit string length
            n = struct.unpack_from("<I", b, i + 1)[0]
            out.append(b[i + 5 : i + 5 + n])
            used = 5 + n
        elif e == 0xF1:
            out.append(str(struct.unpack_from("<h", b, i + 1)[0]).encode())
            used = 3
        elif e == 0xF2:
            v = int.from_bytes(b[i + 1 : i + 4], "little", signed=True)
            out.append(str(v).encode())
            used = 4
        elif e == 0xF3:
            out.append(str(struct.unpack_from("<i", b, i + 1)[0]).encode())
            used = 5
        elif e == 0xF4:
            out.append(str(struct.unpack_from("<q", b, i + 1)[0]).encode())
            used = 9
        else:
            raise ValueError(f"bad listpack encoding {e:#x}")
        i += used + _lp_backlen_size(used)
    return out


def _parse_intset(b: bytes) -> list[bytes]:
    enc, n = struct.unpack_from("<II", b, 0)
    fmt = {2: "<h", 4: "<i", 8: "<q"}[enc]
    return [
        str(struct.unpack_from(fmt, b, 8 + k * enc)[0]).encode() for k in range(n)
    ]


def _read_ascii_double(b: bytes, i: int) -> tuple[str, int]:
    """ZSET (type 3) score: 1-byte length + ascii, with inf/nan specials."""
    n = b[i]
    if n == 255:
        return "-inf", i + 1
    if n == 254:
        return "inf", i + 1
    if n == 253:
        return "nan", i + 1
    return b[i + 1 : i + 1 + n].decode(), i + 1 + n


_MODULE_NAME_CHARSET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
)


def _module_name(module_id: int) -> str:
    """Module type-id -> 9-char name: the top 54 bits hold nine 6-bit chars
    (low 10 bits are the encoding version), most-significant char first
    (module2_parser.rs:35-45 / Redis moduleTypeNameByID)."""
    chars = []
    mid = module_id >> 10
    for _ in range(9):
        chars.append(_MODULE_NAME_CHARSET[mid & 63])
        mid >>= 6
    return "".join(reversed(chars))


def _module_id(name: str, version: int = 0) -> int:
    """Inverse of _module_name: 9-char name + 10-bit encoding version -> the
    64-bit module type id (writer side, for planting module fixtures)."""
    if len(name) != 9:
        raise ValueError("module names are exactly 9 chars")
    mid = 0
    for ch in name:
        mid = (mid << 6) | _MODULE_NAME_CHARSET.index(ch)
    return (mid << 10) | (version & 0x3FF)


def _skip_module_float(b: bytes, i: int) -> int:
    """RDB float: 1-byte length + ascii, 253/254/255 = nan/+inf/-inf
    (reader/float.rs:8-22); value discarded, returns next offset."""
    n = b[i]
    return i + 1 if n >= 253 else i + 1 + n


def _skip_module_data(b: bytes, i: int) -> int:
    """Walk module2's self-describing opcode stream to its EOF opcode
    (module2_parser.rs:47-72, rdb_parser.rs:22-27): 1|2 = length int,
    3 = ascii float, 4 = 8-byte LE double, 5 = string, 0 = end."""
    opcode, _, i = _read_len(b, i)
    while opcode != 0:
        if opcode in (1, 2):
            _, _, i = _read_len(b, i)
        elif opcode == 3:
            i = _skip_module_float(b, i)
        elif opcode == 4:
            i += 8
        elif opcode == 5:
            _, i = _read_string(b, i)
        else:
            raise ValueError(f"unknown module opcode {opcode}")
        opcode, _, i = _read_len(b, i)
    return i


def _stream_id(ms: int, seq: int) -> str:
    return f"{ms}-{seq}"


def _parse_stream(b: bytes, i: int, vtype: int, key: bytes, emit) -> int:
    """Stream object (RDB_TYPE_STREAM_LISTPACKS v1/v2/v3) -> typed rows
    (stream_parser.rs:13-227). Rows mirror the reference's replay-command
    families one-to-one:

    - ``stream``       one row per live-entry field pair (XADD): member =
      ``ms-seq:field``, value = the field's value, ord = field index.
      Deleted entries (flags bit 0) are decoded and dropped, exactly like
      the reference skips emitting their XADD.
    - ``stream_meta``  member ``last_id``, value = last entry id (XSETID —
      emitted even when the last entry was XDELed).
    - ``stream_group`` member = group name, value = group last-delivered id
      (XGROUP CREATE).
    - ``stream_pel``   member = ``group:consumer``, value =
      ``id@delivery_time/delivery_count``, ord = index in that consumer's
      PEL (XCLAIM ... TIME t RETRYCOUNT n JUSTID FORCE).

    The reference's empty-stream `XADD MAXLEN 0` trick collapses to just the
    ``stream_meta`` row here: this is a state model, and an empty stream IS
    only its last-id."""
    n_listpack, _, i = _read_len(b, i)
    for _ in range(n_listpack):
        lp_key, i = _read_string(b, i)
        master_ms = struct.unpack_from(">q", lp_key, 0)[0]
        master_seq = struct.unpack_from(">q", lp_key, 8)[0]
        payload, i = _read_string(b, i)
        elements = _parse_listpack(payload)
        inx = 0

        def nxt() -> bytes:
            nonlocal inx
            e = elements[inx]
            inx += 1
            return e

        count = int(nxt())
        deleted = int(nxt())
        num_fields = int(nxt())
        master_fields = [elements[inx + k] for k in range(num_fields)]
        inx += num_fields
        if nxt() != b"0":
            raise ValueError("stream master entry not terminated by zero")

        while count != 0 or deleted != 0:
            flags = int(nxt())
            entry_ms = int(nxt())
            entry_seq = int(nxt())
            sid = _stream_id(entry_ms + master_ms, entry_seq + master_seq)
            if flags & 2:  # samefields: listpack stores values only
                fields = [(f, nxt()) for f in master_fields]
            else:
                num = int(nxt())
                fields = [(nxt(), nxt()) for _ in range(num)]
            nxt()  # lp_count (backward-traversal aid; parsers skip it)
            if flags & 1:  # entry was XDELed: decoded but not replayed
                deleted -= 1
            else:
                count -= 1
                for k, (f_, v) in enumerate(fields):
                    emit(key, "stream", sid.encode() + b":" + f_, v, k)

    _, _, i = _read_len(b, i)  # total live items
    last_ms, _, i = _read_len(b, i)
    last_seq, _, i = _read_len(b, i)
    emit(key, "stream_meta", b"last_id", _stream_id(last_ms, last_seq).encode(), 0)
    if vtype >= T_STREAM_LISTPACKS_2:
        for _ in range(5):  # first ms/seq, max-deleted ms/seq, entries-added
            _, _, i = _read_len(b, i)

    n_groups, _, i = _read_len(b, i)
    for _ in range(n_groups):
        gname, i = _read_string(b, i)
        g_ms, _, i = _read_len(b, i)
        g_seq, _, i = _read_len(b, i)
        emit(key, "stream_group", gname, _stream_id(g_ms, g_seq).encode(), 0)
        if vtype >= T_STREAM_LISTPACKS_2:
            _, _, i = _read_len(b, i)  # group read-offset
        n_pel, _, i = _read_len(b, i)
        pel: dict[str, tuple[int, int]] = {}
        for _ in range(n_pel):
            ms, seq = struct.unpack_from(">QQ", b, i)
            i += 16
            delivery_time = struct.unpack_from("<Q", b, i)[0]
            i += 8
            delivery_count, _, i = _read_len(b, i)
            pel[_stream_id(ms, seq)] = (delivery_time, delivery_count)
        n_consumers, _, i = _read_len(b, i)
        for _ in range(n_consumers):
            cname, i = _read_string(b, i)
            i += 8  # last-seen time (LE ms)
            if vtype >= T_STREAM_LISTPACKS_3:
                i += 8  # active time (LE ms)
            n_cpel, _, i = _read_len(b, i)
            for k in range(n_cpel):
                ms, seq = struct.unpack_from(">QQ", b, i)
                i += 16
                sid = _stream_id(ms, seq)
                if sid not in pel:
                    raise ValueError(f"consumer PEL id {sid} missing from group PEL")
                t, c = pel[sid]
                emit(key, "stream_pel", gname + b":" + cname, f"{sid}@{t}/{c}".encode(), k)
    return i


# ---------------------------------------------------------------------------
# object -> entry rows
# ---------------------------------------------------------------------------


def _pairs(flat: list[bytes]) -> list[tuple[bytes, bytes]]:
    return list(zip(flat[0::2], flat[1::2]))


def parse_rdb_bytes(data: bytes) -> list[dict]:
    """One RDB dump -> typed entry dicts ``(db_id, key, entry_type, member,
    value, ord, expire_ms)``; ord orders list elements, 0 elsewhere.

    Corruption contract: any malformed input (truncated at any byte, any
    flipped byte) raises ``ValueError`` — never IndexError/struct.error —
    so distributed scans can quarantine bad dumps uniformly (same contract
    as the media codec family's MediaCodecError)."""
    try:
        return _parse_rdb_entries(data)
    except ValueError:
        raise
    except (AssertionError, IndexError, KeyError, OverflowError, MemoryError, struct.error, UnicodeDecodeError) as e:
        raise ValueError(f"corrupt RDB dump: {type(e).__name__}: {e}") from e


def _parse_rdb_entries(data: bytes) -> list[dict]:
    if data[:5] != b"REDIS":
        raise ValueError("not an RDB dump (missing REDIS header)")
    i = 9
    db_id = 0
    expire_ms: int | None = None
    out: list[dict] = []

    def emit(key: bytes, etype: str, member: bytes | None, value: bytes | None, ord_: int):
        # Redis keys/values are arbitrary byte strings; one binary (non-UTF-8)
        # value must not crash the whole distributed scan. errors='replace'
        # keeps valid UTF-8 text exact and degrades binary payloads to
        # U+FFFD markers (surrogateescape would be lossless but lone
        # surrogates are rejected by Arrow's string conversion in the
        # mapInPandas path); a fully binary-clean pipeline would switch
        # ENTRY_SCHEMA's key/member/value to BINARY columns
        d = lambda s: s.decode("utf-8", errors="replace")  # noqa: E731
        out.append(
            {
                "db_id": db_id,
                "key": d(key),
                "entry_type": etype,
                "member": None if member is None else d(member),
                "value": None if value is None else d(value),
                "ord": ord_,
                "expire_ms": expire_ms,
            }
        )

    while i < len(data):
        op = data[i]
        if op == OP_EOF:
            # trailing CRC-64/Jones over everything before it; all-zero =
            # "checksum disabled" (rdbchecksum no), legal per spec
            footer = data[i + 1 : i + 9]
            if len(footer) == 8 and footer != b"\x00" * 8:
                want = struct.unpack("<Q", footer)[0]
                got = crc64_jones(data[: i + 1])
                if got != want:
                    raise ValueError(
                        f"RDB checksum mismatch: {got:#x} != {want:#x}"
                    )
            break
        if op == OP_SELECTDB:
            db_id, _, i = _read_len(data, i + 1)
            continue
        if op == OP_RESIZEDB:
            _, _, i = _read_len(data, i + 1)
            _, _, i = _read_len(data, i)
            continue
        if op == OP_AUX:
            _, i = _read_string(data, i + 1)
            _, i = _read_string(data, i)
            continue
        if op == OP_EXPIRETIME_MS:
            expire_ms = struct.unpack_from("<Q", data, i + 1)[0]
            i += 9
            continue
        if op == OP_EXPIRETIME:
            expire_ms = struct.unpack_from("<I", data, i + 1)[0] * 1000
            i += 5
            continue
        if op == OP_IDLE:
            _, _, i = _read_len(data, i + 1)
            continue
        if op == OP_FREQ:
            i += 2
            continue
        if op == OP_SLOT_INFO:
            i += 1
            for _ in range(3):  # slot id, slot size, expires slot size
                _, _, i = _read_len(data, i)
            continue
        if op == OP_MODULE_AUX:
            # rdb_parser.rs:65-91: module id + when-opcode + when, then the
            # same self-describing opcode walk as module2 values. Skipped
            # with the module name recorded as an audit row (no key).
            module_id, _, i = _read_len(data, i + 1)
            _, _, i = _read_len(data, i)  # when_opcode
            _, _, i = _read_len(data, i)  # when
            i = _skip_module_data(data, i)
            emit(b"", "module_aux_skipped", _module_name(module_id).encode(), None, 0)
            continue

        vtype = op
        key, i = _read_string(data, i + 1)
        if vtype == T_STRING:
            v, i = _read_string(data, i)
            emit(key, "string", None, v, 0)
        elif vtype in (T_LIST, T_SET):
            n, _, i = _read_len(data, i)
            etype = "list" if vtype == T_LIST else "set"
            for k in range(n):
                v, i = _read_string(data, i)
                if etype == "set":
                    emit(key, "set", v, None, 0)
                else:
                    emit(key, "list", None, v, k)
        elif vtype == T_ZSET:
            n, _, i = _read_len(data, i)
            for _ in range(n):
                member, i = _read_string(data, i)
                score, i = _read_ascii_double(data, i)
                emit(key, "zset", member, score.encode(), 0)
        elif vtype == T_HASH:
            n, _, i = _read_len(data, i)
            for _ in range(n):
                f_, i = _read_string(data, i)
                v, i = _read_string(data, i)
                emit(key, "hash", f_, v, 0)
        elif vtype in (T_LIST_ZIPLIST, T_HASH_ZIPLIST, T_ZSET_ZIPLIST):
            payload, i = _read_string(data, i)
            flat = _parse_ziplist(payload)
            if vtype == T_LIST_ZIPLIST:
                for k, v in enumerate(flat):
                    emit(key, "list", None, v, k)
            elif vtype == T_HASH_ZIPLIST:
                for f_, v in _pairs(flat):
                    emit(key, "hash", f_, v, 0)
            else:
                for m, s in _pairs(flat):
                    emit(key, "zset", m, s, 0)
        elif vtype in (T_HASH_LISTPACK, T_ZSET_LISTPACK, T_SET_LISTPACK):
            payload, i = _read_string(data, i)
            flat = _parse_listpack(payload)
            if vtype == T_HASH_LISTPACK:
                for f_, v in _pairs(flat):
                    emit(key, "hash", f_, v, 0)
            elif vtype == T_ZSET_LISTPACK:
                for m, s in _pairs(flat):
                    emit(key, "zset", m, s, 0)
            else:
                for m in flat:
                    emit(key, "set", m, None, 0)
        elif vtype == T_SET_INTSET:
            payload, i = _read_string(data, i)
            for m in _parse_intset(payload):
                emit(key, "set", m, None, 0)
        elif vtype in (T_LIST_QUICKLIST, T_LIST_QUICKLIST2):
            n_nodes, _, i = _read_len(data, i)
            k = 0
            for _ in range(n_nodes):
                if vtype == T_LIST_QUICKLIST2:
                    container, _, i = _read_len(data, i)
                else:
                    container = 2
                payload, i = _read_string(data, i)
                if container == 1:  # plain: the payload is one element
                    emit(key, "list", None, payload, k)
                    k += 1
                    continue
                # packed: ziplist (quicklist) or listpack (quicklist2)
                flat = (
                    _parse_listpack(payload)
                    if vtype == T_LIST_QUICKLIST2
                    else _parse_ziplist(payload)
                )
                for v in flat:
                    emit(key, "list", None, v, k)
                    k += 1
        elif vtype in (T_HASH_METADATA_PRE_GA, T_HASH_METADATA):
            # Redis 7.4 per-field TTLs (HEXPIRE): rows surface as
            # entry_type 'hash_ex' with the FIELD's absolute expiry in
            # expire_ms (0/absent -> NULL). GA (24) delta-encodes each TTL
            # against a leading minExpire (ttl = minExpire + delta - 1,
            # delta 0 = none); the pre-GA form (22) stores absolute TTLs.
            min_exp = 0
            if vtype == T_HASH_METADATA:
                min_exp = struct.unpack_from("<q", data, i)[0]
                i += 8
            n, _, i = _read_len(data, i)
            saved_exp = expire_ms
            for _ in range(n):
                d, _, i = _read_len(data, i)
                f_, i = _read_string(data, i)
                v, i = _read_string(data, i)
                expire_ms = (
                    None if d == 0
                    else (d if vtype == T_HASH_METADATA_PRE_GA else min_exp + d - 1)
                )
                emit(key, "hash_ex", f_, v, 0)
            expire_ms = saved_exp
        elif vtype in (T_HASH_LISTPACK_EX_PRE_GA, T_HASH_LISTPACK_EX):
            # listpack of (field, value, ttl) triples; ttl is an absolute
            # ms integer, 0 = no TTL; GA (25) prefixes the node's minExpire
            if vtype == T_HASH_LISTPACK_EX:
                i += 8  # minExpire: derivable (min of the triples), skipped
            payload, i = _read_string(data, i)
            flat = _parse_listpack(payload)
            if len(flat) % 3:
                raise ValueError("hash listpack-ex length not a multiple of 3")
            saved_exp = expire_ms
            for k in range(0, len(flat), 3):
                ttl = int(flat[k + 2])
                expire_ms = ttl if ttl else None
                emit(key, "hash_ex", flat[k], flat[k + 1], 0)
            expire_ms = saved_exp
        elif vtype in (T_STREAM_LISTPACKS, T_STREAM_LISTPACKS_2, T_STREAM_LISTPACKS_3):
            i = _parse_stream(data, i, vtype, key, emit)
        elif vtype == T_MODULE_2:
            # Self-describing opcode stream: skip the payload, keep an audit
            # row naming the module so a migration reports WHAT it dropped
            # (module2_parser.rs:26-32 returns an empty object + log line).
            module_id, _, i = _read_len(data, i)
            i = _skip_module_data(data, i)
            emit(key, "module_skipped", _module_name(module_id).encode(), None, 0)
        elif vtype == T_MODULE:
            # v1 module payloads have no framing — undecodable without the
            # module itself (module2_parser.rs:19-24 bails identically)
            raise ValueError(
                f"module type v1 is not supported, key={key.decode('utf-8', 'replace')!r}"
            )
        else:
            raise ValueError(f"unsupported RDB value type {vtype}")
        expire_ms = None  # expiry applies to exactly one following key
    return out


# ---------------------------------------------------------------------------
# writer (fixture generator + dump sink)
# ---------------------------------------------------------------------------


def _enc_len(n: int) -> bytes:
    if n < 1 << 6:
        return bytes([n])
    if n < 1 << 14:
        return bytes([0x40 | (n >> 8), n & 0xFF])
    if n < 1 << 32:
        return b"\x80" + struct.pack(">I", n)
    return b"\x81" + struct.pack(">Q", n)


def _int_form(s: bytes) -> int | None:
    """The integer an RDB int encoding would round-trip to this exact text,
    or None (guards leading zeros / '-0' / non-digits)."""
    try:
        v = int(s)
    except ValueError:
        return None
    return v if str(v).encode() == s else None


def _enc_string(s: bytes) -> bytes:
    v = _int_form(s)
    if v is not None:
        if -(1 << 7) <= v < 1 << 7:
            return bytes([0xC0]) + struct.pack("<b", v)
        if -(1 << 15) <= v < 1 << 15:
            return bytes([0xC1]) + struct.pack("<h", v)
        if -(1 << 31) <= v < 1 << 31:
            return bytes([0xC2]) + struct.pack("<i", v)
    return _enc_len(len(s)) + s


def _enc_listpack(items: list[bytes]) -> bytes:
    body = bytearray()
    for s in items:
        v = _int_form(s)
        if v is not None and 0 <= v < 128:
            ent = bytes([v])
        elif v is not None and -(1 << 12) <= v < 1 << 12:
            u = v & 0x1FFF
            ent = bytes([0xC0 | (u >> 8), u & 0xFF])
        elif v is not None and -(1 << 15) <= v < 1 << 15:
            ent = b"\xf1" + struct.pack("<h", v)
        elif v is not None and -(1 << 63) <= v < 1 << 63:
            ent = b"\xf4" + struct.pack("<q", v)
        elif len(s) < 1 << 6:
            ent = bytes([0x80 | len(s)]) + s
        elif len(s) < 1 << 12:
            ent = bytes([0xE0 | (len(s) >> 8), len(s) & 0xFF]) + s
        else:
            ent = b"\xf0" + struct.pack("<I", len(s)) + s
        used = len(ent)
        # back-length in the real listpack form (lpEncodeBacklen): 7-bit
        # chunks, most-significant chunk first without the continuation bit,
        # lower chunks with bit 7 set, readable right-to-left — our parser
        # only skips by size, but real Redis' backward traversal validates
        # the chunk flags on load, so a dump sink must emit the real form
        body += ent + _lp_backlen_bytes(used)
    total = 6 + len(body) + 1
    return struct.pack("<IH", total, min(len(items), 0xFFFF)) + bytes(body) + b"\xff"


def _enc_ziplist(items: list[bytes]) -> bytes:
    body = bytearray()
    prevlen = 0
    for s in items:
        entry = bytearray()
        entry += bytes([prevlen]) if prevlen < 254 else b"\xfe" + struct.pack("<I", prevlen)
        v = _int_form(s)
        if v is not None and 0 <= v <= 12:
            entry += bytes([0xF1 + v])
        elif v is not None and -(1 << 7) <= v < 1 << 7:
            entry += b"\xfe" + struct.pack("<b", v)
        elif v is not None and -(1 << 15) <= v < 1 << 15:
            entry += b"\xc0" + struct.pack("<h", v)
        elif v is not None and -(1 << 31) <= v < 1 << 31:
            entry += b"\xd0" + struct.pack("<i", v)
        elif v is not None:
            entry += b"\xe0" + struct.pack("<q", v)
        elif len(s) < 1 << 6:
            entry += bytes([len(s)]) + s
        elif len(s) < 1 << 14:
            entry += bytes([0x40 | (len(s) >> 8), len(s) & 0xFF]) + s
        else:  # 32-bit form: 0x80 marker + 4-byte big-endian length
            entry += b"\x80" + struct.pack(">I", len(s)) + s
        prevlen = len(entry)
        body += entry
    zlbytes = 10 + len(body) + 1
    return struct.pack("<IIH", zlbytes, zlbytes - 1, min(len(items), 0xFFFF)) + bytes(body) + b"\xff"


def _parse_sid(s: str) -> tuple[int, int]:
    ms, seq = s.rsplit("-", 1)
    return int(ms), int(seq)


def _enc_stream(rows: list[dict], version: int = 3) -> tuple[int, bytes]:
    """Stream entry rows (the families _parse_stream emits, plus
    ``stream_deleted`` for XDELed-but-still-serialized entries) -> the RDB
    stream value payload. Returns (type_byte, payload). ``version`` selects
    RDB_TYPE_STREAM_LISTPACKS v1/v2/v3 framing so all three parse paths are
    exercisable. Layout mirrors what stream_parser.rs:13-227 consumes:
    3-entry listpack nodes with per-node master entry + ms/seq delta
    encoding, samefields compression when an entry's field list matches the
    node master's, consumer groups with global + per-consumer PELs."""
    type_byte = {1: T_STREAM_LISTPACKS, 2: T_STREAM_LISTPACKS_2, 3: T_STREAM_LISTPACKS_3}[version]

    # regroup field rows into entries: member = "ms-seq:field"
    entries: dict[tuple[int, int], dict] = {}
    last_id = None
    groups: dict[str, str] = {}
    pels: dict[str, list[tuple[str, str]]] = {}  # "g:c" -> [(id, "t/c"), ...] in ord order
    for r in sorted(rows, key=lambda r: r["ord"]):
        et = r["entry_type"]
        if et in ("stream", "stream_deleted"):
            sid, field = r["member"].split(":", 1)
            e = entries.setdefault(_parse_sid(sid), {"deleted": et == "stream_deleted", "fields": []})
            e["fields"].append((field.encode(), r["value"].encode()))
        elif et == "stream_meta":
            last_id = r["value"]
        elif et == "stream_group":
            groups[r["member"]] = r["value"]
        elif et == "stream_pel":
            pels.setdefault(r["member"], []).append(tuple(r["value"].split("@", 1)))
        else:
            raise ValueError(f"unsupported stream row entry_type {et!r}")

    ordered = sorted(entries)
    out = bytearray()
    nodes = [ordered[k : k + 3] for k in range(0, len(ordered), 3)]
    out += _enc_len(len(nodes))
    for node in nodes:
        m_ms, m_seq = node[0]
        master_fields = [f for f, _ in entries[node[0]]["fields"]]
        live = sum(1 for sid in node if not entries[sid]["deleted"])
        dead = len(node) - live
        elements: list[bytes] = [
            str(live).encode(),
            str(dead).encode(),
            str(len(master_fields)).encode(),
            *master_fields,
            b"0",
        ]
        for sid in node:
            e = entries[sid]
            fields = e["fields"]
            samefields = [f for f, _ in fields] == master_fields
            flags = (2 if samefields else 0) | (1 if e["deleted"] else 0)
            ent: list[bytes] = [
                str(flags).encode(),
                str(sid[0] - m_ms).encode(),
                str(sid[1] - m_seq).encode(),
            ]
            if samefields:
                ent += [v for _, v in fields]
            else:
                ent.append(str(len(fields)).encode())
                for f_, v in fields:
                    ent += [f_, v]
            ent.append(str(len(ent) + 1).encode())  # lp_count (skipped on read)
            elements += ent
        out += _enc_string(struct.pack(">qq", m_ms, m_seq))
        out += _enc_string(_enc_listpack(elements))

    live_ids = [sid for sid in ordered if not entries[sid]["deleted"]]
    dead_ids = [sid for sid in ordered if entries[sid]["deleted"]]
    last = _parse_sid(last_id) if last_id else (ordered[-1] if ordered else (0, 0))
    out += _enc_len(len(live_ids))
    out += _enc_len(last[0]) + _enc_len(last[1])
    if version >= 2:
        first = live_ids[0] if live_ids else (0, 0)
        max_del = max(dead_ids) if dead_ids else (0, 0)
        out += _enc_len(first[0]) + _enc_len(first[1])
        out += _enc_len(max_del[0]) + _enc_len(max_del[1])
        out += _enc_len(len(ordered))  # entries-added counter

    out += _enc_len(len(groups))
    for gname in sorted(groups):
        g_ms, g_seq = _parse_sid(groups[gname])
        out += _enc_string(gname.encode()) + _enc_len(g_ms) + _enc_len(g_seq)
        if version >= 2:
            out += _enc_len(0)  # group read-offset
        consumers = sorted(c.split(":", 1)[1] for c in pels if c.split(":", 1)[0] == gname)
        gpel: list[tuple[tuple[int, int], int, int]] = []
        for c in consumers:
            for sid_s, tc in pels[f"{gname}:{c}"]:
                t, cnt = tc.split("/", 1)
                gpel.append((_parse_sid(sid_s), int(t), int(cnt)))
        out += _enc_len(len(gpel))
        for sid, t, cnt in sorted(gpel):
            out += struct.pack(">QQ", *sid) + struct.pack("<Q", t) + _enc_len(cnt)
        out += _enc_len(len(consumers))
        for c in consumers:
            out += _enc_string(c.encode()) + struct.pack("<Q", 0)  # last-seen
            if version >= 3:
                out += struct.pack("<Q", 0)  # active time
            cpel = pels[f"{gname}:{c}"]
            out += _enc_len(len(cpel))
            for sid_s, _tc in cpel:
                out += struct.pack(">QQ", *_parse_sid(sid_s))
    return type_byte, bytes(out)


def _enc_intset(values: list[int]) -> bytes:
    width = 8 if any(not -(1 << 31) <= v < 1 << 31 for v in values) else (
        4 if any(not -(1 << 15) <= v < 1 << 15 for v in values) else 2
    )
    fmt = {2: "<h", 4: "<i", 8: "<q"}[width]
    out = struct.pack("<II", width, len(values))
    for v in sorted(values):  # intsets are stored sorted
        out += struct.pack(fmt, v)
    return out


def encode_rdb(
    entries: list[dict],
    stream_version: int = 3,
    module_aux: list[str] | None = None,
    hash_field_ttl: str = "listpackex",
    checksum: bool = True,
) -> bytes:
    """Entry rows (same shape parse_rdb_bytes emits) -> one RDB dump.

    Encoding choices mirror Redis' own thresholds in spirit (small containers
    -> compact encodings) while staying deterministic: hashes with <= 2
    fields become ziplists, zsets with <= 2 members become listpacks (else
    ascii-score T_ZSET), lists become quicklist2 with 4-element listpack
    nodes, all-integer sets become intsets (else set listpacks). Trailing
    CRC-64/Jones checksum is real since r15 (checksum=False writes the
    legal all-zero "disabled" form); the parser verifies non-zero
    footers."""
    by_db: dict[int, dict[str, list[dict]]] = {}
    for e in entries:
        by_db.setdefault(int(e.get("db_id") or 0), {}).setdefault(e["key"], []).append(e)

    out = bytearray(RDB_HEADER)
    out += bytes([OP_AUX]) + _enc_string(b"redis-ver") + _enc_string(b"7.4.0")
    for name in module_aux or []:  # keyless module aux sections (0xF7)
        out += bytes([OP_MODULE_AUX]) + _enc_len(_module_id(name))
        out += _enc_len(2) + _enc_len(1)  # when_opcode, when
        out += _enc_len(5) + _enc_string(b"aux-payload") + _enc_len(0)
    for db_id in sorted(by_db):
        keys = by_db[db_id]
        out += bytes([OP_SELECTDB]) + _enc_len(db_id)
        n_exp = sum(1 for rows in keys.values() if rows[0].get("expire_ms") is not None)
        out += bytes([OP_RESIZEDB]) + _enc_len(len(keys)) + _enc_len(n_exp)
        for key in sorted(keys):
            rows = keys[key]
            etype = rows[0]["entry_type"]
            exp = rows[0].get("expire_ms")
            if exp is not None and etype != "hash_ex":  # hash_ex TTLs are per FIELD
                out += bytes([OP_EXPIRETIME_MS]) + struct.pack("<Q", int(exp))
            type_byte, payload = encode_value(rows, stream_version, hash_field_ttl)
            out += bytes([type_byte]) + _enc_string(key.encode()) + payload
    out += bytes([OP_EOF])
    out += struct.pack("<Q", crc64_jones(bytes(out))) if checksum else b"\x00" * 8
    return bytes(out)


def encode_value(
    rows: list[dict],
    stream_version: int = 3,
    hash_field_ttl: str = "listpackex",
) -> tuple[int, bytes]:
    """One key's entry rows -> ``(type_byte, value_payload)`` — the bytes
    that follow the key in the file layout, and exactly the bytes a DUMP
    payload carries before its version/CRC footer. Shared by the file
    writer above and the RESTORE-mode sinker (dump_value below)."""
    etype = rows[0]["entry_type"]
    out = bytearray()
    if etype == "string":
        return T_STRING, _enc_string(rows[0]["value"].encode())
    if etype == "hash":
        pairs = sorted((r["member"].encode(), r["value"].encode()) for r in rows)
        if len(pairs) <= 2:
            flat = [x for p in pairs for x in p]
            return T_HASH_ZIPLIST, _enc_string(_enc_ziplist(flat))
        out += _enc_len(len(pairs))
        for f_, v in pairs:
            out += _enc_string(f_) + _enc_string(v)
        return T_HASH, bytes(out)
    if etype == "zset":
        pairs = sorted((r["member"].encode(), r["value"].encode()) for r in rows)
        if len(pairs) <= 2:
            flat = [x for p in pairs for x in p]
            return T_ZSET_LISTPACK, _enc_string(_enc_listpack(flat))
        out += _enc_len(len(pairs))
        for m, s in pairs:
            if len(s) > 252:  # 253/254/255 are the nan/inf markers
                raise ValueError(f"zset score too long for ascii encoding: {len(s)}B")
            out += _enc_string(m) + bytes([len(s)]) + s
        return T_ZSET, bytes(out)
    if etype == "list":
        members = [r["value"].encode() for r in sorted(rows, key=lambda r: r["ord"])]
        nodes = [members[k : k + 4] for k in range(0, len(members), 4)]
        out += _enc_len(len(nodes))
        for node in nodes:
            out += _enc_len(2) + _enc_string(_enc_listpack(node))
        return T_LIST_QUICKLIST2, bytes(out)
    if etype == "hash_ex":
        # Redis 7.4 per-field TTLs: (field, value, ttl) with ttl =
        # the row's expire_ms (0 = none); format per hash_field_ttl
        trips = sorted(
            (r["member"].encode(), r["value"].encode(), int(r.get("expire_ms") or 0))
            for r in rows
        )
        ttls = [t for _, _, t in trips if t]
        min_exp = min(ttls) if ttls else 0
        if hash_field_ttl in ("listpackex", "listpackex_pre_ga"):
            tbyte = (
                T_HASH_LISTPACK_EX
                if hash_field_ttl == "listpackex"
                else T_HASH_LISTPACK_EX_PRE_GA
            )
            if hash_field_ttl == "listpackex":
                out += struct.pack("<q", min_exp)
            flat = [x for f, v, t in trips for x in (f, v, str(t).encode())]
            out += _enc_string(_enc_listpack(flat))
            return tbyte, bytes(out)
        if hash_field_ttl in ("metadata", "metadata_pre_ga"):
            tbyte = (
                T_HASH_METADATA
                if hash_field_ttl == "metadata"
                else T_HASH_METADATA_PRE_GA
            )
            if hash_field_ttl == "metadata":
                out += struct.pack("<q", min_exp)
            out += _enc_len(len(trips))
            for f, v, t in trips:
                d = 0 if t == 0 else (
                    t if hash_field_ttl == "metadata_pre_ga" else t - min_exp + 1
                )
                out += _enc_len(d) + _enc_string(f) + _enc_string(v)
            return tbyte, bytes(out)
        raise ValueError(f"unknown hash_field_ttl {hash_field_ttl!r}")
    if etype == "module_skipped":
        # plant a T_MODULE_2 object (member = 9-char module name):
        # one of each opcode kind then EOF — parsers must walk past
        # it and keep only the audit row
        out += _enc_len(_module_id(rows[0]["member"]))
        out += _enc_len(2) + _enc_len(42)  # uint
        out += _enc_len(1) + _enc_len(7)  # sint
        out += _enc_len(3) + bytes([4]) + b"1.25"  # ascii float
        out += _enc_len(4) + struct.pack("<d", -2.5)  # LE double
        out += _enc_len(5) + _enc_string(b"opaque-module-payload")
        out += _enc_len(0)  # module EOF
        return T_MODULE_2, bytes(out)
    if etype.startswith("stream"):
        return _enc_stream(rows, stream_version)
    if etype == "set":
        members = sorted(r["member"].encode() for r in rows)
        ints = [_int_form(m) for m in members]
        if all(v is not None for v in ints):
            return T_SET_INTSET, _enc_string(
                _enc_intset([v for v in ints if v is not None])
            )
        return T_SET_LISTPACK, _enc_string(_enc_listpack(members))
    raise ValueError(f"unsupported entry_type {etype!r}")


# ---------------------------------------------------------------------------
# DUMP / RESTORE payload format (RESTORE-mode sinker support)
# ---------------------------------------------------------------------------

# The reference's RESTORE rewriter stamps RDB version 6 into every DUMP
# footer regardless of source version (entry_rewriter.rs:352) — RESTORE
# accepts any version <= the server's, so a floor version maximizes
# replayability; mirrored here.
DUMP_RDB_VERSION = 6

# CRC-64/Jones (redis CRC64): poly 0xad93d23594c935a9, refin/refout,
# init 0, xorout 0. The reference embeds the 256-entry table verbatim
# (entry_rewriter.rs:10); here it is generated from the bit-reversed
# polynomial — same table, check value crc64(b"123456789") =
# 0xe9c6d914c4b8d9ca.
_CRC64_POLY_REFLECTED = 0x95AC9329AC4BC9B5
_CRC64_TABLE: list[int] | None = None


def crc64_jones(data: bytes, crc: int = 0) -> int:
    """Streaming CRC-64/Jones over ``data`` (entry_rewriter.rs:388-396)."""
    global _CRC64_TABLE
    if _CRC64_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ (_CRC64_POLY_REFLECTED if c & 1 else 0)
            tbl.append(c)
        _CRC64_TABLE = tbl
    for b in data:
        crc = _CRC64_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


def dump_value(
    rows: list[dict],
    stream_version: int = 3,
    hash_field_ttl: str = "listpackex",
) -> bytes:
    """One key's entry rows -> the exact DUMP/RESTORE serialized value
    (entry_rewriter.rs:347-386 create_value_dump): type byte + RDB value
    payload + 2-byte LE RDB version + 8-byte LE CRC-64/Jones over the
    preceding bytes."""
    type_byte, payload = encode_value(rows, stream_version, hash_field_ttl)
    buf = bytes([type_byte]) + payload + struct.pack("<H", DUMP_RDB_VERSION)
    return buf + struct.pack("<Q", crc64_jones(buf))


def parse_dump_payload(key: str, payload: bytes, db_id: int = 0) -> list[dict]:
    """Verify + decode a DUMP/RESTORE payload back into entry rows (the
    RESTORE server's checks, and the round-trip witness for dump_value):
    CRC-64 over all-but-last-8 must equal the LE footer, the RDB version
    must be <= ours, then the (type byte, value) prefix is decoded by
    wrapping it in a minimal single-key RDB file and reusing the file
    parser — one decoder, no drift."""
    if len(payload) < 11:  # type byte + version + crc is the legal minimum
        raise ValueError(f"DUMP payload too short: {len(payload)}B")
    body, crc_bytes = payload[:-8], payload[-8:]
    crc = struct.unpack("<Q", crc_bytes)[0]
    actual = crc64_jones(body)
    if actual != crc:
        raise ValueError(f"DUMP payload CRC mismatch: {actual:#x} != {crc:#x}")
    version = struct.unpack("<H", body[-2:])[0]
    our_version = int(RDB_HEADER[5:].decode())
    if not 1 <= version <= our_version:
        raise ValueError(f"DUMP payload RDB version {version} unsupported")
    wrapped = (
        RDB_HEADER
        + bytes([OP_SELECTDB])
        + _enc_len(db_id)
        + body[:1]
        + _enc_string(key.encode())
        + body[1:-2]
        + bytes([OP_EOF])
        + b"\x00" * 8
    )
    return parse_rdb_bytes(wrapped)


def read_rdb_files(spark: SparkSession, path: str) -> DataFrame:
    """Distributed RDB scan: ``binaryFile`` over a directory of dumps, one
    Arrow task per file (the per-node dump layout at scale)."""
    return _scan_files(
        spark, path, lambda _path, content: parse_rdb_bytes(content), ENTRY_SCHEMA
    )


def write_rdb_file(entries: list[dict], path: str, **kwargs) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(encode_rdb(entries, **kwargs))
    os.replace(tmp, path)
    return path
