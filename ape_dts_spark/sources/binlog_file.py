"""MySQL binlog file parsing (at rest) + a deterministic writer.

Parses binary binlog *files* (the public, documented replication log format)
into the same canonical change rows the Debezium-envelope path produces
(streaming/cdc.py parse_debezium_fluid): ``(file, pos, seq, ts, gtid, xid,
schema, tb, row_type, before, after)`` with before/after as
``map<string,string>`` images — completing the at-rest half of the native-CDC
story the way sources/redis_rdb.py does for Redis RDB. The writer emits
spec-conformant binlog bytes (v4 headers, FORMAT_DESCRIPTION, GTID, QUERY,
TABLE_MAP, WRITE/UPDATE/DELETE_ROWS v2, XID, ROTATE, CRC32 trailers) and is
the fixture generator for the gate and tests.

Scale shape: a binlog file is one server's serialized transaction log — an
inherently sequential byte stream — so the unit of parallelism is the FILE
(rotation produces many): read by the shared file scan runner
(``session._scan_files``: ``binaryFile``, one Arrow-batched ``mapInPandas``
pass, or its streaming tail) with this module's whole-file decode (each task
parses whole files; no driver-side byte handling). Total order across
files = (file index, event position), exactly
``model/position.MysqlCdcPosition.sort_key``.

Reference parity: the reference consumes this same event stream over a live
socket (dt-connector/src/extractor/mysql/mysql_cdc_extractor.rs:195-394 —
GTID/TableMap/WriteRows/UpdateRows/DeleteRows/Query/Xid dispatch; row decode
against table metadata in parse_row_data, since row events carry no column
names). Wire format per the public MySQL binlog event specification.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ape_dts_spark.session import _chain_decode, _scan_files, _write_chain
from ape_dts_spark.sources.compression import compress, decompress

BINLOG_MAGIC = b"\xfebin"

# event type codes (public binlog spec)
QUERY_EVENT = 2
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
GTID_EVENT = 33
PREVIOUS_GTIDS_EVENT = 35
PARTIAL_UPDATE_ROWS_EVENT = 39  # binlog_row_value_options=PARTIAL_JSON
TRANSACTION_PAYLOAD_EVENT = 40

# column type codes (MySQL protocol)
MYSQL_TYPE_TINY = 1
MYSQL_TYPE_SHORT = 2
MYSQL_TYPE_LONG = 3
MYSQL_TYPE_FLOAT = 4
MYSQL_TYPE_DOUBLE = 5
MYSQL_TYPE_LONGLONG = 8
MYSQL_TYPE_INT24 = 9
MYSQL_TYPE_DATE = 10
MYSQL_TYPE_YEAR = 13
MYSQL_TYPE_BIT = 16
MYSQL_TYPE_VARCHAR = 15
MYSQL_TYPE_TIMESTAMP2 = 17
MYSQL_TYPE_DATETIME2 = 18
MYSQL_TYPE_TIME2 = 19
MYSQL_TYPE_ENUM = 247
MYSQL_TYPE_SET = 248
MYSQL_TYPE_JSON = 245
MYSQL_TYPE_NEWDECIMAL = 246
MYSQL_TYPE_BLOB = 252
MYSQL_TYPE_GEOMETRY = 255

# the numeric set the TABLE_MAP optional-metadata SIGNEDNESS bitmap covers,
# in column order (rows_event.cc is_numeric_type; MySQL >= 8.0.1)
_NUMERIC_TYPES = frozenset({
    MYSQL_TYPE_TINY, MYSQL_TYPE_SHORT, MYSQL_TYPE_LONG, MYSQL_TYPE_FLOAT,
    MYSQL_TYPE_DOUBLE, MYSQL_TYPE_LONGLONG, MYSQL_TYPE_INT24,
    MYSQL_TYPE_NEWDECIMAL,
})
# optional-metadata TLV field type codes (public table-map format)
_OPTMETA_SIGNEDNESS = 1

# digits -> bytes for one NEWDECIMAL group (public decimal binary format)
_DEC_DIG2BYTES = (0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

_HEADER = struct.Struct("<IBIIIH")  # ts, type, server_id, event_size, log_pos, flags
HEADER_LEN = 19
_SERVER_ID = 1

CHANGE_SCHEMA = (
    "file string, pos long, seq long, ts long, gtid string, xid long, "
    "schema string, tb string, row_type string, "
    "before map<string,string>, after map<string,string>"
)


@dataclass(frozen=True)
class BinlogTable:
    """Table shape for the writer AND the name/type registry for the parser
    (binlog row events carry only type codes — the reference resolves names
    from its meta_manager, mysql_cdc_extractor.rs:361-394)."""

    schema: str
    tb: str
    cols: tuple  # of (name, type_code, metadata) — metadata per-type, see _META_LEN
    table_id: int
    # column character set for VARCHAR cells (the reference resolves it from
    # column meta and converts, charset_test suite; binlog stores raw bytes
    # in the COLUMN charset, not utf-8)
    charset: str = "utf-8"
    # names of UNSIGNED numeric columns: the writer publishes them in the
    # TABLE_MAP optional-metadata SIGNEDNESS bitmap (MySQL >= 8.0.1) and the
    # parser decodes those cells unsigned — the reference resolves
    # signedness from table meta instead (mysql_col_type.rs:85,172)
    unsigned: tuple = ()


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _packed(n: int) -> bytes:
    """net_store_length packed integer."""
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _read_packed(b: bytes, i: int) -> tuple[int, int]:
    first = b[i]
    if first < 251:
        return first, i + 1
    if first == 0xFC:
        return struct.unpack_from("<H", b, i + 1)[0], i + 3
    if first == 0xFD:
        return int.from_bytes(b[i + 1 : i + 4], "little"), i + 4
    return struct.unpack_from("<Q", b, i + 1)[0], i + 9


def _bitmap(bits: list[bool]) -> bytes:
    out = bytearray((len(bits) + 7) // 8)
    for i, v in enumerate(bits):
        if v:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


def _bit(bm: bytes, i: int) -> bool:
    return bool(bm[i // 8] & (1 << (i % 8)))


def _meta_bytes(type_code: int, meta: int) -> bytes:
    """Per-type metadata encoding in TABLE_MAP (2-byte LE for VARCHAR,
    1 byte for FLOAT/DOUBLE size, BLOB length-size and TIMESTAMP2/DATETIME2
    fsp, 2 separate bytes (precision, scale) for NEWDECIMAL — packed here as
    precision << 8 | scale — none for the fixed-width integers)."""
    if type_code == MYSQL_TYPE_VARCHAR:
        return struct.pack("<H", meta)
    if type_code == MYSQL_TYPE_NEWDECIMAL:
        return bytes([meta >> 8, meta & 0xFF])
    if type_code == MYSQL_TYPE_BIT:
        # meta = total bit width; wire meta = (bits % 8, bits / 8)
        return bytes([meta % 8, meta // 8])
    if type_code in (
        MYSQL_TYPE_FLOAT, MYSQL_TYPE_DOUBLE, MYSQL_TYPE_BLOB,
        MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIME2,
        MYSQL_TYPE_JSON, MYSQL_TYPE_ENUM, MYSQL_TYPE_SET,
        MYSQL_TYPE_GEOMETRY,
    ):
        return bytes([meta])
    return b""


def _dec_group_count(digits: int) -> int:
    """Byte length of one decimal side (full 9-digit groups + leftover)."""
    full, rest = divmod(digits, 9)
    return full * 4 + _DEC_DIG2BYTES[rest]


def _enc_decimal(v, precision: int, scale: int) -> bytes:
    """MySQL NEWDECIMAL binary image: both sides split big-endian into
    9-digit groups (1-4 bytes each), sign carried by inverting all bytes for
    negatives, MSB of the first byte always flipped."""
    from decimal import Decimal

    d = Decimal(str(v)).scaleb(scale).to_integral_value()
    neg = d < 0
    digits = str(abs(int(d))).rjust(precision, "0")
    intg = precision - scale
    out = bytearray()
    for side, width in ((digits[:intg], intg), (digits[intg:], scale)):
        rest = width % 9
        pos = 0
        if rest:
            out += int(side[:rest] or "0").to_bytes(_DEC_DIG2BYTES[rest], "big")
            pos = rest
        while pos < width:
            out += int(side[pos : pos + 9]).to_bytes(4, "big")
            pos += 9
    if neg:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


def _dec_decimal(b: bytes, i: int, precision: int, scale: int) -> tuple[str, int]:
    intg = precision - scale
    n = _dec_group_count(intg) + _dec_group_count(scale)
    raw = bytearray(b[i : i + n])
    neg = not (raw[0] & 0x80)
    raw[0] ^= 0x80
    if neg:
        raw = bytearray(x ^ 0xFF for x in raw)
    digits = ""
    pos = 0
    for width in (intg, scale):
        rest = width % 9
        if rest:
            nb = _DEC_DIG2BYTES[rest]
            digits += str(int.from_bytes(raw[pos : pos + nb], "big")).rjust(rest, "0")
            pos += nb
        for _ in range(width // 9):
            digits += str(int.from_bytes(raw[pos : pos + 4], "big")).rjust(9, "0")
            pos += 4
    ip = digits[:intg].lstrip("0") or "0"
    fp = digits[intg:]
    text = f"{ip}.{fp}" if scale else ip
    if neg and any(c != "0" for c in digits):
        text = "-" + text
    return text, i + n


# ---------------------------------------------------------------------------
# MySQL binary JSON (type 245) — the public json_binary format
# (mysql/sql/json_binary.h layout; the reference decodes it in
# dt-common/src/meta/mysql json handling for the json_test suite)
# ---------------------------------------------------------------------------

_J_SMALL_OBJ = 0x00
_J_LARGE_OBJ = 0x01
_J_SMALL_ARR = 0x02
_J_LARGE_ARR = 0x03
_J_LITERAL = 0x04
_J_INT16 = 0x05
_J_UINT16 = 0x06
_J_INT32 = 0x07
_J_UINT32 = 0x08
_J_INT64 = 0x09
_J_UINT64 = 0x0A
_J_DOUBLE = 0x0B
_J_STRING = 0x0C

_J_LIT_NULL, _J_LIT_TRUE, _J_LIT_FALSE = 0x00, 0x01, 0x02


def _j_varlen_enc(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _j_varlen_dec(b: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        x = b[i]
        i += 1
        n |= (x & 0x7F) << shift
        if not x & 0x80:
            return n, i
        shift += 7


def _j_type_and_payload(v) -> tuple[int, bytes, int | None]:
    """Python value -> (type, payload bytes, inlined small-value or None).
    Inlinable types (literal/int16/uint16) carry their value in the entry's
    offset field of small documents instead of the data section."""
    if v is None:
        return _J_LITERAL, b"", _J_LIT_NULL
    if isinstance(v, bool):
        return _J_LITERAL, b"", _J_LIT_TRUE if v else _J_LIT_FALSE
    if isinstance(v, int):
        if -(1 << 15) <= v < (1 << 15):
            return _J_INT16, b"", v & 0xFFFF
        if -(1 << 31) <= v < (1 << 31):
            return _J_INT32, struct.pack("<i", v), None
        return _J_INT64, struct.pack("<q", v), None
    if isinstance(v, float):
        return _J_DOUBLE, struct.pack("<d", v), None
    if isinstance(v, str):
        raw = v.encode()
        return _J_STRING, _j_varlen_enc(len(raw)) + raw, None
    if isinstance(v, dict):
        return _J_SMALL_OBJ, _j_doc_payload(v), None
    if isinstance(v, list):
        return _J_SMALL_ARR, _j_doc_payload(v), None
    raise TypeError(f"unsupported JSON value type {type(v).__name__}")


def _j_doc_payload(doc) -> bytes:
    """Small object/array payload: count u16, size u16, [key entries],
    value entries, [keys], values — offsets relative to the payload start.
    MySQL sorts object keys by (length, bytes)."""
    is_obj = isinstance(doc, dict)
    if is_obj:
        items = sorted(doc.items(), key=lambda kv: (len(kv[0].encode()), kv[0].encode()))
        keys = [k.encode() for k, _ in items]
        vals = [v for _, v in items]
    else:
        keys, vals = [], list(doc)
    n = len(vals)
    head = 4 + (4 * n if is_obj else 0) + 3 * n
    key_section = b"".join(keys)
    data = bytearray()
    entries = []
    for v in vals:
        t, payload, inline = _j_type_and_payload(v)
        if inline is not None:
            entries.append((t, inline, None))
        else:
            entries.append((t, None, len(data)))
            data += payload
    size = head + len(key_section) + len(data)
    out = bytearray(struct.pack("<HH", n, size))
    if is_obj:
        koff = head
        for k in keys:
            out += struct.pack("<HH", koff, len(k))
            koff += len(k)
    data_base = head + len(key_section)
    for t, inline, off in entries:
        out += bytes([t]) + struct.pack("<H", inline if inline is not None else data_base + off)
    out += key_section + data
    return bytes(out)


def _enc_json_binary(v) -> bytes:
    """Top-level document: type byte + payload (scalars included)."""
    t, payload, inline = _j_type_and_payload(v)
    if inline is not None:
        if t == _J_LITERAL:
            return bytes([t, inline])
        return bytes([t]) + struct.pack("<h", struct.unpack("<h", struct.pack("<H", inline))[0])
    return bytes([t]) + payload


def _j_read_value(t: int, b: bytes, i: int):
    if t == _J_LITERAL:
        lit = b[i]
        return {_J_LIT_NULL: None, _J_LIT_TRUE: True, _J_LIT_FALSE: False}[lit]
    if t == _J_INT16:
        return struct.unpack_from("<h", b, i)[0]
    if t == _J_UINT16:
        return struct.unpack_from("<H", b, i)[0]
    if t == _J_INT32:
        return struct.unpack_from("<i", b, i)[0]
    if t == _J_UINT32:
        return struct.unpack_from("<I", b, i)[0]
    if t == _J_INT64:
        return struct.unpack_from("<q", b, i)[0]
    if t == _J_UINT64:
        return struct.unpack_from("<Q", b, i)[0]
    if t == _J_DOUBLE:
        return struct.unpack_from("<d", b, i)[0]
    if t == _J_STRING:
        n, j = _j_varlen_dec(b, i)
        return b[j : j + n].decode()
    if t in (_J_SMALL_OBJ, _J_SMALL_ARR, _J_LARGE_OBJ, _J_LARGE_ARR):
        return _j_read_doc(t, b, i)
    raise ValueError(f"unsupported binary-JSON type 0x{t:02x}")


def _j_read_doc(t: int, b: bytes, base: int):
    large = t in (_J_LARGE_OBJ, _J_LARGE_ARR)
    is_obj = t in (_J_SMALL_OBJ, _J_LARGE_OBJ)
    w = 4 if large else 2
    fmt = "<I" if large else "<H"
    n = struct.unpack_from(fmt, b, base)[0]
    i = base + 2 * w
    keys = []
    if is_obj:
        for _ in range(n):
            koff = struct.unpack_from(fmt, b, i)[0]
            klen = struct.unpack_from("<H", b, i + w)[0]
            keys.append(b[base + koff : base + koff + klen].decode())
            i += w + 2
    vals = []
    inline_types = (_J_LITERAL, _J_INT16, _J_UINT16) if not large else (
        _J_LITERAL, _J_INT16, _J_UINT16, _J_INT32, _J_UINT32)
    for _ in range(n):
        vt = b[i]
        if vt in inline_types:
            # the offset field IS the value
            vals.append(_j_read_value(vt, b, i + 1))
        else:
            off = struct.unpack_from(fmt, b, i + 1)[0]
            vals.append(_j_read_value(vt, b, base + off))
        i += 1 + w
    return dict(zip(keys, vals)) if is_obj else vals


# -- JSON partial updates (WL#2955: binlog_row_value_options=PARTIAL_JSON;
# -- event 39 carries per-column Json_diff_vector blobs instead of full
# -- after-image documents; diff wire format per json_diff.cc write_binary:
# -- op byte (0 REPLACE / 1 INSERT / 2 REMOVE), packed path length + path,
# -- then for non-REMOVE a packed value length + one json_binary value)


class JsonDiffs:
    """Writer-side marker: an after-image JSON cell given as a diff vector
    ``[(op, path, value), ...]`` instead of a full document."""

    def __init__(self, diffs: list):
        self.diffs = list(diffs)


DIFF_REPLACE, DIFF_INSERT, DIFF_REMOVE = 0, 1, 2


def _enc_json_diffs(diffs: list) -> bytes:
    out = bytearray()
    for op, path, value in diffs:
        out.append(op)
        pb = path.encode()
        out += _packed(len(pb)) + pb
        if op != DIFF_REMOVE:
            vb = _enc_json_binary(value)
            out += _packed(len(vb)) + vb
    return bytes(out)


def _dec_json_diffs(b: bytes) -> list:
    diffs, i = [], 0
    while i < len(b):
        op = b[i]
        i += 1
        if op > DIFF_REMOVE:
            raise ValueError(f"unknown JSON diff operation {op}")
        n, i = _read_packed(b, i)
        path = b[i : i + n].decode()
        i += n
        value = None
        if op != DIFF_REMOVE:
            n, i = _read_packed(b, i)
            value = _dec_json_binary(b[i : i + n])
            i += n
        diffs.append((op, path, value))
    return diffs


def _json_path_tokens(path: str) -> list:
    """MySQL JSON path subset used by partial updates: ``$`` root, ``.name``
    (bare or double-quoted) members, ``[N]`` array positions."""
    if not path.startswith("$"):
        raise ValueError(f"JSON path must start with $: {path!r}")
    toks: list = []
    i = 1
    while i < len(path):
        ch = path[i]
        if ch == ".":
            i += 1
            if i < len(path) and path[i] == '"':
                j = path.index('"', i + 1)
                toks.append(path[i + 1 : j])
                i = j + 1
            else:
                j = i
                while j < len(path) and (path[j].isalnum() or path[j] in "_$"):
                    j += 1
                if j == i:
                    raise ValueError(f"empty member name in JSON path {path!r}")
                toks.append(path[i:j])
                i = j
        elif ch == "[":
            j = path.index("]", i)
            toks.append(int(path[i + 1 : j]))
            i = j + 1
        else:
            raise ValueError(f"bad JSON path syntax at {i} in {path!r}")
    return toks


def apply_json_diffs(doc_text: str | None, diffs: list) -> str:
    """Apply a decoded diff vector to the BEFORE-image document (canonical
    JSON text) -> canonical after-image text. Semantics follow MySQL's
    Json_diff apply: REPLACE requires the leaf to exist, INSERT requires a
    member NOT to exist (array inserts shift; index past the end appends),
    REMOVE deletes an existing leaf; any violation means the diff stream
    does not match the image — corruption — and raises ValueError."""
    import json as _json

    doc = _json.loads(doc_text) if doc_text is not None else None
    try:
        for op, path, value in diffs:
            toks = _json_path_tokens(path)
            if not toks:
                if op != DIFF_REPLACE:
                    raise ValueError("only REPLACE is valid at the root path")
                doc = value
                continue
            parent = doc
            for t in toks[:-1]:
                parent = parent[t]
            leaf = toks[-1]
            if isinstance(parent, list) != isinstance(leaf, int):
                raise ValueError(f"path {path!r} step type mismatch")
            if op == DIFF_REPLACE:
                if isinstance(parent, list):
                    if not 0 <= leaf < len(parent):
                        raise ValueError(f"REPLACE at missing index {path!r}")
                    parent[leaf] = value
                else:
                    if leaf not in parent:
                        raise ValueError(f"REPLACE at missing member {path!r}")
                    parent[leaf] = value
            elif op == DIFF_INSERT:
                if isinstance(parent, list):
                    parent.insert(min(leaf, len(parent)), value)
                else:
                    if leaf in parent:
                        raise ValueError(f"INSERT over existing member {path!r}")
                    parent[leaf] = value
            else:  # REMOVE
                if isinstance(parent, list):
                    if not 0 <= leaf < len(parent):
                        raise ValueError(f"REMOVE at missing index {path!r}")
                    del parent[leaf]
                else:
                    if leaf not in parent:
                        raise ValueError(f"REMOVE at missing member {path!r}")
                    del parent[leaf]
    except (KeyError, IndexError, TypeError) as exc:
        raise ValueError(f"JSON diff does not apply: {type(exc).__name__}: {exc}") from exc
    return _json.dumps(doc, sort_keys=True, separators=(",", ":"))


def _dec_json_binary(b: bytes) -> object:
    if not b:
        return None
    t = b[0]
    if t == _J_LITERAL:
        return _j_read_value(t, b, 1)
    if t in (_J_INT16, _J_UINT16):
        return _j_read_value(t, b, 1)
    return _j_read_value(t, b, 1)


# ---------------------------------------------------------------------------
# value codecs (one row image cell)
# ---------------------------------------------------------------------------


def _enc_value(type_code: int, meta: int, v, charset: str = "utf-8",
               unsigned: bool = False) -> bytes:
    if type_code == MYSQL_TYPE_TINY:
        return struct.pack("<B" if unsigned else "<b", int(v))
    if type_code == MYSQL_TYPE_SHORT:
        return struct.pack("<H" if unsigned else "<h", int(v))
    if type_code == MYSQL_TYPE_INT24:
        return int(v).to_bytes(3, "little", signed=not unsigned)
    if type_code == MYSQL_TYPE_LONG:
        return struct.pack("<I" if unsigned else "<i", int(v))
    if type_code == MYSQL_TYPE_LONGLONG:
        return struct.pack("<Q" if unsigned else "<q", int(v))
    if type_code == MYSQL_TYPE_BIT:
        # ((bits + 7) / 8) bytes, big-endian; value = the integer bit pattern
        return int(v).to_bytes((meta + 7) // 8, "big")
    if type_code == MYSQL_TYPE_GEOMETRY:
        # BLOB-shaped: meta-byte little-endian length prefix; payload =
        # 4-byte LE SRID + WKB, carried as a hex string
        raw = bytes.fromhex(v) if isinstance(v, str) else bytes(v)
        return len(raw).to_bytes(meta, "little") + raw
    if type_code == MYSQL_TYPE_FLOAT:
        return struct.pack("<f", float(v))
    if type_code == MYSQL_TYPE_DOUBLE:
        return struct.pack("<d", float(v))
    if type_code == MYSQL_TYPE_VARCHAR:
        raw = v.encode(charset) if isinstance(v, str) else bytes(v)
        pre = struct.pack("<B", len(raw)) if meta < 256 else struct.pack("<H", len(raw))
        return pre + raw
    if type_code == MYSQL_TYPE_BLOB:
        raw = bytes(v)
        return len(raw).to_bytes(meta, "little") + raw
    if type_code == MYSQL_TYPE_TIMESTAMP2:
        # big-endian epoch seconds + big-endian fractional of ceil(fsp/2) bytes
        us = int(v)  # epoch microseconds
        sec, frac = divmod(us, 1_000_000)
        out = struct.pack(">I", sec)
        fsp_bytes = (meta + 1) // 2
        if fsp_bytes:
            out += (frac // (10 ** (6 - meta))).to_bytes(fsp_bytes, "big")
        return out
    if type_code == MYSQL_TYPE_DATE:
        # 3-byte LE packed: day | month << 5 | year << 9; value 'YYYY-MM-DD'
        y, mo, d = (int(p) for p in str(v).split("-"))
        return (d | (mo << 5) | (y << 9)).to_bytes(3, "little")
    if type_code == MYSQL_TYPE_DATETIME2:
        # 5-byte big-endian packed calendar fields + fractional like TS2;
        # value 'YYYY-MM-DD HH:MM:SS[.ffffff]'
        datepart, timepart = str(v).split(" ")
        y, mo, d = (int(p) for p in datepart.split("-"))
        hms, _, fracs = timepart.partition(".")
        h, mi, s = (int(p) for p in hms.split(":"))
        packed = (
            (1 << 39) | ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
        )
        out = packed.to_bytes(5, "big")
        fsp_bytes = (meta + 1) // 2
        if fsp_bytes:
            frac = int(fracs.ljust(6, "0")[:6]) if fracs else 0
            out += (frac // (10 ** (6 - meta))).to_bytes(fsp_bytes, "big")
        return out
    if type_code == MYSQL_TYPE_NEWDECIMAL:
        return _enc_decimal(v, meta >> 8, meta & 0xFF)
    if type_code == MYSQL_TYPE_JSON:
        import json as _json

        doc = _json.loads(v) if isinstance(v, str) else v
        body = _enc_json_binary(doc)
        return len(body).to_bytes(meta, "little") + body
    if type_code == MYSQL_TYPE_YEAR:
        # 1 byte, value - 1900 (0 = 0000)
        y = int(v)
        return bytes([0 if y == 0 else y - 1900])
    if type_code == MYSQL_TYPE_ENUM:
        # meta = index byte width (1 or 2); value = the 1-based enum index
        # (names live in the server catalog, not the binlog — the reference
        # resolves them via meta_manager; the index is what the wire carries)
        return int(v).to_bytes(meta, "little")
    if type_code == MYSQL_TYPE_SET:
        # meta = bitmask byte width (1-8); value = the member bitmask
        return int(v).to_bytes(meta, "little")
    if type_code == MYSQL_TYPE_TIME2:
        # MySQL TIME2 storage (my_time.c my_time_packed_to_binary): the
        # packed quantity nr = ±(((h<<12)|(mi<<6)|s) << 24 | usec) is stored
        # per-fsp — dec 0: 3-byte int part + 0x800000; dec 1-2: int part +
        # SIGNED byte usec/10^4; dec 3-4: int part + SIGNED int16 usec/10^2;
        # dec 5-6: the whole nr + 0x800000000000 in 6 bytes — so negative
        # fractional TIME is two's-complement over the COMBINED value
        # (ADVICE r7: a separate unsigned frac field only round-tripped
        # against this writer, not a genuine server binlog).
        text = str(v)
        neg = text.startswith("-")
        if neg:
            text = text[1:]
        hms_s, _, fracs = text.partition(".")
        h, mi, sec = (int(p) for p in hms_s.split(":"))
        frac = int(fracs.ljust(6, "0")[:6]) if fracs else 0
        if meta:
            frac -= frac % (10 ** (6 - meta))  # truncate to fsp
        else:
            frac = 0
        nr = (((h << 12) | (mi << 6) | sec) << 24) + frac
        if neg:
            nr = -nr
        if meta >= 5:
            return (nr + 0x800000000000).to_bytes(6, "big")
        int_part = nr >> 24  # Python floor shift == C arithmetic shift
        out = (0x800000 + int_part).to_bytes(3, "big")
        if meta == 0:
            return out
        # C trunc-toward-zero remainder, then scale; exact by construction
        fp = nr % (1 << 24) if nr >= 0 else -((-nr) % (1 << 24))
        if meta <= 2:
            return out + bytes([(fp // 10000 if fp >= 0 else -((-fp) // 10000)) & 0xFF])
        scaled = fp // 100 if fp >= 0 else -((-fp) // 100)
        return out + (scaled & 0xFFFF).to_bytes(2, "big")
    raise NotImplementedError(f"binlog writer: unsupported column type {type_code}")


def _dec_value(type_code: int, meta: int, b: bytes, i: int, charset: str = "utf-8",
               unsigned: bool = False) -> tuple[str, int]:
    """Decode one cell -> (string rendering, next offset). Strings are the
    uniform cell type of the schema-fluid change model (parse_debezium_fluid);
    integers render bare, floats via repr (exact round-trip), TIMESTAMP2 as
    epoch microseconds."""
    if type_code == MYSQL_TYPE_TINY:
        return str(struct.unpack_from("<B" if unsigned else "<b", b, i)[0]), i + 1
    if type_code == MYSQL_TYPE_SHORT:
        return str(struct.unpack_from("<H" if unsigned else "<h", b, i)[0]), i + 2
    if type_code == MYSQL_TYPE_INT24:
        return str(int.from_bytes(b[i : i + 3], "little", signed=not unsigned)), i + 3
    if type_code == MYSQL_TYPE_LONG:
        return str(struct.unpack_from("<I" if unsigned else "<i", b, i)[0]), i + 4
    if type_code == MYSQL_TYPE_LONGLONG:
        return str(struct.unpack_from("<Q" if unsigned else "<q", b, i)[0]), i + 8
    if type_code == MYSQL_TYPE_BIT:
        n = (meta + 7) // 8
        return str(int.from_bytes(b[i : i + n], "big")), i + n
    if type_code == MYSQL_TYPE_GEOMETRY:
        n = int.from_bytes(b[i : i + meta], "little")
        i += meta
        return b[i : i + n].hex(), i + n
    if type_code == MYSQL_TYPE_FLOAT:
        return repr(struct.unpack_from("<f", b, i)[0]), i + 4
    if type_code == MYSQL_TYPE_DOUBLE:
        return repr(struct.unpack_from("<d", b, i)[0]), i + 8
    if type_code == MYSQL_TYPE_VARCHAR:
        if meta < 256:
            n, i = b[i], i + 1
        else:
            n, i = struct.unpack_from("<H", b, i)[0], i + 2
        return b[i : i + n].decode(charset), i + n
    if type_code == MYSQL_TYPE_BLOB:
        n = int.from_bytes(b[i : i + meta], "little")
        i += meta
        return b[i : i + n].hex(), i + n
    if type_code == MYSQL_TYPE_TIMESTAMP2:
        sec = struct.unpack_from(">I", b, i)[0]
        i += 4
        fsp_bytes = (meta + 1) // 2
        frac = 0
        if fsp_bytes:
            frac = int.from_bytes(b[i : i + fsp_bytes], "big") * (10 ** (6 - meta))
            i += fsp_bytes
        return str(sec * 1_000_000 + frac), i
    if type_code == MYSQL_TYPE_DATE:
        ymd = int.from_bytes(b[i : i + 3], "little")
        return f"{ymd >> 9:04d}-{(ymd >> 5) & 15:02d}-{ymd & 31:02d}", i + 3
    if type_code == MYSQL_TYPE_DATETIME2:
        packed = int.from_bytes(b[i : i + 5], "big")
        i += 5
        ym = (packed >> 22) & ((1 << 17) - 1)
        text = (
            f"{ym // 13:04d}-{ym % 13:02d}-{(packed >> 17) & 31:02d} "
            f"{(packed >> 12) & 31:02d}:{(packed >> 6) & 63:02d}:{packed & 63:02d}"
        )
        fsp_bytes = (meta + 1) // 2
        if fsp_bytes:
            frac = int.from_bytes(b[i : i + fsp_bytes], "big") * (10 ** (6 - meta))
            i += fsp_bytes
            text += f".{frac:06d}"
        return text, i
    if type_code == MYSQL_TYPE_NEWDECIMAL:
        return _dec_decimal(b, i, meta >> 8, meta & 0xFF)
    if type_code == MYSQL_TYPE_JSON:
        import json as _json

        n = int.from_bytes(b[i : i + meta], "little")
        i += meta
        doc = _dec_json_binary(b[i : i + n])
        return _json.dumps(doc, sort_keys=True, separators=(",", ":")), i + n
    if type_code == MYSQL_TYPE_YEAR:
        y = b[i]
        return str(1900 + y if y else 0), i + 1
    if type_code in (MYSQL_TYPE_ENUM, MYSQL_TYPE_SET):
        return str(int.from_bytes(b[i : i + meta], "little")), i + meta
    if type_code == MYSQL_TYPE_TIME2:
        # inverse of the writer's my_time_packed_to_binary encoding
        # (my_time.c my_time_binary_to_packed): negative fractional TIME is
        # two's complement over the combined (int part, frac) quantity
        if meta >= 5:
            nr = int.from_bytes(b[i : i + 6], "big") - 0x800000000000
            i += 6
        else:
            intpart = int.from_bytes(b[i : i + 3], "big") - 0x800000
            i += 3
            if meta == 0:
                nr = intpart << 24
            elif meta <= 2:
                frac = b[i]
                i += 1
                if intpart < 0 and frac:
                    intpart += 1
                    frac -= 0x100
                nr = (intpart << 24) + frac * 10000
            else:
                frac = int.from_bytes(b[i : i + 2], "big")
                i += 2
                if intpart < 0 and frac:
                    intpart += 1
                    frac -= 0x10000
                nr = (intpart << 24) + frac * 100
        neg = nr < 0
        if neg:
            nr = -nr
        hms, frac_us = nr >> 24, nr & 0xFFFFFF
        h, mi, sec = (hms >> 12) & 0x3FF, (hms >> 6) & 0x3F, hms & 0x3F
        text = f"{'-' if neg else ''}{h:02d}:{mi:02d}:{sec:02d}"
        if meta:
            text += f".{frac_us // (10 ** (6 - meta)):0{meta}d}"
        return text, i
    raise NotImplementedError(f"binlog parser: unsupported column type {type_code}")


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


class _FileWriter:
    def __init__(self, ts: int):
        self.buf = bytearray(BINLOG_MAGIC)
        self.ts = ts

    def event(self, type_code: int, payload: bytes) -> None:
        size = HEADER_LEN + len(payload) + 4  # + CRC32 trailer
        log_pos = len(self.buf) + size
        ev = bytearray(_HEADER.pack(self.ts, type_code, _SERVER_ID, size, log_pos, 0))
        ev += payload
        ev += struct.pack("<I", zlib.crc32(bytes(ev)))
        self.buf += ev


def _inner_event(ts: int, type_code: int, payload: bytes) -> bytes:
    """One event INSIDE a TRANSACTION_PAYLOAD: headered, no CRC trailer,
    log_pos 0 (positions are carried by the wrapping event, per the public
    transaction-payload format — inner events are not checksummed)."""
    size = HEADER_LEN + len(payload)
    return _HEADER.pack(ts, type_code, _SERVER_ID, size, 0, 0) + payload


# transaction-payload TLV field types (public mysql OTW codes)
_OTW_END = 0
_OTW_PAYLOAD_SIZE = 1
_OTW_COMPRESSION_TYPE = 2
_OTW_UNCOMPRESSED_SIZE = 3
_COMPRESS_ZSTD = 0
_COMPRESS_NONE = 255


def _payload_event(inner: bytes, compression: str = "none") -> bytes:
    """TRANSACTION_PAYLOAD body: TLV header (compression type + payload
    size [+ uncompressed size when compressed] + end mark) followed by the
    inner-event bytes. ``compression='zstd'`` is the ONLY algorithm MySQL
    defines for binlog_transaction_compression (8.0.20+); the frame comes
    from pyarrow's zstd codec (sources/compression.py)."""
    if compression == "zstd":
        body = compress("zstd", inner)
        ctype = _COMPRESS_ZSTD
    elif compression == "none":
        body = inner
        ctype = _COMPRESS_NONE
    else:
        raise ValueError(f"unknown transaction-payload compression {compression!r}")
    tlv = bytearray()
    tlv += _packed(_OTW_COMPRESSION_TYPE) + _packed(len(_packed(ctype))) + _packed(ctype)
    if ctype != _COMPRESS_NONE:
        tlv += (
            _packed(_OTW_UNCOMPRESSED_SIZE)
            + _packed(len(_packed(len(inner))))
            + _packed(len(inner))
        )
    tlv += _packed(_OTW_PAYLOAD_SIZE) + _packed(len(_packed(len(body)))) + _packed(len(body))
    tlv += _packed(_OTW_END)
    return bytes(tlv) + body


def _fde_payload() -> bytes:
    # binlog_version(2) server_version(50, nul-padded) create_ts(4)
    # header_len(1) post-header-length array (one byte per known event type)
    # checksum_alg(1) — CRC32
    version = b"8.0.30-ape-dts-spark-sim".ljust(50, b"\x00")
    post_header = bytes(40)  # lengths unused by this parser; array size is arbitrary
    return struct.pack("<H", 4) + version + struct.pack("<I", 0) + bytes([HEADER_LEN]) + post_header + b"\x01"


def _table_map_payload(t: BinlogTable) -> bytes:
    p = t.table_id.to_bytes(6, "little") + struct.pack("<H", 1)
    s, n = t.schema.encode(), t.tb.encode()
    p += bytes([len(s)]) + s + b"\x00" + bytes([len(n)]) + n + b"\x00"
    p += _packed(len(t.cols))
    p += bytes(c[1] for c in t.cols)
    meta = b"".join(_meta_bytes(c[1], c[2]) for c in t.cols)
    p += _packed(len(meta)) + meta
    p += _bitmap([True] * len(t.cols))  # all columns nullable
    # optional metadata (MySQL >= 8.0.1): SIGNEDNESS TLV — one bit per
    # NUMERIC column in column order, MSB-first, set = UNSIGNED
    numeric = [c for c in t.cols if c[1] in _NUMERIC_TYPES]
    if numeric:
        bm = bytearray((len(numeric) + 7) // 8)
        for idx, c in enumerate(numeric):
            if c[0] in t.unsigned:
                bm[idx // 8] |= 1 << (7 - idx % 8)
        p += bytes([_OPTMETA_SIGNEDNESS]) + _packed(len(bm)) + bytes(bm)
    return p


def _row_image(t: BinlogTable, image: dict) -> bytes:
    nulls = [image.get(c[0]) is None for c in t.cols]
    out = bytearray(_bitmap(nulls))
    for (name, code, meta), is_null in zip(t.cols, nulls):
        if not is_null:
            out += _enc_value(code, meta, image[name], t.charset,
                              unsigned=name in t.unsigned)
    return bytes(out)


def _rows_payload(t: BinlogTable, type_code: int, rows: list) -> bytes:
    p = bytearray(t.table_id.to_bytes(6, "little") + struct.pack("<H", 0))
    p += struct.pack("<H", 2)  # v2 extra-data length (includes itself)
    p += _packed(len(t.cols))
    p += _bitmap([True] * len(t.cols))  # columns-present
    if type_code == UPDATE_ROWS_EVENT_V2:
        p += _bitmap([True] * len(t.cols))  # after-image columns-present
        for before, after in rows:
            p += _row_image(t, before) + _row_image(t, after)
    else:
        for image in rows:
            p += _row_image(t, image)
    return bytes(p)


def _partial_after_image(t: BinlogTable, after: dict) -> bytes:
    """After image of a PARTIAL_UPDATE_ROWS_EVENT row: value_options packed
    int (bit 0 = PARTIAL_JSON), a partial bitmap over the table's JSON
    columns in column order, then the usual null bitmap + cells — where a
    partial JSON cell carries its meta-width length prefix over a
    Json_diff_vector blob instead of a json_binary document."""
    json_cols = [c for c in t.cols if c[1] == MYSQL_TYPE_JSON]
    partial = [isinstance(after.get(c[0]), JsonDiffs) for c in json_cols]
    out = bytearray(_packed(1))  # value_options: PARTIAL_JSON_UPDATES
    if json_cols:
        out += _bitmap(partial)
    nulls = [after.get(c[0]) is None for c in t.cols]
    out += _bitmap(nulls)
    for (name, code, meta), is_null in zip(t.cols, nulls):
        if is_null:
            continue
        v = after[name]
        if isinstance(v, JsonDiffs):
            blob = _enc_json_diffs(v.diffs)
            out += len(blob).to_bytes(meta, "little") + blob
        else:
            out += _enc_value(code, meta, v, t.charset, unsigned=name in t.unsigned)
    return bytes(out)


def _partial_rows_payload(t: BinlogTable, rows: list) -> bytes:
    p = bytearray(t.table_id.to_bytes(6, "little") + struct.pack("<H", 0))
    p += struct.pack("<H", 2)
    p += _packed(len(t.cols))
    p += _bitmap([True] * len(t.cols))
    p += _bitmap([True] * len(t.cols))
    for before, after in rows:
        p += _row_image(t, before) + _partial_after_image(t, after)
    return bytes(p)


def encode_binlog_file(
    txns: list,
    tables: dict,
    file_name: str,
    next_file: str | None = None,
    server_uuid: str = "3e11fa47-71ca-11e1-9e33-c80aa9429562",
    start_gno: int = 1,
    base_ts: int = 1_700_000_000,
    payload_wrap: bool | str = False,
) -> bytes:
    """Encode transactions into one binlog file's bytes.

    ``txns``: list of transactions; each is a list of ops
    ``(table_key, row_type, before, after)`` where row_type is
    insert/update/delete/ddl (ddl carries the statement in ``after['query']``).
    ``tables``: table_key -> BinlogTable. Each txn becomes
    GTID, QUERY(BEGIN), per-op TABLE_MAP + ROWS events, XID — the event
    sequence the reference's dispatch loop consumes
    (mysql_cdc_extractor.rs:222-340). ``next_file`` appends a ROTATE."""
    w = _FileWriter(base_ts)
    w.event(FORMAT_DESCRIPTION_EVENT, _fde_payload())
    sid = bytes.fromhex(server_uuid.replace("-", ""))
    gno = start_gno
    for txn in txns:
        gtid = b"\x01" + sid + struct.pack("<q", gno)
        gtid += b"\x02" + struct.pack("<q", gno - 1) + struct.pack("<q", gno)  # logical ts
        w.event(GTID_EVENT, gtid)
        if payload_wrap:
            # MySQL 8.0.20+ binlog_transaction_compression: the whole txn
            # (BEGIN .. XID) rides ONE TRANSACTION_PAYLOAD event. Inner
            # events are headered but not checksummed. payload_wrap=True
            # writes compression NONE; payload_wrap='zstd' compresses with
            # the in-repo RFC 8878 codec (MySQL's only defined algorithm)
            inner = bytearray(_inner_event(w.ts, QUERY_EVENT, _query_payload("", "BEGIN")))
            for table_key, row_type, before, after in txn:
                if row_type == "ddl":
                    sch = tables[table_key].schema if table_key in tables else ""
                    inner += _inner_event(w.ts, QUERY_EVENT, _query_payload(sch, after["query"]))
                    continue
                t = tables[table_key]
                inner += _inner_event(w.ts, TABLE_MAP_EVENT, _table_map_payload(t))
                if row_type == "insert":
                    inner += _inner_event(w.ts, WRITE_ROWS_EVENT_V2,
                                          _rows_payload(t, WRITE_ROWS_EVENT_V2, [after]))
                elif row_type == "update":
                    inner += _inner_event(w.ts, UPDATE_ROWS_EVENT_V2,
                                          _rows_payload(t, UPDATE_ROWS_EVENT_V2, [(before, after)]))
                elif row_type == "partial_update":
                    inner += _inner_event(w.ts, PARTIAL_UPDATE_ROWS_EVENT,
                                          _partial_rows_payload(t, [(before, after)]))
                elif row_type == "delete":
                    inner += _inner_event(w.ts, DELETE_ROWS_EVENT_V2,
                                          _rows_payload(t, DELETE_ROWS_EVENT_V2, [before]))
                else:
                    raise ValueError(f"unknown row_type {row_type!r}")
            inner += _inner_event(w.ts, XID_EVENT, struct.pack("<Q", gno))
            comp = "zstd" if payload_wrap == "zstd" else "none"
            w.event(TRANSACTION_PAYLOAD_EVENT, _payload_event(bytes(inner), compression=comp))
            gno += 1
            w.ts += 1
            continue
        w.event(QUERY_EVENT, _query_payload("", "BEGIN"))
        for table_key, row_type, before, after in txn:
            if row_type == "ddl":
                sch = tables[table_key].schema if table_key in tables else ""
                w.event(QUERY_EVENT, _query_payload(sch, after["query"]))
                continue
            t = tables[table_key]
            w.event(TABLE_MAP_EVENT, _table_map_payload(t))
            if row_type == "insert":
                w.event(WRITE_ROWS_EVENT_V2, _rows_payload(t, WRITE_ROWS_EVENT_V2, [after]))
            elif row_type == "update":
                w.event(UPDATE_ROWS_EVENT_V2, _rows_payload(t, UPDATE_ROWS_EVENT_V2, [(before, after)]))
            elif row_type == "partial_update":
                w.event(PARTIAL_UPDATE_ROWS_EVENT, _partial_rows_payload(t, [(before, after)]))
            elif row_type == "delete":
                w.event(DELETE_ROWS_EVENT_V2, _rows_payload(t, DELETE_ROWS_EVENT_V2, [before]))
            else:
                raise ValueError(f"unknown row_type {row_type!r}")
        w.event(XID_EVENT, struct.pack("<Q", gno))
        gno += 1
        w.ts += 1
    if next_file:
        w.event(ROTATE_EVENT, struct.pack("<Q", 4) + next_file.encode())
    return bytes(w.buf)


def _query_payload(schema: str, query: str) -> bytes:
    s = schema.encode()
    return (
        struct.pack("<IIBHH", 0, 0, len(s), 0, 0) + s + b"\x00" + query.encode()
    )


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def gtid_event_id(body: bytes) -> tuple[str, int]:
    """GTID event body (flags u8 + 16-byte server uuid + i64 gno) ->
    (uuid text, gno)."""
    sid = body[1:17].hex()
    uuid = f"{sid[:8]}-{sid[8:12]}-{sid[12:16]}-{sid[16:20]}-{sid[20:]}"
    return uuid, struct.unpack_from("<q", body, 17)[0]


def parse_binlog_bytes(
    data: bytes, tables: dict, file_name: str = "", start_pos: int = 0
) -> list[dict]:
    """Guarded entry: see _parse_binlog_events. Corruption contract: any
    malformed input raises ValueError — never struct.error/IndexError —
    the uniform quarantine contract of the at-rest source family."""
    try:
        return _parse_binlog_events(data, tables, file_name, start_pos)
    except (ValueError, NotImplementedError):
        raise
    except (AssertionError, struct.error, IndexError, KeyError, OverflowError, MemoryError,
            UnicodeDecodeError, EOFError, TypeError, zlib.error) as e:
        raise ValueError(f"corrupt binlog file: {type(e).__name__}: {e}") from e


def _parse_binlog_events(
    data: bytes, tables: dict, file_name: str = "", start_pos: int = 0
) -> list[dict]:
    """Parse one binlog file's bytes into canonical change dicts.

    ``tables``: (schema, tb) -> BinlogTable supplying column NAMES and type
    metadata overrides; the on-wire TABLE_MAP supplies types/meta, names come
    from the registry (binlog files carry no column names — the reference
    resolves them via meta_manager.get_tb_meta, mysql_cdc_extractor.rs:361).
    Verifies per-event CRC32 when the FORMAT_DESCRIPTION declares it.
    Emits insert/update/delete rows plus 'ddl' (QUERY) and 'commit' (XID)
    markers, each stamped with (file, pos=next_event_position, gtid).

    ``start_pos``: checkpoint resume (the reference's
    StartPosition::BinlogPosition, mysql_cdc_extractor.rs:144-145) — events
    whose end position is <= start_pos are decoded for CONTEXT (TABLE_MAP /
    GTID state must be warm) but not emitted, so a resumed parse replays
    nothing the checkpoint already covers.
    """
    if data[:4] != BINLOG_MAGIC:
        raise ValueError("not a binlog file: bad magic")
    i, seq = 4, 0
    checksummed = False
    table_map: dict[int, tuple] = {}  # table_id -> (schema, tb, [(code, meta)])
    gtid = None
    out: list[dict] = []

    def emit(pos, ts, row_type, schema, tb, before, after, xid=None):
        nonlocal seq
        if pos <= start_pos:
            seq += 1  # seq stays aligned with the unresumed parse
            return
        out.append(
            {
                "file": file_name, "pos": pos, "seq": seq, "ts": ts, "gtid": gtid,
                "xid": xid, "schema": schema, "tb": tb, "row_type": row_type,
                "before": before, "after": after,
            }
        )
        seq += 1

    def handle(type_code, body, log_pos, ts):
        nonlocal gtid
        if type_code == GTID_EVENT:
            sid, gno = gtid_event_id(body)
            gtid = f"{sid}:{gno}"
        elif type_code == TABLE_MAP_EVENT:
            table_map.update(_parse_table_map(body))
        elif type_code in (WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2,
                           DELETE_ROWS_EVENT_V2, PARTIAL_UPDATE_ROWS_EVENT):
            for schema, tb, before, after in _parse_rows(body, type_code, table_map, tables):
                row_type = {
                    WRITE_ROWS_EVENT_V2: "insert",
                    UPDATE_ROWS_EVENT_V2: "update",
                    DELETE_ROWS_EVENT_V2: "delete",
                    # partial updates surface as full updates: diffs are
                    # re-applied onto the before image during decode
                    PARTIAL_UPDATE_ROWS_EVENT: "update",
                }[type_code]
                emit(log_pos, ts, row_type, schema, tb, before, after)
        elif type_code == QUERY_EVENT:
            schema_len = body[8]
            status_len = struct.unpack_from("<H", body, 11)[0]
            j = 13 + status_len
            schema = body[j : j + schema_len].decode()
            query = body[j + schema_len + 1 :].decode()
            if query != "BEGIN":
                emit(log_pos, ts, "ddl", schema, None, None, {"query": query})
        elif type_code == XID_EVENT:
            emit(log_pos, ts, "commit", None, None, None, None,
                 xid=struct.unpack_from("<Q", body, 0)[0])
        elif type_code == ROTATE_EVENT:
            nxt = body[8:].decode()
            emit(log_pos, ts, "rotate", None, None, None, {"next_file": nxt})
        elif type_code == TRANSACTION_PAYLOAD_EVENT:
            # TLV header, then concatenated UNCHECKSUMMED inner events; all
            # inner rows carry the WRAPPING event's position (checkpoint
            # granularity = the outer event, like the reference's
            # TransactionPayload handling)
            p = 0
            compression = _COMPRESS_NONE
            payload_len = None
            uncompressed_len = None
            while True:
                ftype, p = _read_packed(body, p)
                if ftype == _OTW_END:
                    break
                flen, p = _read_packed(body, p)
                fval = body[p : p + flen]
                p += flen
                if ftype == _OTW_COMPRESSION_TYPE:
                    compression, _ = _read_packed(fval, 0)
                elif ftype == _OTW_PAYLOAD_SIZE:
                    payload_len, _ = _read_packed(fval, 0)
                elif ftype == _OTW_UNCOMPRESSED_SIZE:
                    uncompressed_len, _ = _read_packed(fval, 0)
            inner = body[p : p + payload_len] if payload_len is not None else body[p:]
            if compression == _COMPRESS_ZSTD:
                # the only algorithm MySQL defines for
                # binlog_transaction_compression — pyarrow's zstd codec via
                # sources/compression.py (reference: TransactionPayload path
                # of mysql_cdc_extractor.rs via the zstd crate)
                inner = decompress("zstd", bytes(inner))
                if uncompressed_len is not None and len(inner) != uncompressed_len:
                    raise ValueError(
                        "TRANSACTION_PAYLOAD uncompressed size mismatch "
                        f"(TLV {uncompressed_len}, got {len(inner)})"
                    )
            elif compression != _COMPRESS_NONE:
                raise NotImplementedError(
                    f"transaction payload compression type {compression} unsupported"
                )
            k = 0
            while k < len(inner):
                its, itype, _isrv, isize, _ipos, _ifl = _HEADER.unpack_from(inner, k)
                if isize < HEADER_LEN:  # corrupted length = a stuck cursor
                    raise ValueError(f"bad inner event size {isize} at {k}")
                handle(itype, inner[k + HEADER_LEN : k + isize], log_pos, its)
                k += isize
        # PREVIOUS_GTIDS / unknown maintenance events: positions advance, no rows

    while i < len(data):
        ts, type_code, _server, size, log_pos, _flags = _HEADER.unpack_from(data, i)
        if size < HEADER_LEN or i + size > len(data):
            # a corrupted (or truncated-into) length would stall the cursor
            # or read past the stream — both are corruption, not data
            raise ValueError(f"bad event size {size} at offset {i}")
        ev = data[i : i + size]
        body = ev[HEADER_LEN:]
        if type_code == FORMAT_DESCRIPTION_EVENT:
            checksummed = body[-5] == 1
            i += size
            continue
        if checksummed:
            want = struct.unpack_from("<I", ev, size - 4)[0]
            if zlib.crc32(ev[: size - 4]) != want:
                raise ValueError(f"binlog CRC mismatch at offset {i}")
            body = body[:-4]
        handle(type_code, body, log_pos, ts)
        i += size
    return out


def _parse_table_map(body: bytes) -> dict:
    table_id = int.from_bytes(body[:6], "little")
    j = 8
    slen = body[j]
    schema = body[j + 1 : j + 1 + slen].decode()
    j += 1 + slen + 1
    tlen = body[j]
    tb = body[j + 1 : j + 1 + tlen].decode()
    j += 1 + tlen + 1
    n_cols, j = _read_packed(body, j)
    codes = list(body[j : j + n_cols])
    j += n_cols
    meta_len, j = _read_packed(body, j)
    meta_block = body[j : j + meta_len]
    k = 0
    cols = []
    for code in codes:
        if code == MYSQL_TYPE_VARCHAR:
            cols.append((code, struct.unpack_from("<H", meta_block, k)[0]))
            k += 2
        elif code == MYSQL_TYPE_NEWDECIMAL:
            cols.append((code, (meta_block[k] << 8) | meta_block[k + 1]))
            k += 2
        elif code in (
            MYSQL_TYPE_FLOAT, MYSQL_TYPE_DOUBLE, MYSQL_TYPE_BLOB,
            MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIME2,
            MYSQL_TYPE_JSON, MYSQL_TYPE_ENUM, MYSQL_TYPE_SET,
            MYSQL_TYPE_GEOMETRY,
        ):
            cols.append((code, meta_block[k]))
            k += 1
        elif code == MYSQL_TYPE_BIT:
            cols.append((code, meta_block[k] + meta_block[k + 1] * 8))
            k += 2
        else:
            cols.append((code, 0))
    j += meta_len
    j += (n_cols + 7) // 8  # nullability bitmap
    # optional metadata TLVs (>= 8.0.1): consume SIGNEDNESS, skip others
    unsigned_flags = [False] * n_cols
    while j < len(body):
        ftype = body[j]
        flen, j = _read_packed(body, j + 1)
        fval = body[j : j + flen]
        j += flen
        if ftype == _OPTMETA_SIGNEDNESS:
            numeric_idx = [c for c, code in enumerate(codes) if code in _NUMERIC_TYPES]
            for bit_i, col_i in enumerate(numeric_idx):
                if bit_i // 8 < len(fval) and fval[bit_i // 8] & (1 << (7 - bit_i % 8)):
                    unsigned_flags[col_i] = True
    cols = [(code, meta, unsigned_flags[c]) for c, (code, meta) in enumerate(cols)]
    return {table_id: (schema, tb, cols)}


def _parse_rows(body: bytes, type_code: int, table_map: dict, tables: dict):
    table_id = int.from_bytes(body[:6], "little")
    schema, tb, cols = table_map[table_id]
    reg = tables.get((schema, tb))
    if reg is None or len(reg.cols) != len(cols):
        raise ValueError(f"no column-name registry for {schema}.{tb} ({len(cols)} cols)")
    names = [c[0] for c in reg.cols]
    j = 8
    extra_len = struct.unpack_from("<H", body, j)[0]
    j += extra_len
    width, j = _read_packed(body, j)
    present_bytes = (width + 7) // 8
    present = body[j : j + present_bytes]
    j += present_bytes
    present2 = None
    if type_code in (UPDATE_ROWS_EVENT_V2, PARTIAL_UPDATE_ROWS_EVENT):
        present2 = body[j : j + present_bytes]
        j += present_bytes
    n_present = sum(_bit(present, c) for c in range(width))

    def one_image(j, pres, n_pres):
        null_bytes = (n_pres + 7) // 8
        nulls = body[j : j + null_bytes]
        j += null_bytes
        image, pi = {}, 0
        for c in range(width):
            if not _bit(pres, c):
                continue
            if _bit(nulls, pi):
                image[names[c]] = None
            else:
                code, meta, uns = cols[c]
                image[names[c]], j = _dec_value(code, meta, body, j, reg.charset,
                                                unsigned=uns)
            pi += 1
        return image, j

    def one_partial_after(j, pres, n_pres, before):
        # WL#2955 partial row: value_options, then (when PARTIAL_JSON set) a
        # bitmap over the present JSON columns marking which cells carry
        # Json_diff_vector blobs; diffs re-apply onto the BEFORE image to
        # reconstruct the full after document
        vopts, j = _read_packed(body, j)
        jcols = [c for c in range(width) if _bit(pres, c) and cols[c][0] == MYSQL_TYPE_JSON]
        partial_set: set = set()
        if vopts & 1 and jcols:
            nb = (len(jcols) + 7) // 8
            pbits = body[j : j + nb]
            j += nb
            partial_set = {c for k, c in enumerate(jcols) if _bit(pbits, k)}
        null_bytes = (n_pres + 7) // 8
        nulls = body[j : j + null_bytes]
        j += null_bytes
        image, pi = {}, 0
        for c in range(width):
            if not _bit(pres, c):
                continue
            if _bit(nulls, pi):
                image[names[c]] = None
            elif c in partial_set:
                code, meta, uns = cols[c]
                n = int.from_bytes(body[j : j + meta], "little")
                j += meta
                diffs = _dec_json_diffs(body[j : j + n])
                j += n
                image[names[c]] = apply_json_diffs(before.get(names[c]), diffs)
            else:
                code, meta, uns = cols[c]
                image[names[c]], j = _dec_value(code, meta, body, j, reg.charset,
                                                unsigned=uns)
            pi += 1
        return image, j

    rows = []
    while j < len(body):
        if type_code == WRITE_ROWS_EVENT_V2:
            after, j = one_image(j, present, n_present)
            rows.append((schema, tb, None, after))
        elif type_code == DELETE_ROWS_EVENT_V2:
            before, j = one_image(j, present, n_present)
            rows.append((schema, tb, before, None))
        else:
            n_present2 = sum(_bit(present2, c) for c in range(width))
            before, j = one_image(j, present, n_present)
            if type_code == PARTIAL_UPDATE_ROWS_EVENT:
                after, j = one_partial_after(j, present2, n_present2, before)
            else:
                after, j = one_image(j, present2, n_present2)
            rows.append((schema, tb, before, after))
    return rows


# ---------------------------------------------------------------------------
# distributed scan
# ---------------------------------------------------------------------------


def read_binlog_files(
    spark: SparkSession,
    path: str,
    tables: dict,
    start_file: str | None = None,
    start_pos: int = 0,
) -> DataFrame:
    """Distributed binlog scan: ``binaryFile`` over a directory of binlog
    files, one whole file per task (the rotation chain is the parallelism;
    each file decodes independently). ``seq`` is globalized as
    (file index << 33) | within-file event seq so a single ORDER BY seq
    reproduces (file, pos) replication order — MysqlCdcPosition.sort_key.

    ``(start_file, start_pos)``: checkpoint resume — files before
    ``start_file`` in rotation order are skipped entirely (partition pruning
    on the file index), and within ``start_file`` only events past
    ``start_pos`` are emitted."""
    from ape_dts_spark.model.position import MysqlCdcPosition

    start_idx = MysqlCdcPosition(start_file, start_pos).file_index() if start_file else -1
    return _scan_files(spark, path, _file_decoder(tables, start_idx, start_pos), CHANGE_SCHEMA)


def _file_decoder(tables: dict, start_idx: int, start_pos: int):
    """The shared whole-file decode of the batch and streaming scans."""

    def parse(name, idx, content):
        if idx < start_idx:
            return []
        pos0 = start_pos if idx == start_idx else 0
        return parse_binlog_bytes(content, tables, file_name=name, start_pos=pos0)

    return _chain_decode(parse)


def stream_binlog_files(
    spark: SparkSession,
    path: str,
    tables: dict,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming tail of a binlog rotation directory: the live
    half of the at-rest story — new files appearing in ``path`` (a
    rotation, an uploaded chunk) flow through the same whole-file decode as
    the batch scan and into the standard CdcPipeline via foreachBatch; the
    stream checkpoint makes the tail resumable exactly like the reference's
    StartPosition. This is how the reference's always-on binlog client maps
    onto Spark's execution model: file arrival = event-stream progress,
    micro-batch = transaction batch (mysql_cdc_extractor.rs:195-216)."""
    return _scan_files(
        spark, path, _file_decoder(tables, -1, 0), CHANGE_SCHEMA,
        stream=True, max_files_per_trigger=max_files_per_trigger,
    )


def write_binlog_files(
    txns: list,
    tables: dict,
    out_dir: str,
    base_name: str = "binlog",
    per_file: int = 0,
    payload_wrap_files: dict | None = None,
) -> list[str]:
    """Write a rotation chain: ``txns`` split into files of ``per_file``
    transactions (0 = single file), each non-final file ending in a ROTATE
    to the next, GTID gnos continuous across the chain.

    ``payload_wrap_files``: {file index (0-based) -> payload_wrap value}
    — lets a chain mix plain event files with TRANSACTION_PAYLOAD files
    (True = uncompressed wrap, 'zstd' = compressed), the shape of a server
    whose binlog_transaction_compression setting changed mid-chain."""
    gno = 1

    def encode(i, chunk, names):
        nonlocal gno
        nxt = names[i + 1] if i + 1 < len(names) else None
        data = encode_binlog_file(
            chunk, tables, names[i], next_file=nxt, start_gno=gno, base_ts=1_700_000_000 + gno,
            payload_wrap=(payload_wrap_files or {}).get(i, False),
        )
        gno += len(chunk)
        return data

    return _write_chain(txns, per_file, out_dir, base_name, "", encode)
