"""WARC (Web ARChive, ISO 28500) reader — the Common Crawl ingestion format.

An LLM data pipeline's raw-text front door is WARC: concatenated records,
each "WARC/1.0\\r\\n" + header block + Content-Length-framed payload +
"\\r\\n\\r\\n", with the Common Crawl convention of one gzip MEMBER per record
(so a plain gzip stream of the whole file still decodes, but members allow
record-level random access). Response records wrap a full HTTP/1.1 response
whose body is the page payload.

Same at-rest parser pattern as the CDC transports (sources/binlog_file.py &
co.): a deterministic spec-conformant WRITER (fixture generator), a
distributed Arrow-batched PARSER, an oracle gate that restates the record
fields, and hand-built byte vectors in tests. Scale shape: whole-file decode
per payload in one mapInPandas pass (WARC.gz is not splittable mid-member —
the standard move is many files, partition = file, exactly what
``binaryFile`` + this kernel gives; the streaming tail reads through the
shared file scan runner, ``session._scan_files``); no shuffle.

Spec: https://iipc.github.io/warc-specifications/ (WARC/1.0, ISO 28500).
"""

from __future__ import annotations

import gzip
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ape_dts_spark.session import _scan_files

CRLF = b"\r\n"


# ---------------------------------------------------------------------------
# writer (fixture generator)
# ---------------------------------------------------------------------------


def encode_warc_record(
    warc_type: str,
    record_id: str,
    warc_date: str,
    payload: bytes,
    target_uri: str | None = None,
    content_type: str = "application/octet-stream",
) -> bytes:
    """One WARC/1.0 record: version line, named headers, Content-Length
    framing, double-CRLF terminator."""
    heads = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<urn:uuid:{record_id}>"),
        ("WARC-Date", warc_date),
        ("Content-Length", str(len(payload))),
        ("Content-Type", content_type),
    ]
    if target_uri is not None:
        heads.insert(3, ("WARC-Target-URI", target_uri))
    block = b"WARC/1.0" + CRLF
    for k, v in heads:
        block += f"{k}: {v}".encode() + CRLF
    return block + CRLF + payload + CRLF + CRLF


def encode_http_response(body: bytes, status: int = 200, reason: str = "OK",
                         content_type: str = "text/plain; charset=utf-8") -> bytes:
    """Minimal valid HTTP/1.1 response for a WARC response record payload."""
    return (
        f"HTTP/1.1 {status} {reason}".encode() + CRLF
        + f"Content-Type: {content_type}".encode() + CRLF
        + f"Content-Length: {len(body)}".encode() + CRLF
        + CRLF
        + body
    )


def encode_warc(records: list[bytes], gzip_members: bool = False) -> bytes:
    """Concatenate records into a WARC file; with ``gzip_members`` each
    record becomes its own gzip member (the Common Crawl layout)."""
    if not gzip_members:
        return b"".join(records)
    return b"".join(gzip.compress(r) for r in records)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _gunzip_members(payload: bytes) -> bytes:
    """Inflate a multi-member gzip stream to the concatenated plain bytes."""
    out, rest = bytearray(), payload
    while rest:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC stream")
        rest = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """Parse a WARC file (plain or member-gzipped) into record dicts:
    warc headers + raw payload bytes. HTTP unwrapping is a separate,
    composable step (parse_http_response) — mirroring how warcio layers it."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    records, pos = [], 0
    while pos < len(payload):
        # tolerate inter-record CRLF slack
        while payload[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= len(payload):
            break
        head_end = payload.find(CRLF + CRLF, pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        head = payload[pos:head_end].decode("utf-8")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            n = int(headers["content-length"])
        except KeyError:
            raise ValueError("WARC record missing Content-Length") from None
        body_start = head_end + 4
        body = payload[body_start : body_start + n]
        if len(body) != n:
            raise ValueError("truncated WARC record payload")
        records.append({"version": lines[0], "headers": headers, "payload": body})
        pos = body_start + n
        if payload[pos : pos + 4] != CRLF + CRLF:
            raise ValueError("missing WARC record terminator")
        pos += 4
    return records


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """Split an HTTP/1.1 response into (status, lowercase headers, body)."""
    head_end = payload.find(CRLF + CRLF)
    if head_end < 0:
        raise ValueError("no HTTP header terminator")
    lines = payload[:head_end].decode("utf-8", errors="replace").split("\r\n")
    parts = lines[0].split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, payload[head_end + 4 :]


WARC_RECORD_SCHEMA = (
    "id long, rec_idx int, warc_type string, record_id string, warc_date string, "
    "target_uri string, http_status int, http_content_type string, body string"
)

WARC_RECORD_RAW_SCHEMA = WARC_RECORD_SCHEMA.replace("body string", "body binary")
_WARC_COLUMNS = ["id", "rec_idx", "warc_type", "record_id", "warc_date",
                 "target_uri", "http_status", "http_content_type", "body"]


def _warc_rows(fid, blob: bytes, raw_body: bool) -> list[dict]:
    """The records of one WARC file as WARC_RECORD_SCHEMA rows: response
    records additionally unwrap the HTTP envelope (status, Content-Type,
    body); others carry their raw payload as the body with NULL http
    fields."""
    rows = []
    for i, rec in enumerate(parse_warc(bytes(blob))):
        h = rec["headers"]
        row = {
            "id": int(fid),
            "rec_idx": i,
            "warc_type": h.get("warc-type"),
            "record_id": h.get("warc-record-id"),
            "warc_date": h.get("warc-date"),
            "target_uri": h.get("warc-target-uri"),
            "http_status": None,
            "http_content_type": None,
            "body": None,
        }
        body = rec["payload"]
        if h.get("warc-type") == "response":
            status, hh, body = parse_http_response(body)
            row["http_status"] = status
            row["http_content_type"] = hh.get("content-type")
        row["body"] = body if raw_body else body.decode("utf-8", errors="replace")
        rows.append(row)
    return rows


def read_warc(
    df: DataFrame, payload_col: str = "payload", id_col: str = "id",
    raw_body: bool = False,
) -> DataFrame:
    """Distributed WARC decode: one Arrow-batched pass exploding each file
    payload into its records (``_warc_rows``). With ``raw_body`` the body
    column stays BINARY — required when downstream transcoding picks the
    charset from the Content-Type header (functions/web.decode_charset);
    otherwise the body decodes as utf-8 text."""
    schema = WARC_RECORD_RAW_SCHEMA if raw_body else WARC_RECORD_SCHEMA

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fid, blob in zip(pdf[id_col], pdf[payload_col]):
                rows.extend(_warc_rows(fid, blob, raw_body))
            yield pd.DataFrame(rows, columns=_WARC_COLUMNS)

    return df.mapInPandas(_decode, schema=schema)


def stream_warc_files(
    spark, glob_path: str, max_files_per_trigger: int = 1, raw_body: bool = False,
) -> DataFrame:
    """Structured-Streaming tail over a directory of WARC files (the same
    shape as the binlog/pgoutput/oplog tails): new `.warc` / `.warc.gz`
    files land, each micro-batch explodes them into records with the row
    builder of read_warc; a file's id is the number in its `<n>.warc[.gz]`
    basename. Checkpoint/resume comes free from the file-source log."""
    return _scan_files(
        spark, glob_path,
        lambda path, content: _warc_rows(_file_id(path), content, raw_body),
        WARC_RECORD_RAW_SCHEMA if raw_body else WARC_RECORD_SCHEMA,
        stream=True, max_files_per_trigger=max_files_per_trigger,
    )


def _file_id(path: str) -> int:
    """The number in a `<n>.warc[.gz]` basename: the tail's per-file id."""
    m = re.search(r"(\d+)\.warc(?:\.gz)?$", path)
    if m is None:
        raise ValueError(f"WARC file name carries no <n>.warc[.gz] id: {path}")
    return int(m.group(1))
