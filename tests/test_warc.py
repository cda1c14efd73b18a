"""WARC reader: hand-built byte vectors, gzip-member layout, HTTP unwrap,
truncation/framing errors, distributed explode."""

import gzip

import pytest

from ape_dts_spark.sources import warc


def _hand_record(body: bytes, extra: bytes = b"") -> bytes:
    """Spec-literal record bytes written by hand, independent of the writer."""
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Record-ID: <urn:uuid:x1>\r\n"
        b"WARC-Date: 2024-03-04T05:06:07Z\r\n"
        + extra
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"Content-Type: text/plain\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )


def test_parse_hand_record():
    recs = warc.parse_warc(_hand_record(b"abc\r\ndef"))
    assert len(recs) == 1
    r = recs[0]
    assert r["version"] == "WARC/1.0"
    assert r["headers"]["warc-type"] == "resource"
    assert r["headers"]["warc-date"] == "2024-03-04T05:06:07Z"
    assert r["payload"] == b"abc\r\ndef"


def test_payload_may_contain_crlf_crlf():
    # Content-Length framing must win over any separator-looking bytes
    body = b"A\r\n\r\nB\r\n\r\n"
    recs = warc.parse_warc(_hand_record(body) + _hand_record(b"tail"))
    assert [r["payload"] for r in recs] == [body, b"tail"]


def test_gzip_member_per_record_layout():
    r1, r2 = _hand_record(b"one"), _hand_record(b"two")
    blob = gzip.compress(r1) + gzip.compress(r2)
    assert [r["payload"] for r in warc.parse_warc(blob)] == [b"one", b"two"]
    # and the same bytes parse as one plain stream too
    assert len(warc.parse_warc(r1 + r2)) == 2


def test_framing_errors():
    with pytest.raises(ValueError, match="version"):
        warc.parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        warc.parse_warc(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nxx\r\n\r\n")
    truncated = _hand_record(b"full-body")[:-6]  # cut into the payload
    with pytest.raises(ValueError, match="truncated|terminator"):
        warc.parse_warc(truncated)
    with pytest.raises(ValueError, match="truncated gzip"):
        warc.parse_warc(gzip.compress(_hand_record(b"x"))[:-3])


def test_http_unwrap_case_insensitive_headers():
    http = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"LOCATION: https://example.org/new\r\n"
        b"content-TYPE: text/html\r\n"
        b"\r\n<html></html>"
    )
    status, headers, body = warc.parse_http_response(http)
    assert status == 301
    assert headers["location"] == "https://example.org/new"
    assert headers["content-type"] == "text/html"
    assert body == b"<html></html>"


def test_read_warc_distributed_mixed_records(spark):
    rows = []
    for k in range(12):
        info = warc.encode_warc_record(
            "warcinfo", f"i{k}", "2024-01-01T00:00:00Z", b"software: fixture",
            content_type="application/warc-fields",
        )
        http = warc.encode_http_response(f"body {k}".encode(), status=200 + k % 2)
        resp = warc.encode_warc_record(
            "response", f"r{k}", "2024-01-01T00:00:01Z", http,
            target_uri=f"https://example.org/{k}",
            content_type="application/http;msgtype=response",
        )
        rows.append((k, bytearray(warc.encode_warc([info, resp], gzip_members=k % 2 == 0))))
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(3)
    out = warc.read_warc(df).collect()
    assert len(out) == 24
    by_key = {(r["id"], r["rec_idx"]): r for r in out}
    for k in range(12):
        info, resp = by_key[(k, 0)], by_key[(k, 1)]
        assert info["warc_type"] == "warcinfo" and info["http_status"] is None
        assert info["body"] == "software: fixture"
        assert resp["warc_type"] == "response"
        assert resp["target_uri"] == f"https://example.org/{k}"
        assert resp["http_status"] == 200 + k % 2
        assert resp["body"] == f"body {k}"


def test_read_warc_raw_body_preserves_bytes(spark):
    body = "héllo".encode("latin-1")
    http = warc.encode_http_response(body, content_type="text/html; charset=iso-8859-1")
    rec = warc.encode_warc_record(
        "response", "r1", "2024-01-01T00:00:00Z", http,
        target_uri="https://e.org/1",
    )
    df = spark.createDataFrame([(1, bytearray(warc.encode_warc([rec])))], "id long, payload binary")
    out = warc.read_warc(df, raw_body=True).collect()[0]
    assert bytes(out["body"]) == body  # no utf-8 mangling
    assert out["http_content_type"].endswith("charset=iso-8859-1")


def test_stream_warc_files_tail(spark, tmp_path):
    import os

    from ape_dts_spark.sources.warc import stream_warc_files

    src = tmp_path / "warcs"
    os.makedirs(src)
    for k in range(4):
        http = warc.encode_http_response(f"page {k}".encode())
        rec = warc.encode_warc_record(
            "response", f"r{k}", "2024-01-01T00:00:00Z", http,
            target_uri=f"https://e.org/{k}",
        )
        with open(src / f"{k}.warc.gz", "wb") as fh:
            fh.write(warc.encode_warc([rec], gzip_members=True))

    got = []

    def drain():
        (
            stream_warc_files(spark, str(src), max_files_per_trigger=1)
            .writeStream.foreachBatch(
                lambda batch, _bid: got.extend(
                    (r["id"], r["body"]) for r in batch.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    assert {(k, f"page {k}") for k in range(4)} == set(got)

    # a NEW file after the first drain is picked up on resume (checkpoint);
    # already-seen files do not replay
    http = warc.encode_http_response(b"page 9")
    rec = warc.encode_warc_record("response", "r9", "2024-01-01T00:00:01Z", http,
                                  target_uri="https://e.org/9")
    with open(src / "9.warc.gz", "wb") as fh:
        fh.write(warc.encode_warc([rec], gzip_members=True))
    before = len(got)
    drain()
    assert got[before:] == [(9, "page 9")]


def test_stream_file_id_from_name():
    """The tail's per-file id is the number in the `<n>.warc[.gz]` basename;
    a file without one is refused with ValueError, not an AttributeError
    from inside the decode."""
    from ape_dts_spark.sources.warc import _file_id

    assert _file_id("/in/00012.warc.gz") == 12
    assert _file_id("file:/in/7.warc") == 7
    with pytest.raises(ValueError, match="no <n>.warc"):
        _file_id("/in/crawl.warc")
