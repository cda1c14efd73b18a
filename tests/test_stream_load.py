"""Stream Load request building (sinks/stream_load.py).

Reference parity: dt-connector/src/sinker/starrocks/starrocks_sinker.rs
100-277 — JSON-array bodies, hidden sign/version columns (StarRocks soft
delete), __op='delete' columns header (hard delete), Doris merge_type
headers, /api/{db}/{tb}/_stream_load URL, format/strip_outer_array/timezone
headers. Suites: dt-tests/tests/mysql_to_starrocks, mysql_to_doris.
"""

import json

from pyspark.sql import functions as F

from ape_dts_spark.sinks import stream_load as sl

COLS = ["id", "name"]


def _changes(spark):
    rows = [
        ("db", "t", "insert", 1, None, {"id": 1, "name": "a"}),
        ("db", "t", "insert", 2, None, {"id": 2, "name": None}),
        ("db", "t", "update", 3, {"id": 1, "name": "a"}, {"id": 1, "name": "A"}),
        ("db", "t", "delete", 4, {"id": 2, "name": None}, None),
        ("db", "u", "insert", 5, None, {"id": 9, "name": "z"}),
    ]
    return spark.createDataFrame(
        rows,
        "schema string, tb string, row_type string, seq long, "
        "before struct<id:long,name:string>, after struct<id:long,name:string>",
    )


def test_starrocks_soft_delete_rows(spark):
    """Default StarRocks path: deletes ride in the upsert load as rows of the
    hidden sign column; every row carries the version column; nulls
    serialize explicitly."""
    out = sl.stream_load_batches(_changes(spark), COLS).collect()
    by = {(r["tb"], r["op"]): r for r in out}
    assert set(by) == {("t", ""), ("u", "")}  # soft delete is an upsert load
    up = by[("t", "")]
    body = json.loads(up["body"])
    assert body[0] == {"id": 1, "name": "a", sl.SIGN_COL: 0, sl.VERSION_COL: 1_700_000_000_000}
    assert body[1]["name"] is None  # explicit null
    assert body[3][sl.SIGN_COL] == 1 and body[3]["id"] == 2  # delete = before image + sign
    assert up["url_path"] == "/api/db/t/_stream_load"


def test_starrocks_hard_delete_batches(spark):
    """hard_delete: delete batches split out and carry columns:__op='delete'
    (rs:136-146, 249-257); no hidden sign column."""
    out = sl.stream_load_batches(
        _changes(spark), COLS, db_type="starrocks", hard_delete=True, batch_size=10
    ).collect()
    by = {(r["schema"], r["tb"], r["op"]): r for r in out}
    up = by[("db", "t", "")]
    assert up["n_rows"] == 3
    body = json.loads(up["body"])
    assert [b["id"] for b in body] == [1, 2, 1]  # seq order
    assert body[0][sl.SIGN_COL] == 0  # hidden cols ride even in hard mode (rs:118-131)
    de = by[("db", "t", "delete")]
    assert de["headers"]["columns"] == "__op='delete'"
    dbody = json.loads(de["body"])
    assert dbody[0]["id"] == 2 and dbody[0]["name"] is None
    assert dbody[0][sl.SIGN_COL] == 1
    assert up["headers"] == {"format": "json", "strip_outer_array": "true",
                             "timezone": "UTC"}


def test_doris_merge_type_headers(spark):
    out = sl.stream_load_batches(_changes(spark), COLS, db_type="doris").collect()
    by = {(r["tb"], r["op"]): r["headers"]["merge_type"] for r in out}
    assert by[("t", "")] == "APPEND" and by[("t", "delete")] == "DELETE"
    # Doris rows have no hidden columns
    body = json.loads([r for r in out if r["op"] == ""][0]["body"])
    assert sl.SIGN_COL not in body[0] and sl.VERSION_COL not in body[0]


def test_batching_and_version_bump(spark):
    """batch_size caps bodies; the StarRocks version column bumps per batch
    (rs:109 max(now, last+1) made deterministic)."""
    rows = [("db", "t", "insert", i, None, {"id": i, "name": "x"}) for i in range(10)]
    ch = spark.createDataFrame(
        rows,
        "schema string, tb string, row_type string, seq long, "
        "before struct<id:long,name:string>, after struct<id:long,name:string>",
    )
    out = sorted(
        sl.stream_load_batches(ch, COLS, batch_size=4).collect(),
        key=lambda r: r["batch_seq"],
    )
    assert [r["n_rows"] for r in out] == [4, 4, 2]
    versions = [json.loads(r["body"])[0][sl.VERSION_COL] for r in out]
    assert versions == [1_700_000_000_000, 1_700_000_000_001, 1_700_000_000_002]
    ids = [b["id"] for r in out for b in json.loads(r["body"])]
    assert ids == list(range(10))


# ---------------------------------------------------------------------------
# HTTP transport (r15): execute_stream_load against a loopback FE/BE pair
# ---------------------------------------------------------------------------


class _FakeWarehouse:
    """Loopback StarRocks-shaped endpoint pair: the FE answers every Stream
    Load PUT with a 307 redirect to the BE (the real warehouse flow); the
    BE validates basic auth, records (path, headers, body), and answers the
    reference's response JSON — Success, or a Fail status for a poisoned
    table."""

    def __init__(self, username="root", password="", fail_tb=None):
        import base64
        import json as _json
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self.loads = []
        want_auth = "Basic " + base64.b64encode(
            f"{username}:{password}".encode()
        ).decode()
        wh = self

        class BE(BaseHTTPRequestHandler):
            def do_PUT(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if self.headers.get("Authorization") != want_auth:
                    self._reply(401, {"Status": "Fail", "Message": "auth"})
                    return
                wh.loads.append(
                    (self.path, dict(self.headers.items()), body)
                )
                tb = self.path.split("/")[3]
                if tb == fail_tb:
                    self._reply(200, {"Status": "Fail", "Message": "too many filtered rows"})
                else:
                    self._reply(200, {
                        "TxnId": 2039 + len(wh.loads), "Label": f"l{len(wh.loads)}",
                        "Status": "Success", "Message": "OK",
                        "NumberTotalRows": 3, "NumberLoadedRows": 3,
                    })

            def _reply(self, code, obj):
                payload = _json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, fmt, *args):
                pass

        class FE(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_PUT(self):
                # FE never reads the body: it redirects the load to a BE
                self.send_response(307)
                self.send_header(
                    "Location", f"http://127.0.0.1:{wh.be_port}{self.path}"
                )
                self.send_header("Content-Length", "0")
                self.end_headers()
                # drain so the keep-alive connection stays in sync
                n = int(self.headers.get("Content-Length", 0))
                self.rfile.read(n)

            def log_message(self, fmt, *args):
                pass

        self.be = ThreadingHTTPServer(("127.0.0.1", 0), BE)
        self.be_port = self.be.server_address[1]
        self.fe = ThreadingHTTPServer(("127.0.0.1", 0), FE)
        self.fe_port = self.fe.server_address[1]
        for srv in (self.be, self.fe):
            threading.Thread(target=srv.serve_forever, daemon=True).start()

    def stop(self):
        self.fe.shutdown(), self.be.shutdown()


def test_execute_stream_load_end_to_end(spark):
    """Built batches PUT over real loopback HTTP: the FE 307-redirect is
    followed re-issuing the PUT, the BE sees the exact built bodies and
    headers (auth, format/strip_outer_array/timezone), and results carry
    the response JSON fields."""
    wh = _FakeWarehouse()
    try:
        batches = sl.stream_load_batches(_changes(spark), COLS)
        built = {
            (r["url_path"], r["body"]) for r in batches.collect()
        }
        res = sl.execute_stream_load(
            batches, f"127.0.0.1:{wh.fe_port}"
        ).collect()
        assert len(res) == len(built) and all(r["status"] == "Success" for r in res)
        assert all(r["txn_id"] and r["label"] for r in res)
        got = {(path, body.decode()) for path, _h, body in wh.loads}
        assert got == built  # byte-exact bodies survived the redirect hop
        for _path, headers, _body in wh.loads:
            assert headers.get("format") == "json"
            assert headers.get("strip_outer_array") == "true"
            assert headers.get("timezone") == "UTC"
    finally:
        wh.stop()


def test_execute_stream_load_failure_paths(spark):
    """A Status != Success response raises by default (the reference's
    check_response bail) and lands in the error column under
    errors='collect'; bad credentials surface the 401."""
    import pytest

    wh = _FakeWarehouse(password="pw", fail_tb="u")
    try:
        batches = sl.stream_load_batches(_changes(spark), COLS)
        ep = f"127.0.0.1:{wh.fe_port}"
        with pytest.raises(Exception, match="load_result|Fail"):
            sl.execute_stream_load(batches, ep, password="pw").collect()
        res = sl.execute_stream_load(
            batches, ep, password="pw", errors="collect"
        ).collect()
        by_tb = {}
        for r in res:
            by_tb.setdefault(r["tb"], []).append(r)
        assert all(r["status"] == "Success" for r in by_tb["t"])
        assert all(r["status"] == "Fail" and "load_result" in r["error"]
                   for r in by_tb["u"])
        with pytest.raises(Exception, match="status_code: 401|load_result"):
            sl.execute_stream_load(batches, ep, password="wrong").collect()
    finally:
        wh.stop()
