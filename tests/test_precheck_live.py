"""Live connection prechecks (r16): CheckItem::CheckDatabaseConnection
driven through the repo's own wire clients against the four loopback fake
servers — success paths carry the probed liveness details, refused/reset/
auth-rejected endpoints land as ok=False results instead of raising
(dt-precheck fetcher build_connection parity)."""

import socket

from ape_dts_spark.precheck import (
    check_mongo_connection,
    check_mysql_connection,
    check_pg_connection,
    check_redis_connection,
    run_connection_prechecks,
)


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def test_mysql_connection_ok_and_auth_reject():
    from ape_dts_spark.sources.fake_servers import FakeMysqlServer

    srv = FakeMysqlServer({}, password="pw")
    srv.start()
    try:
        r = check_mysql_connection("127.0.0.1", srv.port, password="pw")
        assert r.ok and r.detail.startswith("8.0")
        bad = check_mysql_connection("127.0.0.1", srv.port, password="no")
        assert not bad.ok and "authentication" in bad.detail
    finally:
        srv.stop()


def test_pg_connection_ok():
    from ape_dts_spark.sources.fake_servers import FakeWalsender

    srv = FakeWalsender(frames=[])
    srv.start()
    try:
        r = check_pg_connection("127.0.0.1", srv.port)
        assert r.ok and "server_version=16.3" in r.detail
    finally:
        srv.stop()


def test_redis_connection_ok_and_auth_reject():
    from ape_dts_spark.sources.fake_servers import FakeMaster

    srv = FakeMaster(password="sekrit")
    srv.start()
    try:
        r = check_redis_connection("127.0.0.1", srv.port, password="sekrit")
        assert r.ok and r.detail == "PONG"
        bad = check_redis_connection("127.0.0.1", srv.port, password="nope")
        assert not bad.ok
    finally:
        srv.stop()


def test_mongo_connection_ok_and_scram():
    from ape_dts_spark.sources.fake_servers import FakeMongod

    srv = FakeMongod({}, users={"app": "pw"})
    srv.start()
    try:
        r = check_mongo_connection("127.0.0.1", srv.port, username="app",
                                   password="pw")
        assert r.ok and "setName=rs0" in r.detail and "wire=0-17" in r.detail
        bad = check_mongo_connection("127.0.0.1", srv.port, username="app",
                                     password="xx")
        assert not bad.ok
    finally:
        srv.stop()


def test_refused_endpoints_land_as_failures_not_raises():
    port = _free_port()
    results = run_connection_prechecks([
        ("mysql", "127.0.0.1", port),
        ("pg", "127.0.0.1", port),
        ("redis", "127.0.0.1", port),
        ("mongo", "127.0.0.1", port),
        ("oracle", "127.0.0.1", port),
    ])
    assert [r.ok for r in results] == [False] * 5
    assert all(r.check == "database_connection" for r in results)
    assert "unknown endpoint kind" in results[-1].detail


def test_run_connection_prechecks_mixed():
    from ape_dts_spark.sources.fake_servers import FakeMaster

    srv = FakeMaster()
    srv.start()
    dead = _free_port()
    try:
        results = run_connection_prechecks([
            ("redis", "127.0.0.1", srv.port),
            ("redis", "127.0.0.1", dead),
        ])
        assert [r.ok for r in results] == [True, False]
    finally:
        srv.stop()


def test_redis_psync_permission_probe():
    from ape_dts_spark.precheck import check_redis_psync_permission
    from ape_dts_spark.sources.fake_servers import FakeMaster

    srv = FakeMaster(rdb_bytes=b"", repl_id="r" * 40, master_offset=77,
                     keepalive_newlines=0)
    srv.start()
    try:
        r = check_redis_psync_permission("127.0.0.1", srv.port)
        assert r.ok and r.detail == f"replid={'r' * 40} offset=77"
    finally:
        srv.stop()
    dead = _free_port()
    bad = check_redis_psync_permission("127.0.0.1", dead, timeout=2)
    assert not bad.ok and bad.check == "account_permission"
