"""The shared accept loop of the loopback fake servers: one server serves
any number of sequential client sessions (the live gates reopen sessions on
every evaluation), and stop() ends the loop promptly."""

import socket

from ape_dts_spark.sources.fake_servers import FakeMaster, FakeMongod
from ape_dts_spark.sources.mongo_client import MongoWireClient
from ape_dts_spark.sources.redis_psync import PsyncClient

SESSIONS = 20


def test_one_mongod_serves_many_sessions():
    srv = FakeMongod({("appdb", "items"): [{"_id": i} for i in range(5)]})
    srv.start()
    try:
        for _ in range(SESSIONS):
            c = MongoWireClient("127.0.0.1", srv.port, timeout=5)
            try:
                c.connect()
                assert c.estimated_document_count("appdb", "items") == 5
            finally:
                c.close()
    finally:
        srv.stop()
    assert srv.commands_seen.count("hello") == SESSIONS


def test_one_master_serves_many_sessions():
    srv = FakeMaster(repl_id="f" * 40, master_offset=0)
    srv.start()
    try:
        for _ in range(SESSIONS):
            c = PsyncClient("127.0.0.1", srv.port, timeout=5)
            try:
                assert c.start_psync() is True
                assert (c.repl_id, c.repl_offset) == ("f" * 40, 0)
            finally:
                c.close()
    finally:
        srv.stop()


def test_stop_ends_the_accept_loop():
    srv = FakeMaster()
    srv.start()
    srv.stop()
    srv.join(timeout=5)
    assert not srv.is_alive()
    s = socket.socket()
    try:
        assert s.connect_ex(("127.0.0.1", srv.port)) != 0
    finally:
        s.close()
