"""CDC-prerequisite precheck parity.

Pure-function ports of the reference's precheckers operating on captured
server snapshots (dt-precheck/src/prechecker/mysql_prechecker.rs:40-396,
pg_prechecker.rs:46-160, mongo_prechecker.rs:38-114).
"""

from ape_dts_spark.precheck import (
    check_mongo_cdc,
    check_mongo_version,
    check_mysql_cdc_vars,
    check_mysql_version,
    check_pg_cdc_vars,
    check_pg_version,
    run_cdc_prechecks,
)

# ---------------------------------------------------------------------------
# server-variable gates
# ---------------------------------------------------------------------------


def test_mysql_version_regex():
    assert check_mysql_version("8.0.36").ok
    assert check_mysql_version("5.7.44-log").ok
    r = check_mysql_version("10.6.1-MariaDB")
    assert not r.ok and r.detail == "mysql version:[10.6.1-MariaDB] is invalid."
    assert check_mysql_version("").detail == "found no version info."


def test_mysql_cdc_vars_green_and_each_failure():
    good = {"log_bin": "ON", "binlog_format": "ROW", "binlog_row_image": "FULL"}
    assert check_mysql_cdc_vars(good).ok
    r = check_mysql_cdc_vars({**good, "log_bin": "OFF"})
    assert not r.ok and r.detail == "log_bin setting:[off] is not 'on'."
    r = check_mysql_cdc_vars({**good, "binlog_format": "MIXED"})
    assert r.detail == "binlog_format setting:[mixed] is not 'row'."
    r = check_mysql_cdc_vars({**good, "binlog_row_image": "MINIMAL"})
    # the reference's binlog_row_image message has no trailing period
    # (mysql_prechecker.rs:112)
    assert r.detail == "binlog_row_image setting:[minimal] is not 'full'"
    # all three fail -> joined with ';' in fetch-list order
    r = check_mysql_cdc_vars({"log_bin": "OFF", "binlog_format": "STATEMENT",
                              "binlog_row_image": "noblob"})
    assert r.detail.count(";") == 2 and r.detail.startswith("log_bin")
    assert r.warn  # advise string attached on failure
    # target side is a no-op (mysql_prechecker.rs:80-89)
    assert check_mysql_cdc_vars({"log_bin": "OFF"}, is_source=False).ok


def test_pg_version_and_cdc_vars():
    assert check_pg_version(120000).ok
    assert check_pg_version("160002").ok
    r = check_pg_version(110013)
    assert not r.ok and r.detail == "version:110013 is not supported yet"
    good = {"wal_level": "logical", "max_replication_slots": 4, "max_wal_senders": 4}
    assert check_pg_cdc_vars(good, existing_slots=["a"]).ok
    r = check_pg_cdc_vars({**good, "wal_level": "replica"})
    assert r.detail == "wal_level should not be 'replica', need to be 'logical'."
    r = check_pg_cdc_vars({**good, "max_replication_slots": 0})
    assert "max_replication_slots needs to be greater than 0" in r.detail
    r = check_pg_cdc_vars({**good, "max_wal_senders": 0})
    # faithful to the reference's own spelling (pg_prechecker.rs:130)
    assert "max_wel_senders needs to be greater than 0" in r.detail
    # slot headroom: existing slots == max_replication_slots blocks slot
    # creation (pg_prechecker.rs:145-153); only probed when vars are green
    r = check_pg_cdc_vars({**good, "max_replication_slots": 2}, existing_slots=["s1", "s2"])
    assert not r.ok and "has reached max_replication_slots" in r.detail
    r = check_pg_cdc_vars({**good, "wal_level": "minimal", "max_replication_slots": 2},
                          existing_slots=["s1", "s2"])
    assert "has reached" not in r.detail  # headroom skipped when vars already failed
    assert check_pg_cdc_vars({}, is_source=False).ok


def test_mongo_hello_probe():
    assert check_mongo_version("6.0.6").ok
    assert not check_mongo_version("3.6.9").ok
    ok_hello = {"ok": 1.0, "primary": "h1:27017", "me": "h1:27017"}
    assert check_mongo_cdc(ok_hello).ok
    r = check_mongo_cdc({"ok": 0.0})
    assert r.detail == "fetching mongodb instance status with 'db.hello()' failed."
    # mongos passes as-is (mongo_prechecker.rs:91,95)
    assert check_mongo_cdc({"ok": 1.0, "msg": "isdbgrid"}).ok
    r = check_mongo_cdc({"ok": 1.0})
    assert r.detail == "mongodb is not a replicaSet architecture."
    r = check_mongo_cdc({"ok": 1.0, "primary": "h1:27017", "me": "h2:27017"})
    assert r.detail == "the mongodb instance is not a master."
    assert check_mongo_cdc({"ok": 0.0}, is_source=False).ok


def test_run_cdc_prechecks_bundle_shapes():
    out = run_cdc_prechecks(
        "mysql", {"log_bin": "ON", "binlog_format": "ROW", "binlog_row_image": "FULL"},
        version="8.0.36")
    assert [r.check for r in out] == ["database_version", "cdc_supported"]
    assert all(r.ok for r in out)
    out = run_cdc_prechecks("pg", {"wal_level": "logical", "max_replication_slots": 2,
                                   "max_wal_senders": 2}, existing_slots=[], version=150001)
    assert all(r.ok for r in out)
    out = run_cdc_prechecks("mongo", {}, hello={"ok": 1.0, "primary": "a", "me": "a"},
                            version="7.0.1")
    assert all(r.ok for r in out)
