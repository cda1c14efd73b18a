"""DDL breadth in CDC: structural statement recognition (plans/ddl_parse.py)
and target-side application with barrier semantics through
CdcPipeline.apply_batch — the everyday schema-change vocabulary the reference
parses in dt-common/src/meta/ddl_meta/ddl_statement.rs:6-35."""

import os

import pytest
from pyspark.sql import types as T

from ape_dts_spark.plans.ddl_parse import parse_ddl, split_ddl
from ape_dts_spark.sinks.parquet_table import ParquetTable
from ape_dts_spark.streaming.cdc import CdcPipeline, parse_debezium, write_debezium_jsonl

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.LongType()),
    ]
)


def ev(op, before=None, after=None, seq=0):
    return {
        "op": op,
        "before": before,
        "after": after,
        "source": {"db": "default", "table": "users", "ts_ms": 1700000000000 + seq, "seq": seq, "origin_node": None},
    }


def ddl(text, seq):
    return {
        "op": "ddl",
        "ddl": text,
        "source": {"db": "default", "table": "users", "ts_ms": 1700000000000 + seq, "seq": seq, "origin_node": None},
    }


def test_parse_ddl_statement_kinds():
    assert parse_ddl("ALTER TABLE db.users ADD COLUMN tier varchar(8)") .kind == "add_column"
    assert parse_ddl("ALTER TABLE users DROP COLUMN tier").args == ("tier",)
    assert parse_ddl("ALTER TABLE users RENAME COLUMN bal TO balance").args == ("bal", "balance")
    assert parse_ddl("ALTER TABLE users CHANGE COLUMN bal balance bigint").kind == "rename_column"
    st = parse_ddl("RENAME TABLE db.users TO db.members")
    assert st.kind == "rename_table" and st.table == "users" and st.args[1] == "members"
    assert parse_ddl("ALTER TABLE users RENAME TO members").args[1] == "members"
    assert parse_ddl("TRUNCATE TABLE db.users").kind == "truncate_table"
    assert parse_ddl("DROP TABLE IF EXISTS db.users").kind == "drop_table"
    assert parse_ddl("CREATE TABLE db.users (id bigint)").kind == "create_table"
    st = parse_ddl("CREATE UNIQUE INDEX idx ON users (a, b)")
    assert st.kind == "create_index" and st.args == ("idx", ("a", "b"))
    assert parse_ddl("DROP INDEX idx ON users").kind == "drop_index"
    assert parse_ddl("CREATE DATABASE d2").kind == "create_database"
    assert parse_ddl("GRANT SELECT ON t TO x").kind == "other"
    # DROP PRIMARY KEY must not parse as a column drop — the generic
    # alter_table recognizer still identifies the affected table
    st = parse_ddl("ALTER TABLE users DROP PRIMARY KEY")
    assert st.kind == "alter_table" and st.table == "users"


def test_parse_ddl_extended_kinds():
    """Round-6 breadth: ALTER DATABASE/SCHEMA, PG SET SCHEMA, the generic
    alter_table fallback (constraint/index/modify ops keep their target
    table for barrier + filter semantics), and rename-index NOT misparsed
    as a column rename."""
    st = parse_ddl("ALTER DATABASE db1 CHARACTER SET utf8mb4")
    assert st.kind == "alter_database" and st.schema == "db1"
    assert parse_ddl("ALTER SCHEMA s1 OWNER TO bob;").kind == "alter_database"
    st = parse_ddl("ALTER TABLE app.users SET SCHEMA archive")
    assert (st.kind, st.schema, st.table, st.args) == ("set_schema", "app", "users", ("archive",))
    st = parse_ddl("ALTER TABLE app.users ADD CONSTRAINT fk FOREIGN KEY (x) REFERENCES t(y)")
    assert (st.kind, st.schema, st.table) == ("alter_table", "app", "users")
    assert parse_ddl("ALTER TABLE users MODIFY COLUMN x BIGINT").kind == "modify_column"
    assert parse_ddl("ALTER TABLE users RENAME INDEX a TO b").kind == "alter_table"


def test_split_ddl_multi_targets():
    """split_to_multi parity (ddl_statement.rs:44-90): multi-table DROP /
    RENAME and PG multi-index DROP split into one routable statement per
    target; single-target text degrades to [parse_ddl(text)]."""
    from ape_dts_spark.plans.ddl_parse import split_ddl

    multi = split_ddl("DROP TABLE IF EXISTS db.a, db.b, c")
    assert [(s.kind, s.schema, s.table) for s in multi] == [
        ("drop_table", "db", "a"), ("drop_table", "db", "b"), ("drop_table", None, "c"),
    ]
    ren = split_ddl("RENAME TABLE db.a TO db.b, c TO d;")
    assert [(s.kind, s.schema, s.table, s.args) for s in ren] == [
        ("rename_table", "db", "a", ("db", "b")),
        ("rename_table", None, "c", (None, "d")),
    ]
    ix = split_ddl("DROP INDEX CONCURRENTLY IF EXISTS i1, i2")
    assert [(s.kind, s.args) for s in ix] == [("drop_index", ("i1",)), ("drop_index", ("i2",))]
    assert len(split_ddl("DROP TABLE db.only")) == 1
    one = split_ddl("DROP INDEX idx ON demo.t")[0]
    assert one.kind == "drop_index" and one.table == "t"
    assert split_ddl(None)[0].kind == "other"


def _apply(spark, src_dir, table, events, payload, batch_id):
    write_debezium_jsonl(events, os.path.join(src_dir, f"b{batch_id}.jsonl"))
    batch = parse_debezium(
        spark.read.text(os.path.join(src_dir, f"b{batch_id}.jsonl")), payload
    )
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    pipe.apply_batch(batch, batch_id=batch_id)


def test_rename_and_drop_column_in_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
        ddl("ALTER TABLE default.users RENAME COLUMN bal TO balance", seq=3),
    ], PAYLOAD, batch_id=0)
    assert [f.name for f in table.payload_schema.fields] == ["id", "name", "balance"]
    assert {r["id"]: r["balance"] for r in table.current().collect()} == {1: 10, 2: 20}

    renamed = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType()), T.StructField("balance", T.LongType())]
    )
    _apply(spark, src, table, [
        ev("u", before={"id": 1, "name": "a", "balance": 10},
           after={"id": 1, "name": "a", "balance": 11}, seq=4),
        ddl("ALTER TABLE default.users DROP COLUMN name", seq=5),
    ], renamed, batch_id=1)
    assert [f.name for f in table.payload_schema.fields] == ["id", "balance"]
    rows = {r["id"]: r["balance"] for r in table.current().collect()}
    assert rows == {1: 11, 2: 20}
    assert "name" not in table.current().columns


def test_drop_then_add_column_reads_null(spark, tmp_path):
    """DROP COLUMN then ADD COLUMN of the same name with no write between:
    the re-added column is NULL on every existing row, as MySQL gives, not
    the dropped values the parquet files still hold; rows written after the
    ADD carry their own."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "old", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "old", "bal": 20}, seq=2),
    ], PAYLOAD, batch_id=0)
    table.drop_column("name", "ALTER TABLE users DROP COLUMN name")
    table.add_column(T.StructField("name", T.StringType()), "ALTER TABLE users ADD COLUMN name varchar(8)")
    assert [f.name for f in table.payload_schema.fields] == ["id", "bal", "name"]
    assert {r["id"]: r["name"] for r in table.current().collect()} == {1: None, 2: None}
    _apply(spark, src, table, [
        ev("u", before={"id": 2, "bal": 20, "name": None},
           after={"id": 2, "bal": 21, "name": "new"}, seq=5),
    ], PAYLOAD, batch_id=1)
    assert {r["id"]: r["name"] for r in table.current().collect()} == {1: None, 2: "new"}


def test_batch_ending_in_ddl_commits_no_empty_segment(spark, tmp_path):
    """The empty DML segments around a batch's DDLs commit no copy of the
    table: a batch ending in ADD COLUMN advances the version by its DML
    segment only, and a batch holding only a DROP COLUMN not at all. Every
    epoch still records."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
    ], PAYLOAD, batch_id=0)
    assert table.version() == 0
    _apply(spark, src, table, [
        ev("u", before={"id": 1, "name": "a", "bal": 10}, after={"id": 1, "name": "a", "bal": 11}, seq=3),
        ddl("ALTER TABLE default.users ADD COLUMN tier varchar(8)", seq=4),
    ], PAYLOAD, batch_id=1)
    assert table.version() == 1 and table.last_applied("cdc") == 1
    assert [f.name for f in table.payload_schema.fields] == ["id", "name", "bal", "tier"]
    assert {r["id"]: (r["bal"], r["tier"]) for r in table.current().collect()} == {1: (11, None), 2: (20, None)}
    _apply(spark, src, table, [ddl("ALTER TABLE default.users DROP COLUMN name", seq=5)],
           PAYLOAD, batch_id=2)
    assert table.version() == 1 and table.last_applied("cdc") == 2


def test_drop_then_add_column_in_stream_reads_null(spark, tmp_path):
    """DROP COLUMN then ADD COLUMN of the same name as adjacent DDLs of one
    batch: no write lands between them, so the ADD's own rewrite is the
    batch's one commit and the re-added column reads NULL."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "old", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "old", "bal": 20}, seq=2),
    ], PAYLOAD, batch_id=0)
    _apply(spark, src, table, [
        ddl("ALTER TABLE default.users DROP COLUMN name", seq=3),
        ddl("ALTER TABLE default.users ADD COLUMN name varchar(8)", seq=4),
    ], PAYLOAD, batch_id=1)
    assert [f.name for f in table.payload_schema.fields] == ["id", "bal", "name"]
    assert {r["id"]: r["name"] for r in table.current().collect()} == {1: None, 2: None}
    assert table.version() == 1 and table.last_applied("cdc") == 1


def test_truncate_rename_drop_table_in_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
        ddl("TRUNCATE TABLE default.users", seq=3),
        ev("c", after={"id": 9, "name": "z", "bal": 90}, seq=4),
    ], PAYLOAD, batch_id=0)
    assert {r["id"] for r in table.current().collect()} == {9}

    _apply(spark, src, table, [ddl("RENAME TABLE default.users TO default.members", seq=5)], PAYLOAD, batch_id=1)
    assert table._read_meta()["table_name"] == "members"

    _apply(spark, src, table, [ddl("DROP TABLE default.members", seq=6)], PAYLOAD, batch_id=2)
    with pytest.raises(ValueError, match="dropped"):
        _apply(spark, src, table, [ev("c", after={"id": 3, "name": "c", "bal": 1}, seq=7)], PAYLOAD, batch_id=3)


def test_null_seq_event_refused_before_commit(spark, tmp_path):
    """An event with no source.seq cannot be ordered against the batch's DDL
    barriers (the DDL would never apply and every segment would re-cover the
    batch): the batch is refused before anything commits."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    truncate = ddl("TRUNCATE TABLE default.users", seq=2)
    del truncate["source"]["seq"]
    with pytest.raises(ValueError, match="NULL seq.*parse_debezium_with_dead_letter"):
        _apply(spark, src, table, [
            ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
            truncate,
            ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=3),
            ev("c", after={"id": None, "name": "n", "bal": 0}, seq=4),
        ], PAYLOAD, batch_id=0)
    assert table.version() == -1


def test_null_seq_batch_writes_no_version_or_epoch(spark, tmp_path):
    """On a table with a version, a DML-only batch holding a NULL-seq event
    is refused by the stats pass: no version, no epoch (whole or
    fractional) is written."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    _apply(spark, src, table, [ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1)], PAYLOAD, batch_id=0)
    meta = table._read_meta()
    unordered = ev("u", before={"id": 1, "name": "a", "bal": 10}, after={"id": 1, "name": "a", "bal": 99})
    del unordered["source"]["seq"]
    with pytest.raises(ValueError, match="NULL seq"):
        _apply(spark, src, table, [
            ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2), unordered,
        ], PAYLOAD, batch_id=1)
    assert table._read_meta() == meta and table.version() == 0
    assert sorted(os.listdir(table.path)) == ["_meta.json", "v0"]
    assert {r["id"]: r["bal"] for r in table.current().collect()} == {1: 10}


def test_parse_dcl_statement_kinds():
    from ape_dts_spark.plans.dcl_parse import parse_dcl

    assert parse_dcl("CREATE USER 'app'@'%' IDENTIFIED BY 'x'").kind == "create_user"
    assert parse_dcl("CREATE USER 'app'@'%' IDENTIFIED BY 'x'").principal == "app@%"
    assert parse_dcl("ALTER USER app IDENTIFIED BY 'y'").kind == "alter_user"
    assert parse_dcl("CREATE ROLE reporting").kind == "create_role"
    assert parse_dcl("DROP USER IF EXISTS 'app'@'10.0.0.1'").principal == "app@10.0.0.1"
    assert parse_dcl("DROP ROLE reporting").kind == "drop_role"
    st = parse_dcl("GRANT SELECT, INSERT ON db.* TO 'app'@'%'")
    assert st.kind == "grant" and st.principal == "app@%"
    assert parse_dcl("REVOKE ALL PRIVILEGES ON *.* FROM admin").kind == "revoke"
    assert parse_dcl("SET DEFAULT ROLE reporting").kind == "set_role"
    assert parse_dcl("ALTER TABLE t ADD COLUMN c int").kind == "unknown"
    assert parse_dcl("").kind == "unknown"


def test_ddl_dcl_filter_in_stream(spark, tmp_path):
    """An opt-in do_ddls config drops non-listed DDL; DCL is config-gated and
    logged, never applied to the data path (rdb_filter.rs:106-138)."""
    from ape_dts_spark.config.rdb_filter import RdbFilter

    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ddl("TRUNCATE TABLE default.users", seq=2),  # filtered out
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=3),
        ddl("GRANT SELECT ON db.* TO 'app'@'%'", seq=4),  # dcl: logged
        ddl("CREATE USER intruder IDENTIFIED BY 'x'", seq=5),  # dcl: filtered
        ddl("ALTER TABLE default.users ADD COLUMN tier varchar(8)", seq=6),  # passes
    ]
    write_debezium_jsonl(events, os.path.join(src, "b0.jsonl"))
    batch = parse_debezium(spark.read.text(os.path.join(src, "b0.jsonl")), PAYLOAD)
    pipe = CdcPipeline(
        spark, table, key_cols=["id"],
        rdb_filter=RdbFilter(do_ddls="add_column,drop_column", do_dcls="grant,revoke"),
    )
    pipe.apply_batch(batch, batch_id=0)

    # truncate was filtered: both rows survive; add_column passed
    assert {r["id"] for r in table.current().collect()} == {1, 2}
    assert "tier" in [f.name for f in table.payload_schema.fields]
    meta = table._read_meta()
    dcl_ops = [(d["op"], d["principal"]) for d in meta.get("dcl_log", [])]
    assert dcl_ops == [("grant", "app@%")]


def test_rdb_filter_ddl_dcl_semantics():
    from ape_dts_spark.config.rdb_filter import RdbFilter

    empty = RdbFilter()
    assert empty.filter_all_ddl() and empty.filter_ddl("add_column")
    assert empty.filter_all_dcl() and empty.filter_dcl("grant")
    assert not empty.filter_structure("index")  # structs default to all
    star = RdbFilter(do_ddls="*", do_dcls="*")
    assert not star.filter_ddl("truncate_table") and not star.filter_dcl("grant")
    sel = RdbFilter(do_ddls="add_column", ignore_cmds="flush")
    assert not sel.filter_ddl("add_column") and sel.filter_ddl("drop_table")
    assert sel.filter_cmd("flush") and not sel.filter_cmd("select")
    st = RdbFilter(do_structures="table,index")
    assert not st.filter_structure("index") and st.filter_structure("sequence")


def test_modify_column_widening_in_stream(spark, tmp_path):
    """MODIFY COLUMN applies safe type widenings to the target (long ->
    decimal(20,0) here), records them in the ddl_log, and REFUSES a
    narrowing (logged with a refused marker, schema and data untouched) —
    the stream never crashes and never silently corrupts."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
        ddl("ALTER TABLE default.users MODIFY COLUMN bal DECIMAL(20,0)", seq=3),
    ], PAYLOAD, batch_id=0)
    bal_t = {f.name: f.dataType for f in table.payload_schema.fields}["bal"]
    assert bal_t == T.DecimalType(20, 0)
    assert {r["id"]: int(r["bal"]) for r in table.current().collect()} == {1: 10, 2: 20}

    # narrowing refused: decimal(20,0) -> int is lossy
    table.widen_column("bal", T.IntegerType(), "ALTER TABLE users MODIFY bal INT")
    assert {f.name: f.dataType for f in table.payload_schema.fields}["bal"] == T.DecimalType(20, 0)
    log = table._read_meta()["ddl_log"]
    assert any(e.get("refused") for e in log if e.get("op") == "modify_column")
    assert any(e.get("to") == "decimal(20,0)" for e in log if e.get("op") == "modify_column")


def test_modify_column_parse_shapes():
    """MODIFY/CHANGE-retype/PG ALTER TYPE all normalize to modify_column
    with (name, type) args; CHANGE with a different name stays a rename."""
    st = parse_ddl("ALTER TABLE db.t MODIFY COLUMN x BIGINT")
    assert (st.kind, st.schema, st.table, st.args) == ("modify_column", "db", "t", ("x", "BIGINT"))
    st = parse_ddl("ALTER TABLE t CHANGE COLUMN x x DECIMAL(20,0)")
    assert (st.kind, st.args) == ("modify_column", ("x", "DECIMAL(20,0)"))
    st = parse_ddl("ALTER TABLE t CHANGE COLUMN x y BIGINT")
    assert (st.kind, st.args) == ("rename_column", ("x", "y"))
    st = parse_ddl("ALTER TABLE s.t ALTER COLUMN x SET DATA TYPE numeric(12,2)")
    assert (st.kind, st.args) == ("modify_column", ("x", "numeric(12,2)"))
    st = parse_ddl("ALTER TABLE s.t ALTER COLUMN x TYPE bigint USING x::bigint")
    assert (st.kind, st.args) == ("modify_column", ("x", "bigint"))


def test_can_widen_matrix():
    from ape_dts_spark.sinks.parquet_table import _can_widen

    ok = [
        (T.IntegerType(), T.LongType()),
        (T.ByteType(), T.ShortType()),
        (T.FloatType(), T.DoubleType()),
        (T.IntegerType(), T.DoubleType()),
        (T.LongType(), T.DecimalType(20, 0)),
        (T.DecimalType(10, 2), T.DecimalType(12, 2)),
        (T.DecimalType(10, 2), T.DecimalType(14, 4)),
        (T.LongType(), T.StringType()),
        (T.DecimalType(10, 2), T.StringType()),
    ]
    bad = [
        (T.LongType(), T.IntegerType()),
        (T.DoubleType(), T.FloatType()),
        (T.LongType(), T.DoubleType()),        # 2^63 does not fit a double
        (T.LongType(), T.DecimalType(19, 0)),  # 19 digits < max long
        (T.DecimalType(10, 2), T.DecimalType(10, 4)),  # integer digits shrink
        (T.DecimalType(10, 2), T.DecimalType(9, 2)),
        (T.StringType(), T.LongType()),
    ]
    for old, new in ok:
        assert _can_widen(old, new), (old, new)
    for old, new in bad:
        assert not _can_widen(old, new), (old, new)


def test_ddl_breadth_create_like_and_multi_truncate():
    """MySQL CREATE TABLE .. LIKE recognizes the new table as create_table;
    PG multi-table TRUNCATE (with identity/cascade suffixes) splits per
    target; single TRUNCATE is untouched."""
    from ape_dts_spark.plans.ddl_parse import split_ddl

    st = parse_ddl("CREATE TABLE db.new_t LIKE db.old_t")
    assert (st.kind, st.schema, st.table) == ("create_table", "db", "new_t")
    st = parse_ddl("CREATE TABLE n2 (LIKE tpl)")
    assert (st.kind, st.table) == ("create_table", "n2")
    tr = split_ddl("TRUNCATE app.a, app.b RESTART IDENTITY CASCADE;")
    assert [(s.kind, s.schema, s.table) for s in tr] == [
        ("truncate_table", "app", "a"), ("truncate_table", "app", "b"),
    ]
    assert split_ddl("TRUNCATE TABLE app.only")[0].kind == "truncate_table"


def test_split_ddl_drop_table_cascade_suffix():
    """PG 'DROP TABLE a, b CASCADE': the trailing CASCADE/RESTRICT belongs to
    the statement, not the last identifier — every part must parse as
    drop_table (previously the last part degraded to 'other' and was never
    applied). The single-target form accepts the suffix too."""
    from ape_dts_spark.plans.ddl_parse import split_ddl

    parts = split_ddl("DROP TABLE app.a, app.b CASCADE;")
    assert [(s.kind, s.schema, s.table) for s in parts] == [
        ("drop_table", "app", "a"), ("drop_table", "app", "b"),
    ]
    parts = split_ddl("DROP TABLE IF EXISTS x, y RESTRICT")
    assert [s.kind for s in parts] == ["drop_table", "drop_table"]
    st = parse_ddl("DROP TABLE app.solo CASCADE")
    assert (st.kind, st.schema, st.table) == ("drop_table", "app", "solo")


def test_multi_ddl_parts_gated_per_table(spark, tmp_path):
    """A split part naming a DIFFERENT table must not touch this pipeline's
    target (mysql_cdc_extractor.rs:432-436 routes each split per (db, tb)):
    'RENAME TABLE users TO u2, other TO o2' on users' channel renames ONCE;
    'DROP TABLE other, users' tombstones users but 'DROP TABLE other, x'
    would not."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ddl("RENAME TABLE default.users TO default.u2, default.other TO default.o2", seq=2),
    ], PAYLOAD, batch_id=0)
    # renamed exactly once — to u2, NOT to o2 (the second pair is another
    # table's statement delivered on the same multi-target text)
    assert table._read_meta()["table_name"] == "u2"

    # a multi-DROP whose parts all name other tables leaves the target alive
    _apply(spark, src, table, [
        ddl("DROP TABLE default.other, default.elsewhere", seq=3),
    ], PAYLOAD, batch_id=1)
    assert not table._read_meta().get("dropped")

    # ...but a part naming the target's CURRENT logical name (post-rename)
    # still applies even though the envelope channel says 'users'
    _apply(spark, src, table, [
        ddl("DROP TABLE default.other, default.u2", seq=4),
    ], PAYLOAD, batch_id=2)
    assert table._read_meta().get("dropped")


def test_filter_ddl_per_table_gate():
    """filter_ddl accepts (kind, schema, tb) like the reference's per-(db,tb)
    DDL routing: table-level do/ignore rules gate DDL when the target is
    known; kind-only calls keep the legacy semantics."""
    from ape_dts_spark.config.rdb_filter import RdbFilter

    f = RdbFilter(do_ddls="*", do_tbs="app.keep")
    assert not f.filter_ddl("add_column", "app", "keep")
    assert f.filter_ddl("add_column", "app", "other")
    assert not f.filter_ddl("add_column")  # kind-only: no table gate
    g = RdbFilter(do_ddls="*", ignore_tbs="app.secret")
    assert g.filter_ddl("truncate_table", "app", "secret")
    assert not g.filter_ddl("truncate_table", "app", "public")


def test_widen_column_missing_column_audited(spark, tmp_path):
    """A MODIFY for a column absent from the payload schema leaves a
    'missing_column' ddl_log entry instead of returning silently."""
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)
    table.widen_column("no_such", T.LongType(), "ALTER TABLE t MODIFY COLUMN no_such BIGINT")
    log = table._read_meta().get("ddl_log", [])
    assert log and log[-1]["column"] == "no_such" and log[-1]["missing_column"] is True


def test_struct_revise_type_fix_restates_not_null():
    """MySQL MODIFY COLUMN resets nullability when omitted — a type fix on a
    NOT NULL column must restate the constraint (ClickHouse keeps the bare
    type: its Nullable() wrapper IS the type)."""
    from ape_dts_spark.plans.struct_migration import TableDef, struct_revise_plan

    cols = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("qty", T.IntegerType(), False),
    ])
    drifted = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("qty", T.StringType(), False),
    ])
    src = TableDef(schema="app", tb="t", columns=cols)
    dst = TableDef(schema="app", tb="t", columns=drifted)
    my = struct_revise_plan(src, dst, "mysql")
    assert any(s.startswith("ALTER TABLE `app`.`t` MODIFY COLUMN `qty` ") and s.endswith(" NOT NULL") for s in my)
    ck = struct_revise_plan(src, dst, "clickhouse")
    assert any("MODIFY COLUMN" in s and not s.endswith("NOT NULL") for s in ck)


def test_parse_ddl_comments_and_online_hints():
    """r12b grammar breadth: comment removal before matching (the reference
    strips /* */ and -- the same way, ddl_parser.rs:77-81 — binlogs carry
    gh-ost/pt-osc-style comment prefixes) and MySQL online-DDL ALGORITHM/
    LOCK hint tails (the reference's own drop-index tests carry
    `algorithm=default`)."""
    s = parse_ddl("create /*gh-ost*/ table/*x*/ `d1`.`t1` (a int)")
    assert (s.kind, s.schema, s.table) == ("create_table", "d1", "t1")
    s = parse_ddl("-- migration 42\nALTER TABLE t ADD COLUMN c INT")
    assert (s.kind, s.table, s.args) == ("add_column", "t", ("c", "INT"))
    s = parse_ddl("ALTER TABLE t DROP COLUMN c -- trailing, no newline")
    assert (s.kind, s.args) == ("drop_column", ("c",))
    s = parse_ddl("# mysql line comment\nTRUNCATE TABLE d.t")
    assert (s.kind, s.schema, s.table) == ("truncate_table", "d", "t")

    s = parse_ddl("drop index `index1` on `d1`.`t1` algorithm=default;")
    assert (s.kind, s.schema, s.table, s.args) == ("drop_index", "d1", "t1", ("index1",))
    s = parse_ddl("ALTER TABLE t ADD COLUMN c INT, ALGORITHM=INPLACE, LOCK=NONE")
    assert (s.kind, s.args) == ("add_column", ("c", "INT"))
    s = parse_ddl("ALTER TABLE t MODIFY c DECIMAL(10,2) LOCK SHARED;")
    assert (s.kind, s.args) == ("modify_column", ("c", "DECIMAL(10,2)"))
    # hint values are anchored to the documented enums: a column named
    # `lock` is a column, not a hint
    s = parse_ddl("ALTER TABLE t ADD COLUMN lock INT")
    assert (s.kind, s.args) == ("add_column", ("lock", "INT"))


def test_split_ddl_multi_action_alter():
    """MySQL multi-action ALTER TABLE splits into one typed statement per
    action (the reference keeps the list `unparsed`; target-side schema
    evolution needs the singles). Commas inside type parens / quoted
    enums never split."""
    from ape_dts_spark.plans.ddl_parse import split_ddl

    out = split_ddl(
        "ALTER TABLE d.t ADD COLUMN a DECIMAL(10,2), DROP COLUMN b,"
        " RENAME COLUMN c TO d2, ALGORITHM=INPLACE"
    )
    assert [x.kind for x in out] == ["add_column", "drop_column", "rename_column"]
    assert all(x.schema == "d" and x.table == "t" for x in out)
    assert out[0].args == ("a", "DECIMAL(10,2)")

    out = split_ddl("ALTER TABLE t ADD COLUMN e ENUM('a','b','c')")
    assert len(out) == 1 and out[0].kind == "add_column"
    out = split_ddl("ALTER TABLE t ADD COLUMN a INT, ADD COLUMN b TEXT")
    assert [(x.kind, x.args) for x in out] == [
        ("add_column", ("a", "INT")),
        ("add_column", ("b", "TEXT")),
    ]


def test_comment_stripping_is_string_aware():
    # ADVICE r12: '#' / '--' / '/*' sequences inside string literals must
    # survive comment removal
    s = parse_ddl("CREATE TABLE t (c VARCHAR(20) DEFAULT 'a#b')")
    assert (s.kind, s.table) == ("create_table", "t")
    s = parse_ddl("ALTER TABLE t ADD c VARCHAR(9) COMMENT 'issue #42'")
    assert (s.kind, s.args) == ("add_column", ("c", "VARCHAR(9) COMMENT 'issue #42'"))
    s = parse_ddl("ALTER TABLE t ADD c VARCHAR(9) DEFAULT 'a--b /*x*/ c'")
    assert s.args == ("c", "VARCHAR(9) DEFAULT 'a--b /*x*/ c'")
    # comments outside strings still stripped (reference ddl_parser.rs:77-81)
    s = parse_ddl("create /*inline*/ table x (id int) -- tail")
    assert (s.kind, s.table) == ("create_table", "x")
    s = parse_ddl("# leading\nDROP TABLE y")
    assert (s.kind, s.table) == ("drop_table", "y")


def test_split_alter_honors_escapes_and_doubled_quotes():
    # ADVICE r12 repro: backslash-escaped quote inside a DEFAULT literal
    parts = split_ddl(
        "ALTER TABLE t ADD a VARCHAR(9) DEFAULT 'x\\'y, DROP z', ADD b INT"
    )
    assert [p.kind for p in parts] == ["add_column", "add_column"]
    assert parts[0].args == ("a", "VARCHAR(9) DEFAULT 'x\\'y, DROP z'")
    assert parts[1].args == ("b", "INT")
    # SQL-standard doubled quote
    parts = split_ddl(
        "ALTER TABLE t ADD a VARCHAR(9) DEFAULT 'x''y, DROP z', ADD b INT"
    )
    assert [p.kind for p in parts] == ["add_column", "add_column"]
    assert parts[1].args == ("b", "INT")
    # unterminated string: bail to the single-statement path, never missplit
    parts = split_ddl("ALTER TABLE t ADD a VARCHAR(9) DEFAULT 'oops, DROP z")
    assert len(parts) == 1 and parts[0].kind == "add_column"


def test_partition_maintenance_kinds():
    cases = [
        ("ALTER TABLE demo.t ADD PARTITION (PARTITION p1 VALUES LESS THAN (100))",
         ("ADD PARTITION", "(PARTITION p1 VALUES LESS THAN (100))")),
        ("ALTER TABLE t DROP PARTITION p0, p1", ("DROP PARTITION", "p0, p1")),
        ("ALTER TABLE t TRUNCATE PARTITION p0", ("TRUNCATE PARTITION", "p0")),
        ("ALTER TABLE t COALESCE PARTITION 2", ("COALESCE PARTITION", "2")),
        ("ALTER TABLE t REORGANIZE PARTITION p0 INTO (PARTITION pa VALUES LESS THAN (5))",
         ("REORGANIZE PARTITION", "p0 INTO (PARTITION pa VALUES LESS THAN (5))")),
        ("ALTER TABLE t PARTITION BY HASH(id) PARTITIONS 4",
         ("PARTITION BY", "HASH(id) PARTITIONS 4")),
        ("ALTER TABLE t REMOVE PARTITIONING", ("REMOVE PARTITIONING", "")),
    ]
    for sql, args in cases:
        s = parse_ddl(sql)
        assert s.kind == "alter_partition", sql
        assert s.args == args, sql
    # never misparsed as a column named PARTITION
    s = parse_ddl("ALTER TABLE t ADD PARTITION (PARTITION p VALUES LESS THAN (1))")
    assert s.kind != "add_column"
    # partitioned CREATE stays create_table
    s = parse_ddl(
        "CREATE TABLE t (id int) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (10))"
    )
    assert (s.kind, s.table) == ("create_table", "t")


def test_ctas_like_and_temp_modifiers():
    for sql, schema, table in [
        ("CREATE TABLE t2 AS SELECT * FROM t1", None, "t2"),
        ("CREATE TABLE t2 SELECT * FROM t1", None, "t2"),  # MySQL, no AS
        ("CREATE TABLE IF NOT EXISTS s.t2 AS (SELECT a FROM t1)", "s", "t2"),
        ("CREATE TABLE t2 AS TABLE t1", None, "t2"),  # PG
        ("CREATE TABLE s.t2 LIKE s.t1", "s", "t2"),
        # reference corpus: ddl_parser.rs test_create_table_with_temporary_pg
        ("create UNLOGGED table tb_1(ts TIMESTAMP);", None, "tb_1"),
        ("create TEMPORARY table tb_2(ts TIMESTAMP);", None, "tb_2"),
        ("create temp table tb_3(ts TIMESTAMP);", None, "tb_3"),
        ("create GLOBAL TEMPORARY table tb_4(ts TIMESTAMP) ON COMMIT DELETE ROWS;", None, "tb_4"),
        ("create local temp table tb_5(ts TIMESTAMP);", None, "tb_5"),
    ]:
        s = parse_ddl(sql)
        assert (s.kind, s.schema, s.table) == ("create_table", schema, table), sql


def test_create_schema_authorization_forms():
    # reference corpus (ddl_parser.rs test_create_schema_pg)
    s = parse_ddl("create schema authorization aaa")
    assert (s.kind, s.schema) == ("create_database", "aaa")
    s = parse_ddl("create schema if not exists match authorization hehe")
    assert (s.kind, s.schema) == ("create_database", "match")
    s = parse_ddl('create /*some comments,*/schema/*c*/ if  not  exists    "aaa"  ')
    assert (s.kind, s.schema) == ("create_database", "aaa")


def test_index_forms_from_reference_corpus():
    # ddl_parser.rs test_create_index_mysql / _pg / test_drop_index_pg
    s = parse_ddl("create unique index `idx2` using  btree  on `d1`.`t1`((col1 + col2), (col1 - col2), col1);")
    assert (s.kind, s.schema, s.table, s.args[0]) == ("create_index", "d1", "t1", "idx2")
    s = parse_ddl('create index on "tb_1"(id);')  # anonymous PG index
    assert (s.kind, s.table, s.args[0]) == ("create_index", "tb_1", None)
    s = parse_ddl(
        'create\nunique\nindex\nconcurrently -- some comments\n'
        'if not\nexists\n"idx3"\non\nonly\n"tb_1"(a);'
    )
    assert (s.kind, s.table, s.args[0]) == ("create_index", "tb_1", "idx3")
    s = parse_ddl("drop index CONCURRENTLY if exists tb_1_id_idx3 RESTRICT;")
    assert (s.kind, s.args) == ("drop_index", ("tb_1_id_idx3",))
    parts = split_ddl("drop index if exists tb_1_id_idx,tb_1_id_idx1 RESTRICT;")
    assert [p.args[0] for p in parts] == ["tb_1_id_idx", "tb_1_id_idx1"]


def test_parse_create_columns_typed():
    from ape_dts_spark.plans.ddl_parse import parse_create_columns

    cols = parse_create_columns(
        "CREATE TABLE t (id INT PRIMARY KEY, v DECIMAL(10,2), "
        "e ENUM('a','b') DEFAULT 'a,b', PRIMARY KEY (id), KEY ix (v), "
        "CONSTRAINT fk FOREIGN KEY (v) REFERENCES u(x))"
    )
    assert cols == (
        ("id", "INT PRIMARY KEY"),
        ("v", "DECIMAL(10,2)"),
        ("e", "ENUM('a','b') DEFAULT 'a,b'"),
    )
    # CTAS / LIKE forms have no column list
    from ape_dts_spark.plans.ddl_parse import parse_ddl
    assert parse_create_columns("CREATE TABLE t2 AS SELECT * FROM t1") == ()
    assert parse_create_columns("CREATE TABLE t LIKE u") == ()
    # partition suffix after the body doesn't confuse the paren walk
    assert parse_create_columns(
        "CREATE TABLE t (id int) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (10))"
    ) == (("id", "int"),)


def test_drop_then_create_reregisters_table(spark, tmp_path):
    """mark_dropped's documented drop -> create cycle: a CREATE TABLE event
    after the tombstone re-registers the target with the parsed typed
    schema; a CREATE against a LIVE table never clobbers data."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "tgt"), PAYLOAD)

    _apply(spark, src, table, [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        # CREATE against the live table: no-op logged, data survives
        ddl("CREATE TABLE IF NOT EXISTS default.users (id BIGINT, name VARCHAR(10), bal BIGINT)", seq=2),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=3),
    ], PAYLOAD, batch_id=0)
    assert {r["id"] for r in table.current().collect()} == {1, 2}
    assert table._read_meta()["ddl_log"][-1]["op"] == "create_table_noop"

    _apply(spark, src, table, [ddl("DROP TABLE default.users", seq=4)], PAYLOAD, batch_id=1)
    with pytest.raises(ValueError, match="dropped"):
        _apply(spark, src, table, [ev("c", after={"id": 3, "name": "c", "bal": 1}, seq=5)], PAYLOAD, batch_id=2)

    # the re-registration: typed schema installed, tombstone cleared,
    # subsequent DML applies against the fresh empty state
    _apply(spark, src, table, [
        ddl("CREATE TABLE default.users (id BIGINT PRIMARY KEY, name VARCHAR(20), bal BIGINT NOT NULL)", seq=6),
        ev("c", after={"id": 7, "name": "n", "bal": 70}, seq=7),
    ], PAYLOAD, batch_id=3)
    assert not table._read_meta().get("dropped")
    assert [f.name for f in table.payload_schema.fields] == ["id", "name", "bal"]
    rows = {r["id"]: r["bal"] for r in table.current().collect()}
    assert rows == {7: 70}
