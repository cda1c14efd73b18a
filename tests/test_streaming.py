"""End-to-end CDC streaming tests: Debezium JSONL -> Structured Streaming ->
compaction -> stage-ordered merge apply into a versioned parquet table,
including checkpoint resume and replay idempotency (SURVEY.md §3 entry B)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.operators.merge import compact_changes

from ape_dts_spark.sinks.parquet_table import ParquetTable
from ape_dts_spark.streaming.cdc import (
    CdcPipeline,
    parse_debezium,
    read_json_change_stream,
    write_debezium_jsonl,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.LongType()),
    ]
)


def ev(op, before=None, after=None, seq=0, db="default", table="users", ts_ms=1700000000000, origin=None):
    return {
        "op": op,
        "before": before,
        "after": after,
        "source": {"db": db, "table": table, "ts_ms": ts_ms + seq, "seq": seq, "origin_node": origin},
    }


BATCH_1 = [
    ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
    ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
    ev("u", before={"id": 1, "name": "a", "bal": 10}, after={"id": 1, "name": "a", "bal": 11}, seq=3),
    ev("c", after={"id": 3, "name": "c", "bal": 30}, seq=4),
    ev("d", before={"id": 2, "name": "b", "bal": 20}, seq=5),
]

BATCH_2 = [
    # key-changing update -> spills to the serial path
    ev("u", before={"id": 3, "name": "c", "bal": 30}, after={"id": 4, "name": "c", "bal": 30}, seq=6),
    # NULL-key insert -> spills
    ev("c", after={"id": None, "name": "ghost", "bal": 0}, seq=7),
    ev("u", before={"id": 1, "name": "a", "bal": 11}, after={"id": 1, "name": "a2", "bal": 12}, seq=8),
]


def state_dict(table):
    rows = table.current().collect()
    return {r["id"]: (r["name"], r["bal"]) for r in rows}


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return str(src), str(tmp_path / "target"), str(tmp_path / "ckpt")


def test_parse_debezium_batch(spark, dirs):
    src, _, _ = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    raw = spark.read.text(src)
    changes = parse_debezium(raw, PAYLOAD)
    rows = {r["seq"]: r for r in changes.collect()}
    assert rows[1]["row_type"] == "insert" and rows[1]["after"]["id"] == 1
    assert rows[3]["row_type"] == "update" and rows[3]["after"]["bal"] == 11
    assert rows[5]["row_type"] == "delete" and rows[5]["before"]["id"] == 2
    assert rows[1]["ts"] is not None


def test_cdc_stream_apply_and_resume(spark, dirs):
    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))

    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    changes = read_json_change_stream(spark, src, PAYLOAD)
    pipe.run(changes, ckpt)

    assert state_dict(table) == {1: ("a", 11), 3: ("c", 30)}
    assert pipe.metrics and pipe.metrics[-1]["max_seq"] == 5

    # resume: a new file arrives; the checkpoint skips batch 1's files
    write_debezium_jsonl(BATCH_2, os.path.join(src, "b2.jsonl"))
    changes = read_json_change_stream(spark, src, PAYLOAD)
    pipe.run(changes, ckpt)

    st = state_dict(table)
    assert st[4] == ("c", 30)       # key-changing update moved the row (spill path)
    assert 3 not in st
    assert st[1] == ("a2", 12)
    assert st[None] == ("ghost", 0)  # NULL-key insert applied serially


def test_replay_is_idempotent(spark, dirs):
    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])

    raw = spark.read.text(src)
    batch = parse_debezium(raw, PAYLOAD)
    pipe.apply_batch(batch, batch_id=0)
    v1 = table._read_meta()["version"]
    pipe.apply_batch(batch, batch_id=0)  # replay of the same epoch: no-op
    assert table._read_meta()["version"] == v1
    assert state_dict(table) == {1: ("a", 11), 3: ("c", 30)}


def test_time_and_origin_filters(spark, dirs):
    src, target_dir, ckpt = dirs
    events = [
        ev("c", after={"id": 10, "name": "x", "bal": 1}, seq=1, ts_ms=1700000000000),
        # echo from our own node -> dropped by the data-marker filter
        ev("c", after={"id": 11, "name": "y", "bal": 2}, seq=2, origin="self"),
        # outside the time window (2100-01-01) -> dropped
        ev("c", after={"id": 12, "name": "z", "bal": 3}, seq=3, ts_ms=4102444800000),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(
        spark,
        table,
        key_cols=["id"],
        time_window=(None, "2099-01-01 00:00:00"),
        ignore_origin_nodes=("self",),
    )
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    assert set(state_dict(table)) == {10}


def test_ddl_barrier_and_schema_evolution(spark, dirs):
    src, target_dir, ckpt = dirs
    wide = T.StructType(list(PAYLOAD.fields) + [T.StructField("tier", T.StringType())])
    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
        # barrier: schema change between the two DML segments
        {"op": "ddl", "ddl": "ALTER TABLE default.users ADD COLUMN tier varchar(8)",
         "source": {"db": "default", "table": "users", "ts_ms": 1700000000003, "seq": 3, "origin_node": None}},
        ev("u", before={"id": 1, "name": "a", "bal": 10},
           after={"id": 1, "name": "a", "bal": 11, "tier": "gold"}, seq=4),
        ev("c", after={"id": 5, "name": "e", "bal": 50, "tier": "basic"}, seq=5),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))

    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    pipe.run(read_json_change_stream(spark, src, wide), ckpt)

    # schema evolved and logged
    assert [f.name for f in table.payload_schema.fields] == ["id", "name", "bal", "tier"]
    assert table._read_meta()["ddl_log"][0]["column"] == "tier"

    rows = {r["id"]: r for r in table.current().collect()}
    assert rows[1]["tier"] == "gold" and rows[1]["bal"] == 11
    assert rows[2]["tier"] is None            # pre-DDL row: NULL-filled
    assert rows[5]["tier"] == "basic"


def test_changes_between_versions(spark, dirs):
    """CDF-style change feed: diff two table versions -> change events."""
    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    raw = parse_debezium(spark.read.text(src), PAYLOAD)
    pipe.apply_batch(raw, batch_id=0)
    v1 = table.version()

    write_debezium_jsonl(BATCH_2, os.path.join(src, "b2.jsonl"))
    raw2 = parse_debezium(spark.read.text(os.path.join(src, "b2.jsonl")), PAYLOAD)
    pipe.apply_batch(raw2, batch_id=1)
    v2 = table.version()

    feed = {r["row_type"]: r for r in table.changes_between(v1, v2, ["id"]).collect()}
    # BATCH_2 effects vs v1 state {1:(a,11), 3:(c,30)}:
    #   id 3 -> 4 (key change): delete 3, insert 4; null-key ghost: insert; 1 updated
    assert feed["update"]["after"]["id"] == 1 and feed["update"]["after"]["bal"] == 12
    inserts = [r for r in table.changes_between(v1, v2, ["id"]).collect() if r["row_type"] == "insert"]
    assert {r["after"]["id"] for r in inserts} == {4, None}
    deletes = [r for r in table.changes_between(v1, v2, ["id"]).collect() if r["row_type"] == "delete"]
    assert {r["before"]["id"] for r in deletes} == {3}


def test_cdc_inline_check(spark, dirs):
    """Checker-in-CDC mode: per-batch apply verification metrics."""
    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"], inline_check=True)
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    m = pipe.metrics[-1]
    assert m["check_miss"] == 0 and m["check_diff"] == 0 and m["check_undead"] == 0


def test_multi_table_cdc(spark, dirs):
    from ape_dts_spark.streaming.cdc import MultiTableCdcPipeline

    src, target_dir, ckpt = dirs
    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1, table="users"),
        ev("c", after={"id": 7, "name": "acct7", "bal": 70}, seq=2, table="accounts"),
        ev("u", before={"id": 1, "name": "a", "bal": 10},
           after={"id": 1, "name": "a", "bal": 12}, seq=3, table="users"),
        ev("c", after={"id": 9, "name": "zz", "bal": 1}, seq=4, table="unrouted"),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))

    users = ParquetTable(spark, os.path.join(target_dir, "users"), PAYLOAD)
    accounts = ParquetTable(spark, os.path.join(target_dir, "accounts"), PAYLOAD)
    pipe = MultiTableCdcPipeline(
        spark,
        targets={"default.users": (users, ["id"]), "default.accounts": (accounts, ["id"])},
    )
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)

    assert state_dict(users) == {1: ("a", 12)}
    assert state_dict(accounts) == {7: ("acct7", 70)}
    assert any(m.get("skipped_tables") for m in pipe.metrics)


def test_segment_replay_skips_committed_segments(spark, dirs):
    """Crash mid-batch between DDL-separated segments: on replay, segments
    that already committed (fractional epochs) must be no-ops — a NULL-key
    spill insert from segment 1 must not append a second time."""
    src, target_dir, ckpt = dirs
    events = [
        ev("c", after={"id": None, "name": "ghost", "bal": 0}, seq=1),
        {"op": "ddl", "ddl": "ALTER TABLE default.users COMMENT 'noop'",
         "source": {"db": "default", "table": "users", "ts_ms": 1700000000002, "seq": 2, "origin_node": None}},
        ev("c", after={"id": 7, "name": "g", "bal": 70}, seq=3),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    batch = parse_debezium(spark.read.text(src), PAYLOAD)
    pipe.apply_batch(batch, batch_id=0)
    assert sum(1 for r in table.current().collect() if r["id"] is None) == 1

    # simulate a crash after segment 1 of batch 0: the marker holds the
    # fractional epoch -0.5 and the foreachBatch epoch replays from 0
    meta = table._read_meta()
    meta["applied_batches"]["cdc"] = -0.5
    table._write_meta(meta)
    pipe.apply_batch(batch, batch_id=0)

    rows = table.current().collect()
    assert sum(1 for r in rows if r["id"] is None) == 1  # not duplicated
    assert {r["id"]: r["bal"] for r in rows if r["id"] is not None} == {7: 70}


def test_spill_replay_seq_visibility(spark, tmp_path):
    """Set-based spill replay must preserve serial delete-visibility:
    a whole-row delete removes NULL-key rows inserted EARLIER in the batch
    but not ones inserted later."""
    from ape_dts_spark.operators.merge import compact_changes

    src = str(tmp_path / "src2")
    os.makedirs(src)
    events = [
        ev("c", after={"id": None, "name": "g1", "bal": 1}, seq=1),
        ev("d", before={"id": None, "name": "g1", "bal": 1}, seq=2),  # kills g1
        ev("d", before={"id": None, "name": "g2", "bal": 2}, seq=3),  # matches nothing yet
        ev("c", after={"id": None, "name": "g2", "bal": 2}, seq=4),  # survives
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, str(tmp_path / "tgt2"), PAYLOAD)
    batch = parse_debezium(spark.read.text(src), PAYLOAD)
    compacted, spilled = compact_changes(batch, ["id"])
    table.merge_apply(compacted, spilled, ["id"])
    rows = table.current().collect()
    assert [(r["name"], r["bal"]) for r in rows] == [("g2", 2)]


def test_two_way_cycle_topology_no_echo(spark, tmp_path):
    """cycle_basic/net_test parity (dt-tests mysql_to_mysql/cdc/cycle_*): a
    3-node ring A -> B -> C -> A where every relay preserves the ORIGINAL
    origin marker. The event must apply at B and C and be dropped when the
    ring closes back at A — loop prevention without coordination."""
    from ape_dts_spark.sinks.wire_format import mark_origin

    # relay marking: a hop must stamp its own id only on locally-born events,
    # never overwrite an upstream origin (data_marker.rs topology semantics)
    mixed = spark.createDataFrame([("A",), (None,)], "origin_node string")
    assert {r["origin_node"] for r in mark_origin(mixed, "B").collect()} == {"A", "B"}

    def node(name):
        d = tmp_path / name
        (d / "in").mkdir(parents=True)
        table = ParquetTable(spark, str(d / "tbl"), PAYLOAD)
        pipe = CdcPipeline(spark, table, key_cols=["id"], ignore_origin_nodes=(name,))
        return table, pipe, str(d / "in"), str(d / "ckpt")

    t_a, p_a, in_a, ck_a = node("A")
    t_b, p_b, in_b, ck_b = node("B")
    t_c, p_c, in_c, ck_c = node("C")

    relay = [ev("c", after={"id": 77, "name": "ring", "bal": 5}, seq=1, origin="A")]
    # A's write reaches B (origin A passes B's filter), then C, both apply
    write_debezium_jsonl(relay, os.path.join(in_b, "relay.jsonl"))
    p_b.run(read_json_change_stream(spark, in_b, PAYLOAD), ck_b)
    assert set(state_dict(t_b)) == {77}
    write_debezium_jsonl(relay, os.path.join(in_c, "relay.jsonl"))
    p_c.run(read_json_change_stream(spark, in_c, PAYLOAD), ck_c)
    assert set(state_dict(t_c)) == {77}
    # ring closes: the same event returns to A still marked origin=A -> dropped
    write_debezium_jsonl(relay, os.path.join(in_a, "relay.jsonl"))
    p_a.run(read_json_change_stream(spark, in_a, PAYLOAD), ck_a)
    assert state_dict(t_a) == {}


def test_schema_fluid_map_mode(spark, dirs):
    """One stream, no declared payload schema: map images compact and apply
    per table after a typed cast (runtime schema discovery parity)."""
    from ape_dts_spark.streaming.cdc import fluid_to_typed, parse_debezium_fluid

    src, target_dir, ckpt = dirs
    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("u", before={"id": 1, "name": "a", "bal": 10}, after={"id": 1, "name": "a", "bal": 11}, seq=2),
        ev("c", after={"sku": "x9", "qty": 3}, seq=3, table="items"),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    raw = spark.read.text(src)
    fluid = parse_debezium_fluid(raw)
    assert dict(fluid.dtypes)["after"] == "map<string,string>"

    users = fluid_to_typed(fluid.filter(F.col("tb") == "users"), PAYLOAD)
    compacted, spilled = compact_changes(users, ["id"])
    rows = compacted.collect()
    assert spilled.count() == 0
    assert [(r["op"], r["after"]["id"], r["after"]["bal"]) for r in rows] == [("upsert", 1, 11)]

    items_schema = T.StructType(
        [T.StructField("sku", T.StringType()), T.StructField("qty", T.LongType())]
    )
    items = fluid_to_typed(fluid.filter(F.col("tb") == "items"), items_schema)
    r = items.collect()[0]
    assert r["after"]["sku"] == "x9" and r["after"]["qty"] == 3


def test_heartbeat_keeps_lag_fresh_when_idle(spark, dirs):
    """Idle real tables + heartbeat stream: the lag metric tracks the
    heartbeat rows and the heartbeat table compacts to one row per node."""
    import time as _time

    from ape_dts_spark.streaming.cdc import HEARTBEAT_PAYLOAD, heartbeat_event

    src, target_dir, ckpt = dirs
    now_ms = int(_time.time() * 1000)
    hbs = [heartbeat_event("meta", "hb", "node_a", now_ms - 120_000 + i * 60_000, seq=i)
           for i in range(3)]
    write_debezium_jsonl(hbs, os.path.join(src, "hb.jsonl"))
    table = ParquetTable(spark, target_dir, HEARTBEAT_PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["node"])
    pipe.run(read_json_change_stream(spark, src, HEARTBEAT_PAYLOAD), ckpt)
    rows = table.current().collect()
    assert len(rows) == 1 and rows[0]["node"] == "node_a"
    assert rows[0]["hb_ts_ms"] == now_ms  # last heartbeat wins
    assert pipe.metrics[-1]["lag_sec"] < 60  # lag measured from the heartbeat


def test_fluid_multi_table_end_to_end(spark, dirs):
    """One schema-fluid stream -> two typed targets: the multi-table pipeline
    casts each table's map images to its target payload automatically."""
    from ape_dts_spark.streaming.cdc import MultiTableCdcPipeline, parse_debezium_fluid

    src, target_dir, ckpt = dirs
    items_schema = T.StructType(
        [T.StructField("sku", T.StringType()), T.StructField("qty", T.LongType())]
    )
    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"sku": "x9", "qty": 3}, seq=2, table="items"),
        ev("u", before={"sku": "x9", "qty": 3}, after={"sku": "x9", "qty": 7}, seq=3, table="items"),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    users_t = ParquetTable(spark, os.path.join(target_dir, "users"), PAYLOAD)
    items_t = ParquetTable(spark, os.path.join(target_dir, "items"), items_schema)
    pipe = MultiTableCdcPipeline(
        spark,
        {"default.users": (users_t, ["id"]), "default.items": (items_t, ["sku"])},
    )
    raw = spark.readStream.format("text").load(src)
    pipe.run(parse_debezium_fluid(raw), ckpt)
    assert state_dict(users_t) == {1: ("a", 10)}
    items = items_t.current().collect()
    assert [(r["sku"], r["qty"]) for r in items] == [("x9", 7)]


def test_vacuum_retention(spark, tmp_path):
    table = ParquetTable(spark, str(tmp_path / "tbl"), PAYLOAD)
    for i in range(4):
        compacted = spark.createDataFrame(
            [("db", "users", i, "upsert", {"id": i, "name": "n", "bal": i}, i)],
            "schema string, tb string, id long, op string, "
            "after struct<id:long,name:string,bal:long>, seq long",
        )
        spill = spark.createDataFrame([], compacted.schema).selectExpr(
            "schema", "tb", "'insert' AS row_type", "after AS before", "after", "seq"
        )
        table.merge_apply(compacted, spill, ["id"])
    assert table.version() == 3
    import pytest

    with pytest.raises(ValueError):
        table.vacuum(keep_last=0)  # would rmtree the live version
    # a subscriber floor pins history even when keep_last would drop it
    assert table.vacuum(keep_last=2, min_retained_version=0) == []
    removed = table.vacuum(keep_last=2)
    assert removed == [0, 1]
    assert table.current().count() == 4  # live state untouched
    assert table.at_version(2).count() == 3  # retained history readable


def test_compact_files_optimize(spark, tmp_path):
    """OPTIMIZE analogue: bin-pack the accreted small files into a new
    version; state identical, history retained."""
    import glob

    table = ParquetTable(spark, str(tmp_path / "tbl"), PAYLOAD)
    compacted = spark.createDataFrame(
        [("db", "users", i, "upsert", {"id": i, "name": "n", "bal": i}, i) for i in range(64)],
        "schema string, tb string, id long, op string, "
        "after struct<id:long,name:string,bal:long>, seq long",
    ).repartition(16)  # a micro-batch's fragmented partitioning
    spill = spark.createDataFrame([], compacted.schema).selectExpr(
        "schema", "tb", "'insert' AS row_type", "after AS before", "after", "seq"
    )
    table.merge_apply(compacted, spill, ["id"])
    v0_files = glob.glob(str(tmp_path / "tbl" / "v0" / "*.parquet"))
    assert len(v0_files) > 1
    before = sorted(r["id"] for r in table.current().collect())

    assert table.compact_files(target_rows_per_file=10_000) == 1
    assert table.version() == 1
    v1_files = glob.glob(str(tmp_path / "tbl" / "v1" / "*.parquet"))
    assert len(v1_files) == 1
    assert sorted(r["id"] for r in table.current().collect()) == before
    assert table.at_version(0).count() == 64  # old layout retained for travel


def test_crash_after_commit_replays_idempotently(spark, dirs):
    """Kill the stream AFTER the sink committed a batch but BEFORE the
    checkpoint recorded it — the exact failure window exactly-once hinges
    on: the restart re-delivers the same epoch and the target's epoch
    bookkeeping must turn the replay into a no-op (no double-apply, no
    extra version)."""
    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    write_debezium_jsonl(BATCH_2, os.path.join(src, "b2.jsonl"))

    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(spark, table, key_cols=["id"])

    real_apply = pipe.apply_batch
    crashed = {"done": False}

    def crash_after_first(batch, batch_id):
        real_apply(batch, batch_id)  # side effect lands (sink committed)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after sink commit")

    changes = read_json_change_stream(spark, src, PAYLOAD, max_files_per_trigger=1)
    q = (
        changes.writeStream.foreachBatch(crash_after_first)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    v_after_crash = table._read_meta()["version"]

    # restart from the same checkpoint: the crashed epoch is re-delivered;
    # merge_apply's (stream_id, batch_id) high-water makes it a no-op and
    # the remaining file applies exactly once
    changes = read_json_change_stream(spark, src, PAYLOAD, max_files_per_trigger=1)
    pipe.run(changes, ckpt)

    st = state_dict(table)
    assert st[1] == ("a2", 12)
    assert st[4] == ("c", 30) and 3 not in st
    assert st[None] == ("ghost", 0)
    # the replayed epoch must not have produced an extra version on restart:
    # exactly one new version for the one genuinely-new batch
    assert table._read_meta()["version"] == v_after_crash + 1


def test_dead_letter_split(spark):
    """Corrupt change events quarantine with a reason; good ones parse to
    the canonical schema; the two outputs partition the input."""
    from pyspark.sql import types as T

    from ape_dts_spark.streaming.cdc import parse_debezium_with_dead_letter

    good = '{"op":"c","after":{"id":1,"name":"a","bal":5},"source":{"db":"d","table":"t","ts_ms":1700000000000,"seq":9}}'
    junk = '{"op":"c","after":{'
    no_op = '{"after":{"id":2},"source":{"db":"d","table":"t","ts_ms":1,"seq":1}}'
    no_seq = '{"op":"u","after":{"id":3},"source":{"db":"d","table":"t","ts_ms":1}}'
    ddl_ok = '{"op":"ddl","ddl":"ALTER TABLE t ADD COLUMN x INT","source":{"db":"d","table":"t","ts_ms":1,"seq":2}}'
    raw = spark.createDataFrame([(good,), (junk,), (no_op,), (no_seq,), (ddl_ok,)], ["value"])
    changes, dead = parse_debezium_with_dead_letter(raw, PAYLOAD)
    ch = changes.collect()
    assert {r["seq"] for r in ch} == {9, 2}
    assert {r["row_type"] for r in ch} == {"insert", "ddl"}
    dl = {r["raw"]: r["reason"] for r in dead.collect()}
    assert dl == {junk: "unparseable", no_op: "missing_op", no_seq: "missing_seq"}


def test_snapshot_then_cdc_cutover_no_data_loss(spark, dirs):
    """The reference's serial snapshot -> CDC migration workflow
    (docs/en/tutorial/snapshot_and_cdc_without_data_loss.md): position
    captured BEFORE the snapshot, snapshot consistent as of a LATER point,
    CDC started from the captured position. The overlap (position,
    snapshot_point] re-delivers changes the snapshot already contains —
    replay must converge, and the final state must equal the full history
    applied from empty."""
    from ape_dts_spark.streaming.cdc import snapshot_then_cdc

    src, target_dir, ckpt = dirs
    history = [
        ev("c", after={"id": 1, "name": "a", "bal": 10}, seq=1),
        ev("c", after={"id": 2, "name": "b", "bal": 20}, seq=2),
        ev("u", before={"id": 1, "name": "a", "bal": 10},
           after={"id": 1, "name": "a", "bal": 11}, seq=3),
        ev("c", after={"id": 3, "name": "c", "bal": 30}, seq=4),
        # ---- position captured here (start_seq = 4) ----
        ev("u", before={"id": 2, "name": "b", "bal": 20},
           after={"id": 2, "name": "b2", "bal": 21}, seq=5),   # overlap
        ev("d", before={"id": 3, "name": "c", "bal": 30}, seq=6),  # overlap
        # ---- snapshot consistent as of seq 6 ----
        ev("c", after={"id": 4, "name": "d", "bal": 40}, seq=7),   # tail
        ev("u", before={"id": 1, "name": "a", "bal": 11},
           after={"id": 1, "name": "a3", "bal": 12}, seq=8),       # tail
    ]
    write_debezium_jsonl(history, os.path.join(src, "all.jsonl"))
    start_seq = 4

    # source snapshot state as of seq 6: replay seq<=6 into a scratch table
    scratch = ParquetTable(spark, target_dir + "_scratch", PAYLOAD)
    scratch_pipe = CdcPipeline(spark, scratch, key_cols=["id"])
    all_changes = parse_debezium(spark.read.text(src), PAYLOAD)
    scratch_pipe.apply_batch(all_changes.filter(F.col("seq") <= 6), batch_id=0)
    snapshot_df = scratch.current()
    assert state_dict(scratch) == {1: ("a", 11), 2: ("b2", 21)}

    # cutover: bulk-load snapshot, then CDC from start_seq (overlap replays)
    table = ParquetTable(spark, target_dir, PAYLOAD)
    snapshot_then_cdc(
        spark, table, ["id"], snapshot_df,
        read_json_change_stream(spark, src, PAYLOAD), ckpt, start_seq,
    )

    # oracle: the FULL history applied from empty
    oracle = ParquetTable(spark, target_dir + "_oracle", PAYLOAD)
    CdcPipeline(spark, oracle, key_cols=["id"]).apply_batch(all_changes, batch_id=0)
    assert state_dict(table) == state_dict(oracle) == {
        1: ("a3", 12), 2: ("b2", 21), 4: ("d", 40),
    }


def test_pipeline_writes_position_log(spark, dirs):
    """CdcPipeline + PositionLog: every applied batch appends a
    checkpoint_position line; restart recovery reads the latest one."""
    from ape_dts_spark.model.position import MysqlCdcPosition, PositionLog

    src, target_dir, ckpt = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    plog = PositionLog(os.path.join(os.path.dirname(ckpt), "position.log"))
    pipe = CdcPipeline(
        spark, table, key_cols=["id"],
        position_log=plog,
        position_of=lambda m: MysqlCdcPosition(
            binlog_filename="mysql-bin.000001",
            next_event_position=int(m["max_seq"]),
            gtid_set="",
        ),
    )
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    got = plog.latest()
    assert got is not None and got.next_event_position == 5


def test_two_way_star_topology_origin_filtering(spark, dirs):
    """The reference's cycle_star_test shape: a hub synced with N spokes,
    every change stamped with its origin node; each node's pipeline drops
    events originating from ITSELF (echo) while applying everything else —
    no event loops forever around the star."""
    src, target_dir, ckpt = dirs
    events = [
        ev("c", after={"id": 1, "name": "from-hub", "bal": 1}, seq=1, origin="hub"),
        ev("c", after={"id": 2, "name": "from-s1", "bal": 2}, seq=2, origin="spoke1"),
        ev("c", after={"id": 3, "name": "from-s2", "bal": 3}, seq=3, origin="spoke2"),
        # echo of the hub's own write coming back from a spoke
        ev("u", before={"id": 1, "name": "from-hub", "bal": 1},
           after={"id": 1, "name": "echoed", "bal": 9}, seq=4, origin="hub"),
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    pipe = CdcPipeline(
        spark, table, key_cols=["id"], ignore_origin_nodes=("hub",)
    )
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    st = state_dict(table)
    # hub-originated events (1 insert + the echo update) are dropped at the
    # hub's pipeline; spoke events apply
    assert st == {2: ("from-s1", 2), 3: ("from-s2", 3)}


def test_charset_roundtrip_through_pipeline(spark, dirs):
    """charset_test parity: non-ASCII payloads (CJK, emoji, accents,
    RTL) survive Debezium JSON encode -> stream parse -> compact ->
    merge apply -> read back, byte-exact."""
    src, target_dir, ckpt = dirs
    names = ["数据迁移", "ápé-dts", "مرحبا", "emoji 🚀✨", "Ωmega"]
    events = [
        ev("c", after={"id": i, "name": n, "bal": i}, seq=i + 1)
        for i, n in enumerate(names)
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    CdcPipeline(spark, table, key_cols=["id"]).run(
        read_json_change_stream(spark, src, PAYLOAD), ckpt
    )
    st = state_dict(table)
    assert {st[i][0] for i in range(len(names))} == set(names)


def test_two_way_star_topology_no_echo(spark, tmp_path):
    """cycle_star_test parity (dt-tests mysql_to_mysql/cdc/cycle_star_test):
    hub-and-spoke two-way sync — a spoke-born event applies at the hub and
    every OTHER spoke, and is dropped when the hub relays it back toward its
    birth spoke; a hub-born event applies at every spoke. Same data-marker
    mechanism as the ring, different fan-out shape."""
    def node(name):
        d = tmp_path / name
        (d / "in").mkdir(parents=True)
        table = ParquetTable(spark, str(d / "tbl"), PAYLOAD)
        pipe = CdcPipeline(spark, table, key_cols=["id"], ignore_origin_nodes=(name,))
        return {"t": table, "p": pipe, "in": str(d / "in"), "ck": str(d / "ckpt")}

    hub = node("H")
    spokes = {n: node(n) for n in ("S1", "S2", "S3")}

    # S1-born event -> hub applies
    born = [ev("c", after={"id": 1, "name": "fromS1", "bal": 1}, seq=1, origin="S1")]
    write_debezium_jsonl(born, os.path.join(hub["in"], "b1.jsonl"))
    hub["p"].run(read_json_change_stream(spark, hub["in"], PAYLOAD), hub["ck"])
    assert set(state_dict(hub["t"])) == {1}
    # hub relays to every spoke, origin preserved: S2/S3 apply, S1 drops
    for n, s in spokes.items():
        write_debezium_jsonl(born, os.path.join(s["in"], "relay1.jsonl"))
        s["p"].run(read_json_change_stream(spark, s["in"], PAYLOAD), s["ck"])
    assert set(state_dict(spokes["S2"]["t"])) == {1}
    assert set(state_dict(spokes["S3"]["t"])) == {1}
    assert state_dict(spokes["S1"]["t"]) == {}  # no echo at the birth spoke

    # hub-born event fans out to all spokes
    hub_born = [ev("c", after={"id": 2, "name": "fromH", "bal": 2}, seq=2, origin="H")]
    for n, s in spokes.items():
        write_debezium_jsonl(hub_born, os.path.join(s["in"], "relay2.jsonl"))
        s["p"].run(read_json_change_stream(spark, s["in"], PAYLOAD), s["ck"])
        assert 2 in state_dict(s["t"]), n
    # ...and is dropped if a spoke reflects it back at the hub
    write_debezium_jsonl(hub_born, os.path.join(hub["in"], "b2.jsonl"))
    hub["p"].run(read_json_change_stream(spark, hub["in"], PAYLOAD), hub["ck"])
    assert 2 not in state_dict(hub["t"])


def test_multi_table_limiter_and_meta_center(spark, dirs, tmp_path):
    """The multi-table topology carries the single-table knobs: one limiter
    admits the whole epoch (the reference's buffer limiter sits on the
    shared pipeline buffer), and every table's applied DDL lands in the one
    meta center."""
    from ape_dts_spark.limiter import PipelineLimiter
    from ape_dts_spark.plans.meta_center import MetaCenter
    from ape_dts_spark.streaming.cdc import MultiTableCdcPipeline

    src, target_dir, ckpt = dirs

    class Clock:
        def __init__(self):
            self.t, self.slept = 100.0, []

        def now(self):
            return self.t

        def sleep(self, s):
            self.slept.append(s)
            self.t += s

    c = Clock()
    mc = MetaCenter(str(tmp_path / "meta.jsonl"))
    mc.register_base("default", "users", [("id", "BIGINT"), ("name", "TEXT"), ("bal", "BIGINT")])
    events = [
        ev("c", after={"id": 1, "name": "a", "bal": 1}, seq=1, table="users"),
        ev("c", after={"id": 2, "name": "b", "bal": 2}, seq=2, table="accounts"),
        {"op": "ddl", "ddl": "ALTER TABLE users ADD COLUMN note VARCHAR(4)",
         "source": {"db": "default", "table": "users",
                    "ts_ms": 1_700_000_000_002, "seq": 3}},
    ]
    write_debezium_jsonl(events, os.path.join(src, "b1.jsonl"))
    users = ParquetTable(spark, os.path.join(target_dir, "users"), PAYLOAD)
    accounts = ParquetTable(spark, os.path.join(target_dir, "accounts"), PAYLOAD)
    pipe = MultiTableCdcPipeline(
        spark,
        targets={"default.users": (users, ["id"]), "default.accounts": (accounts, ["id"])},
        limiter=PipelineLimiter(max_rps=1, clock=c.now, sleep=c.sleep),
        meta_center=mc,
    )
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    assert set(state_dict(users)) == {1} and set(state_dict(accounts)) == {2}
    assert "note" in users.current().columns
    assert mc.schema_at("default", "users")[-1] == ("note", "VARCHAR(4)")
    # second batch overdraws the 1-rps bucket -> the epoch slept
    write_debezium_jsonl([ev("c", after={"id": 9, "name": "z", "bal": 9}, seq=9,
                             table="users")], os.path.join(src, "b2.jsonl"))
    pipe.run(read_json_change_stream(spark, src, PAYLOAD), ckpt)
    assert c.slept and 9 in state_dict(users)


def test_empty_state_is_a_local_relation(spark, tmp_path, spark_jobs):
    """The empty table state runs no Python: its optimized plan holds no
    LogicalRDD (a PythonRDD scan), an action on it starts no Spark job, and
    an anti-join against it is pruned to an empty relation."""
    table = ParquetTable(spark, str(tmp_path / "t"), PAYLOAD)
    empty = table.current()
    assert empty.schema == PAYLOAD
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan and "LocalRelation" in plan
    with spark_jobs() as jobs:
        assert empty.collect() == []
    assert jobs.n == 0
    pruned = empty.join(spark.range(3), ["id"], "left_anti")._jdf.queryExecution().optimizedPlan().toString()
    assert pruned.startswith("LocalRelation <empty>")


@pytest.mark.parametrize("spill", [False, True], ids=["no_spill", "spill"])
def test_merge_apply_runs_no_count(spark, dirs, monkeypatch, spill):
    """merge_apply sizes nothing by row count: no DataFrame.count() runs in
    it, with or without spilled rows to replay."""
    src, target_dir, _ = dirs
    table = ParquetTable(spark, target_dir, PAYLOAD)
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    batch = parse_debezium(spark.read.text(os.path.join(src, "b1.jsonl")), PAYLOAD)
    if spill:
        table.merge_apply(*compact_changes(batch, ["id"]), ["id"])
        write_debezium_jsonl(BATCH_2, os.path.join(src, "b2.jsonl"))
        batch = parse_debezium(spark.read.text(os.path.join(src, "b2.jsonl")), PAYLOAD)
    compacted, spilled = compact_changes(batch, ["id"])

    def no_count(self):
        raise AssertionError("DataFrame.count() called in merge_apply")

    with monkeypatch.context() as m:
        # the concrete (classic) DataFrame class overrides count()
        m.setattr(type(compacted), "count", no_count)
        table.merge_apply(compacted, spilled, ["id"])
    if spill:
        assert state_dict(table) == {1: ("a2", 12), 4: ("c", 30), None: ("ghost", 0)}
    else:
        assert state_dict(table) == {1: ("a", 11), 3: ("c", 30)}


def test_empty_micro_batch_records_epoch_only(spark, dirs):
    """A micro-batch whose every event is filtered out commits no version
    (no rewrite of the table) but still advances the applied epoch."""
    src, target_dir, _ = dirs
    write_debezium_jsonl(BATCH_1, os.path.join(src, "b1.jsonl"))
    table = ParquetTable(spark, target_dir, PAYLOAD)
    CdcPipeline(spark, table, key_cols=["id"]).apply_batch(
        parse_debezium(spark.read.text(src), PAYLOAD), batch_id=0
    )
    v0 = table.version()
    # every event is an echo of the ignored node -> empty after _prepare
    write_debezium_jsonl(
        [ev("u", before={"id": 1, "name": "a", "bal": 11}, after={"id": 1, "name": "a", "bal": 99},
            seq=9, origin="peer")],
        os.path.join(src, "b2.jsonl"),
    )
    pipe = CdcPipeline(spark, table, key_cols=["id"], ignore_origin_nodes=("peer",))
    pipe.apply_batch(parse_debezium(spark.read.text(os.path.join(src, "b2.jsonl")), PAYLOAD), batch_id=1)
    assert table.version() == v0
    assert table.last_applied("cdc") == 1
    assert pipe.metrics[-1]["n_events"] == 0
    assert state_dict(table) == {1: ("a", 11), 3: ("c", 30)}


def test_bulk_apply_batch_job_count(spark, dirs, spark_jobs):
    """One bulk-shaped micro-batch (one DML segment, no spill) into a
    non-empty table runs 4 Spark jobs: the stats pass, which also builds the
    batch's cache and counts the events that spill, so with none the apply
    skips merge_apply's spill probe; then the write-set collect (the
    compaction's shuffle stage and its result) and the kept copy. The
    materializing count() preamble once made it 12, and a stats collect plus
    a Spark write of the upserts 8. A following batch with a key-changing
    update still probes, and its spill replays through Spark's writer: 11
    jobs (13 while the stats pass was a three-job collect)."""
    src, target_dir, _ = dirs
    table = ParquetTable(spark, target_dir, PAYLOAD)
    initial = [ev("c", after={"id": i, "name": f"n{i}", "bal": i}, seq=i) for i in range(1, 201)]
    write_debezium_jsonl(initial, os.path.join(src, "b0.jsonl"))
    table.merge_apply(*compact_changes(parse_debezium(spark.read.text(src), PAYLOAD), ["id"]), ["id"])
    updates = [
        ev("u", before={"id": i % 50 + 1, "name": "x", "bal": 0},
           after={"id": i % 50 + 1, "name": "x", "bal": i}, seq=1000 + i)
        for i in range(200)
    ]
    write_debezium_jsonl(updates, os.path.join(src, "b1.jsonl"))
    batch = parse_debezium(spark.read.text(os.path.join(src, "b1.jsonl")), PAYLOAD).select(
        "schema", "tb", "row_type", "before", "after", "seq", "ts"
    )
    pipe = CdcPipeline(spark, table, key_cols=["id"])
    with spark_jobs() as jobs:
        pipe.apply_batch(batch, batch_id=0)
    assert jobs.n == 4
    m = pipe.metrics[-1]
    phases = [m["collect_ms"], m["copy_ms"], m["commit_ms"]]
    assert min(phases) > 0 and sum(phases) <= m["apply_ms"]
    st = state_dict(table)
    assert len(st) == 200 and st[1] == ("x", 150) and st[51] == ("n51", 51)

    rekey = [
        ev("u", before={"id": 52, "name": "n52", "bal": 52},
           after={"id": 1052, "name": "moved", "bal": 52}, seq=2000),
        ev("u", before={"id": 53, "name": "n53", "bal": 53},
           after={"id": 53, "name": "y", "bal": 0}, seq=2001),
    ]
    write_debezium_jsonl(rekey, os.path.join(src, "b2.jsonl"))
    batch = parse_debezium(spark.read.text(os.path.join(src, "b2.jsonl")), PAYLOAD).select(
        "schema", "tb", "row_type", "before", "after", "seq", "ts"
    )
    with spark_jobs() as jobs:
        pipe.apply_batch(batch, batch_id=1)
    assert jobs.n == 11
    st = state_dict(table)
    assert len(st) == 200 and 52 not in st and st[1052] == ("moved", 52)
    assert st[53] == ("y", 0)
