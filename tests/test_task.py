"""End-to-end task assembly tests: task_config ini -> running pipeline
(dt-task parity; golden pattern = the reference's integration tests:
prepare -> run task -> compare target to source, dt-tests/README.md)."""

import glob
import json
import os
from pathlib import Path

from ape_dts_spark.config.task_config import TaskConfig
from ape_dts_spark.streaming.cdc import write_debezium_jsonl
from ape_dts_spark.task import run_task

SF = "/root/testdata/sf0.001"


def test_snapshot_task_with_filter_and_route(spark, tmp_path):
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
db=default
tables=region,nation,customer

[filter]
do_tbs=default.region,default.nation

[router]
tb_map=default.region:default.region_v2

[sinker]
sink_type=parquet
url={tmp_path}/out

[parallelizer]
parallel_size=4
"""
    )
    res = run_task(spark, cfg)
    assert set(res.tables) == {"region_v2", "nation"}  # filter + rename applied
    src_n = spark.read.parquet(f"{SF}/region.parquet").count()
    assert res.tables["region_v2"].count() == src_n  # golden: target equals source


def test_snapshot_task_sql_file_sink(spark, tmp_path):
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
tables=region

[sinker]
sink_type=sql_file
url={tmp_path}/sql
"""
    )
    res = run_task(spark, cfg, registry={"region": ["r_regionkey"]})
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(res.outputs["region"])
        for f in fs
        if f.endswith(".txt")
    ]
    lines = [ln for f in files for ln in open(f).read().splitlines()]
    n = spark.read.parquet(f"{SF}/region.parquet").count()
    assert len(lines) == n
    assert all(ln.startswith("INSERT INTO `default`.`region`") for ln in lines)


def test_check_then_revise_tasks(spark, tmp_path):
    # build a drifted target: drop some orders rows
    src_o = spark.read.parquet(f"{SF}/orders.parquet")
    os.makedirs(f"{tmp_path}/dst")
    src_o.filter("o_orderkey % 7 <> 0").write.parquet(f"{tmp_path}/dst/orders.parquet")

    check_cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=check
url={SF}
tables=orders

[sinker]
sink_type=check_log
url={tmp_path}/check
compare_url={tmp_path}/dst
"""
    )
    res = run_task(spark, check_cfg, registry={"orders": ["o_orderkey"]})
    log_dir = res.outputs["orders"]
    rows = spark.read.text(log_dir).collect()
    misses = [json.loads(r["value"]) for r in rows]
    expected_miss = src_o.filter("o_orderkey % 7 = 0").count()
    assert len([m for m in misses if m["log_type"] == "miss"]) == expected_miss

    revise_cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=check_log
url={SF}
tb=orders
check_log_dir={log_dir}

[sinker]
sink_type=parquet
url={tmp_path}/revised
"""
    )
    res2 = run_task(spark, revise_cfg, registry={"orders": ["o_orderkey"]})
    # revised target now holds every previously-missing row
    assert res2.tables["orders"].count() == expected_miss


def test_cdc_task(spark, tmp_path):
    src = tmp_path / "cdc_src"
    src.mkdir()
    events = [
        {"op": "c", "after": {"id": 1, "name": "a", "bal": 10},
         "source": {"db": "d", "table": "users", "ts_ms": 1700000000001, "seq": 1, "origin_node": None}},
        {"op": "u", "before": {"id": 1, "name": "a", "bal": 10}, "after": {"id": 1, "name": "a", "bal": 11},
         "source": {"db": "d", "table": "users", "ts_ms": 1700000000002, "seq": 2, "origin_node": None}},
    ]
    write_debezium_jsonl(events, str(src / "b.jsonl"))
    sample = tmp_path / "payload.parquet"
    spark.createDataFrame([(1, "a", 10)], "id long, name string, bal long").write.parquet(str(sample))

    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=cdc
url={src}
tb=users
payload_sample={sample}

[sinker]
sink_type=parquet
url={tmp_path}/cdc_out
"""
    )
    res = run_task(spark, cfg, registry={"users": ["id"]})
    rows = res.tables["users"].collect()
    assert len(rows) == 1 and rows[0]["bal"] == 11
    assert res.metrics


def test_snapshot_task_orc_sink(spark, tmp_path):
    """Foxlake path: snapshot -> ORC round trip (foxlake_pusher.rs parity)."""
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
tables=nation

[sinker]
sink_type=orc
url={tmp_path}/orc_out
"""
    )
    res = run_task(spark, cfg)
    src = spark.read.parquet(f"{SF}/nation.parquet")
    assert res.tables["nation"].count() == src.count()
    assert res.outputs["nation"].endswith(".orc")
    assert set(res.tables["nation"].columns) == set(src.columns)


def test_task_config_parses_ddl_dcl_structure_filters():
    cfg = TaskConfig.from_string(
        """
[extractor]
db_type=mysql
extract_type=cdc

[filter]
do_ddls=add_column,truncate_table
do_dcls=grant
do_structures=table,index
ignore_cmds=flush

[sinker]
sink_type=write
"""
    )
    f = cfg.filter
    assert not f.filter_ddl("add_column") and f.filter_ddl("drop_table")
    assert not f.filter_dcl("grant") and f.filter_dcl("revoke")
    assert not f.filter_structure("index") and f.filter_structure("sequence")
    assert f.filter_cmd("flush")


def test_cdc_task_with_script_processor(spark, tmp_path):
    """[processor] hook: the reference's lua_code_file UX with the identical
    variable contract (schema/tb/row_type/before/after; empty row_type drops
    the row) — docs/en/etl/lua.md examples translated line-for-line."""
    src = tmp_path / "cdc_src2"
    src.mkdir()
    events = [
        {"op": "c", "after": {"id": 1, "name": "a", "bal": 10},
         "source": {"db": "d", "table": "users", "ts_ms": 1700000000001, "seq": 1, "origin_node": None}},
        {"op": "c", "after": {"id": 2, "name": "skipme", "bal": 20},
         "source": {"db": "d", "table": "users", "ts_ms": 1700000000002, "seq": 2, "origin_node": None}},
        {"op": "u", "before": {"id": 1, "name": "a", "bal": 10}, "after": {"id": 1, "name": "a", "bal": 11},
         "source": {"db": "d", "table": "users", "ts_ms": 1700000000003, "seq": 3, "origin_node": None}},
    ]
    write_debezium_jsonl(events, str(src / "b.jsonl"))
    sample = tmp_path / "payload2.parquet"
    spark.createDataFrame([(1, "a", 10)], "id long, name string, bal long").write.parquet(str(sample))

    code_file = tmp_path / "processor.py"
    code_file.write_text(
        "if after is not None and after.get('name') == 'skipme':\n"
        "    row_type = ''\n"
        "if row_type == 'update' and after is not None:\n"
        "    after['bal'] = after['bal'] + 100\n"
    )
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=cdc
url={src}
tb=users
payload_sample={sample}

[sinker]
sink_type=parquet
url={tmp_path}/cdc_out2

[processor]
python_code_file={code_file}
"""
    )
    res = run_task(spark, cfg, registry={"users": ["id"]})
    rows = {r["id"]: r["bal"] for r in res.tables["users"].collect()}
    assert rows == {1: 111}  # skipme filtered; update value mutated by script


def test_snapshot_task_fk_stage_order(spark, tmp_path):
    """FK mode sequences table stages parents-first while leaving
    intra-table parallelism alone (foreign_key_test parity)."""
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
db=default
tables=lineitem,customer,orders,nation,region
foreign_keys=nation:region,customer:nation,orders:customer,lineitem:orders

[sinker]
sink_type=parquet
url={tmp_path}/out
"""
    )
    res = run_task(spark, cfg)
    # dict insertion order records apply order
    assert list(res.outputs) == ["region", "nation", "customer", "orders", "lineitem"]
    for tb in res.tables:
        assert res.tables[tb].count() == spark.read.parquet(f"{SF}/{tb}.parquet").count()


def test_cli_main(spark, tmp_path, capsys):
    """dt-main parity: python -m ape_dts_spark <config> runs the task;
    --precheck runs and reports prechecks (non-zero exit on failures)."""
    import json as _json

    from ape_dts_spark.__main__ import main

    cfg = tmp_path / "task_config.ini"
    cfg.write_text(
        "[extractor]\nextract_type=snapshot\nurl=/root/testdata/sf0.001\n"
        "db=default\ntables=region\n\n"
        f"[sinker]\nsink_type=parquet\nurl={tmp_path}/out\n"
    )
    assert main([str(cfg)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "snapshot" and out["tables"] == ["region"]
    assert spark.read.parquet(f"{tmp_path}/out/region.parquet").count() > 0

    assert main([str(cfg), "--precheck"]) == 0
    # a missing table makes precheck exit non-zero
    cfg.write_text(cfg.read_text().replace("tables=region", "tables=region,nosuch"))
    assert main([str(cfg), "--precheck"]) == 1


def test_example_configs_parse_and_registry_flows(spark, tmp_path):
    """examples/*.ini stay parseable, and the [registry] section feeds key
    columns into check/revise tasks (information_schema stand-in)."""
    examples = Path(__file__).resolve().parents[1] / "examples"
    for path in sorted(examples.glob("*.ini")):
        cfg = TaskConfig.from_file(str(path))
        assert cfg.extractor.get("extract_type") in ("snapshot", "check", "check_log", "cdc"), path

    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=check
url=/root/testdata/sf0.001
tables=region

[sinker]
sink_type=check_log
url={tmp_path}/chk
compare_url=/root/testdata/sf0.001

[registry]
region=r_regionkey
"""
    )
    res = run_task(spark, cfg)  # no explicit registry: the ini section drives it
    assert "region" in res.outputs


def test_cdc_task_wires_marker_resumer_metacenter(spark, tmp_path):
    """The [data_marker]/[resumer]/[metacenter] ini sections reach the
    pipeline: origin-marked echoes are dropped, a position.log checkpoint
    line lands per batch, and applied DDL is recorded centrally
    (data_marker_config.rs / resumer_config.rs FromLog /
    meta_center_config.rs key parity)."""
    import json as _json
    import os as _os

    from ape_dts_spark.config.task_config import TaskConfig
    from ape_dts_spark.model.position import PositionLog
    from ape_dts_spark.plans.meta_center import MetaCenter
    from ape_dts_spark.streaming.cdc import write_debezium_jsonl
    from ape_dts_spark.task import run_task

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    sample = tmp_path / "payload.parquet"
    spark.createDataFrame([(1, "a", 2)], "id long, name string, bal long").write.parquet(str(sample))

    events = [
        {"op": "c", "before": None, "after": {"id": 1, "name": "a", "bal": 1},
         "source": {"db": "d", "table": "users", "ts_ms": 1_700_000_000_000, "seq": 1}},
        # an echo from THIS node's own origin must be dropped
        {"op": "c", "before": None, "after": {"id": 2, "name": "echo", "bal": 2},
         "source": {"db": "d", "table": "users", "ts_ms": 1_700_000_000_001, "seq": 2,
                    "origin_node": "node_a"}},
        {"op": "ddl", "ddl": "ALTER TABLE users ADD COLUMN note VARCHAR(8)",
         "source": {"db": "d", "table": "users", "ts_ms": 1_700_000_000_002, "seq": 3}},
    ]
    write_debezium_jsonl(events, _os.path.join(str(src), "b.jsonl"))
    meta_path = str(tmp_path / "meta.jsonl")
    MetaCenter(meta_path).register_base(
        "d", "users", [("id", "BIGINT"), ("name", "TEXT"), ("bal", "BIGINT")])
    cfg = TaskConfig.from_string(f"""
[extractor]
db_type=mysql
extract_type=cdc
url={src}
tb=users
payload_sample={sample}
[sinker]
db_type=mysql
sink_type=parquet
url={dst}
[filter]
[router]
[pipeline]
[parallelizer]
[runtime]
[registry]
users=id
[data_marker]
topo_name=star
src_node=node_a
ignore_nodes=node_a
[resumer]
resume_from_log=true
resume_log_dir={tmp_path}/poslog
[metacenter]
type=dbengine
url={meta_path}
""")
    result = run_task(spark, cfg)
    state = {r["id"] for r in result.tables["users"].collect()}
    assert state == {1}  # the echo was origin-filtered
    got = PositionLog(str(tmp_path / "poslog" / "position.log")).latest()
    assert got is not None and got.offset == 3
    assert MetaCenter(meta_path).schema_at("d", "users")[-1] == ("note", "VARCHAR(8)")


def test_snapshot_read_back_uses_written_schema(spark, tmp_path, spark_jobs, monkeypatch):
    """The snapshot read-back of a parquet sink carries the written
    DataFrame's schema and rows, and building it starts no Spark job (no
    schema inference over the file footers)."""
    from pyspark.sql.readwriter import DataFrameReader

    load = DataFrameReader.load
    load_jobs = []

    def counted_load(self, *args, **kwargs):
        with spark_jobs() as jobs:
            df = load(self, *args, **kwargs)
        load_jobs.append(jobs.n)
        return df

    monkeypatch.setattr(DataFrameReader, "load", counted_load)
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
db=default
tables=nation

[sinker]
sink_type=parquet
url={tmp_path}/out
"""
    )
    res = run_task(spark, cfg)
    monkeypatch.undo()
    assert load_jobs == [0]
    src = spark.read.parquet(f"{SF}/nation.parquet")
    written = spark.read.parquet(res.outputs["nation"])
    assert res.tables["nation"].schema == written.schema == src.schema
    assert res.tables["nation"].count() == src.count()
    assert sorted(res.tables["nation"].collect()) == sorted(src.collect())


_CHECK_KEYS = {"orders": ["o_orderkey"], "customer": ["c_custkey"], "part": ["p_partkey"]}


def _replica(spark, path, miss_mod, diff_mod):
    """Replica of the check tables: orders loses the keys where
    ``o_orderkey % miss_mod == 0``, customer's balance is off by one where
    ``c_custkey % diff_mod == 0`` (none when ``diff_mod`` is 0), part is
    identical."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{SF}/orders.parquet").filter(F.col("o_orderkey") % miss_mod != 0).write.parquet(
        f"{path}/orders.parquet"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    if diff_mod:
        drifted = F.when(F.col("c_custkey") % diff_mod == 0, F.col("c_acctbal") + 1).otherwise(F.col("c_acctbal"))
        cust = cust.withColumn("c_acctbal", drifted)
    cust.write.parquet(f"{path}/customer.parquet")
    spark.read.parquet(f"{SF}/part.parquet").write.parquet(f"{path}/part.parquet")
    return path


def _run_check(spark, url, cmp_dir):
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=check
url={SF}
tables={",".join(_CHECK_KEYS)}

[sinker]
sink_type=check_log
url={url}
compare_url={cmp_dir}
"""
    )
    return run_task(spark, cfg, registry=_CHECK_KEYS)


def _log_lines(check_dir):
    """Multiset of (check_class, line) under one table's check directory."""
    from collections import Counter

    lines = Counter()
    for p in glob.glob(f"{check_dir}/check_class=*/*.txt"):
        cls = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
        with open(p) as f:
            lines.update((cls, line.rstrip("\n")) for line in f)
    return lines


def _expected_lines(spark, cmp_dir, tb):
    """What a per-table write of ``tb``'s own check log holds."""
    from collections import Counter

    from ape_dts_spark.operators.check_log import to_check_log
    from ape_dts_spark.operators.checker import check_diff

    keys = _CHECK_KEYS[tb]
    d = check_diff(spark.read.parquet(f"{SF}/{tb}.parquet"), spark.read.parquet(f"{cmp_dir}/{tb}.parquet"),
                   keys, include_extra=True)
    return Counter((r["check_class"], r["log"]) for r in to_check_log(d, keys, "default", tb).collect())


def test_check_task_writes_one_log_for_all_tables(spark, tmp_path, spark_jobs):
    """A three-table check runs the join shuffles plus one log write (7
    jobs; a schema-inference read per input and a write per table took 15),
    and each table's directory holds exactly the lines of its own log."""
    cmp_dir = _replica(spark, str(tmp_path / "dst"), miss_mod=7, diff_mod=5)
    with spark_jobs() as jobs:
        res = _run_check(spark, str(tmp_path / "check"), cmp_dir)
    assert jobs.n <= 7
    assert set(res.outputs) == set(_CHECK_KEYS)
    for tb in _CHECK_KEYS:
        got = _log_lines(res.outputs[tb])
        assert got == _expected_lines(spark, cmp_dir, tb), tb
    assert {c for c, _ in _log_lines(res.outputs["orders"])} == {"miss"}
    assert {c for c, _ in _log_lines(res.outputs["customer"])} == {"diff"}
    assert sorted(os.listdir(tmp_path / "check")) == [f"check_{tb}" for tb in sorted(_CHECK_KEYS)]


def test_check_without_findings_keeps_its_dir_and_revise_commits_empty(spark, tmp_path):
    """A table with no differences still gets ``check_{tb}/`` (marked with
    ``_SUCCESS``), and revise on it commits an empty version."""
    from ape_dts_spark.sinks.parquet_table import ParquetTable

    cmp_dir = _replica(spark, str(tmp_path / "dst"), miss_mod=7, diff_mod=0)
    res = _run_check(spark, str(tmp_path / "check"), cmp_dir)
    part_dir = res.outputs["part"]
    assert os.path.isfile(os.path.join(part_dir, "_SUCCESS"))
    assert not _log_lines(part_dir) and not _log_lines(res.outputs["customer"])

    revise_cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=check_log
url={SF}
tb=part
check_log_dir={part_dir}

[sinker]
sink_type=parquet
url={tmp_path}/revised
"""
    )
    revised = run_task(spark, revise_cfg, registry=_CHECK_KEYS)
    assert revised.tables["part"].count() == 0
    src_schema = spark.read.parquet(f"{SF}/part.parquet").schema
    assert ParquetTable(spark, str(tmp_path / "revised" / "part"), src_schema).version() == 0  # first commit


def test_check_rerun_replaces_logs_and_leaves_no_staging(spark, tmp_path):
    """Re-running a check into the same url leaves only the second run's
    lines (a class the second run does not find disappears) and no
    staging directory."""
    url = str(tmp_path / "check")
    _run_check(spark, url, _replica(spark, str(tmp_path / "dst1"), miss_mod=3, diff_mod=4))
    cmp_dir = _replica(spark, str(tmp_path / "dst2"), miss_mod=11, diff_mod=0)
    res = _run_check(spark, url, cmp_dir)
    for tb in _CHECK_KEYS:
        assert _log_lines(res.outputs[tb]) == _expected_lines(spark, cmp_dir, tb), tb
    assert not glob.glob(f"{url}/check_customer/check_class=*")
    assert sorted(os.listdir(url)) == [f"check_{tb}" for tb in sorted(_CHECK_KEYS)]


def test_snapshot_task_runs_one_job_per_table(spark, tmp_path, spark_jobs):
    """A snapshot runs only each table's write: no schema-inference job on
    the source read (two jobs per table when it inferred)."""
    cfg = TaskConfig.from_string(
        f"""
[extractor]
extract_type=snapshot
url={SF}
tables=region,nation,customer

[sinker]
sink_type=parquet
url={tmp_path}/out
"""
    )
    with spark_jobs() as jobs:
        res = run_task(spark, cfg)
    assert jobs.n == 3
    for tb in ("region", "nation", "customer"):
        assert res.tables[tb].schema == spark.read.parquet(f"{SF}/{tb}.parquet").schema
