"""Task assembly: task_config -> running Spark pipeline (dt-task parity).

Reference flow (dt-task/src/task_runner.rs:128-151 -> extractor_util.rs /
sinker_util.rs / parallelizer_util.rs): the ini picks an extractor, N sinkers
and a parallelizer; BasePipeline drives them. Here the same config assembles
lazy DataFrame pipelines:

  [extractor] extract_type=snapshot|check|check_log|cdc, url=<dir>
  [sinker]    sink_type=parquet|sql_file|check_log|noop, url=<dir>
  [filter]/[router]/[parallelizer] as in the reference

The "parallelizer" choice collapses into Spark's own scheduling: snapshot
fan-out = partition count, merge = compact_changes, table split =
per-table loop; only the config knob survives (parallel_size ->
repartition count).

Supported matrix (each maps to an e2e test):
- snapshot + parquet : chunked scan -> filter/route -> parquet tables
- snapshot + sql_file: scan -> INSERT statements file
- check    + check_log: full-outer diff -> miss/diff JSONL, one log write
  for all the task's tables (the reference's task-level check log)
- check_log + parquet : revise — re-read flagged keys -> merge into target
- cdc      + parquet : Debezium JSONL stream -> compact -> merge apply
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.config.task_config import TaskConfig
from ape_dts_spark.model.changes import ROW_TYPE_INSERT
from ape_dts_spark.operators.check_log import read_check_log_keys, write_check_log
from ape_dts_spark.operators.checker import check_diff
from ape_dts_spark.plans.fk_order import apply_stages, parse_fk_spec
from ape_dts_spark.sinks.parquet_table import ParquetTable
from ape_dts_spark.sinks.sql_file import events_to_sql, write_sql_file
from ape_dts_spark.sources.snapshot import SnapshotSource, read_parquet
from ape_dts_spark.streaming.cdc import CdcPipeline, read_json_change_stream


@dataclass
class TaskResult:
    kind: str
    tables: dict[str, DataFrame] = field(default_factory=dict)
    outputs: dict[str, str] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)


def _tables_from(cfg: TaskConfig, src_dir: str) -> list[str]:
    listed = cfg.extractor.get("tables", "")
    if listed:
        return [t.strip() for t in listed.split(",") if t.strip()]
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(src_dir) if f.endswith(".parquet")
    )


def run_task(spark: SparkSession, cfg: TaskConfig, registry: dict[str, list[str]] | None = None) -> TaskResult:
    """Assemble and run the configured task. ``registry`` maps table ->
    key columns (the reference fetches this from the source catalog's
    information_schema; parquet has no PK metadata so it is passed in)."""
    extract_type = cfg.extractor.get("extract_type", "snapshot")
    src_dir = cfg.extractor.get("url", "")
    sink_type = cfg.sinker.get("sink_type", "parquet")
    dst_dir = cfg.sinker.get("url", "")
    schema = cfg.extractor.get("db", "default")
    # key columns: the reference fetches them live from information_schema;
    # parquet carries no PK metadata, so an ini ``[registry]`` section
    # (table = comma-separated key cols) declares them — an explicit
    # ``registry`` argument overrides per table
    ini_registry = {
        tb: [c.strip() for c in cols.split(",") if c.strip()]
        for tb, cols in cfg.extra.get("registry", {}).items()
    }
    registry = {**ini_registry, **(registry or {})}

    if extract_type == "snapshot":
        source = SnapshotSource(spark, filter=cfg.filter, router=cfg.router, schema_name=schema)
        tables = [t for t in _tables_from(cfg, src_dir) if not cfg.filter.filter_tb(schema, t)]
        # FK mode: when the target enforces foreign keys the reference drops
        # to fully-serial apply (SURVEY §2.6); the stage plan keeps intra-
        # table parallelism and only sequences table groups parents-first.
        fk_spec = cfg.extractor.get("foreign_keys", "")
        if fk_spec:
            edges = parse_fk_spec(fk_spec)
            stages = apply_stages(tables, edges)
            tables = [tb for stage in stages for tb in stage if tb in set(tables)]
        parallel = cfg.parallelizer.get_int("parallel_size", 0)
        result = TaskResult(kind="snapshot")
        for tb in tables:
            df = source.read_table(src_dir, tb)
            if parallel:
                df = df.repartition(parallel)  # SnapshotParallelizer fan-out
            _, routed = cfg.router.route_table(schema, tb)
            if sink_type in ("parquet", "orc"):
                # orc = the Foxlake push path (foxlake_pusher.rs encodes ORC
                # batches to object storage) — Spark writes/reads ORC natively
                out = os.path.join(dst_dir, f"{routed}.{sink_type}")
                df.write.mode("overwrite").format(sink_type).save(out)
                result.outputs[routed] = out
                # read back with the written schema: inferring it from the
                # file footers would cost a Spark job per table
                result.tables[routed] = spark.read.format(sink_type).schema(df.schema).load(out)
            elif sink_type == "sql_file":
                # insert-only rendering: snapshot rows become insert events
                payload = F.struct(*[F.col(c) for c in df.columns])
                events = df.select(
                    F.lit(schema).alias("schema"),
                    F.lit(routed).alias("tb"),
                    F.lit(ROW_TYPE_INSERT).alias("row_type"),
                    payload.alias("before"),
                    payload.alias("after"),
                    F.monotonically_increasing_id().alias("seq"),
                )
                out = os.path.join(dst_dir, f"{routed}.sql")
                write_sql_file(events_to_sql(events, registry.get(tb, [])), out)
                result.outputs[routed] = out
            else:  # noop / dummy sink
                df.write.format("noop").mode("overwrite").save()
                result.tables[routed] = df
        return result

    if extract_type == "check":
        tables = [t for t in _tables_from(cfg, src_dir) if not cfg.filter.filter_tb(schema, t)]
        cmp_dir = cfg.sinker.get("compare_url", dst_dir)
        checks = {}
        for tb in tables:
            keys = registry.get(tb)
            if keys:
                src = read_parquet(spark, f"{src_dir}/{tb}.parquet")
                dst = read_parquet(spark, f"{cmp_dir}/{tb}.parquet")
                checks[tb] = (check_diff(src, dst, keys, include_extra=True), keys)
        # one log for the task, as the reference's task-level miss/diff log
        write_check_log(checks, schema, path=dst_dir)
        return TaskResult(kind="check", outputs={tb: os.path.join(dst_dir, f"check_{tb}") for tb in checks})

    if extract_type == "check_log":
        # revise: flagged keys -> re-read source -> merge into target table dir
        tb = cfg.extractor.get("tb", "")
        keys = registry[tb]
        key_schema = cfg.extractor.get("key_schema", ", ".join(f"{k} long" for k in keys))
        flagged = read_check_log_keys(spark, cfg.extractor.get("check_log_dir", ""), keys, key_schema)
        src = read_parquet(spark, f"{src_dir}/{tb}.parquet")
        rows = src.join(F.broadcast(flagged), keys, "left_semi")
        table = ParquetTable(spark, os.path.join(dst_dir, tb), src.schema)
        compacted = rows.select(
            F.lit(schema).alias("schema"),
            F.lit(tb).alias("tb"),
            *[F.col(k) for k in keys],
            F.lit("upsert").alias("op"),
            F.struct(*[F.col(c) for c in src.columns]).alias("after"),
            F.monotonically_increasing_id().alias("seq"),
        )
        table.merge_apply(compacted, None, keys)
        return TaskResult(kind="revise", tables={tb: table.current()})

    if extract_type == "cdc":
        tb = cfg.extractor.get("tb", "users")
        keys = registry.get(tb, ["id"])
        payload_sample = cfg.extractor.get("payload_sample", "")
        if not payload_sample:
            raise ValueError("cdc task needs extractor.payload_sample (parquet file with the payload schema)")
        payload = read_parquet(spark, payload_sample).schema
        table = ParquetTable(spark, os.path.join(dst_dir, tb), payload)
        # [processor] section: the reference's lua_code_file hook
        # (processor_config.rs; docs/en/etl/lua.md) — here a Python script
        # with the identical variable contract (operators/transform.py)
        proc = cfg.extra.get("processor", {})
        code = proc.get("python_code", "")
        code_file = proc.get("python_code_file", proc.get("lua_code_file", ""))
        if not code and code_file and os.path.exists(code_file):
            with open(code_file) as fh:
                code = fh.read()
        transform = None
        if code:
            from ape_dts_spark.operators.transform import script_processor

            transform = lambda d: script_processor(d, code)  # noqa: E731
        from ape_dts_spark.limiter import from_config as limiter_from_config

        # [metacenter] section: central DDL/schema history (the reference's
        # MetaCenterConfig, type=dbengine + url; here url = a jsonl path)
        meta_center = None
        mc = cfg.extra.get("metacenter", {})
        if mc.get("url"):
            from ape_dts_spark.plans.meta_center import MetaCenter

            meta_center = MetaCenter(mc["url"])
        # [data_marker] section: two-way-sync topology (data_marker_config.rs)
        # — ignore_nodes drives the origin filter; src_node is what a relay
        # stage stamps via wire_format.mark_origin
        dm = cfg.extra.get("data_marker", {})
        ignore_nodes = tuple(
            n.strip() for n in dm.get("ignore_nodes", "").split(",") if n.strip()
        )
        # [resumer] section: position.log protocol (resumer_config.rs
        # FromLog{log_dir}) — every applied batch checkpoints the
        # file-stream offset position; restart recovery reads the log
        position_log = position_of = None
        rs = cfg.extra.get("resumer", {})
        if rs.get("resume_from_log", "").lower() == "true" or rs.get("resume_log_dir"):
            from ape_dts_spark.model.position import KafkaPosition, PositionLog

            log_dir = rs.get("resume_log_dir") or os.path.join(dst_dir, "_position")
            os.makedirs(log_dir, exist_ok=True)
            position_log = PositionLog(os.path.join(log_dir, "position.log"))
            position_of = lambda m: KafkaPosition(  # noqa: E731
                topic=src_dir, partition=0, offset=int(m["max_seq"] or 0)
            )
        pipe = CdcPipeline(
            spark,
            table,
            key_cols=keys,
            transform=transform,
            time_window=(cfg.extractor.get("start_time_utc"), cfg.extractor.get("end_time_utc")),
            rdb_filter=cfg.filter,
            ignore_origin_nodes=ignore_nodes,
            limiter=limiter_from_config(cfg.extractor) or limiter_from_config(cfg.sinker),
            meta_center=meta_center,
            position_log=position_log,
            position_of=position_of,
        )
        changes = read_json_change_stream(spark, src_dir, payload)
        pipe.run(changes, checkpoint_dir=cfg.pipeline.get("checkpoint_dir", os.path.join(dst_dir, "_ckpt")))
        return TaskResult(kind="cdc", tables={tb: table.current()}, metrics=pipe.metrics)

    raise ValueError(f"unsupported extract_type {extract_type!r}")
