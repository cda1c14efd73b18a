"""CDC ingestion + apply on Structured Streaming.

Reference pipeline (dt-pipeline/src/base_pipeline.rs:82-191): binlog/WAL
extractor -> bounded queue -> drain micro-batch -> merge/compact -> parallel
apply -> checkpoint commit positions. The reference speaks the MySQL/PG
replication protocols natively (dt-connector/src/extractor/mysql/
mysql_cdc_extractor.rs:195-342); Spark's idiomatic equivalent consumes a
Debezium-format change topic (Kafka in production, a JSONL file source in
tests — the parse and everything downstream are identical):

    readStream -> parse_debezium -> [time filter, origin filter, routing,
    user transform] -> foreachBatch { compact -> stage-ordered merge apply }

Checkpointing is native (Structured Streaming checkpoint dir = the
reference's commit-position log, base_pipeline.rs:585-653); the target table
commit records the last applied epoch so foreachBatch replays after recovery
are idempotent (= the reference's "resume from checkpoint position").

Scale notes: compaction shuffles ~|distinct keys| per micro-batch (map-side
max_by fold); apply joins on the key columns with the change set broadcast
when small. Trigger interval controls the latency/throughput trade
(`maxOffsetsPerTrigger`/`maxFilesPerTrigger` = the reference's DtQueue
backpressure, dt-common/src/meta/dt_queue.rs:13-84).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.operators.merge import classify_mergeable, compact_changes
from ape_dts_spark.sinks.parquet_table import ParquetTable

# Debezium envelope op codes -> canonical row_type
# (c=create, u=update, d=delete, r=snapshot-read)
_OP_MAP = {"c": "insert", "u": "update", "d": "delete", "r": "insert"}


def debezium_envelope_schema(payload: T.StructType) -> T.StructType:
    """Schema of a Debezium-style JSON change record with typed images.
    ``ddl`` carries schema-change statements (op='ddl')."""
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ddl", T.StringType()),
            T.StructField("before", payload),
            T.StructField("after", payload),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("db", T.StringType()),
                        T.StructField("table", T.StringType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField("seq", T.LongType()),
                        T.StructField("origin_node", T.StringType()),
                    ]
                ),
            ),
        ]
    )


def _change_columns(
    env: str,
    tb_field: str = "table",
    ddl: bool = True,
    image: Callable[[Column], Column] = lambda c: c,
) -> list[Column]:
    """The canonical change columns (schema, tb, row_type[, ddl], before,
    after, seq, ts, origin_node) projected from the parsed Debezium envelope
    struct ``env``. The relational parses carry ``ddl``; the Mongo parse
    reads ``source.collection``, has no ``ddl`` and decodes its string
    images with ``image``."""
    op_map = F.create_map(*[F.lit(x) for kv in _OP_MAP.items() for x in kv])
    op = F.col(f"{env}.op")
    return [
        F.col(f"{env}.source.db").alias("schema"),
        F.col(f"{env}.source.{tb_field}").alias("tb"),
        F.coalesce(op_map[op], op).alias("row_type"),
        *([F.col(f"{env}.ddl").alias("ddl")] if ddl else []),
        image(F.col(f"{env}.before")).alias("before"),
        image(F.col(f"{env}.after")).alias("after"),
        F.col(f"{env}.source.seq").alias("seq"),
        F.to_timestamp(F.col(f"{env}.source.ts_ms") / F.lit(1000.0)).alias("ts"),
        F.col(f"{env}.source.origin_node").alias("origin_node"),
    ]


def parse_debezium(raw: DataFrame, payload: T.StructType, value_col: str = "value") -> DataFrame:
    """Debezium JSON envelope -> canonical change DataFrame
    (schema, tb, row_type, ddl, before, after, seq, ts, origin_node).

    Works identically on a batch DataFrame and a streaming one (same plan);
    for Kafka, pass ``df.selectExpr("CAST(value AS STRING) AS value")``.
    """
    env = debezium_envelope_schema(payload)
    parsed = raw.select(F.from_json(F.col(value_col), env).alias("_r"))
    return parsed.select(*_change_columns("_r"))


def parse_debezium_with_dead_letter(
    raw: DataFrame, payload: T.StructType, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Debezium parse with a DEAD-LETTER channel: rows whose envelope fails
    to parse (invalid JSON) or lacks required fields (no op/ddl, no
    source.seq) are quarantined as (raw, reason) instead of silently
    flowing downstream as all-null change rows — plain ``parse_debezium``'s
    behavior, which turns one corrupt producer into NULL-key upserts at the
    target. The reference logs-and-halts on decode errors
    (dt-connector/src/extractor/base_extractor.rs error paths); a Spark
    pipeline quarantines and continues, landing the dead letters beside the
    checkpoint for replay after the producer is fixed.

    Returns (changes, dead): ``changes`` has parse_debezium's exact schema;
    ``dead`` is (raw STRING, reason IN unparseable|missing_op|missing_seq).
    Both are projections of ONE from_json pass — no double parse.
    """
    env = debezium_envelope_schema(payload)
    # from_json is PERMISSIVE: malformed JSON yields an all-NULL struct, not
    # NULL — indistinguishable from a valid-but-empty envelope. try_parse_json
    # (NULL on invalid JSON) is the actual validity probe.
    tagged = (
        raw.withColumn("_r", F.from_json(F.col(value_col), env))
        .withColumn("_valid", F.expr(f"try_parse_json({value_col}) IS NOT NULL"))
        .withColumn(
            "_dead",
            F.when(F.col("_r").isNull() | ~F.col("_valid"), "unparseable")
            .when(F.col("_r.op").isNull() & F.col("_r.ddl").isNull(), "missing_op")
            .when(F.col("_r.source.seq").isNull(), "missing_seq"),
        )
    )
    dead = tagged.filter(F.col("_dead").isNotNull()).select(
        F.col(value_col).alias("raw"), F.col("_dead").alias("reason")
    )
    changes = tagged.filter(F.col("_dead").isNull()).select(*_change_columns("_r"))
    return changes, dead


# Schema-fluid payload: images as MAP<STRING,STRING>. The reference never
# declares payload schemas — it discovers them from the source catalog at
# runtime and refreshes on DDL (SURVEY §1.1 meta managers); the MapType
# variant of the canonical change DataFrame (SURVEY §1.3) is the Spark shape
# of that: one stream carries every table, values ride as canonical strings,
# and a per-table cast (fluid_to_typed) restores types at apply time.
FLUID_PAYLOAD = T.MapType(T.StringType(), T.StringType())


def parse_debezium_fluid(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Debezium JSON envelope -> schema-fluid change DataFrame: before/after
    as MAP<STRING,STRING> (JSON scalars arrive stringified). No payload
    schema needed up front — compaction (compact_changes) and filters work
    directly on the map images because key access is ``getField`` either way.
    """
    return parse_debezium(raw, FLUID_PAYLOAD, value_col)


def fluid_to_typed(df: DataFrame, payload: T.StructType) -> DataFrame:
    """Map images -> typed struct images for one table's apply: each field is
    pulled from the map and cast to its declared type (the reference's
    column-major decode against the fetched table meta). Rows whose image is
    NULL stay NULL; missing map keys become NULL fields (schema evolution:
    a column added mid-stream is NULL for older events)."""

    def conv(side: str):
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                *[
                    F.col(side).getItem(f.name).cast(f.dataType).alias(f.name)
                    for f in payload.fields
                ]
            ),
        )

    return df.withColumn("before", conv("before")).withColumn("after", conv("after"))


# -- heartbeat write path ---------------------------------------------------

HEARTBEAT_PAYLOAD = T.StructType(
    [T.StructField("node", T.StringType()), T.StructField("hb_ts_ms", T.LongType())]
)


def heartbeat_event(db: str, tb: str, node: str, ts_ms: int, seq: int) -> dict:
    """Heartbeat WRITE path (mysql_cdc_extractor.rs:468-540): the extractor
    periodically upserts a single row keyed by node into a dedicated
    heartbeat table; the row rides the normal change stream, so downstream
    lag stays measurable even when every real table is idle. Feed the dicts
    to write_debezium_jsonl (file harness) or the Kafka producer."""
    image = {"node": node, "hb_ts_ms": ts_ms}
    return {
        "op": "u",
        "before": image,
        "after": image,
        "source": {"db": db, "table": tb, "ts_ms": ts_ms, "seq": seq, "origin_node": node},
    }


def read_json_change_stream(
    spark: SparkSession,
    source_dir: str,
    payload: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming change DataFrame from a directory of Debezium JSONL files
    (the test-harness source; swap for format('kafka') in production)."""
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
    )
    raw = reader.load(source_dir)
    return parse_debezium(raw, payload)


@dataclass
class CdcPipeline:
    """End-to-end CDC sync: change stream -> compact -> merge apply.

    ``transform`` is the Lua-processor hook slot (operators/transform.py);
    ``time_window`` = (start_ts, end_ts) replicates TimeFilter
    (dt-common/src/time_filter.rs:6-49); ``ignore_origin_nodes`` replicates
    the two-way-sync data marker filter (dt-connector/src/data_marker.rs:9-80).
    """

    spark: SparkSession
    target: ParquetTable
    key_cols: list[str]
    stream_id: str = "cdc"
    transform: Callable[[DataFrame], DataFrame] | None = None
    time_window: tuple[str | None, str | None] = (None, None)
    ignore_origin_nodes: tuple[str, ...] = ()
    inline_check: bool = False
    # optional RdbFilter: when set, its do_ddls / do_dcls / ignore_cmds gate
    # the schema-change channel with the reference's opt-in semantics
    # (rdb_filter.rs:106-138). None = apply every recognized DDL (legacy).
    rdb_filter: object | None = None
    metrics: list[dict] = field(default_factory=list)
    # optional task-telemetry registry (monitor.py): per-batch counters in
    # the reference's monitor.log inventory ride along when provided
    monitor: object | None = None
    # optional plans/meta_center.MetaCenter: every applied DDL statement is
    # recorded centrally so consumers can reconstruct schema-at-position
    # ([metacenter] config, ddl_meta_center_test suite)
    meta_center: object | None = None
    # optional limiter.PipelineLimiter: micro-batch admission against the
    # max_rps/max_mbps token buckets ([extractor]/[sinker] max_rps keys,
    # dt-common/src/limiter/buffer_limiter.rs) — the batch acquires its
    # record count before applying, sleeping out any overdraft
    limiter: object | None = None
    # optional position.log protocol (model/position.PositionLog): after
    # every applied batch a checkpoint_position line is written with the
    # position `position_of` derives from the batch metrics (the batch
    # boundary IS a transaction boundary here — foreachBatch applies whole
    # micro-batches, so checkpoint == current at batch grain)
    position_log: object | None = None
    position_of: Callable[[dict], object] | None = None

    def _prepare(self, df: DataFrame) -> DataFrame:
        start, end = self.time_window
        if start:
            df = df.filter(F.col("ts") >= F.lit(start).cast("timestamp"))
        if end:
            df = df.filter(F.col("ts") < F.lit(end).cast("timestamp"))
        if self.ignore_origin_nodes:
            df = df.filter(
                F.col("origin_node").isNull()
                | ~F.col("origin_node").isin(*self.ignore_origin_nodes)
            )
        if self.transform is not None:
            df = self.transform(df)
        return df

    def apply_ddl(self, ddl_row) -> None:
        """DDL handler, dispatching on the recognized statement kind
        (plans/ddl_parse.py mirrors the reference's statement inventory,
        dt-common/src/meta/ddl_meta/ddl_statement.rs:6-35):

        - ADD COLUMN evolves the target schema (NULL-filled, schema-on-read)
        - DROP COLUMN removes it from the read schema (no rewrite)
        - RENAME/CHANGE COLUMN rewrites the current version under the new name
        - TRUNCATE commits an empty version
        - RENAME TABLE updates the logical name in meta
        - DROP TABLE tombstones the target (applies refuse until re-created)
        - index/database statements and unrecognized text are logged — they
          have no effect on a single parquet target (struct_migration.py owns
          index DDL emission for real targets).
        """
        from ape_dts_spark.model.types import spark_type_for
        from ape_dts_spark.plans.dcl_parse import parse_dcl
        from ape_dts_spark.plans.ddl_parse import split_ddl

        text = ddl_row["ddl"] or ""
        dcl = parse_dcl(text)
        if dcl.kind != "unknown":
            # access-control statements never touch the data path; they are
            # config-gated and forwarded via the meta log for SQL-file /
            # target-side replay (dcl_type.rs inventory)
            if self.rdb_filter is not None and self.rdb_filter.filter_dcl(dcl.kind):
                return
            self.target.log_ddl(
                {"dcl": text, "op": dcl.kind, "principal": dcl.principal}, log="dcl_log"
            )
            return
        # multi-target statements (DROP TABLE a, b / RENAME TABLE .. , ..)
        # split into one routable statement per target, like the reference's
        # split_to_multi — each part filters and applies independently,
        # matched per (schema, table) against the event envelope so a part
        # naming a DIFFERENT table never touches this pipeline's target
        # (mysql_cdc_extractor.rs:432-436 pushes each split only to its own
        # (db, tb) route; without this, 'RENAME TABLE a TO b, c TO d'
        # delivered on table a's channel would rename the target twice)
        env_schema = ddl_row["schema"] if "schema" in ddl_row else None
        env_tb = ddl_row["tb"] if "tb" in ddl_row else None
        if self.meta_center is not None:
            self.meta_center.record_ddl(
                env_schema, env_tb, text,
                seq=ddl_row["seq"] if "seq" in ddl_row else 0,
            )
        # the target's current logical name (rename_table updates it) also
        # identifies this pipeline — a post-rename DDL names the new table
        # while the envelope may still carry the original channel name
        target_tb = self.target.table_name()
        for st in split_ddl(text):
            if (
                st.table is not None
                and env_tb is not None
                and st.table not in (env_tb, target_tb)
            ):
                continue
            if st.schema is not None and env_schema is not None and st.schema != env_schema:
                continue
            if self.rdb_filter is not None and (
                self.rdb_filter.filter_cmd(st.kind)
                or self.rdb_filter.filter_ddl(
                    st.kind, st.schema or env_schema, st.table or env_tb
                )
            ):
                continue
            if st.kind == "add_column":
                name, src_type = st.args
                self.target.add_column(T.StructField(name, spark_type_for(src_type)), text)
            elif st.kind == "drop_column":
                self.target.drop_column(st.args[0], text)
            elif st.kind == "rename_column":
                self.target.rename_column(st.args[0], st.args[1], text)
            elif st.kind == "modify_column":
                name, src_type = st.args
                self.target.widen_column(name, spark_type_for(src_type), text)
            elif st.kind == "truncate_table":
                self.target.truncate(text)
            elif st.kind == "rename_table":
                self.target.rename_table(st.args[1], text)
            elif st.kind == "drop_table":
                self.target.mark_dropped(text)
            elif st.kind == "create_table":
                from ape_dts_spark.plans.ddl_parse import parse_create_columns

                cols = parse_create_columns(text)
                if cols:
                    self.target.recreate(
                        [T.StructField(n, spark_type_for(t)) for n, t in cols],
                        text,
                    )
                else:  # CTAS / LIKE: no typed column list to install
                    self.target.log_ddl({"ddl": text, "op": st.kind})
            else:
                self.target.log_ddl({"ddl": text, "op": st.kind})

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body: compact the micro-batch and merge-apply it.

        DDL events are **barriers** (base_parallelizer.rs:27-50,
        base_extractor.rs:204-206): the batch is applied in seq-ordered
        segments — DML before the DDL, the DDL itself (serially, exclusively),
        then the rest. Each segment commits under a fractional epoch
        ``batch_id - 1 + (i+1)/n_segments`` (monotonic, ending exactly at
        ``batch_id``) so a crash mid-batch replays only the segments that
        never committed — without per-segment tokens, replayed spilled
        NULL-key inserts would append twice. Heartbeat/lag metric per batch =
        now - max(event ts) (reference heartbeat:
        mysql_cdc_extractor.rs:468-540).

        Stats: one ``noop`` write over the batch both builds its persisted
        cache and, through an ``Observation``, sums what the rest of the
        method needs before anything is written: the event count, the count
        of non-NULL seqs (a NULL seq is refused), the heartbeat readout (max
        seq / max ts), the count of DML events compaction will spill (with
        none, no segment's merge_apply probes its spill set), an estimate of
        the after-image bytes (``estimated_bytes``, which picks merge_apply's
        route) and, for a ``max_mbps`` limiter, the batch's ``batch_bytes``.
        The batch's ``metrics`` row splits ``apply_ms`` into the summed
        ``collect_ms``, ``copy_ms`` and ``commit_ms`` of its merge_applies.
        """
        if self.target.last_applied(self.stream_id) >= batch_id:
            return
        from pyspark.sql import Observation
        from pyspark.storagelevel import StorageLevel

        from ape_dts_spark.limiter import batch_bytes
        from ape_dts_spark.sinks.parquet_table import estimated_bytes

        # Materialize the prepared micro-batch ONCE: this method references it
        # from the DDL scan, every DML segment's compaction, the stats pass
        # and the optional inline check — each an action that would
        # otherwise re-execute the whole micro-batch subtree (source parse +
        # streaming state read), measured ~4-6 executions per batch.
        batch = self._prepare(batch).persist(StorageLevel.MEMORY_AND_DISK)
        unmergeable = ~F.col("mergeable")
        if "ddl" in batch.columns:
            unmergeable = unmergeable & (F.col("row_type") != "ddl")
        exprs = [
            F.count(F.lit(1)).alias("n"), F.count("seq").alias("n_seq"),
            F.max("seq").alias("m"), F.max("ts").alias("t"),
            F.count_if(unmergeable).alias("n_spill"),
            F.sum(estimated_bytes(F.col("after"), batch.schema["after"].dataType)).alias("image_bytes"),
        ]
        if self.limiter is not None and self.limiter.wants_bytes:
            exprs.append(F.sum(batch_bytes(batch.columns)).alias("b"))
        observed = Observation()
        classify_mergeable(batch, self.key_cols).observe(observed, *exprs).write.format(
            "noop"
        ).mode("overwrite").save()
        stats = observed.get
        n_events = stats["n"]
        if stats["n_seq"] != n_events:
            # a NULL seq cannot be placed against the DDL barriers: a DDL
            # would never apply and every segment would re-cover the batch
            batch.unpersist()
            raise ValueError(
                f"batch {batch_id}: {n_events - stats['n_seq']} event(s) with a NULL seq "
                "cannot be ordered; parse the stream with parse_debezium_with_dead_letter, "
                "which quarantines them as missing_seq"
            )
        throttle_sec = 0.0
        if self.limiter is not None:
            throttle_sec = self.limiter.acquire(n_events, int(stats.get("b") or 0))
        t_apply = time.perf_counter()
        timings = {"collect_ms": 0.0, "copy_ms": 0.0, "commit_ms": 0.0}
        # an empty micro-batch (e.g. every event filtered out) records its
        # epoch only: merge-applying it would commit a full copy of the table
        if n_events:
            timings = self._apply_segments(
                batch, batch_id, spills=stats["n_spill"] > 0,
                image_bytes=int(stats["image_bytes"] or 0),
            )
        self.target.record_batch(self.stream_id, batch_id)
        apply_s = time.perf_counter() - t_apply
        check = self._inline_check(batch) if self.inline_check else {}
        batch.unpersist()
        lag = (time.time() - stats["t"].timestamp()) if stats["t"] is not None else None
        if self.monitor is not None:
            self.monitor.add("extractor", "record_count", n_events, count=1)
            self.monitor.add("sinker", "record_count", n_events, count=1)
            self.monitor.add("sinker", "synced_record_count", n_events)
            self.monitor.add("sinker", "rt_per_batch_us", apply_s * 1e6, count=1)
        self.metrics.append(
            {
                "batch_id": batch_id,
                "n_events": n_events,
                "max_seq": stats["m"],
                "lag_sec": lag,
                "throttle_sec": throttle_sec,
                "apply_ms": apply_s * 1e3,
                **timings,
                "at": time.time(),
                **check,
            }
        )
        if self.position_log is not None and self.position_of is not None:
            self.position_log.checkpoint(self.position_of(self.metrics[-1]))

    def _apply_segments(
        self, batch: DataFrame, batch_id: int, spills: bool, image_bytes: int
    ) -> dict[str, float]:
        """Compact and merge-apply the batch's DML in the seq-ordered
        segments its DDL barriers cut, applying each DDL in between.
        ``spills`` False: no DML event of the batch spills, so no segment's
        merge_apply probes its spill set. ``image_bytes``, the whole batch's
        estimate, bounds every segment's. Returns merge_apply's timings
        summed over the segments."""
        ddls = (
            batch.filter(F.col("row_type") == "ddl").orderBy("seq").collect()
            if "ddl" in batch.columns
            else []
        )
        dml = batch.filter(F.col("row_type") != "ddl") if ddls else batch
        # DROP TABLE barrier: while the tombstone stands, DML is an error —
        # but DDL still applies, because the only legal continuation of a
        # dropped table IS a CREATE TABLE re-registration (ParquetTable.
        # recreate clears the tombstone; mark_dropped documents the cycle).
        # A batch with rows and no re-registering DDL ahead of them fails
        # exactly like the old batch-level check did.
        bounds = [d["seq"] for d in ddls] + [None]
        totals = {"collect_ms": 0.0, "copy_ms": 0.0, "commit_ms": 0.0}
        lo = None
        for i, hi in enumerate(bounds):
            seg = dml
            if lo is not None:
                seg = seg.filter(F.col("seq") > lo)
            if hi is not None:
                seg = seg.filter(F.col("seq") < hi)
            seg_epoch = batch_id - 1 + (i + 1) / len(bounds)
            if self.target.is_dropped():
                if seg.limit(1).count():
                    raise ValueError(
                        "target table was dropped (DROP TABLE barrier); "
                        f"cannot apply rows in batch {batch_id}"
                    )
            else:
                compacted, spilled = compact_changes(seg, self.key_cols)
                timings = self.target.merge_apply(
                    compacted, spilled if spills else None, self.key_cols,
                    stream_id=self.stream_id, batch_id=seg_epoch, image_bytes=image_bytes,
                )
                for k, v in timings.items():
                    totals[k] += v
            if hi is not None:
                self.apply_ddl(ddls[i])
            lo = hi
        return totals

    def _inline_check(self, batch: DataFrame) -> dict:
        """CDC-inline check (the reference's checker-in-CDC mode,
        base_checker.rs CDC state store): after applying a micro-batch,
        verify that every key whose last event was an upsert now carries the
        expected after-image in the target, and every deleted key is gone.
        Returns miss/diff counters for the batch metrics; the full check task
        (operators/checker.py) remains the deep-verification path."""
        compacted, _ = compact_changes(batch, self.key_cols)
        state = self.target.current().withColumn("_present", F.lit(True))
        expected = compacted.filter(F.col("op") == "upsert").select(
            *self.key_cols, F.col("after").alias("_want")
        )
        joined = expected.join(state, self.key_cols, "left_outer")
        payload_fields = [
            f.name for f in self.target.payload_schema.fields if f.name not in self.key_cols
        ]
        same = F.lit(True)
        for c in payload_fields:
            same = same & F.col("_want").getField(c).eqNullSafe(F.col(c))
        miss = F.col("_present").isNull()
        agg = joined.agg(
            F.sum(F.when(miss, 1).otherwise(0)).alias("check_miss"),
            F.sum(F.when(~miss & ~same, 1).otherwise(0)).alias("check_diff"),
        ).collect()[0]
        deleted = compacted.filter(F.col("op") == "delete").select(*self.key_cols)
        n_undead = deleted.join(state, self.key_cols, "left_semi").count()
        return {
            "check_miss": int(agg["check_miss"] or 0),
            "check_diff": int(agg["check_diff"] or 0),
            "check_undead": n_undead,
        }

    def run(
        self,
        changes: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_secs: float | None = None,
    ):
        """Start the stream. ``available_now=True`` drains everything present
        and stops (test/backfill mode); otherwise runs continuously with the
        given trigger interval.

        The micro-batch loop runs under a scoped shuffle width
        (``stream_shuffle_width()``): state-store partition count and per-batch
        shuffle width are a property of the stream's state volume, not of the
        session's core count — a vanilla session's 200 (or a wide cluster
        default) is pure per-trigger task-scheduling and state-file overhead
        for bounded CDC batches. Restored afterwards for the drain path so the
        setting never leaks into later batch queries; results are
        partition-count independent either way."""
        from ape_dts_spark.session import stream_shuffle_width

        spark = changes.sparkSession
        writer = (
            changes.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_secs:
            writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle_width())
        try:
            query = writer.start()
            if available_now:
                query.awaitTermination()
        finally:
            if available_now:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            # continuous mode: the stream is still running — leave the width
            # in place (the caller owns session scoping there)
        return query


@dataclass
class MultiTableCdcPipeline:
    """One change stream, many tables — the normal CDC topology (the
    reference's pipeline fans DML per table, table_parallelizer.rs).

    ``targets`` maps '<schema>.<tb>' to (ParquetTable, key_cols). Each
    micro-batch is split by table and merge-applied per target, DDL barriers
    respected per table; unknown tables are counted and skipped (the filter
    config should have dropped them upstream).

    The single-table ``CdcPipeline`` stays the right tool when payload
    schemas differ per table — this class parses each table's image columns
    from its own envelope, so pass the union payload or per-table parse
    upstream. Epoch idempotency is per table (each target records the epoch).
    """

    spark: SparkSession
    targets: dict[str, tuple[ParquetTable, list[str]]]
    stream_id: str = "cdc_multi"
    metrics: list[dict] = field(default_factory=list)
    # the single-table pipeline's knobs apply to the multi-table topology
    # too: ONE limiter admits the whole epoch (the reference's buffer
    # limiter sits on the shared pipeline buffer, not per sinker), one
    # meta center records every table's applied DDL
    limiter: object | None = None
    meta_center: object | None = None

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # One materialization per epoch: the source plan (stream parse /
        # envelope decode) runs exactly once into the cache. Clustering by
        # (schema, tb) first means every cached in-memory batch holds one
        # table's rows, so each per-table filter below prunes on cached-batch
        # column stats instead of re-scanning the whole epoch — without this,
        # T targets cost T full passes over the batch plan (O(T*|batch|)
        # driver-orchestrated work at the reference's hundreds-of-tables
        # topology).
        staged = batch.repartition(F.col("schema"), F.col("tb")).persist()
        try:
            if self.limiter is not None:
                self.limiter.admit_batch(staged)
            present = [
                (r["schema"], r["tb"])
                for r in staged.select("schema", "tb").distinct().collect()
            ]
            skipped = 0
            for schema, tb in present:
                key = f"{schema}.{tb}"
                if key not in self.targets:
                    skipped += 1
                    continue
                table, key_cols = self.targets[key]
                sub = staged.filter((F.col("schema") == schema) & (F.col("tb") == tb))
                # schema-fluid streams: cast this table's map images to its
                # target's typed payload (runtime schema discovery end-to-end)
                if dict(sub.dtypes).get("after", "").startswith("map<"):
                    sub = fluid_to_typed(sub, table.payload_schema)
                pipe = CdcPipeline(self.spark, table, key_cols,
                                   stream_id=self.stream_id,
                                   meta_center=self.meta_center)
                pipe.apply_batch(sub, batch_id)
                self.metrics.extend(
                    {**m, "table": key} for m in pipe.metrics
                )
            if skipped:
                self.metrics.append({"batch_id": batch_id, "skipped_tables": skipped})
        finally:
            staged.unpersist()

    def run(self, changes: DataFrame, checkpoint_dir: str):
        query = (
            changes.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return query


def write_debezium_jsonl(rows: list[dict], path: str) -> None:
    """Test helper: write Debezium-envelope events as one JSONL file."""
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def snapshot_then_cdc(
    spark: SparkSession,
    table,
    key_cols: list[str],
    snapshot_df: DataFrame,
    changes: DataFrame,
    checkpoint_dir: str,
    start_seq: int,
    schema: str = "default",
    tb: str = "users",
):
    """Serial snapshot -> CDC cutover without data loss — the reference's
    documented migration workflow (docs/en/tutorial/
    snapshot_and_cdc_without_data_loss.md: capture the source position
    BEFORE starting the snapshot, run the snapshot, then start CDC from the
    captured position).

    ``start_seq`` is the position captured before the snapshot began; the
    snapshot itself is consistent as of some LATER point, so the
    ``(start_seq, snapshot_point]`` overlap re-delivers changes whose
    effects the snapshot already contains. Replaying that overlap is safe
    because it is a prefix-complete, seq-ordered upsert/delete history:
    for every key, the last overlap event at-or-before the snapshot point
    writes exactly the value the snapshot loaded, so the state converges
    row-for-row before the genuinely-new tail applies (the same argument
    the reference's idempotent sinkers rely on; REPLACE/ON CONFLICT there,
    compact_changes + merge_apply here).

    Steps: (1) bulk-load the snapshot as one insert epoch under stream_id
    'snapshot', (2) run the CDC pipeline over ``changes`` filtered to
    seq > start_seq with its own checkpoint. Returns the CdcPipeline.
    """
    from ape_dts_spark.operators.merge import compact_changes

    payload = table.payload_schema
    inserts = snapshot_df.select(
        F.lit(schema).alias("schema"),
        F.lit(tb).alias("tb"),
        F.lit("insert").alias("row_type"),
        F.lit(None).cast(payload).alias("before"),
        F.struct(*[F.col(f.name) for f in payload.fields]).alias("after"),
        F.lit(start_seq).alias("seq"),
    )
    compacted, spilled = compact_changes(inserts, key_cols)
    table.merge_apply(compacted, spilled, key_cols, stream_id="snapshot", batch_id=0)

    pipe = CdcPipeline(spark, table, key_cols=key_cols)
    overlap_and_tail = changes.filter(F.col("seq") > F.lit(start_seq))
    pipe.run(overlap_and_tail, checkpoint_dir)
    return pipe
