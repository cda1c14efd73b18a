"""Versioned parquet target table with staged merge-apply.

The reference applies a compacted CDC write-set to the target in three ordered
stages: delete batch, then insert batch, then the unmergeable spill rows
serially (dt-parallelizer/src/merge_parallelizer.rs:54-113). On Spark the
idiomatic sink is a transactional table format (Delta/Iceberg ``MERGE INTO``);
this module provides a dependency-free local stand-in with the same apply
semantics: each apply computes the new table state as a DataFrame plan and
commits it as a new immutable version directory, with ``_meta.json`` pointing
at the current version (a micro table-format commit — readers never see a
partial write, and a failed apply leaves the previous version intact).

Scale note: the new state is ``target LEFT ANTI JOIN changed_keys`` plus the
upsert images — one shuffle on the key columns, broadcast when the change set
is small (Spark/AQE picks that automatically since the compacted batch is
usually tiny relative to the table). A real cluster deployment swaps this
class for Delta ``MERGE`` and keeps every operator upstream unchanged.
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ape_dts_spark.model.changes import ROW_TYPE_DELETE

# integral widening chain for _can_widen (byte < short < int < long)
_INTEGRAL_ORDER = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]


def _can_widen(old: T.DataType, new: T.DataType) -> bool:
    """True iff old -> new loses no values: integral up-chain, float->double,
    byte/short/int -> double (exact in an IEEE double), decimal growth with
    scale and integer-digit headroom, integral -> wide-enough decimal, and
    any primitive -> string."""
    if isinstance(new, T.StringType):
        return not isinstance(old, (T.ArrayType, T.MapType, T.StructType))
    if old in _INTEGRAL_ORDER and new in _INTEGRAL_ORDER:
        return _INTEGRAL_ORDER.index(old) < _INTEGRAL_ORDER.index(new)
    if isinstance(old, T.FloatType) and isinstance(new, T.DoubleType):
        return True
    if old in _INTEGRAL_ORDER[:3] and isinstance(new, T.DoubleType):
        return True  # byte/short/int fit a double exactly; long does not
    if isinstance(new, T.DecimalType):
        digits = {T.ByteType(): 3, T.ShortType(): 5, T.IntegerType(): 10, T.LongType(): 20}
        if old in _INTEGRAL_ORDER:
            return new.precision - new.scale >= digits[old]
        if isinstance(old, T.DecimalType):
            return new.scale >= old.scale and (
                new.precision - new.scale >= old.precision - old.scale
            )
    return False


class ParquetTable:
    """A versioned parquet table supporting idempotent merge-apply commits."""

    def __init__(self, spark: SparkSession, path: str, payload_schema: T.StructType):
        self.spark = spark
        self.path = path
        self.payload_schema = payload_schema
        os.makedirs(path, exist_ok=True)

    # -- version bookkeeping -------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def _read_meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"version": -1, "applied_batches": {}}
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)

    def _commit(self, state: DataFrame, meta: dict, ddl: dict | None = None) -> None:
        """Write ``state`` as the next version directory, then point
        ``_meta.json`` at it (stamping ``committed_at`` and logging ``ddl``)
        — the one data commit every rewrite shares. A failed write leaves the
        meta, and so the table, at the previous version."""
        version = meta["version"] + 1
        state.write.mode("overwrite").parquet(os.path.join(self.path, f"v{version}"))
        meta["version"] = version
        meta["committed_at"] = time.time()
        if ddl is not None:
            meta.setdefault("ddl_log", []).append(ddl)
        self._write_meta(meta)

    def log_ddl(self, entry: dict, log: str = "ddl_log", **meta_fields) -> None:
        """Metadata-only commit: append ``entry`` to the meta's ``log``
        (``ddl_log``, or ``dcl_log`` for access-control statements) and set
        ``meta_fields`` in the same meta write."""
        meta = self._read_meta()
        meta.update(meta_fields)
        meta.setdefault(log, []).append(entry)
        self._write_meta(meta)

    def table_name(self) -> str | None:
        """The logical name the last RENAME TABLE set, None before any."""
        return self._read_meta().get("table_name")

    def is_dropped(self) -> bool:
        """True while a DROP TABLE tombstone stands (until ``recreate``)."""
        return bool(self._read_meta().get("dropped"))

    def _empty(self) -> DataFrame:
        """The empty table state as an empty ``LocalRelation``: no Python
        worker runs for it (``createDataFrame([])`` would be a PythonRDD
        whose every action starts one worker task per partition), and
        Catalyst sees it as empty, so ``PropagateEmptyRelation`` prunes
        joins against it."""
        return self.spark.createDataFrame(
            to_arrow_schema(self.payload_schema).empty_table(), self.payload_schema
        )

    def current(self) -> DataFrame:
        return self.at_version(self._read_meta()["version"])

    def last_applied(self, stream_id: str) -> int:
        """Highest foreachBatch epoch FULLY committed for `stream_id`
        (exactly-once replay guard, the Structured Streaming idiom).
        Segment commits record fractional epochs (batch_id-1 < e <= batch_id);
        the floor therefore reports the last batch whose every segment
        committed."""
        return int(math.floor(self._read_meta()["applied_batches"].get(stream_id, -1)))

    def record_batch(self, stream_id: str, batch_id: int) -> None:
        """Mark an epoch applied without a data commit (used when a batch was
        applied in multiple DDL-separated segments)."""
        meta = self._read_meta()
        meta["applied_batches"][stream_id] = batch_id
        self._write_meta(meta)

    def add_column(self, field: T.StructField, ddl_text: str = "") -> None:
        """Schema evolution: ADD COLUMN. No data rewrite — parquet
        schema-on-read fills missing columns with NULL (the Delta
        ``mergeSchema`` analogue); the DDL is appended to the meta ddl_log
        (the reference refreshes cached metadata on DDL,
        dt-pipeline/src/base_pipeline.rs:268-305)."""
        if field.name in [f.name for f in self.payload_schema.fields]:
            return
        self.payload_schema = T.StructType(list(self.payload_schema.fields) + [field])
        self.log_ddl({"ddl": ddl_text, "column": field.name, "type": field.dataType.simpleString()})

    def drop_column(self, name: str, ddl_text: str = "") -> None:
        """Schema evolution: DROP COLUMN. No data rewrite — the column simply
        leaves the read schema (parquet files keep the bytes, readers never
        project them; the Delta drop-column / column-mapping analogue)."""
        if name not in [f.name for f in self.payload_schema.fields]:
            return
        self.payload_schema = T.StructType([f for f in self.payload_schema.fields if f.name != name])
        self.log_ddl({"ddl": ddl_text, "op": "drop_column", "column": name})

    def rename_column(self, old: str, new: str, ddl_text: str = "") -> None:
        """Schema evolution: RENAME COLUMN. Parquet has no column mapping, so
        the current version is rewritten under the new name (one scan+write,
        committed atomically like any apply; on Delta/Iceberg this is a pure
        metadata operation — swap this method for their column mapping)."""
        names = [f.name for f in self.payload_schema.fields]
        if old not in names or new in names:
            return
        renamed = self.current().withColumnRenamed(old, new)
        self.payload_schema = T.StructType(
            [T.StructField(new if f.name == old else f.name, f.dataType, f.nullable) for f in self.payload_schema.fields]
        )
        self._commit(
            renamed, self._read_meta(),
            {"ddl": ddl_text, "op": "rename_column", "column": old, "to": new},
        )

    def widen_column(self, name: str, new_type: T.DataType, ddl_text: str = "") -> None:
        """Schema evolution: MODIFY/ALTER COLUMN TYPE, applied only for SAFE
        WIDENINGS (the transitions MySQL replication commonly ships:
        integral up the byte<short<int<long chain, float->double, exact
        integral->double, decimal precision/scale growth with no integer-
        digit loss, any primitive -> string). A narrowing or non-widening
        request is NOT applied — it is recorded in the meta ddl_log with a
        ``refused`` marker (the stream must not crash, and silently
        corrupting data would be worse), matching how the reference's sinker
        surfaces a failed target ALTER. Widening rewrites the current
        version with a cast (parquet has no type mapping; on Delta this is
        the typeWidening table feature instead)."""
        fields = {f.name: f for f in self.payload_schema.fields}
        if name not in fields:
            # a misrouted or typo'd MODIFY must still leave an audit trail,
            # like every other outcome (noop / refused / applied)
            self.log_ddl({"ddl": ddl_text, "op": "modify_column", "column": name, "missing_column": True})
            return
        old_type = fields[name].dataType
        if old_type == new_type:
            self.log_ddl({"ddl": ddl_text, "op": "modify_column", "column": name, "noop": True})
            return
        if not _can_widen(old_type, new_type):
            self.log_ddl(
                {
                    "ddl": ddl_text,
                    "op": "modify_column",
                    "column": name,
                    "refused": f"{old_type.simpleString()} -> {new_type.simpleString()} is not a safe widening",
                }
            )
            return
        widened = self.current().withColumn(name, F.col(name).cast(new_type))
        self.payload_schema = T.StructType(
            [
                T.StructField(f.name, new_type if f.name == name else f.dataType, f.nullable)
                for f in self.payload_schema.fields
            ]
        )
        self._commit(
            widened, self._read_meta(),
            {"ddl": ddl_text, "op": "modify_column", "column": name, "to": new_type.simpleString()},
        )

    def truncate(self, ddl_text: str = "") -> None:
        """TRUNCATE TABLE: commit an empty version (history stays readable
        via at_version, exactly like a transactional table format)."""
        self._commit(self._empty(), self._read_meta(), {"ddl": ddl_text, "op": "truncate"})

    def rename_table(self, new_name: str, ddl_text: str = "") -> None:
        """RENAME TABLE: metadata-only — downstream routing reads the current
        logical name from meta (the physical path is the storage identity,
        as in table formats where rename never moves data)."""
        self.log_ddl({"ddl": ddl_text, "op": "rename_table", "to": new_name}, table_name=new_name)

    def mark_dropped(self, ddl_text: str = "") -> None:
        """DROP TABLE: tombstone in meta; subsequent applies are refused until
        a create re-registers it (matches the reference's struct sinker which
        executes the drop on the target and forgets the table)."""
        self.log_ddl({"ddl": ddl_text, "op": "drop_table"}, dropped=True)

    def recreate(self, fields: list[T.StructField], ddl_text: str = "") -> None:
        """CREATE TABLE re-registration (r13) — the other half of
        mark_dropped's documented drop -> create cycle: clears the tombstone,
        installs the typed schema from the parsed column list, and commits an
        empty version so the next merge_apply starts from a clean, correctly
        typed state. Refuses to clobber a LIVE table (a CREATE for an
        existing non-dropped table is a no-op upstream too — MySQL errors,
        IF NOT EXISTS no-ops; either way the target data must survive)."""
        meta = self._read_meta()
        if not meta.get("dropped") and meta["version"] >= 0:
            self.log_ddl({"ddl": ddl_text, "op": "create_table_noop"})
            return
        self.payload_schema = T.StructType(list(fields))
        meta.pop("dropped", None)
        self._commit(
            self._empty(), meta,
            {"ddl": ddl_text, "op": "create_table", "columns": [f.name for f in fields]},
        )

    # -- apply ---------------------------------------------------------------

    def merge_apply(
        self,
        compacted: DataFrame,
        spilled: DataFrame | None,
        key_cols: list[str],
        stream_id: str = "default",
        batch_id: float | None = None,
    ) -> None:
        """Stage-ordered apply of a compacted write-set.

        1. every changed key leaves the table (covers delete AND upsert-replace)
        2. upsert images are appended
        3. spilled events replay serially in seq order (key-changing updates,
           NULL-key rows — the reference's unmerged path,
           dt-parallelizer/src/rdb_merger.rs:159-186); ``spilled`` None
           means the caller knows nothing spilled, which skips the
           emptiness probe (one Spark job)

        If ``batch_id`` is given and was already committed for ``stream_id``
        the apply is a no-op — making foreachBatch replays idempotent.
        """
        meta = self._read_meta()
        if meta.get("dropped"):
            raise ValueError(
                f"table at {self.path} was dropped (DROP TABLE in stream); re-create before applying"
            )
        if batch_id is not None and meta["applied_batches"].get(stream_id, -1) >= batch_id:
            return

        # No materializing preamble: the caller caches the batch both inputs
        # derive from (CdcPipeline.apply_batch persists it), so each branch
        # re-reads cached rows, not the source; a caller passing an uncached
        # plan pays one recompute per branch. An empty state (first apply,
        # after TRUNCATE/CREATE) is an empty LocalRelation, so Catalyst's
        # PropagateEmptyRelation prunes the anti-join and the second
        # reference to `compacted` with it. AQE's post-shuffle coalescing
        # sizes the upsert files; the kept branch keeps the table's layout.
        # Invariant (ADVICE r17): a ParquetTable holds ONE (schema, tb) —
        # every caller routes per table — so selecting key_cols alone cannot
        # put duplicate key rows on the build side (and the anti-join would
        # tolerate them anyway; no distinct, which would add an exchange).
        changed_keys = compacted.select(*[F.col(k) for k in key_cols])
        kept = self.at_version(meta["version"]).join(changed_keys, key_cols, "left_anti")
        upserts = compacted.filter(F.col("op") == "upsert").select(
            *self._image_cols(compacted, "after")
        )
        state = kept.unionByName(upserts)
        if spilled is not None and not spilled.isEmpty():
            # one emptiness probe: most CDC batches spill nothing, and an
            # empty spill set would still plan two broadcast anti-joins
            state = self._replay_spill(state, spilled, key_cols)

        if batch_id is not None:
            meta["applied_batches"][stream_id] = batch_id
        self._commit(state, meta)

    def _image_cols(self, df: DataFrame, image: str) -> list:
        """Project an event image struct onto the CURRENT payload schema,
        NULL-filling columns the image predates (schema-evolution tolerance:
        a micro-batch can span an ADD/RENAME COLUMN barrier, so pre-DDL
        events lack the new name — the mergeSchema read analogue)."""
        img_fields = {f.name for f in df.schema[image].dataType.fields}
        return [
            (
                F.col(f"{image}.{f.name}")
                if f.name in img_fields
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in self.payload_schema.fields
        ]

    def _replay_spill(self, state: DataFrame, spilled: DataFrame, key_cols: list[str]) -> DataFrame:
        """Serial-equivalent replay of the unmergeable spill rows, set-based.

        The reference applies spill rows one-by-one through a single sinker
        (rdb_merger.rs:159-186, merge_parallelizer.rs:80-86). A literal driver
        loop appends a filter+union per row — the plan grows linearly with the
        spill and a skewed batch (many NULL-key rows) blows up the driver.
        Order only matters through delete-visibility: deletes cannot resurrect
        rows and inserts never mutate existing ones, so a row (base state at
        seq -inf, or inserted by the spill event at seq s) survives iff no
        delete-image with a strictly greater seq matches it. That compiles the
        serial loop into two anti-joins:

        1. keyed delete-images (all key cols non-NULL) -> hash anti-join on
           the keys plus the seq-visibility condition;
        2. NULL-key images -> one broadcast anti-join where each image matches
           on its non-NULL columns (a NULL image column is a wildcard — the
           reference's no-PK whole-row match, rdb_query_builder.rs no-PK
           guards). All-NULL images match nothing, as in the serial path.
        """
        from functools import reduce

        payload_cols = list(state.columns)
        seq_c = "_replay_seq"

        dels = spilled.filter(
            ((F.col("row_type") == ROW_TYPE_DELETE) | (F.col("row_type") == "update"))
            & F.col("before").isNotNull()
        ).select(*self._image_cols(spilled, "before"), F.col("seq").alias(seq_c))
        keys_ok = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in key_cols])
        keyed = dels.filter(keys_ok).select(
            *[F.col(k).alias(f"_k_{k}") for k in key_cols], F.col(seq_c).alias("_k_seq")
        )
        any_set = reduce(lambda a, b: a | b, [F.col(c).isNotNull() for c in payload_cols])
        whole_row = dels.filter(~keys_ok).filter(any_set).select(
            *[F.col(c).alias(f"_w_{c}") for c in payload_cols], F.col(seq_c).alias("_w_seq")
        )

        inserts = spilled.filter(
            (F.col("row_type") != ROW_TYPE_DELETE) & F.col("after").isNotNull()
        ).select(*self._image_cols(spilled, "after"), F.col("seq").alias(seq_c))

        rows = state.withColumn(seq_c, F.lit(-1).cast("long")).unionByName(
            inserts.select(*payload_cols, seq_c)
        )
        keyed_cond = reduce(
            lambda a, b: a & b, [F.col(k) == F.col(f"_k_{k}") for k in key_cols]
        ) & (F.col("_k_seq") > F.col(seq_c))
        rows = rows.join(F.broadcast(keyed), keyed_cond, "left_anti")
        wr_cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"_w_{c}").isNull() | F.col(c).eqNullSafe(F.col(f"_w_{c}"))
                for c in payload_cols
            ],
        ) & (F.col("_w_seq") > F.col(seq_c))
        rows = rows.join(F.broadcast(whole_row), wr_cond, "left_anti")
        return rows.select(*payload_cols)

    def compact_files(self, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction (Delta OPTIMIZE analogue): rewrite the
        current state into right-sized files and commit it as a NEW version.

        Streaming merge-apply inherits each micro-batch's partitioning, so a
        long-running CDC table accretes many small parquet files — the
        classic lakehouse problem; at 100 TB scan cost becomes file-open
        overhead unless something bin-packs. Committing the rewrite as a new
        version keeps the format's invariants: readers never see a partial
        rewrite, a failed rewrite leaves the table untouched, and time
        travel retains the old layout until vacuum. Returns the file count
        written."""
        meta = self._read_meta()
        if meta["version"] < 0:
            return 0
        base_version = meta["version"]
        state = self.at_version(base_version)
        n_files = max(1, math.ceil(state.count() / max(1, target_rows_per_file)))
        version = base_version + 1
        state.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(self.path, f"v{version}")
        )
        # optimistic-concurrency commit: if a merge_apply landed while the
        # rewrite ran, OUR rewrite of the old state is stale — committing it
        # would clobber that batch's rows while its applied_batches record
        # survives, making the loss replay-proof. Abort and leave the
        # orphaned directory for vacuum (same rule as Delta OPTIMIZE, which
        # fails the transaction on a conflicting commit).
        meta = self._read_meta()
        if meta["version"] != base_version:
            # only reclaim the orphan if no commit claimed its number: a
            # concurrent writer that advanced meta TO this version owns the
            # directory now (single-writer-per-version is the deployment
            # contract, as in Delta; this guard just avoids deleting live
            # state if it is ever violated)
            if meta["version"] < version:
                import shutil

                shutil.rmtree(os.path.join(self.path, f"v{version}"), ignore_errors=True)
            return 0
        meta["version"] = version
        meta["committed_at"] = time.time()
        self._write_meta(meta)
        return n_files

    def vacuum(self, keep_last: int = 2, min_retained_version: int | None = None) -> list[int]:
        """Retention maintenance (Delta VACUUM analogue): drop version
        directories older than the last ``keep_last`` commits. Time travel
        (``at_version``/``changes_between``) and un-acked data subscriptions
        only reach back ``keep_last`` versions afterwards — size retention to
        the slowest consumer, exactly like Delta's retention window.
        ``min_retained_version`` pins a floor (e.g. the slowest subscriber's
        acked position) that vacuum will never delete past."""
        import shutil

        if keep_last < 1:
            # keep_last=0 would set cutoff past the CURRENT version and
            # rmtree the live table state
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        meta = self._read_meta()
        cutoff = meta["version"] - keep_last + 1
        if min_retained_version is not None:
            cutoff = min(cutoff, min_retained_version)
        removed = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < cutoff:
                shutil.rmtree(os.path.join(self.path, name))
                removed.append(int(name[1:]))
        return sorted(removed)

    def version(self) -> int:
        return int(self._read_meta()["version"])

    def at_version(self, version: int) -> DataFrame:
        if version < 0:
            return self._empty()
        return self.spark.read.schema(self.payload_schema).parquet(
            os.path.join(self.path, f"v{version}")
        )

    def changes_between(self, v_from: int, v_to: int, key_cols: list[str]) -> DataFrame:
        """Change feed between two committed versions — the Delta CDF / data-
        subscription analogue (docs/en/cdc/... pull-based consumption,
        dt-pipeline/src/http_server_pipeline.rs): diff the two immutable
        snapshots with the checker join and emit canonical change events
        (insert/update/delete with before/after images)."""
        from ape_dts_spark.operators.checker import check_diff

        old = self.at_version(v_from)
        new = self.at_version(v_to)
        d = check_diff(new, old, key_cols, include_extra=True)
        # miss = key only in new -> insert; extra = key only in old -> delete;
        # diff = both, columns changed -> update
        row_type = (
            F.when(F.col("check_class") == "miss", F.lit("insert"))
            .when(F.col("check_class") == "extra", F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        rebuild = lambda side: F.when(  # noqa: E731
            F.col(side).isNotNull(),
            F.struct(*[F.col(k) for k in key_cols], F.col(side + ".*")),
        )
        return d.select(
            row_type.alias("row_type"),
            rebuild("dst").alias("before"),
            rebuild("src").alias("after"),
        )
