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

Scale note: a new version is a full snapshot written in two parts, the
batch-side rows and the kept rows. When nothing spills and the write-set's
estimated bytes stay below ``_WRITE_SET_MAX_BYTES``, one Arrow collect of the
write-set yields both the changed keys and the upsert images, and the driver
writes the upserts with pyarrow; otherwise the batch-side rows (the upsert
images, plus the spill replay over them) go through Spark's writer. The kept
rows are copied file by file in Arrow by ``_copy_kept``: one ``mapInArrow``
task per bin of the current version's files reads them with pyarrow, drops
the rows the batch removes (a set collected once and broadcast) and writes
one file, so a kept row is never decoded into the JVM or re-encoded by
parquet-mr. The copy is still a whole-table write per apply: the cost per
kept row fell, not the count. A real cluster deployment swaps this class for
Delta ``MERGE`` and keeps every operator upstream unchanged.
"""

from __future__ import annotations

import json
import math
import operator
import os
import shutil
import time
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
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


# Spark parquet codec names pyarrow spells differently
_ARROW_CODECS = {"uncompressed": "none", "lz4_raw": "lz4"}

# Estimated write-set bytes (``estimated_bytes`` summed over the batch's
# after images) below which merge_apply collects the write-set to the
# driver and writes the upserts there; above it Spark's writer runs. The
# collect was faster in wall and CPU at every measured size, up to 1M
# changed keys (~190 MB), so this is a driver-memory cap: the collect holds
# the table about twice over at its peak, which stays far inside a default
# 1 GB driver and its 1 GB ``maxResultSize`` (SCALING.md "Write-set
# collect").
_WRITE_SET_MAX_BYTES = 64 * 1024 * 1024

# Arrow widths of the fixed-width Spark types ``estimated_bytes`` counts
# other than 8 bytes
_FIXED_WIDTHS = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.DecimalType: 16,
}


def estimated_bytes(col: Column, dtype: T.DataType) -> Column:
    """An estimate of the Arrow bytes of ``col``, of type ``dtype``, on one
    row: ``octet_length`` for a string or binary, the sum of the fields for a
    struct, the JSON text's length for an array or a map, and the fixed
    width for the rest. A NULL counts 0."""
    if isinstance(dtype, T.StructType):
        return reduce(operator.add, [
            estimated_bytes(col.getField(f.name), f.dataType) for f in dtype.fields
        ], F.lit(0).cast("long"))
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        size = F.octet_length(col)
    elif isinstance(dtype, (T.ArrayType, T.MapType)):
        size = F.octet_length(F.to_json(col))
    else:
        size = F.when(col.isNotNull(), F.lit(_FIXED_WIDTHS.get(type(dtype), 8)))
    return F.coalesce(size.cast("long"), F.lit(0).cast("long"))


def _arrow_codec(conf) -> str:
    """The session's parquet codec (``conf``: the JVM ``SQLConf``) as
    pyarrow names it."""
    return _ARROW_CODECS.get(conf.parquetCompressionCodec(), conf.parquetCompressionCodec())


def _data_files(version_dir: str) -> list[str]:
    """The data files of a version directory in listing order, skipping the
    names Spark's reader skips (``_SUCCESS``, ``.crc`` files)."""
    return [
        os.path.join(version_dir, n) for n in sorted(os.listdir(version_dir))
        if not n.startswith(("_", "."))
    ]


def _file_bins(files: list[str], max_bytes: int) -> list[list[str]]:
    """Pack ``files`` in order into bins of at most ``max_bytes`` (a file
    larger than that is a bin of its own; no file is split)."""
    bins, size = [], 0
    for path in files:
        n = os.path.getsize(path)
        if not bins or size + n > max_bytes:
            bins.append([])
            size = 0
        bins[-1].append(path)
        size += n
    return bins


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    """``schema`` in Arrow with every field nullable, as Spark reads them (a
    NULL-filled column must be nullable)."""
    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


def _project(batch, schema: pa.Schema) -> pa.Table:
    """``batch`` (an Arrow batch or table) on ``schema``: columns by name,
    cast where the stored type differs (a Spark-written INT96 timestamp, a
    list's child name), NULL where ``batch`` lacks the name (ADD COLUMN);
    names ``schema`` lacks (DROP COLUMN) are left out."""
    have = batch.schema.names
    cols = []
    for f in schema:
        if f.name not in have:
            cols.append(pa.nulls(batch.num_rows, f.type))
            continue
        col = batch.column(f.name)
        cols.append(col if col.type == f.type else col.cast(f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _hashable(v):
    """A Python value of a nested Arrow column as a hashable tuple."""
    if isinstance(v, dict):
        return tuple((k, _hashable(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    return v


def _removed(table: pa.Table, groups: list[tuple[list[str], pa.Table]]) -> np.ndarray:
    """Mask of the rows of ``table`` a removal group matches. A group is
    (columns, rows): a row matches when its values in those columns equal one
    of the rows'. A NULL matches nothing, as in Spark's equi-join. Nested
    columns, which an Arrow hash join cannot key on, compare as Python
    values."""
    hit = np.zeros(table.num_rows, dtype=bool)
    for cols, rows in groups:
        if not rows.num_rows:
            continue
        if any(pa.types.is_nested(rows.schema.field(c).type) for c in cols):
            want = {_hashable(r) for r in zip(*(rows[c].to_pylist() for c in cols))}
            got = [
                i for i, r in enumerate(zip(*(table[c].to_pylist() for c in cols)))
                if None not in r and _hashable(r) in want
            ]
        else:
            keys = table.select(cols).append_column("_row", pa.array(np.arange(table.num_rows)))
            got = keys.join(rows, cols, join_type="left semi")["_row"].to_numpy()
        hit[got] = True
    return hit


def _copy_kept(
    spark: SparkSession, src: str, out: str, schema: T.StructType,
    groups: list[tuple[list[str], pa.Table]],
) -> None:
    """Copy the rows of version directory ``src`` that no removal group
    matches (``_removed``) into ``out``, projected onto ``schema``.

    The files are packed in listing order into bins of the session's
    ``spark.sql.files.maxPartitionBytes``, and one ``mapInArrow`` task per bin
    streams its files with pyarrow and writes one file with the session's
    parquet codec. The groups ship to the tasks as one broadcast."""
    conf = spark._jsparkSession.sessionState().conf()
    bins = _file_bins(_data_files(src), conf.filesMaxPartitionBytes())
    codec = _arrow_codec(conf)
    arrow_schema = _arrow_schema(schema)
    removal = spark.sparkContext.broadcast(groups)

    def copy(batches):
        for b in batches:
            for i, paths in zip(b["bin"].to_pylist(), b["files"].to_pylist()):
                writer = None
                for path in paths:
                    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
                        have = [c for c in arrow_schema.names if c in f.schema_arrow.names]
                        for batch in f.iter_batches(columns=have):
                            t = _project(batch, arrow_schema)
                            t = t.filter(pa.array(~_removed(t, removal.value)))
                            if not t.num_rows:
                                continue
                            if writer is None:
                                writer = pq.ParquetWriter(
                                    os.path.join(out, f"part-kept-{i:05d}.parquet"),
                                    arrow_schema, compression=codec,
                                )
                            writer.write_table(t)
                if writer is not None:
                    writer.close()
                yield pa.RecordBatch.from_pydict({"bin": [i]})

    try:
        spec = pa.table({
            "bin": pa.array(range(len(bins)), pa.int64()),
            "files": pa.array(bins, pa.list_(pa.string())),
        })
        spark.createDataFrame(spec).mapInArrow(copy, "bin long").collect()
    finally:
        removal.destroy()


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

    def _commit(
        self, state: DataFrame | pa.Table, meta: dict, ddl: dict | None = None,
        removal: list[tuple[list[str], pa.Table]] | None = None,
    ) -> dict[str, float]:
        """Write ``state`` as the next version directory, then point
        ``_meta.json`` at it (stamping ``committed_at`` and logging ``ddl``)
        — the one data commit every rewrite shares. A DataFrame goes through
        Spark's writer; an Arrow table (rows on the payload schema) is written
        by the driver as one file, even when empty, so the version always
        holds the schema. With ``removal`` the current version's rows that no
        removal group matches are copied in beside ``state`` (``_copy_kept``).
        Either way ``out`` is cleared first, a failed attempt's files with it,
        and a failed write leaves the meta, and so the table, at the previous
        version. Returns the milliseconds of the kept copy (``copy_ms``) and
        of the rest (``commit_ms``)."""
        version = meta["version"] + 1
        out = os.path.join(self.path, f"v{version}")
        t0 = time.perf_counter()
        if isinstance(state, pa.Table):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            conf = self.spark._jsparkSession.sessionState().conf()
            pq.write_table(state, os.path.join(out, "part-upsert.parquet"), compression=_arrow_codec(conf))
        else:
            state.write.mode("overwrite").parquet(out)
        t1 = time.perf_counter()
        if removal is not None:
            _copy_kept(
                self.spark, os.path.join(self.path, f"v{meta['version']}"), out,
                self.payload_schema, removal,
            )
        t2 = time.perf_counter()
        meta["version"] = version
        meta["committed_at"] = time.time()
        if ddl is not None:
            meta.setdefault("ddl_log", []).append(ddl)
        self._write_meta(meta)
        return {"copy_ms": (t2 - t1) * 1e3, "commit_ms": (time.perf_counter() - t2 + t1 - t0) * 1e3}

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
        dt-pipeline/src/base_pipeline.rs:268-305). A name that DROP COLUMN
        left in the current version's files would read back the dropped
        values, so then the version is rewritten with the column NULL."""
        if field.name in [f.name for f in self.payload_schema.fields]:
            return
        entry = {"ddl": ddl_text, "column": field.name, "type": field.dataType.simpleString()}
        meta = self._read_meta()
        stale = meta["version"] >= 0 and any(
            field.name in pq.read_schema(path).names
            for path in _data_files(os.path.join(self.path, f"v{meta['version']}"))
        )
        cleared = self.current().withColumn(field.name, F.lit(None).cast(field.dataType)) if stale else None
        self.payload_schema = T.StructType(list(self.payload_schema.fields) + [field])
        if stale:
            self._commit(cleared, meta, entry)
        else:
            self.log_ddl(entry)

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
        image_bytes: int | None = None,
    ) -> dict[str, float]:
        """Stage-ordered apply of a compacted write-set.

        1. every changed key leaves the table (covers delete AND upsert-replace)
        2. upsert images are appended
        3. spilled events replay serially in seq order (key-changing updates,
           NULL-key rows — the reference's unmerged path,
           dt-parallelizer/src/rdb_merger.rs:159-186); ``spilled`` None
           means the caller knows nothing spilled, which skips the
           emptiness probe (one Spark job)

        The next version is written in two parts: the batch-side rows, and
        the current version's rows less the removal set, copied in by
        ``_copy_kept``. The route for the batch-side rows depends on the
        batch:

        - nothing spills, the table has a version, and ``image_bytes`` (the
          caller's ``estimated_bytes`` sum over the batch's after images) is
          below ``_WRITE_SET_MAX_BYTES``: one Arrow collect of
          ``compacted`` (``_write_set``) yields the changed keys, which are
          the removal set, and the upsert images, which the driver writes as
          one file. A collect that returns no rows writes no version: only
          the epoch is recorded.
        - otherwise (a spill, no version yet, or no or too large an estimate)
          steps 2 and 3 run as one Spark write, and ``_removal_groups``
          collects the removal set in a job of its own: the changed keys
          and the rows step 3 deletes. A table with no version has nothing
          to copy and runs no copy job.

        If ``batch_id`` is given and was already committed for ``stream_id``
        the apply is a no-op — making foreachBatch replays idempotent.
        Returns the milliseconds spent collecting (``collect_ms``), copying
        the kept rows (``copy_ms``) and writing the rest (``commit_ms``).
        """
        meta = self._read_meta()
        if meta.get("dropped"):
            raise ValueError(
                f"table at {self.path} was dropped (DROP TABLE in stream); re-create before applying"
            )
        timings = {"collect_ms": 0.0, "copy_ms": 0.0, "commit_ms": 0.0}
        if batch_id is not None and meta["applied_batches"].get(stream_id, -1) >= batch_id:
            return timings

        # No materializing preamble: the caller caches the batch both inputs
        # derive from (CdcPipeline.apply_batch persists it), so the collect
        # and the write re-read cached rows, not the source; a caller
        # passing an uncached plan pays one recompute for each.
        if spilled is not None and spilled.isEmpty():
            # one emptiness probe: most CDC batches spill nothing, and an
            # empty spill set would still plan two broadcast anti-joins
            spilled = None
        if batch_id is not None:
            meta["applied_batches"][stream_id] = batch_id
        t0 = time.perf_counter()
        if (
            spilled is None and meta["version"] >= 0
            and image_bytes is not None and image_bytes < _WRITE_SET_MAX_BYTES
        ):
            removal, rows = self._write_set(compacted, key_cols)
            timings["collect_ms"] = (time.perf_counter() - t0) * 1e3
            if not removal[0][1].num_rows:
                # nothing changed: a copy of the table would be the whole commit
                self._write_meta(meta)
                return timings
        else:
            # AQE's post-shuffle coalescing sizes the upsert files
            rows = compacted.filter(F.col("op") == "upsert").select(
                *self._image_cols(compacted, "after")
            )
            if spilled is not None:
                rows = self._replay_spill(rows, spilled, key_cols)
            removal = None
            if meta["version"] >= 0:
                removal = self._removal_groups(compacted, spilled, key_cols)
            timings["collect_ms"] = (time.perf_counter() - t0) * 1e3
        timings.update(self._commit(rows, meta, removal=removal))
        return timings

    def _write_set(
        self, compacted: DataFrame, key_cols: list[str]
    ) -> tuple[list[tuple[list[str], pa.Table]], pa.Table]:
        """``compacted`` collected in one ``toArrow``: the changed keys, cast
        to the payload types, as the one ``_removed`` group of a batch with
        no spill, and the upsert images on the payload schema. Columns are
        fetched by position, so a payload column named like a key or ``op``
        cannot collide."""
        schema = _arrow_schema(self.payload_schema)
        types = {f.name: f.dataType for f in self.payload_schema.fields}
        cols = [F.col(k).cast(types[k]) for k in key_cols]
        cols += [F.col("op") == "upsert", *self._image_cols(compacted, "after")]
        got = compacted.select(*cols).toDF(*[f"_{i}" for i in range(len(cols))]).toArrow()
        n = len(key_cols)
        keys = pa.Table.from_arrays(got.columns[:n], names=key_cols)
        images = pa.Table.from_arrays(got.columns[n + 1:], names=schema.names)
        rows = _project(images.filter(got.column(n)), schema)
        return [(key_cols, _project(keys, pa.schema([schema.field(k) for k in key_cols])))], rows

    def _removal_groups(
        self, compacted: DataFrame, spilled: DataFrame | None, key_cols: list[str]
    ) -> list[tuple[list[str], pa.Table]]:
        """The current version's rows this apply removes, as ``_removed``
        groups collected in one Spark job: the changed keys and the keys of
        the keyed delete images, matched on the key columns, then the NULL-key
        images, one group per null mask, matched on their non-NULL columns.
        This is ``_replay_spill``'s verdict on a row at seq -1, where every
        image with a seq above -1 is visible, so it removes what the replay
        over the whole table would."""
        fields = self.payload_schema.fields
        rows = compacted.select(
            *[(F.col(f.name) if f.name in key_cols else F.lit(None)).cast(f.dataType).alias(f.name)
              for f in fields],
            F.lit(False).alias("_whole"),
        )
        if spilled is not None:
            dels = self._delete_images(spilled, key_cols)
            rows = rows.unionByName(dels.filter(F.col("_replay_seq") > -1).drop("_replay_seq"))
        got = rows.toArrow()
        whole = got["_whole"].to_numpy()
        got = _project(got, _arrow_schema(self.payload_schema))
        groups = [(key_cols, got.filter(pa.array(~whole)).select(key_cols))]
        images = got.filter(pa.array(whole))
        if images.num_rows:
            valid = np.column_stack([images[c].is_valid().to_numpy() for c in images.column_names])
            masks, which = np.unique(valid, axis=0, return_inverse=True)
            for i, mask in enumerate(masks):
                cols = [c for c, on in zip(images.column_names, mask) if on]
                groups.append((cols, images.filter(pa.array(which.ravel() == i)).select(cols)))
        return groups

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
        payload_cols = list(state.columns)
        seq_c = "_replay_seq"

        dels = self._delete_images(spilled, key_cols)
        keyed = dels.filter(~F.col("_whole")).select(
            *[F.col(k).alias(f"_k_{k}") for k in key_cols], F.col(seq_c).alias("_k_seq")
        )
        whole_row = dels.filter(F.col("_whole")).select(
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

    def _delete_images(self, spilled: DataFrame, key_cols: list[str]) -> DataFrame:
        """The before-images spilled deletes and updates delete, projected
        onto the payload schema, with their ``_replay_seq`` and ``_whole``:
        true for a NULL-key image, which matches rows on its non-NULL columns
        (an all-NULL image matches nothing and is left out)."""
        dels = spilled.filter(
            ((F.col("row_type") == ROW_TYPE_DELETE) | (F.col("row_type") == "update"))
            & F.col("before").isNotNull()
        ).select(*self._image_cols(spilled, "before"), F.col("seq").alias("_replay_seq"))
        keys_ok = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in key_cols])
        any_set = reduce(lambda a, b: a | b, [F.col(f.name).isNotNull() for f in self.payload_schema.fields])
        return dels.filter(keys_ok | any_set).withColumn("_whole", ~keys_ok)

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
