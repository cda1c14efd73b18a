"""Check-log JSONL persistence + the review re-check.

Reference: the checker emits ``check/miss.log`` and ``check/diff.log`` as JSON
lines ``CheckLog {log_type, schema, tb, id_col_values, diff_col_values
{col -> (src, dst)}}`` (dt-connector/src/checker/check_log.rs:8-88). *Revise*
and *review* tasks then consume those logs as an extractor
(``extract_type=check_log`` — dt-connector/src/extractor/
base_check_extractor.rs:16-84): revise re-reads the flagged rows from source
and upserts them; review re-runs the check on only the flagged keys
(dt-tests/tests/mysql_to_mysql/review/).

Like the reference's task-level log, a check task writes one log: every
table's lines go out in one Spark write, and each line names its own
``schema``/``tb``. On disk each table keeps its own directory,
``check_{tb}/check_class={miss,diff,extra}/*.txt``, which revise reads.

Spark-native: the log is a DataFrame written/read as JSONL; review is the
same full-outer-join checker (operators/checker.py) with both sides
semi-joined down to the flagged keys first — at 100 TB the semi-join prunes
the scan to the (tiny) failed-key set before any shuffle, and the key set is
broadcast.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.operators.checker import check_diff


def to_check_log(diff_df: DataFrame, key_cols: list[str], schema: str, tb: str) -> DataFrame:
    """Checker output -> CheckLog JSONL rows (column ``log`` + partition cols).

    One JSON line per miss/diff/extra with id values and per-column
    (src, dst) pairs for the differing columns — check_log.rs:8-48 shape.
    """
    id_vals = F.struct(*[F.col(k).alias(k) for k in key_cols])
    log = F.to_json(
        F.struct(
            F.col("check_class").alias("log_type"),
            F.lit(schema).alias("schema"),
            F.lit(tb).alias("tb"),
            id_vals.alias("id_col_values"),
            F.col("diff_cols").alias("diff_col_names"),
            F.col("src").alias("src_row"),
            F.col("dst").alias("dst_row"),
        )
    )
    return diff_df.select(F.col("check_class"), log.alias("log"))


def write_check_log(checks: dict[str, tuple[DataFrame, list[str]]], schema: str, path: str) -> None:
    """Persist one task's check log: ``checks`` maps each table to its
    checker output and key columns.

    All tables' lines go out in one write, partitioned by table and class,
    into a staging directory under ``path``; driver-side renames then move
    each table's class directories to ``path/check_{tb}/`` (replacing what a
    previous run left there) and mark it with ``_SUCCESS``. A table with no
    findings still gets its (empty) directory."""
    if not checks:
        return
    # partition by the table's position, not its name, which Spark would
    # path-escape in the directory name
    logs = [
        to_check_log(diff_df, key_cols, schema, tb).withColumn("tb_idx", F.lit(i))
        for i, (tb, (diff_df, key_cols)) in enumerate(checks.items())
    ]
    staging = os.path.join(path, "_check_log_staging")
    reduce(DataFrame.unionByName, logs).write.partitionBy("tb_idx", "check_class").mode("overwrite").text(staging)
    for i, tb in enumerate(checks):
        out = os.path.join(path, f"check_{tb}")
        shutil.rmtree(out, ignore_errors=True)
        written = os.path.join(staging, f"tb_idx={i}")
        if os.path.isdir(written):
            os.rename(written, out)
        else:
            os.makedirs(out)
        open(os.path.join(out, "_SUCCESS"), "w").close()
    shutil.rmtree(staging, ignore_errors=True)


def read_check_log_keys(spark: SparkSession, path: str, key_cols: list[str], key_schema: str) -> DataFrame:
    """Check-log JSONL -> distinct flagged keys (the check_log extractor).

    Rotated log directories interleave blank lines between entries (the
    reference's LogReader surfaces them as empty strings and the consumer
    skips them — log_reader_tests.rs); unparseable or blank lines must not
    become NULL-key rows, so the parse is filtered to rows whose key struct
    actually materialized."""
    raw = spark.read.text(f"{path}").filter(F.trim(F.col("value")) != "")
    parsed = raw.select(
        F.from_json(F.col("value"), f"log_type string, id_col_values struct<{key_schema}>").alias("r")
    ).filter(F.col("r.id_col_values").isNotNull())
    return parsed.select(*[F.col(f"r.id_col_values.{k}").alias(k) for k in key_cols]).distinct()


def review(
    src: DataFrame,
    dst: DataFrame,
    flagged_keys: DataFrame,
    key_cols: list[str],
    include_extra: bool = False,
) -> DataFrame:
    """Re-check only previously-flagged keys (the *review* task).

    Both sides are pruned with a broadcast semi-join on the flagged keys
    before the checker's full-outer join — the Spark twin of re-extracting
    only the failed PKs from both databases.
    """
    keys = flagged_keys.select(*key_cols).distinct()
    src_f = src.join(F.broadcast(keys), key_cols, "left_semi")
    dst_f = dst.join(F.broadcast(keys), key_cols, "left_semi")
    return check_diff(src_f, dst_f, key_cols, include_extra=include_extra)
