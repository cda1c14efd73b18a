"""Snapshot (full-table) source with config-driven pushdown.

Reference: MySQL/PG snapshot extractors run chunked parallel scans with
predicate pushdown, column pruning, and sampling
(dt-connector/src/extractor/mysql/mysql_snapshot_extractor.rs:113-149,384-438;
rdb_snapshot_extract_statement.rs:100-201).

Spark-native: the *declarative* equivalents —

- chunked parallel scan  -> parquet/ORC split planning, or JDBC
  ``partitionColumn/lowerBound/upperBound/numPartitions`` (keyset chunks ->
  ``predicates=[...]`` arrays); Spark schedules the chunks, AQE rebalances.
- ``where_conditions``   -> ``df.filter(sql)`` — Catalyst pushes it into the
  scan (check ``PushedFilters`` in .explain).
- ``ignore_cols``        -> ``df.drop`` — column pruning reaches the reader's
  ``ReadSchema``.
- sampling               -> ``df.sample`` / deterministic key-mod.
- routing                -> column renames (zero-cost projection).
- schema discovery       -> ``read_parquet``: one footer converted on the
  driver, the same schema Spark's inference job would return.

So the whole extractor collapses to building the right lazy DataFrame; there
is no imperative chunk loop to port — that is the point of Spark-first design.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ape_dts_spark.config.rdb_filter import RdbFilter
from ape_dts_spark.router import RdbRouter


_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Names Spark's file index skips when it lists a table directory."""
    return (
        (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")
    ) and not name.startswith(_SUMMARY_FILES)


def _footer_file(path: str) -> str | None:
    """The one file whose footer Spark's non-merging parquet inference reads:
    ``_common_metadata``, else ``_metadata``, else the first data file in
    path order among the files its index lists. None when ``path`` is no
    local file or directory, or lists no file."""
    if os.path.isfile(path):
        return path
    leaves = []
    for d, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        leaves += [os.path.join(d, f) for f in files if not _hidden(f)]
    leaves.sort()
    for summary in _SUMMARY_FILES:
        hit = next((p for p in leaves if os.path.basename(p) == summary), None)
        if hit:
            return hit
    return next((p for p in leaves if os.path.basename(p) not in _SUMMARY_FILES), None)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Inference reads one footer (see ``_footer_file``) in a Spark job. Here
    the driver reads that footer and converts it with Spark's own
    ``ParquetToSparkSchemaConverter`` under the session's SQL conf, so the
    schema is the one inference returns (TIMESTAMP columns written without
    UTC adjustment stay ``TimestampNTZType``; ``nanosAsLong`` holds), and
    no job runs. A path with no local file to read goes to
    ``spark.read.parquet``, which infers or raises Spark's own error."""
    footer_file = _footer_file(path)
    if footer_file is None:
        return spark.read.parquet(path)
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(Path(footer_file).resolve().as_uri())
    parquet_hadoop = jvm.org.apache.parquet.hadoop
    footer = parquet_hadoop.Footer(
        hadoop_path, parquet_hadoop.ParquetFileReader.readFooter(spark._jsc.hadoopConfiguration(), hadoop_path)
    )
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = spark_parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)


@dataclass
class SnapshotSource:
    """Reads tables from a directory of parquet files (``<dir>/<tb>.parquet``)
    or via JDBC, applying filter + router config per table."""

    spark: SparkSession
    filter: RdbFilter = field(default_factory=RdbFilter)
    router: RdbRouter = field(default_factory=RdbRouter)
    schema_name: str = "default"

    # -- parquet-dir backend (the test/bench backend) -----------------------
    def read_table(self, sf_dir: str, tb: str, sample_percent: float | None = None) -> DataFrame:
        if self.filter.filter_tb(self.schema_name, tb):
            raise ValueError(f"table {self.schema_name}.{tb} is filtered out by config")
        df = read_parquet(self.spark, f"{sf_dir}/{tb}.parquet")
        cond = self.filter.where_condition(self.schema_name, tb)
        if cond:
            df = df.filter(cond)  # Catalyst pushes into the parquet scan
        drop = [c for c in self.filter.ignored_cols(self.schema_name, tb) if c in df.columns]
        if drop:
            df = df.drop(*drop)
        if sample_percent is not None:
            df = df.sample(fraction=sample_percent / 100.0, seed=42)
        return self.router.route_df(df, self.schema_name, tb)

    # -- JDBC backend (cluster path; mirrors the chunked scan) --------------
    def read_jdbc(
        self,
        url: str,
        table: str,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        num_partitions: int = 8,
        predicates: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> DataFrame:
        """Chunked JDBC scan. With ``partition_column`` Spark generates the same
        evenly-sized range chunks as the reference's splitter
        (mysql_snapshot_splitter.rs:139-309); ``predicates`` supports custom
        keyset chunks for non-numeric keys (one partition per predicate)."""
        reader = self.spark.read.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        if predicates is not None:
            # emulate spark.read.jdbc(predicates=...) via the lower-level API
            return self.spark.read.jdbc(url=url, table=table, predicates=predicates, properties=properties or {})
        if partition_column is not None:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
                .option("numPartitions", str(num_partitions))
            )
        return reader.load()


def chunk_bounds(df: DataFrame, key_col: str) -> tuple[int, int]:
    """MIN/MAX probe for the chunk splitter — the reference computes the same
    with one aggregate query before chunking (mysql_snapshot_splitter.rs:139-309)."""
    row = df.agg(F.min(key_col).alias("lo"), F.max(key_col).alias("hi")).collect()[0]
    return row["lo"], row["hi"]


def with_chunk_id(df: DataFrame, key_col: str, lo: int, chunk_size: int, out: str = "chunk_id") -> DataFrame:
    """Assign evenly-sized integer range chunks: chunk_id = (key - lo) div size.

    This is the declarative twin of the splitter's range chunks — on JDBC the
    same ranges become ``predicates=[...]`` / partitionColumn bounds; on
    parquet, Spark's own split planning supersedes it and this column serves
    observability (per-chunk row/byte stats, the ChunkPartitioner cost model's
    input — dt-parallelizer/src/chunk_partitioner.rs:14-120)."""
    return df.withColumn(out, F.expr(f"CAST(({key_col} - {lo}) DIV {chunk_size} AS BIGINT)"))
