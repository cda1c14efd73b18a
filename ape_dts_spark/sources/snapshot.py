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

So the whole extractor collapses to building the right lazy DataFrame; there
is no imperative chunk loop to port — that is the point of Spark-first design.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.config.rdb_filter import RdbFilter
from ape_dts_spark.router import RdbRouter


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
        df = self.spark.read.parquet(f"{sf_dir}/{tb}.parquet")
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
