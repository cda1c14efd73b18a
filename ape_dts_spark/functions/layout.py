"""Data-layout operators: Z-order (Morton) clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file: parquet
row-group and file pruning work off per-file min/max statistics, and those
statistics are only tight when the writer CLUSTERS rows so each file covers
a small region of the filter space. For a single filter column,
``repartitionByRange(col)`` is enough; for multi-column filter workloads
the standard answer (Delta OPTIMIZE ZORDER BY, Iceberg sort orders,
Databricks/Snowflake clustering) is a space-filling curve: interleave the
bits of the dimensions into one Morton key, range-partition + sort on the
key, and every file's bounding box in EVERY dimension stays small.

This module implements the Morton key as a pure JVM-side integer
expression (shift/mask/or — whole-stage-codegen, no UDF) with an identical
ANSI-SQL twin so the key is bit-exact cross-engine, plus the layout
rewriter that applies it. Parity: the reference moves rows and leaves
layout to the target store (struct_migration.py:372 points MySQL indexes
at "Z-ORDER / clustering" on Spark targets); this is that pointer made
real. Z-order reference: Morton 1966; Delta Lake OPTIMIZE ZORDER BY uses
the same bit-interleaving construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interleave_terms(cols: list[str], bits: int) -> list[str]:
    """One term per (column, bit): ((col >> i) & 1) << (i * n + j), j the
    column's position — the classic Morton bit spread, identical text for
    Spark SQL and DuckDB (both support >> << & | on BIGINT)."""
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(f"((({c} >> {i}) & 1) << {i * n + j})")
    return terms


def morton_key_sql(cols: list[str], bits: int = 16) -> str:
    """The Morton (Z-order) key of ``cols`` as one integer expression.

    Each column must already be a non-negative integer in [0, 2^bits);
    callers bucket real values first (e.g. ``value % 1024`` or a
    rank-quantile id). n * bits must fit a BIGINT (<= 62). The SAME string
    is valid Spark SQL and DuckDB SQL, so gates compare it bit-exact."""
    n = len(cols)
    if n < 2:
        raise ValueError("Morton key needs at least 2 columns")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows BIGINT")
    return "(" + " | ".join(_interleave_terms(cols, bits)) + ")"


def with_morton_key(
    df: DataFrame, cols: list[str], bits: int = 16, out: str = "zkey"
) -> DataFrame:
    """Append the Morton key column (pure codegen expression, no UDF)."""
    return df.withColumn(out, F.expr(morton_key_sql(cols, bits)).cast("long"))


def zorder_layout(
    df: DataFrame, cols: list[str], num_files: int = 8, bits: int = 16
) -> DataFrame:
    """Rewrite ``df`` into a Z-ordered layout: range-partition on the
    Morton key of ``cols`` and sort within partitions, so a subsequent
    parquet write produces ``num_files`` files whose per-file min/max
    statistics are tight in EVERY clustered dimension — the precondition
    for multi-column scan pruning. One shuffle (the range exchange), no
    driver data motion; the range boundaries come from Spark's built-in
    sampling. The helper key column is dropped before return, matching
    how OPTIMIZE ZORDER BY leaves the schema unchanged."""
    keyed = with_morton_key(df, cols, bits, "__zkey")
    return (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
