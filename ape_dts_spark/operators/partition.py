"""Parallel-apply partitioning strategies.

The reference's dt-parallelizer crate hand-rolls what Spark's shuffle does
natively; these helpers keep the *semantic guards* and let Spark do the fan-out:

- ``RdbPartitioner`` (rdb_partitioner.rs:9-107): hash-partition a DML batch by
  key for parallel apply, but REFUSE when an update changes a key column
  (cross-partition ordering would break) -> those rows go serial.
- ``SnapshotParallelizer`` (snapshot_parallelizer.rs:29-92): split insert-only
  batches into N sub-batches -> ``repartition(n)``.
- ``TableParallelizer`` (table_parallelizer.rs:15-107): group by table ->
  ``repartition(schema, tb)``.
- ``SerialParallelizer`` (serial_parallelizer.rs): strict order -> ``coalesce(1)``
  + sort.
- ``ChunkPartitioner`` skew rebalance (chunk_partitioner.rs:14-120): AQE does
  this at runtime (spark.sql.adaptive.*) — no code needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ape_dts_spark.operators.merge import classify_mergeable


def partition_for_apply(df: DataFrame, key_cols: list[str], num_partitions: int) -> tuple[DataFrame, DataFrame]:
    """(parallel, serial): hash-partition stable-key events; spill unstable ones.

    The key-stability guard mirrors rdb_partitioner.rs:32-82 — an update whose
    before/after key differs, or a NULL key, cannot be safely hash-fanned.
    """
    tagged = classify_mergeable(df, key_cols)
    helper_cols = ["mergeable"] + [f"_k_{k}" for k in key_cols]
    parallel = (
        tagged.filter(F.col("mergeable"))
        .repartition(num_partitions, *[F.col(f"_k_{k}") for k in key_cols])
        .drop(*helper_cols)
    )
    serial = tagged.filter(~F.col("mergeable")).drop(*helper_cols).coalesce(1).sortWithinPartitions("seq")
    return parallel, serial


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: salt the skewed side, replicate the other side.

    A hot key (one customer with 10% of all events) funnels its whole
    partition through one task in a plain shuffle join. Salting spreads it:
    the skewed side gets ``_salt = pmod(hash(random per-row), n)`` derived
    deterministically from a row fingerprint, the other side is exploded
    across all n salt values, and the join key becomes (keys + _salt) — the
    hot key now lands on n tasks. AQE's skew-join handles moderate skew
    automatically; this is the explicit tool for extreme skew / non-AQE
    paths. Replication factor = n on the small side only.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_buckets))
    left = skewed.withColumn("_salt", salt)
    right = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return left.join(right, keys + ["_salt"], how).drop("_salt")
