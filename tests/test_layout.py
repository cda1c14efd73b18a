"""Z-order (Morton) layout: key correctness, cross-engine equality, and
the data-skipping payoff — per-partition bounding boxes after
zorder_layout are tight in BOTH dimensions, which linear single-column
sorting cannot achieve."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ape_dts_spark.functions import layout as ly


def _py_morton(vals, bits):
    out = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * n + j)
    return out


def test_morton_key_matches_python_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 255, 1023) for y in (0, 2, 7, 512, 1023)]
    df = spark.createDataFrame(rows, "d0 long, d1 long")
    got = {
        (r["d0"], r["d1"]): r["zkey"]
        for r in ly.with_morton_key(df, ["d0", "d1"], bits=10).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_morton([x, y], 10), (x, y)
    # the identical expression string on DuckDB
    con = duckdb.connect()
    for x, y in rows:
        sql = f"SELECT {ly.morton_key_sql(['d0', 'd1'], 10)} FROM (SELECT {x} AS d0, {y} AS d1)"
        assert con.sql(sql).fetchone()[0] == _py_morton([x, y], 10)


def test_morton_three_dims_and_bounds(spark):
    df = spark.createDataFrame([(3, 5, 6)], "a long, b long, c long")
    r = ly.with_morton_key(df, ["a", "b", "c"], bits=4).collect()[0]
    assert r["zkey"] == _py_morton([3, 5, 6], 4)
    with pytest.raises(ValueError, match="at least 2"):
        ly.morton_key_sql(["a"])
    with pytest.raises(ValueError, match="overflows"):
        ly.morton_key_sql(["a", "b", "c"], bits=21)


def test_morton_key_is_pure_codegen(spark):
    # the key must be a JVM expression: no BatchEvalPython/ArrowEval in plan
    df = spark.range(100).select(
        (F.col("id") % 32).alias("d0"), (F.col("id") % 17).alias("d1")
    )
    plan = ly.with_morton_key(df, ["d0", "d1"], bits=5)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_zorder_layout_boxes_are_tight_in_both_dims(spark):
    # 4096 points on a 64x64 grid; 16 partitions. After Z-ordering, each
    # partition's bounding box covers a small fraction of the grid in BOTH
    # dims; a d0-sorted layout is tight in d0 but spans ~full range in d1.
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("d0"), (F.col("id") / 64).cast("long").alias("d1")
    )
    def boxes(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("d0") - F.min("d0")).alias("s0"),
                (F.max("d1") - F.min("d1")).alias("s1"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    z = boxes(ly.zorder_layout(grid, ["d0", "d1"], num_files=16, bits=6))
    assert sum(r["n"] for r in z) == 4096
    # every non-trivial partition's box is at most a quarter of the range
    # in BOTH dimensions (perfect Z-partitioning gives 16 16x16 tiles)
    for r in z:
        if r["n"] >= 64:
            assert r["s0"] <= 31 and r["s1"] <= 31, r
    lin = boxes(grid.repartitionByRange(16, "d0"))
    # the linear layout must be LOOSE in the unsorted dimension — the
    # contrast that makes Z-order worth a shuffle
    assert max(r["s1"] for r in lin if r["n"] >= 64) >= 48
    # schema unchanged (helper key dropped)
    assert ly.zorder_layout(grid, ["d0", "d1"]).columns == ["d0", "d1"]
