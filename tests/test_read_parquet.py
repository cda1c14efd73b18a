"""``read_parquet`` gives the schema Spark's own inference gives, without
running the inference job."""

import decimal
import glob
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from ape_dts_spark.sources.snapshot import read_parquet

SF01 = "/root/testdata/sf0.01"


def _spark_multi_file(spark, path):
    """A Spark-written directory of several part files (plus _SUCCESS and
    .crc side files) with decimal, nested and TIMESTAMP_NTZ columns."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("amount", T.DecimalType(18, 2)),
        T.StructField("at", T.TimestampNTZType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("attrs", T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
        ])),
    ])
    rows = [
        (i, decimal.Decimal(f"{i}.25"), datetime(2024, 1, 1 + i % 28, 12), [f"t{i}"], (f"k{i}", {"a": i}))
        for i in range(40)
    ]
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == 3
    return path


def _common_metadata_dir(path):
    """A pyarrow-written directory whose _common_metadata carries a column
    the data files lack: inference takes the summary file's schema."""
    os.makedirs(path)
    pq.write_table(pa.table({"id": [1, 2]}), os.path.join(path, "a.parquet"))
    pq.write_metadata(pa.schema([("id", pa.int64()), ("note", pa.string())]),
                      os.path.join(path, "_common_metadata"))
    return path


CASES = sorted(glob.glob(f"{SF01}/*.parquet")) + ["spark_multi_file", "common_metadata"]


@pytest.mark.parametrize("case", CASES, ids=lambda c: os.path.basename(c))
def test_read_parquet_schema_matches_inference_without_a_job(spark, spark_jobs, tmp_path, case):
    if case == "spark_multi_file":
        path = _spark_multi_file(spark, str(tmp_path / "multi.parquet"))
    elif case == "common_metadata":
        path = _common_metadata_dir(str(tmp_path / "summary.parquet"))
    else:
        path = case
    with spark_jobs() as jobs:
        schema = read_parquet(spark, path).schema
    assert jobs.n == 0
    assert schema == spark.read.parquet(path).schema
    if case == "spark_multi_file":
        assert schema["at"].dataType == T.TimestampNTZType()
        assert read_parquet(spark, path).count() == 40
    if case == "common_metadata":
        assert schema.fieldNames() == ["id", "note"]


@pytest.mark.parametrize("path", sorted(glob.glob(f"{SF01}/*.parquet")), ids=os.path.basename)
def test_demo_load_schema_without_a_job(spark, spark_jobs, path):
    """``demo.load`` returns the schema of ``spark.read.parquet`` plus its
    events.ts conversion, and starts no Spark job."""
    from pyspark.sql import functions as F

    from ape_dts_spark import demo

    table = os.path.basename(path)[: -len(".parquet")]
    with spark_jobs() as jobs:
        schema = demo.load(spark, SF01, table).schema
    assert jobs.n == 0
    inferred = spark.read.parquet(path)
    if table == "events" and dict(inferred.dtypes).get("ts") == "bigint":
        inferred = inferred.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert schema == inferred.schema
