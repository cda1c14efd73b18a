"""Type-fidelity matrix tests (SURVEY.md §1.2/§1.3; build plan step 3)."""

from pyspark.sql import types as T

from ape_dts_spark.model.types import spark_type_for


def test_unsigned_widening():
    assert spark_type_for("tinyint unsigned") == T.ShortType()
    assert spark_type_for("smallint unsigned") == T.IntegerType()
    assert spark_type_for("int unsigned") == T.LongType()
    assert spark_type_for("bigint unsigned") == T.DecimalType(20, 0)


def test_signed_ints_and_bool():
    assert spark_type_for("tinyint(1)") == T.BooleanType()
    assert spark_type_for("tinyint") == T.ByteType()
    assert spark_type_for("mediumint") == T.IntegerType()
    assert spark_type_for("bigint") == T.LongType()
    assert spark_type_for("int8") == T.LongType()  # PG bigint
    assert spark_type_for("int2") == T.ShortType()


def test_decimal_precision_preserved():
    assert spark_type_for("decimal(18,4)") == T.DecimalType(18, 4)
    assert spark_type_for("NUMERIC(10, 2)") == T.DecimalType(10, 2)
    assert spark_type_for("decimal") == T.DecimalType(38, 18)


def test_temporals():
    assert spark_type_for("datetime(6)") == T.TimestampNTZType()
    assert spark_type_for("timestamp(6)") == T.TimestampType()
    assert spark_type_for("timestamptz") == T.TimestampType()
    assert spark_type_for("date") == T.DateType()
    assert spark_type_for("time(3)") == T.StringType()
    assert spark_type_for("year") == T.IntegerType()


def test_strings_enums_json_binary():
    assert spark_type_for("varchar(255) CHARSET utf8mb4") == T.StringType()
    assert spark_type_for("enum('a','b')") == T.StringType()
    assert spark_type_for("set('x','y')") == T.StringType()
    assert spark_type_for("json") == T.StringType()
    assert spark_type_for("longblob") == T.BinaryType()
    assert spark_type_for("bit(64)") == T.LongType()
    assert spark_type_for("bytea") == T.BinaryType()
    assert spark_type_for("uuid") == T.StringType()
    assert spark_type_for("geometry") == T.BinaryType()


def test_pg_arrays():
    assert spark_type_for("int4[]") == T.ArrayType(T.IntegerType())
    assert spark_type_for("text[]") == T.ArrayType(T.StringType())
    assert spark_type_for("timestamptz[]") == T.ArrayType(T.TimestampType())


def test_restore_zero_dates(spark):
    from pyspark.sql import Row

    from ape_dts_spark.model.types import ZERO_DATE, ZERO_DATETIME, restore_zero_dates

    df = spark.createDataFrame(
        [Row(id=1, dt=None, d=None, opt=None)],
        "id long, dt timestamp, d date, opt timestamp",
    )
    out = restore_zero_dates(df, {"dt": "datetime", "d": "date"}).collect()[0]
    # NOT NULL temporals re-materialize the reference's exact literals
    assert out["dt"] == ZERO_DATETIME and out["d"] == ZERO_DATE
    # a nullable temporal is untouched: its NULL is genuine
    assert out["opt"] is None


def test_restore_zero_dates_real_values_format(spark):
    import datetime

    from ape_dts_spark.model.types import restore_zero_dates

    df = spark.createDataFrame(
        [(1, datetime.datetime(1999, 12, 31, 23, 58, 57), datetime.date(2001, 2, 3))],
        "id long, dt timestamp, d date",
    )
    out = restore_zero_dates(df, {"dt": "timestamp", "d": "date"}).collect()[0]
    assert out["dt"] == "1999-12-31 23:58:57" and out["d"] == "2001-02-03"
