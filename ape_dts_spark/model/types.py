"""Type-fidelity layer: source-native column types <-> Spark types.

Reference: values travel as the ``ColValue`` union
(dt-common/src/meta/col_value.rs:11-45) tagged with source-native type enums —
``MysqlColType`` (dt-common/src/meta/mysql/mysql_col_type.rs:7-57) and
``PgValueType`` (dt-common/src/meta/pg/pg_value_type.rs:115-152). The
semantics that matter for correctness, reproduced here:

- unsigned integers widen to the next Spark type (u8->Short, u16->Int,
  u32->Long, u64->Decimal(20,0) — Spark has no unsigned types)
- DECIMAL keeps (precision, scale) exactly
- temporals: DATETIME (no tz) -> TimestampNTZ, TIMESTAMP (utc-offset) ->
  Timestamp; TIME/YEAR -> String/Int (the reference keeps temporals as
  normalized strings for comparison, col_value.rs:135-150 — we keep native
  types and normalize only in the checker)
- ENUM/SET -> String (the reference emits Enum2/Set2 string forms)
- JSON -> String (+ ``from_json``/``get_json_object`` downstream)
- BINARY/BLOB -> Binary; BIT(n) -> Long
- PG arrays -> ArrayType of the element type
- MongoDoc -> String (canonical extended JSON)
- NaN == NaN and +0.0 != -0.0 in check comparisons (col_value.rs:135-150):
  Spark's ``eqNullSafe``/``<=>`` already treats NaN as equal to NaN, so the
  checker gets this for free.

``spark_type_for`` is the single mapping entry point.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (regex over a normalized source type string) -> Spark type factory.
# MySQL first, then PG-specific spellings; first match wins.
_RULES: list[tuple[str, object]] = [
    # integers, unsigned widened
    (r"^tinyint\(1\)$", T.BooleanType()),
    (r"^tinyint unsigned$", T.ShortType()),
    (r"^tinyint", T.ByteType()),
    (r"^smallint unsigned$", T.IntegerType()),
    (r"^(smallint|int2)", T.ShortType()),
    (r"^mediumint unsigned$", T.IntegerType()),
    (r"^mediumint", T.IntegerType()),
    (r"^(int|integer|int4) unsigned$", T.LongType()),
    (r"^(int|integer|int4|serial)\b", T.IntegerType()),
    (r"^bigint unsigned$", T.DecimalType(20, 0)),
    (r"^(bigint|int8|bigserial)", T.LongType()),
    (r"^year", T.IntegerType()),
    # exact / approximate numerics
    (r"^(decimal|numeric)\s*\((\d+)\s*,\s*(\d+)\)", lambda p, s: T.DecimalType(int(p), int(s))),
    (r"^(decimal|numeric)", T.DecimalType(38, 18)),
    (r"^(float4|real)$", T.FloatType()),
    (r"^float(\(\d+\))?$", T.FloatType()),
    (r"^(double|float8)", T.DoubleType()),
    # temporals
    (r"^datetime", T.TimestampNTZType()),
    (r"^timestamp(tz| with time zone)", T.TimestampType()),
    (r"^timestamp(\(\d+\))? without time zone", T.TimestampNTZType()),
    (r"^timestamp", T.TimestampType()),
    (r"^date$", T.DateType()),
    (r"^time", T.StringType()),   # TIME/interval kept as normalized strings
    (r"^interval", T.StringType()),
    # strings & string-likes
    (r"^(char|varchar|text|tinytext|mediumtext|longtext|citext|name|bpchar)", T.StringType()),
    (r"^(enum|set)\b", T.StringType()),
    (r"^(json|jsonb)", T.StringType()),
    (r"^(uuid|xml|inet|cidr|macaddr|hstore)", T.StringType()),
    (r"^(geometry|geography|point|polygon)", T.BinaryType()),  # WKB, like the reference's spatial->WKB
    # binary
    (r"^bit\b", T.LongType()),
    (r"^(binary|varbinary|blob|tinyblob|mediumblob|longblob|bytea)", T.BinaryType()),
    (r"^bool", T.BooleanType()),
    (r"^mongodoc", T.StringType()),
]


def spark_type_for(source_type: str) -> T.DataType:
    """Map a source-native column type string (MySQL or PG spelling, case
    insensitive) to the Spark type per the fidelity matrix above."""
    s = source_type.strip().lower()
    s = re.sub(r"\s+", " ", s)
    # strip charset/collation suffixes: varchar(255) charset utf8mb4 ...
    s = re.sub(r"\s+(charset|character set|collate)\s+\S+", "", s)
    # PG typed arrays: int4[], text[], timestamptz[] ...
    if s.endswith("[]"):
        return T.ArrayType(spark_type_for(s[:-2]))
    for pat, out in _RULES:
        m = re.match(pat, s)
        if m:
            if callable(out) and not isinstance(out, T.DataType):
                return out(*m.groups()[1:])
            return out  # type: ignore[return-value]
    return T.StringType()


# -- MySQL zero-date recovery (issue apecloud/ape-dts#328) --------------------

ZERO_DATETIME = "0000-00-00 00:00:00"
ZERO_DATE = "0000-00-00"


def restore_zero_dates(df: DataFrame, not_null_temporals: dict[str, str]) -> DataFrame:
    """Zero-date recovery for NOT NULL temporal columns
    (mysql_col_value_convertor.rs:551-584, the fix for apecloud/ape-dts#328):
    MySQL's '0000-00-00' / '0000-00-00 00:00:00' have no driver-side
    representation, so extraction surfaces them as NULL — and a NULL in a
    NOT NULL temporal column can ONLY be a zero-date, so the reference
    re-materializes the literal string rather than writing a NULL the target
    would reject. Same move here: ``not_null_temporals`` maps column ->
    declared source type ('date' / 'datetime' / 'timestamp', from the table
    registry); each listed column is emitted as its canonical STRING image
    (Spark temporals cannot hold zero-dates either, same constraint as
    chrono) with NULLs replaced by the reference's exact literal. Nullable
    temporal columns must NOT be listed — their NULLs are genuine."""
    out = df
    for c, t in not_null_temporals.items():
        kind = t.strip().lower()
        is_date = kind.startswith("date") and not kind.startswith("datetime")
        sentinel = ZERO_DATE if is_date else ZERO_DATETIME
        fmt = "yyyy-MM-dd" if is_date else "yyyy-MM-dd HH:mm:ss"
        out = out.withColumn(c, F.coalesce(F.date_format(F.col(c), fmt), F.lit(sentinel)))
    return out
