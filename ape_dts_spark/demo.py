"""Deterministic derivations of change streams / drifted replicas from the
driver's synthetic tables — shared by queries(), oracles, tests, and bench.

Everything here is expressible in plain SQL so DuckDB oracles can reproduce it
exactly (the driver compares Spark vs DuckDB at sf0.01).

Demo change stream (from ``events``): treat events as a CDC feed on a ``users``
table keyed by ``user_id``:

- signup -> insert, error -> delete, click/view/purchase -> update
- key is NULL when user_id % 37 = 0   (exercises the NULL-key spill path)
- updates with user_id % 23 = 0 change the key (+1000)  (key-change spill path)
- before-image value = value - 1 (exact IEEE op, bit-identical across engines);
  seq = event_id

Drifted replica (from ``orders``): the checker's test double —
- rows with o_orderkey % 97 = 0 are missing        (-> miss)
- rows with o_orderkey % 89 = 0 have totalprice + 1 (-> diff)
- rows with o_orderkey % 83 = 0 are duplicated with key+10_000_000 (-> extra)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.sources.snapshot import read_parquet

DEMO_SCHEMA = "demo"
DEMO_TB = "users"
USER_KEY = ["user_id"]


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # events.parquet carries TIMESTAMP(NANOS) columns; a vanilla SparkSession
    # (e.g. the external correctness driver's) refuses them outright
    # (PARQUET_TYPE_ILLEGAL). The legacy conf is runtime-settable and makes
    # Spark surface ns timestamps as bigint, which the conversion below expects.
    # Timestamp determinism on any session: parquet micros columns surface as
    # TIMESTAMP_NTZ; operators that need instants (watermarks, session
    # windows, unix_millis) cast NTZ -> TIMESTAMP, which reads the wall time
    # in the session timezone. Pin UTC so the cast is the identity the DuckDB
    # oracles (naive timestamps treated as UTC) assume.
    # Both confs are set once per session (flagged on the session object):
    # load() runs inside every query constructor and each conf.set is a
    # driver round trip.
    if not getattr(spark, "_ape_demo_confs", False):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark._ape_demo_confs = True
    # read_parquet reads the footer on the driver: no schema-inference job
    df = read_parquet(spark, f"{sf_dir}/{table}.parquet")
    # events.ts is TIMESTAMP(NANOS) in parquet — Spark reads it as long (via
    # spark.sql.legacy.parquet.nanosAsLong); truncate to microseconds exactly
    # like DuckDB/arrow do when downcasting ns -> us.
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def users_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> canonical change DataFrame (schema, tb, row_type, before, after, seq).

    Built with selectExpr: this constructor runs inside every CDC-family
    query (the bench headline builds it 28 times per run), and the Column-
    algebra formulation cost ~40 driver round trips per build — the SQL
    strings parse JVM-side in one call, producing the bit-identical plan
    (schema and rows verified equal against the old formulation)."""
    ev = load(spark, sf_dir, "events")
    return ev.selectExpr(
        f"'{DEMO_SCHEMA}' AS schema",
        f"'{DEMO_TB}' AS tb",
        "CASE event_type WHEN 'signup' THEN 'insert' WHEN 'error' THEN 'delete'"
        " ELSE 'update' END AS row_type",
        "CASE WHEN event_type <> 'signup' THEN named_struct("
        " 'user_id', CASE WHEN user_id % 37 = 0 THEN CAST(NULL AS BIGINT) ELSE user_id END,"
        " 'value', value - 1) END AS before",
        "CASE WHEN event_type <> 'error' THEN named_struct("
        " 'user_id', CASE WHEN user_id % 37 = 0 THEN CAST(NULL AS BIGINT)"
        "   WHEN event_type NOT IN ('signup','error') AND user_id % 23 = 0 THEN user_id + 1000"
        "   ELSE user_id END,"
        " 'value', value) END AS after",
        "event_id AS seq",
    )


# The same derivation as a SQL CTE body (DuckDB + Spark compatible) so oracle
# queries stay in lock-step with users_change_stream(). Images are flattened
# (before_user_id, before_value, after_user_id, after_value) because the
# engines' struct renderings differ.
USERS_CHANGE_STREAM_SQL = """
SELECT
  'demo' AS "schema",
  'users' AS tb,
  CASE event_type WHEN 'signup' THEN 'insert' WHEN 'error' THEN 'delete' ELSE 'update' END AS row_type,
  CASE WHEN event_type <> 'signup'
       THEN CASE WHEN user_id % 37 = 0 THEN NULL ELSE user_id END END AS before_user_id,
  CASE WHEN event_type <> 'signup' THEN value - 1 END AS before_value,
  CASE WHEN event_type <> 'error'
       THEN CASE WHEN user_id % 37 = 0 THEN NULL
                 WHEN event_type NOT IN ('signup','error') AND user_id % 23 = 0 THEN user_id + 1000
                 ELSE user_id END END AS after_user_id,
  CASE WHEN event_type <> 'error' THEN value END AS after_value,
  event_id AS seq
FROM events
"""


def mongo_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Mongo-model change stream (sources/mongo.py): full ext-JSON
    documents keyed on an immutable ``_id`` — no NULL keys, no key-changing
    updates, so everything compacts. Document strings are built with explicit
    concatenation (decimal-rendered value) so DuckDB reproduces them
    byte-for-byte."""
    ev = load(spark, sf_dir, "events")
    row_type = (
        F.when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    _id = F.col("user_id").cast("string")

    def doc(value_col) -> F.Column:
        return F.concat(
            F.lit('{"_id": '),
            _id,
            F.lit(', "value": '),
            value_col.cast("decimal(18,2)").cast("string"),
            F.lit("}"),
        )

    before = F.when(
        row_type != "insert", F.struct(_id.alias("_id"), doc(F.col("value") - 1).alias("doc"))
    )
    after = F.when(
        row_type != "delete", F.struct(_id.alias("_id"), doc(F.col("value")).alias("doc"))
    )
    return ev.select(
        F.lit(DEMO_SCHEMA).alias("schema"),
        F.lit("users_docs").alias("tb"),
        row_type.alias("row_type"),
        before.alias("before"),
        after.alias("after"),
        F.col("event_id").alias("seq"),
    )


MONGO_CHANGE_STREAM_SQL = """
SELECT
  'demo' AS "schema",
  'users_docs' AS tb,
  CASE event_type WHEN 'signup' THEN 'insert' WHEN 'error' THEN 'delete' ELSE 'update' END AS row_type,
  CAST(user_id AS VARCHAR) AS _id,
  CASE WHEN event_type <> 'signup'
       THEN '{"_id": ' || CAST(user_id AS VARCHAR) || ', "value": '
            || CAST(CAST(value - 1 AS DECIMAL(18,2)) AS VARCHAR) || '}' END AS before_doc,
  CASE WHEN event_type <> 'error'
       THEN '{"_id": ' || CAST(user_id AS VARCHAR) || ', "value": '
            || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) || '}' END AS after_doc,
  event_id AS seq
FROM events
"""


def redis_command_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> a Redis command log (sources/redis.py model): one inline
    command line per event, exercising every entry family —

    - signup   -> ``SET user:{uid} {value}``  (+ ``PEXPIRE user:{uid} 60000``
      as a second line when uid % 11 = 0)
    - error    -> ``DEL user:{uid}``
    - click    -> ``HSET sess:{uid} c{event_id%3} {value}``
    - view     -> ``RPUSH feed:{uid%50} e{event_id}``
    - purchase -> ``ZADD spend:{uid%100} {value} u{uid}``

    seq = event_id*2 (expire lines event_id*2+1) keeps the PEXPIRE ordered
    right after its SET. Values render via DECIMAL(18,2) so DuckDB reproduces
    the strings byte-for-byte. Output: (seq, line).
    """
    ev = load(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    val = F.col("value").cast("decimal(18,2)").cast("string")
    eid = F.col("event_id").cast("string")
    line = (
        F.when(F.col("event_type") == "signup", F.concat(F.lit("SET user:"), uid, F.lit(" "), val))
        .when(F.col("event_type") == "error", F.concat(F.lit("DEL user:"), uid))
        .when(
            F.col("event_type") == "click",
            F.concat(F.lit("HSET sess:"), uid, F.lit(" c"), (F.col("event_id") % 3).cast("string"), F.lit(" "), val),
        )
        .when(
            F.col("event_type") == "view",
            F.concat(F.lit("RPUSH feed:"), (F.col("user_id") % 50).cast("string"), F.lit(" e"), eid),
        )
        .otherwise(
            F.concat(F.lit("ZADD spend:"), (F.col("user_id") % 100).cast("string"), F.lit(" "), val, F.lit(" u"), uid)
        )
    )
    main = ev.select((F.col("event_id") * 2).alias("seq"), line.alias("line"))
    expire = (
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 11 == 0))
        .select((F.col("event_id") * 2 + 1).alias("seq"), F.concat(F.lit("PEXPIRE user:"), uid, F.lit(" 60000")).alias("line"))
    )
    return main.unionByName(expire)


REDIS_COMMAND_LINES_SQL = """
SELECT event_id * 2 AS seq,
  CASE event_type
    WHEN 'signup' THEN 'SET user:' || CAST(user_id AS VARCHAR) || ' ' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
    WHEN 'error'  THEN 'DEL user:' || CAST(user_id AS VARCHAR)
    WHEN 'click'  THEN 'HSET sess:' || CAST(user_id AS VARCHAR) || ' c' || CAST(event_id % 3 AS VARCHAR) || ' ' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
    WHEN 'view'   THEN 'RPUSH feed:' || CAST(user_id % 50 AS VARCHAR) || ' e' || CAST(event_id AS VARCHAR)
    ELSE 'ZADD spend:' || CAST(user_id % 100 AS VARCHAR) || ' ' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) || ' u' || CAST(user_id AS VARCHAR)
  END AS line
FROM events
UNION ALL
SELECT event_id * 2 + 1 AS seq, 'PEXPIRE user:' || CAST(user_id AS VARCHAR) || ' 60000' AS line
FROM events WHERE event_type = 'signup' AND user_id % 11 = 0
"""


# The compacted key state the command log above settles into, as portable SQL
# (Spark + DuckDB) — the oracle twin of sources/redis.compact_entries over
# redis_command_lines. Namespaces are disjoint per entry family, so each
# compacts independently; the PEXPIRE survives exactly when the key's last
# key-level event is a signup of an uid % 11 = 0 user (seq 2e+1 > 2e' iff
# e >= e', and the expire's signup is the last such event).
REDIS_STATE_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS val
  FROM events
),
ulast AS (
  SELECT user_id, event_type, val, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM ev WHERE event_type IN ('signup', 'error')
),
strings AS (
  SELECT CAST(0 AS BIGINT) AS db_id, 'user:' || CAST(user_id AS VARCHAR) AS key,
         'string' AS entry_type, CAST(NULL AS VARCHAR) AS member, val AS value,
         CAST(0 AS BIGINT) AS ord, event_id * 2 AS seq,
         CASE WHEN user_id % 11 = 0 THEN 'PEXPIRE:60000' END AS expire
  FROM ulast WHERE rn = 1 AND event_type = 'signup'
),
hlast AS (
  SELECT user_id, event_id, val,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_id % 3 ORDER BY event_id DESC) AS rn
  FROM ev WHERE event_type = 'click'
),
hashes AS (
  SELECT CAST(0 AS BIGINT), 'sess:' || CAST(user_id AS VARCHAR), 'hash',
         'c' || CAST(event_id % 3 AS VARCHAR), val, CAST(0 AS BIGINT),
         event_id * 2, CAST(NULL AS VARCHAR)
  FROM hlast WHERE rn = 1
),
lists AS (
  SELECT CAST(0 AS BIGINT), 'feed:' || CAST(user_id % 50 AS VARCHAR), 'list',
         CAST(NULL AS VARCHAR), 'e' || CAST(event_id AS VARCHAR),
         event_id * 2 * 1048576, event_id * 2, CAST(NULL AS VARCHAR)
  FROM ev WHERE event_type = 'view'
),
zlast AS (
  SELECT user_id, event_id, val,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM ev WHERE event_type NOT IN ('signup', 'error', 'click', 'view')
),
zsets AS (
  SELECT CAST(0 AS BIGINT), 'spend:' || CAST(user_id % 100 AS VARCHAR), 'zset',
         'u' || CAST(user_id AS VARCHAR), val, CAST(0 AS BIGINT),
         event_id * 2, CAST(NULL AS VARCHAR)
  FROM zlast WHERE rn = 1
),
redis_state AS (
  SELECT * FROM strings UNION ALL SELECT * FROM hashes
  UNION ALL SELECT * FROM lists UNION ALL SELECT * FROM zsets
)
"""


def drifted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with injected miss/diff/extra drift — the checker's target side."""
    o = load(spark, sf_dir, "orders")
    kept = o.filter(F.col("o_orderkey") % 97 != 0)
    perturbed = kept.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
    )
    extras = o.filter(F.col("o_orderkey") % 83 == 0).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    return perturbed.unionByName(extras)


DRIFTED_ORDERS_SQL = """
SELECT o_orderkey,
       o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 97 <> 0
UNION ALL
SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 83 = 0
"""


def duplicated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact duplicates of every 10th doc (new ids +100000) —
    guarantees the dedup operators have true positives to find."""
    d = load(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 100_000)
    return d.unionByName(dups)


DUPLICATED_DOCUMENTS_SQL = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id % 10 = 0
"""
