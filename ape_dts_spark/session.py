"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (the test environment) runs one JVM with N threads; on a real
cluster the same settings hold except memory sizing. AQE is always on so
skewed shuffles re-plan at runtime (replaces the reference's hand-rolled
chunk rebalancer, dt-parallelizer/src/chunk_partitioner.rs:14-120).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

# Public JDBC driver jars that may be present in the environment; when found,
# they are put on the session classpath so the live JDBC snapshot/sink
# round-trip tests can run against a real database engine (skip otherwise).
#
# ORDERING CONSTRAINT: spark.jars / spark.driver.extraClassPath only take
# effect at JVM launch — if a SparkSession already exists, getOrCreate()
# reuses it and these configs are silently ignored. The live-JDBC tests
# therefore gate on the driver CLASS being loadable in the active session
# (see tests/test_jdbc_live*.py), not merely on the jar existing on disk.
_JDBC_JAR_GLOBS = [
    "/root/.cache/coursier/**/duckdb_jdbc-*.jar",
    os.path.expanduser("~/.m2/**/duckdb_jdbc-*.jar"),
    "/opt/jars/duckdb_jdbc-*.jar",
]

# H2 (public jar) in MySQL compatibility mode is the only engine in reach
# that executes the MySQL-dialect shapes (REPLACE INTO, backtick quoting);
# searched separately so its absence doesn't disable the DuckDB tests.
_H2_JAR_GLOBS = [
    "/root/.cache/coursier/**/h2-[0-9]*.jar",
    os.path.expanduser("~/.m2/**/h2-[0-9]*.jar"),
    "/opt/jars/h2-[0-9]*.jar",
]


# the directory that holds the imported ape_dts_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_jar(globs: list[str]) -> str | None:
    for pat in globs:
        hits = sorted(glob.glob(pat, recursive=True))
        if hits:
            return hits[-1]
    return None


def find_jdbc_jar() -> str | None:
    return _find_jar(_JDBC_JAR_GLOBS)


def find_h2_jar() -> str | None:
    return _find_jar(_H2_JAR_GLOBS)


def driver_class_loadable(spark: SparkSession, cls: str) -> bool:
    """True iff `cls` is loadable in the ACTIVE session JVM. This is the
    real gate for live-JDBC tests: a jar found on disk does not imply it is
    on the classpath (getOrCreate may have reused a session created without
    it) — keying on the jar alone turns a clean skip into ClassNotFound."""
    try:
        spark._jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def get_spark(app_name: str = "ape_dts_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long, convert in loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode = one JVM for driver + all 32 executor threads; an 8g
        # heap GC-thrashes once shuffle/cache fill it and inflates every
        # query 3-10x (the container has 128 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # Arrow kernels pickle the package's module-level helpers by
        # reference, so each Python worker imports ape_dts_spark itself: give
        # the workers the tree this process imported, whatever their cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    jars = [j for j in (find_jdbc_jar(), find_h2_jar()) if j]
    if jars:
        # one JVM in local mode: spark.jars puts the driver class on both the
        # driver and executor classpath at session creation (addJar after the
        # fact does not reach the driver-side DriverRegistry). No effect if a
        # session already exists — see the ordering note on _JDBC_JAR_GLOBS.
        builder = builder.config("spark.jars", ",".join(jars)).config(
            "spark.driver.extraClassPath", os.pathsep.join(jars)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def one_row_per_partition(spark: SparkSession, rows: list, schema: str):
    """Small dispatch relation with EXACTLY one row per partition — the
    session-per-Arrow-task layout the live wire readers rely on.

    ``createDataFrame(rows).repartition(n)`` round-robins each input split
    from a RANDOM start position, so two endpoints regularly land in one
    task and their socket sessions (each ending on a multi-second
    quiet-socket timeout) serialize. ``parallelize(rows, n)`` slices the
    list evenly instead: n rows -> n partitions of one row each,
    deterministically."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(len(rows), 1)), schema
    )


def stream_shuffle_width() -> str:
    """Shuffle/state-partition width for the bounded micro-batch streaming
    loops (CdcPipeline.run and the streaming gates). State-store partition
    count is a property of a stream's STATE VOLUME, not of the session's core
    count: every extra partition costs a state file + commit per trigger and a
    scheduled task per shuffle, so a vanilla session's 200 (or local[32]'s 32)
    is pure per-trigger overhead for small CDC batches. Default 8; deployments
    with large keyed state raise SPARK_GRAFT_STREAM_SHUFFLE (the width is
    pinned into a stream's checkpoint by Spark on first run, as usual)."""
    return os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")


def clear_spark_blocks(spark: SparkSession) -> None:
    """Drop every cached relation AND leaked localCheckpoint RDD blocks.

    ``spark.catalog.clearCache()`` only covers Dataset persists; the
    localCheckpoint blocks the iterative operators create
    (keep_representatives et al.) stay in the block manager and, across a
    long query sequence, inflate later queries ~3x via GC/eviction pressure
    (measured minhash_lsh 9.8 s fresh vs 29.7 s late in a 65-query run).
    Shared by bench.py and tools/check.py between queries.
    """
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()
