"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (the test environment) runs one JVM with N threads; on a real
cluster the same settings hold except memory sizing. AQE is always on so
skewed shuffles re-plan at runtime (replaces the reference's hand-rolled
chunk rebalancer, dt-parallelizer/src/chunk_partitioner.rs:14-120).
"""

from __future__ import annotations

import glob
import os
import re
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

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
        # the daemon that forks those workers first stops them re-reading
        # pyspark.zip's index on every task (see the transport-runner notes)
        .config("spark.python.daemon.module", "ape_dts_spark._worker_daemon")
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


# ---------------------------------------------------------------------------
# transport runners: every source module supplies only its per-file decode or
# its per-endpoint pull; the Spark plumbing around it lives here, once
#
# Every runner is an Arrow task in a Python worker, and each such task first
# pays PySpark's own set-up: `worker_util.setup_spark_files` calls
# `importlib.invalidate_caches()` on every task. On CPython 3.11 and 3.12.1
# that makes each cached zipimporter re-read its archive's whole index, and a
# worker holds ~16 of them into pyspark.zip (1,328 entries): ~0.23 CPU-s per
# task before any decode runs (3.13's lazy zipimporter reads nothing). The
# session's daemon module, `_worker_daemon`, keeps an unchanged archive's
# index across those calls in every worker it forks.
# ---------------------------------------------------------------------------

_BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def _scan_files(
    spark: SparkSession,
    path,
    decode,
    schema: str,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
    prune=None,
) -> DataFrame:
    """Whole-file scan of the at-rest change files under ``path``:
    ``binaryFile`` (or its Structured-Streaming tail when ``stream``, with
    ``max_files_per_trigger`` files per micro-batch) read one file per task,
    then one Arrow-batched pass in which ``decode(path, content) -> rows``
    turns each file's bytes into rows (dicts or tuples) and each Arrow batch
    becomes one pandas frame with the columns of ``schema``.

    ``prune(paths) -> kept paths`` (batch only) filters the file listing on
    the driver from the names alone, before any content is read. The listing
    is the relation's file index (``inputFiles``, no Spark job), its URIs
    turned into the decoded ``scheme:/path`` form the ``path`` column holds."""
    import pandas as pd

    cols = DataType.fromDDL(schema).names
    if stream:
        reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        files = reader.load(path)
    else:
        files = spark.read.format("binaryFile").load(path)
        if prune is not None:
            listing = [_file_path(u) for u in files.inputFiles()]
            files = files.filter(files["path"].isin(list(prune(listing))))

    def _decode(batches):
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(decode(p, bytes(content)))
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(_decode, schema=schema)


def _file_path(uri: str) -> str:
    """A file URI (``file:///a%20b``) as Hadoop's ``Path.toString`` writes
    it (``file:/a b``), the form of ``binaryFile``'s ``path`` column."""
    u = urlsplit(uri)
    return f"{u.scheme}:{'//' + unquote(u.netloc) if u.netloc else ''}{unquote(u.path)}"


def _pull_endpoints(
    spark: SparkSession, endpoints: list, ddl: str, pull, schema: str
) -> DataFrame:
    """Bounded pull over live endpoints, one Arrow task each: the endpoint
    tuples (columns ``ddl``) are laid out one per partition, and each task
    calls ``pull(*endpoint) -> rows`` on the endpoint's Python values. The
    pull opens and closes its own client; its rows (dicts or tuples) become
    one pandas frame with the columns of ``schema``."""
    import pandas as pd

    cols = DataType.fromDDL(schema).names

    def _pull(batches):
        for pdf in batches:
            rows = []
            for ep in pdf.itertuples(index=False, name=None):
                rows.extend(pull(*ep))
            yield pd.DataFrame(rows, columns=cols)

    return one_row_per_partition(spark, endpoints, ddl).mapInPandas(_pull, schema)


_CHAIN_INDEX = re.compile(r"\.(\d+)(?:\.bson)?$")


def _chain_seq(index: int, seq=0):
    """Global sequence of event ``seq`` of the ``index``-th file of a change
    chain: ``(index << 33) | seq`` (in-file seqs stay below 2**33), so one
    ORDER BY seq replays the chain in order. ``seq`` may be a Column."""
    return index * (1 << 33) + seq


def _chain_decode(parse):
    """Per-file decode for a numbered change chain (``binlog.000003``,
    ``pgwal.000002``, ``oplog.000001.bson``): the numeric suffix is the
    file's place in the chain (0 without one); ``parse(name, index,
    content)`` decodes the file and each row's in-file ``seq`` is
    globalized with ``_chain_seq``."""

    def decode(path, content):
        name = path.rsplit("/", 1)[-1]
        m = _CHAIN_INDEX.search(name)
        index = int(m.group(1)) if m else 0
        rows = parse(name, index, content)
        base = _chain_seq(index)
        for r in rows:
            r["seq"] += base
        return rows

    return decode


def _write_chain(
    items: list, per_file: int, out_dir: str, base_name: str, suffix: str, encode
) -> list[str]:
    """Write ``items`` as a numbered chain of files of ``per_file`` items
    each (0 = one file): the i-th file is ``<base_name>.<i+1, 6 digits>
    <suffix>`` in ``out_dir`` and holds ``encode(i, chunk, names)``
    (``names`` is the whole chain, so a file can point at its successor).
    Returns the paths."""
    chunks = [items] if not per_file else [
        items[i : i + per_file] for i in range(0, len(items), per_file)
    ]
    names = [f"{base_name}.{i + 1:06d}{suffix}" for i in range(len(chunks))]
    paths = []
    for i, chunk in enumerate(chunks):
        p = os.path.join(out_dir, names[i])
        with open(p, "wb") as f:
            f.write(encode(i, chunk, names))
        paths.append(p)
    return paths


def one_row_per_partition(spark: SparkSession, rows: list, schema: str):
    """Small dispatch relation with EXACTLY one row per partition — the
    session-per-Arrow-task layout ``_pull_endpoints`` runs the live wire
    readers on.

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
