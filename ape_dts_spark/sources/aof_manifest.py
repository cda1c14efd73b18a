"""Redis 7 multi-part AOF directory (at rest): manifest + base RDB + incr
RESP files, chained through the existing RDB and RESP parsers.

Since Redis 7, ``appendonly`` persists as a DIRECTORY (``appenddirname``):
a text manifest listing one base file (an RDB snapshot) and one or more
incremental AOF files (plain RESP command streams), e.g.::

    file appendonly.aof.1.base.rdb seq 1 type b
    file appendonly.aof.1.incr.aof seq 1 type i

(the public aof-manifest format). Recovering state = load the base, then
replay the incr files in manifest order — exactly the PSYNC full-resync
shape the reference implements over a socket (RDB payload then command
stream, dt-connector/src/extractor/redis/redis_psync_extractor.rs); this
module is its at-rest analogue, composing sources/redis_rdb.py (base) with
sources/redis.py (RESP incr + entry model + compaction).

Scale shape: the base RDB parses per-file via ``binaryFile`` (one node's
dump per task), incr files likewise; the union is entry rows whose seq
encodes (base < incr-file-1 < incr-file-2 ...), so one ``compact_entries``
pass — two hash aggregations + one key join, the same plan as the pure-RESP
path — lands final state. No driver-side replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.session import _chain_seq

# base entries sort before every incr entry but must sit ABOVE
# compact_entries' tombstone floor of -1 (a seq <= -1 reads as pre-history
# and is swallowed by the default tombstone); expire rows postdate the base
# data rows so the TTL survives its own key's base SET (compact_entries
# treats SET as a TTL tombstone)
BASE_DATA_SEQ = 1
BASE_EXPIRE_SEQ = 2
INCR_SEQ_OFFSET = 3


def encode_resp(argv: list) -> bytes:
    """One command -> RESP array bytes (``*N\\r\\n$len\\r\\narg\\r\\n...``)."""
    out = bytearray(f"*{len(argv)}\r\n".encode())
    for a in argv:
        b = a if isinstance(a, bytes) else str(a).encode()
        out += f"${len(b)}\r\n".encode() + b + b"\r\n"
    return bytes(out)


def write_manifest_dir(
    base_entries: list[dict],
    incr_command_chunks: list[list[list]],
    out_dir: str,
    basename: str = "appendonly.aof",
) -> str:
    """Write the server's on-disk layout: ``<basename>.1.base.rdb``,
    ``<basename>.<k>.incr.aof`` chunks, and ``<basename>.manifest`` listing
    them in replay order. ``base_entries`` use the RDB entry shape
    (redis_rdb.encode_rdb); each incr chunk is a list of argv commands."""
    import os

    from ape_dts_spark.sources import redis_rdb as rdb

    os.makedirs(out_dir, exist_ok=True)
    lines = []
    base_name = f"{basename}.1.base.rdb"
    rdb.write_rdb_file(base_entries, os.path.join(out_dir, base_name))
    lines.append(f"file {base_name} seq 1 type b")
    for k, chunk in enumerate(incr_command_chunks, start=1):
        name = f"{basename}.{k}.incr.aof"
        with open(os.path.join(out_dir, name), "wb") as f:
            for argv in chunk:
                f.write(encode_resp(argv))
        lines.append(f"file {name} seq {k} type i")
    mpath = os.path.join(out_dir, f"{basename}.manifest")
    with open(mpath, "w") as f:
        f.write("\n".join(lines) + "\n")
    return mpath


def parse_manifest(text: str) -> list[tuple[str, int, str]]:
    """Manifest text -> [(file_name, seq, type)] in replay order (base
    first, then incr by seq — the order the lines appear, per the format)."""
    out = []
    for line in text.splitlines():
        parts = line.split()
        if len(parts) >= 6 and parts[0] == "file" and parts[2] == "seq" and parts[4] == "type":
            out.append((parts[1], int(parts[3]), parts[5]))
    return out


def base_state_to_entries(state: DataFrame) -> DataFrame:
    """Parsed base-RDB rows (redis_rdb ENTRY_SCHEMA + an ``expire`` string
    in the compacted 'KIND:value' form) -> change-entry rows in the
    commands_to_entries shape, sequenced BEFORE every incr entry:

    - string keys -> rtype 'set' at BASE_DATA_SEQ
    - container members -> rtype 'madd' at BASE_DATA_SEQ (list elements keep
      their base rank as ``pos``, so compact's ±seq<<20+pos list algebra
      puts later LPUSHes left of them and later RPUSHes right)
    - expire -> rtype 'expire' at BASE_EXPIRE_SEQ (> data seq: survives the
      base SET's own TTL-reset; < every incr seq: any incr write wins)
    """
    is_str = F.col("entry_type") == "string"
    data = state.select(
        "db_id",
        F.lit(BASE_DATA_SEQ).cast("long").alias("seq"),
        "key",
        F.when(is_str, F.lit("set")).otherwise(F.lit("madd")).alias("rtype"),
        F.col("entry_type"),
        F.when(~is_str, F.col("member")).alias("member"),
        F.col("value"),
        F.col("ord").cast("int").alias("pos"),
    )
    exp = (
        state.filter(F.col("expire").isNotNull())
        .select("db_id", "key", "expire").distinct()
        .select(
            "db_id",
            F.lit(BASE_EXPIRE_SEQ).cast("long").alias("seq"),
            "key",
            F.lit("expire").alias("rtype"),
            F.lit(None).cast("string").alias("entry_type"),
            F.split("expire", ":", 2)[0].alias("member"),
            F.split("expire", ":", 2)[1].alias("value"),
            F.lit(0).alias("pos"),
        )
    )
    return data.unionByName(exp)


def read_aof_manifest(spark: SparkSession, aof_dir: str, expire_base_ms: int | None = None) -> DataFrame:
    """Multi-part AOF directory -> unified change-entry DataFrame ready for
    ``compact_entries``: base RDB rows bridged to entries below every incr
    seq, incr RESP commands parsed and sequenced by manifest order
    (``INCR_SEQ_OFFSET + (file_order << 33 | in-file seq)``).

    ``expire_base_ms``: when set, base-RDB absolute EXPIRETIME_MS values are
    rendered as 'PEXPIRE:<ms - expire_base_ms>' (the fixture convention the
    RESP path uses); when None they stay absolute as 'PEXPIREAT:<ms>'.

    The manifest read is one tiny driver-side file; the listed base/incr
    files are scanned distributed (binaryFile / text), one file per task.

    Caching note: each base-RDB parse is persisted (it feeds the data and
    expire branches) and stays cached for the session — repeated calls in a
    long-lived session should clear blocks between queries (the bench/check
    harnesses call ``session.clear_spark_blocks``), since the caller cannot
    reach the intermediate relation through the returned DataFrame."""
    import os

    from pyspark import StorageLevel

    from ape_dts_spark.sources import redis_rdb as rdb
    from ape_dts_spark.sources.redis import commands_to_entries, read_resp_files

    manifests = [f for f in os.listdir(aof_dir) if f.endswith(".manifest")]
    if len(manifests) != 1:
        raise ValueError(f"expected exactly one .manifest in {aof_dir}, found {manifests}")
    with open(os.path.join(aof_dir, manifests[0])) as f:
        listing = parse_manifest(f.read())

    base_files = [n for n, _s, t in listing if t == "b"]
    incr_files = [n for n, _s, t in listing if t == "i"]

    # An AOF directory holds FEW files (one base + a handful of incrs), and
    # binaryFile/text scans give one task per file — so the entry derivation
    # (and the compaction's persisted cache) runs at file-count parallelism
    # regardless of box size. Re-spread each parse right after the
    # unsplittable-file read, sized by the FILE'S BYTES (~1 MiB of source
    # bytes per task of downstream derivation), capped at the session width:
    # a production-sized AOF file fans out, while a tiny file keeps its one
    # partition and skips the exchange (over-splitting tiny cached relations
    # just multiplies per-task overhead across the compaction's branches).
    width = spark.sparkContext.defaultParallelism

    def _spread_parts(path: str) -> int:
        return max(1, min(width, os.path.getsize(path) // (1 << 20)))

    parts = []
    for name in base_files:
        # base_state_to_entries fans into two branches (data + expire);
        # persist the one-task binary parse so it runs once, not per branch
        parsed = rdb.read_rdb_files(spark, os.path.join(aof_dir, name))
        n_spread = _spread_parts(os.path.join(aof_dir, name))
        if n_spread > 1:
            parsed = parsed.repartition(n_spread)
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        if expire_base_ms is not None:
            exp = F.when(
                F.col("expire_ms").isNotNull(),
                F.concat(F.lit("PEXPIRE:"),
                         (F.col("expire_ms") - F.lit(expire_base_ms)).cast("string")),
            )
        else:
            exp = F.when(
                F.col("expire_ms").isNotNull(),
                F.concat(F.lit("PEXPIREAT:"), F.col("expire_ms").cast("string")),
            )
        parts.append(base_state_to_entries(parsed.withColumn("expire", exp)))
    for order, name in enumerate(incr_files):
        cmds = read_resp_files(spark, os.path.join(aof_dir, name))
        n_spread = _spread_parts(os.path.join(aof_dir, name))
        if n_spread > 1:
            cmds = cmds.repartition(n_spread)
        entries = commands_to_entries(cmds).withColumn(
            "seq", F.lit(INCR_SEQ_OFFSET).cast("long") + _chain_seq(order, F.col("seq"))
        )
        parts.append(entries)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
