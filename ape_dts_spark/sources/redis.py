"""Redis change model: command streams -> typed key/value change entries.

Reference: redis_psync_extractor.rs / redis_resp_reader.rs / rdb_parser.rs +
entry_parser/* / redis_scan_extractor.rs / redis_reshard_extractor.rs /
key_parser.rs (~5,000 LoC of PSYNC + RDB wire plumbing). The Spark-native
slice keeps the reference's data model — RedisEntry {db_id, key, typed value
(string/hash/list/set/zset), expire, slot} (redis_entry.rs:9-26,
redis_object.rs:14-24) — and replaces the live PSYNC socket with command
*streams at rest*: RESP files (the AOF format, parsed per-file) and inline
command lines (one command per line, the splittable 100-TB path). No Redis
server connection happens here; production lands AOF/command logs on object
storage and this module turns them into a compacted key write-set the sinker
renders back into commands (sinks/redis.py).

Scale notes: inline command lines are line-splittable, so a 100-TB command log
parallelizes like any text source; RESP files are parsed whole-file (length
prefixes can straddle split boundaries, same contract as gzip) so parallelism
comes from file count. Entry extraction and compaction are pure JVM
expressions — one shuffle per aggregation level, map-side combined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ape_dts_spark.session import _scan_files

SLOTS = 16384  # Redis Cluster slot count (key_parser.rs:193-202)


def _make_crc16_table() -> list[int]:
    """CRC16-XMODEM (poly 0x1021) lookup table, generated — the same table
    cmd_constants.rs embeds as a literal."""
    table = []
    for i in range(256):
        crc = i << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x1021) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
        table.append(crc)
    return table


CRC16_TABLE = _make_crc16_table()


def crc16(data: bytes) -> int:
    """CRC16-XMODEM over raw bytes (key_parser.rs:205-212)."""
    crc = 0
    for n in data:
        crc = ((crc << 8) & 0xFFFF) ^ CRC16_TABLE[((crc >> 8) ^ n) & 0xFF]
    return crc


def key_slot(key: str | bytes) -> int:
    """Cluster slot of a key: CRC16 of the first non-empty {hash tag} (else the
    whole key) & 0x3FFF (key_parser.rs:164-202). Full UTF-8: hashes bytes."""
    kb = key.encode("utf-8") if isinstance(key, str) else key
    i = kb.find(b"{")
    if i >= 0:
        k = kb.find(b"}", i + 1)
        if k > i + 1:  # non-empty tag only (key_parser.rs:197-201)
            kb = kb[i + 1 : k]
    return crc16(kb) & (SLOTS - 1)


_TAG_RE = r"^[^{]*\{([^}]*)\}"


def key_slot_col(key: Column) -> Column:
    """``key_slot`` as a pure JVM column expression (ASCII keys; multibyte
    keys need the plain-Python ``key_slot``, e.g. via a pandas UDF — the
    column path uses per-character codepoints which equal bytes only for
    ASCII). Used by ``partition_by_slot`` and the reshard/statistics queries;
    the identical fold runs in DuckDB (``key_slot_sql``) so slots are
    oracle-checkable."""
    tag = F.regexp_extract(key, _TAG_RE, 1)
    eff = F.when(F.length(tag) > 0, tag).otherwise(key)
    tbl = F.array(*[F.lit(x) for x in CRC16_TABLE])
    crc = F.aggregate(
        F.sequence(F.lit(1), F.length(eff)),
        F.lit(0),
        lambda acc, i: F.shiftleft(acc, 8)
        .bitwiseAND(F.lit(0xFFFF))
        .bitwiseXOR(
            F.element_at(
                tbl,
                F.shiftright(acc, 8).bitwiseXOR(F.ascii(eff.substr(i, F.lit(1)))).bitwiseAND(F.lit(0xFF))
                + F.lit(1),
            )
        ),
    )
    # sequence(1, 0) descends instead of being empty — guard zero-length keys
    return F.when(F.length(eff) == 0, F.lit(0)).otherwise(crc.bitwiseAND(F.lit(SLOTS - 1)))


def key_slot_sql(key_expr: str) -> str:
    """The same slot fold as ANSI/DuckDB SQL (same generated table, same
    hash-tag rule) — drop into oracle queries."""
    tbl = "list_value(" + ",".join(map(str, CRC16_TABLE)) + ")"
    tag = f"regexp_extract({key_expr}, '^[^{{]*\\{{([^}}]*)\\}}', 1)"
    eff = f"(CASE WHEN length({tag}) > 0 THEN {tag} ELSE {key_expr} END)"
    return (
        f"(list_reduce(list_prepend(0, list_transform(range(1, length({eff})+1), "
        f"i -> ord(substr({eff}, i, 1)))), "
        f"(acc, c) -> xor((acc*256)%65536, ({tbl})[(xor(acc//256, c) % 256)+1])) & {SLOTS - 1})"
    )


def partition_by_slot(df: DataFrame, n_nodes: int, key_col: str = "key") -> DataFrame:
    """RedisParallelizer / reshard analogue (redis_reshard_extractor.rs):
    contiguous slot ranges -> nodes (``node = slot * n // 16384``), then
    repartition so each task's writes target one node. Adds ``slot`` and
    ``node`` columns."""
    slot = key_slot_col(F.col(key_col))
    out = df.withColumn("slot", slot).withColumn(
        "node", (F.col("slot") * n_nodes / F.lit(SLOTS)).cast("int")
    )
    return out.repartition(n_nodes, "node")


# ---------------------------------------------------------------------------
# Command-stream sources
# ---------------------------------------------------------------------------

def parse_resp_bytes(data: bytes) -> list[list[str]]:
    """Parse a RESP byte stream (``*N\\r\\n$len\\r\\narg\\r\\n...``) into
    argv lists — the at-rest analogue of redis_resp_reader.rs. Tolerates
    inline commands (plain lines) between arrays, like the real protocol."""
    cmds: list[list[str]] = []
    i, n = 0, len(data)
    while i < n:
        if data[i : i + 1] == b"*":
            j = data.index(b"\r\n", i)
            argc = int(data[i + 1 : j])
            i = j + 2
            argv: list[str] = []
            for _ in range(argc):
                if data[i : i + 1] != b"$":
                    raise ValueError(f"RESP bulk string expected at offset {i}")
                j = data.index(b"\r\n", i)
                ln = int(data[i + 1 : j])
                if ln < 0:  # $-1 null bulk is the only legal negative; any
                    # other negative would walk the cursor backwards (hang)
                    if ln != -1:
                        raise ValueError(f"bad RESP bulk length {ln} at offset {i}")
                    argv.append("")
                    i = j + 2
                    continue
                arg = data[j + 2 : j + 2 + ln]
                argv.append(arg.decode("utf-8", errors="replace"))
                i = j + 2 + ln + 2  # skip trailing \r\n
            cmds.append(argv)
        else:  # inline command line
            j = data.find(b"\r\n", i)
            if j < 0:
                j = n
            line = data[i:j].decode("utf-8", errors="replace").strip()
            if line:
                cmds.append(line.split())
            i = j + 2
    return cmds


_RESP_CMD_SCHEMA = "file string, seq long, argv array<string>"


def read_resp_files(spark: SparkSession, path: str) -> DataFrame:
    """RESP/AOF files -> (file, seq, argv) commands. Whole-file parse (RESP
    length prefixes straddle arbitrary splits), so files are the unit of
    parallelism; ``seq`` is the command's ordinal within its file."""
    return _scan_files(
        spark, path,
        lambda file, content: [
            (file, seq, argv) for seq, argv in enumerate(parse_resp_bytes(content))
        ],
        _RESP_CMD_SCHEMA,
    )


def commands_from_lines(df: DataFrame, line_col: str = "line", seq_col: str = "seq") -> DataFrame:
    """Inline command lines -> (seq, argv). Whitespace-tokenized JVM split —
    the splittable scale path (arguments must not contain spaces; use RESP
    files for binary-safe payloads)."""
    return df.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.split(F.trim(F.col(line_col)), r"\s+").alias("argv"),
    ).filter(F.size("argv") > 0)


# ---------------------------------------------------------------------------
# Commands -> typed change entries
# ---------------------------------------------------------------------------

ENTRY_SCHEMA = (
    "db_id long, seq long, key string, rtype string, entry_type string, "
    "member string, value string, pos int"
)

# command name -> (rtype, entry_type) for the single-key simple shapes
_SIMPLE = {
    "SET": ("set", "string"),
    "GETSET": ("set", "string"),
    "EXPIRE": ("expire", None),
    "PEXPIRE": ("expire", None),
    "EXPIREAT": ("expire", None),
    "PEXPIREAT": ("expire", None),
    "PERSIST": ("persist", None),
}
_MEMBER_LIST = {  # variadic members from argv[2:]: (rtype, entry_type)
    "HDEL": ("mdel", "hash"),
    "SADD": ("madd", "set"),
    "SREM": ("mdel", "set"),
    "ZREM": ("mdel", "zset"),
    "RPUSH": ("madd", "list"),
    "LPUSH": ("madd", "list"),
}
_PAIR_LIST = {  # variadic (a, b) pairs from argv[2:]: (rtype, entry_type, member_first)
    "HSET": ("madd", "hash", True),
    "HMSET": ("madd", "hash", True),
    "ZADD": ("madd", "zset", False),  # ZADD key score member
}


def commands_to_entries(cmds: DataFrame, track_select: bool = False) -> DataFrame:
    """(seq, argv) commands -> typed change entries, the RedisEntry analogue:
    ``(db_id, seq, key, rtype, entry_type, member, value, pos)``.

    rtype: ``set``/``del``/``flush`` (key/db level), ``madd``/``mdel``
    (member level), ``expire``/``persist`` (TTL). LPUSH members carry
    ``pos < 0`` so final list order is reconstructible (each LPUSH lands
    further left than everything before it, each RPUSH further right).

    ``track_select=True`` honors interleaved ``SELECT db`` commands via a
    running ``last`` over (file, seq) order — a per-file window (streams
    without SELECT should keep the default and stay windowless). Commands the
    classifier doesn't know stay as ``rtype='unknown'`` rows for precheck
    visibility (the reference bails on unknown commands: key_parser.rs:41-49).

    Assumes well-formed streams (no container write on a live key of another
    type without an intervening DEL) — same contract as the reference, which
    replays commands onto the target and surfaces Redis' own type errors.
    """
    cmd = F.upper(F.element_at("argv", 1))
    base = cmds.withColumn("_cmd", cmd)
    if track_select:
        from pyspark.sql.window import Window

        part = ["file"] if "file" in cmds.columns else []
        w = (
            Window.partitionBy(*part)
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        db = F.last(
            F.when(F.col("_cmd") == "SELECT", F.element_at("argv", 2).cast("long")),
            ignorenulls=True,
        ).over(w)
        base = base.withColumn("_db", F.coalesce(db, F.lit(0)))
    else:
        base = base.withColumn("_db", F.lit(0))
    base = base.filter(F.col("_cmd") != "SELECT")
    # three entry shapes (key-level / member-list / pair-list) union-branch
    # off this relation; uncached, each branch re-runs the upstream line
    # build + tokenize (measured 3x the parse cost at sf0.1)
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    base.count()

    # Every branch below is expressed as selectExpr SQL strings: the eight
    # branches add up to a few hundred Column expressions, and building them
    # one py4j round trip at a time dominated the *driver* cost of every
    # consumer (measured: ~1.9 s per commands_to_entries call at sf0.1,
    # ~10k py4j round trips per aof_manifest run). SQL strings parse
    # JVM-side in one round trip per select; the resolved plans are
    # identical (same functions, same casts).

    def sql_map(d: dict[str, str]) -> str:
        # keys/values are command-table constants today, but they travel as
        # single-quoted SQL literals — escape quotes so a future data-driven
        # entry can't silently produce broken or wrong SQL (ADVICE r17)
        def q(s: str) -> str:
            return s.replace("'", "''")

        return "map(" + ", ".join(f"'{q(k)}', '{q(v)}'" for k, v in d.items()) + ")"

    simple_rtype = sql_map({k: v[0] for k, v in _SIMPLE.items()})
    simple_etype = sql_map({k: v[1] or "" for k, v in _SIMPLE.items()})
    ml_rtype = sql_map({k: v[0] for k, v in _MEMBER_LIST.items()})
    ml_etype = sql_map({k: v[1] for k, v in _MEMBER_LIST.items()})
    pl_rtype = sql_map({k: v[0] for k, v in _PAIR_LIST.items()})
    pl_etype = sql_map({k: v[1] for k, v in _PAIR_LIST.items()})
    simple_names = ", ".join("'" + k.replace("'", "''") + "'" for k in _SIMPLE)
    pl_member_first = ", ".join(
        "'" + k.replace("'", "''") + "'" for k, v in _PAIR_LIST.items() if v[2]
    )
    non_a = ", ".join(
        "'" + k.replace("'", "''") + "'"
        for k in sorted(set(_MEMBER_LIST) | set(_PAIR_LIST)
                        | {"DEL", "UNLINK", "XADD", "XSETID", "XDEL"})
    )

    # shape A: key-level ops + TTL + flush + unknowns (one entry per command)
    a = base.filter(f"_cmd NOT IN ({non_a})").selectExpr(
        "_db AS db_id",
        "seq",
        "CASE WHEN _cmd IN ('FLUSHDB', 'FLUSHALL') THEN NULL "
        "ELSE element_at(argv, 2) END AS key",
        "CASE WHEN _cmd IN ('FLUSHDB', 'FLUSHALL') THEN 'flush' "
        f"ELSE coalesce({simple_rtype}[_cmd], 'unknown') END AS rtype",
        f"nullif(coalesce({simple_etype}[_cmd], ''), '') AS entry_type",
        f"CASE WHEN _cmd IN ({simple_names}) AND _cmd != 'SET' AND _cmd != 'GETSET' "
        "THEN _cmd END AS member",
        "CASE WHEN _cmd IN ('SET', 'GETSET') OR startswith(_cmd, 'P') "
        "OR startswith(_cmd, 'E') THEN element_at(argv, 3) END AS value",
        "0 AS pos",
    )

    # shape B: DEL/UNLINK key... (explode keys -> one key-level delete each)
    b = (
        base.filter("_cmd IN ('DEL', 'UNLINK')")
        .selectExpr("_db", "seq", "posexplode(slice(argv, 2, 1000000)) AS (pos, col)")
        .selectExpr(
            "_db AS db_id",
            "seq",
            "col AS key",
            "'del' AS rtype",
            "CAST(NULL AS string) AS entry_type",
            "CAST(NULL AS string) AS member",
            "CAST(NULL AS string) AS value",
            "CAST(pos AS int) AS pos",
        )
    )

    # shape C: member lists (HDEL/SADD/SREM/ZREM/RPUSH/LPUSH key m1 m2 ...)
    ml_names = ", ".join(f"'{k}'" for k in _MEMBER_LIST)
    c = (
        base.filter(f"_cmd IN ({ml_names})")
        .selectExpr(
            "_db", "seq", "_cmd", "element_at(argv, 2) AS _key",
            "posexplode(slice(argv, 3, 1000000)) AS (pos, col)",
        )
        .selectExpr(
            "_db AS db_id",
            "seq",
            "_key AS key",
            f"{ml_rtype}[_cmd] AS rtype",
            f"{ml_etype}[_cmd] AS entry_type",
            # list elements are positional, not set members
            f"CASE WHEN {ml_etype}[_cmd] != 'list' THEN col END AS member",
            f"CASE WHEN {ml_etype}[_cmd] = 'list' THEN col END AS value",
            "CASE WHEN _cmd = 'LPUSH' THEN -CAST(pos AS int) - 1 "
            "ELSE CAST(pos AS int) END AS pos",
        )
    )

    # shape D: pair lists (HSET key f v f v... / ZADD key score member ...)
    pl_names = ", ".join(f"'{k}'" for k in _PAIR_LIST)
    d = (
        base.filter(f"_cmd IN ({pl_names})")
        .selectExpr(
            "_db", "seq", "_cmd", "element_at(argv, 2) AS _key",
            "explode(sequence(3, size(argv) - 1, 2)) AS i", "argv",
        )
        .selectExpr(
            "_db AS db_id",
            "seq",
            "_key AS key",
            f"{pl_rtype}[_cmd] AS rtype",
            f"{pl_etype}[_cmd] AS entry_type",
            f"CASE WHEN _cmd IN ({pl_member_first}) THEN element_at(argv, CAST(i AS int)) "
            "ELSE element_at(argv, CAST(i AS int) + 1) END AS member",
            f"CASE WHEN _cmd IN ({pl_member_first}) THEN element_at(argv, CAST(i AS int) + 1) "
            "ELSE element_at(argv, CAST(i AS int)) END AS value",
            "CAST((i - 3) / 2 AS int) AS pos",
        )
    )

    # shape E: streams in the command path — XADD key [MAXLEN [~|=] n]
    # [NOMKSTREAM] id field value ... and XSETID key id, emitted in the
    # same row families the RDB stream decoder produces (entry_type
    # 'stream' member 'id:field' / 'stream_meta' member 'last_id'), so
    # compact's per-member last-writer replays them and the sinker's
    # stream rewriter round-trips them. The explicit-id requirement is
    # structural: a '*' auto-id only exists on a live server, so those
    # XADDs surface as rtype='unknown' precheck rows instead of guessing.
    # get() (0-based, null out-of-bounds) — element_at would raise under
    # ANSI when no argument matches the explicit-id pattern ('*' XADDs)
    xadd = base.filter(F.col("_cmd") == "XADD").withColumn(
        "_idp",
        F.expr(
            "get(filter(transform(sequence(3, size(argv)), "
            "i -> struct(i AS i, element_at(argv, i) AS v)), "
            "s -> s.v RLIKE '^[0-9]+-[0-9]+$'), 0).i"
        ),
    )
    e_rows = (
        xadd.filter(F.col("_idp").isNotNull())
        .selectExpr(
            "_db", "seq", "element_at(argv, 2) AS _key", "argv", "_idp",
            "explode(sequence(_idp + 1, size(argv) - 1, 2)) AS i",
        )
        .selectExpr(
            "_db AS db_id",
            "seq",
            "_key AS key",
            "'madd' AS rtype",
            "'stream' AS entry_type",
            "concat(element_at(argv, CAST(_idp AS int)), ':', "
            "element_at(argv, CAST(i AS int))) AS member",
            "element_at(argv, CAST(i AS int) + 1) AS value",
            "CAST((i - _idp - 1) / 2 AS int) AS pos",
        )
    )
    e_auto = xadd.filter(F.col("_idp").isNull()).selectExpr(
        "_db AS db_id",
        "seq",
        "element_at(argv, 2) AS key",
        "'unknown' AS rtype",
        "CAST(NULL AS string) AS entry_type",
        "'XADD' AS member",
        "CAST(NULL AS string) AS value",
        "0 AS pos",
    )
    xdel = (
        base.filter("_cmd = 'XDEL'")
        .selectExpr(
            "_db", "seq", "element_at(argv, 2) AS _key",
            "posexplode(slice(argv, 3, 1000000)) AS (pos, col)",
        )
        .selectExpr(
            "_db AS db_id",
            "seq",
            "_key AS key",
            "'xdel' AS rtype",
            "'stream' AS entry_type",
            "col AS member",  # the stream id; tombstones id:*
            "CAST(NULL AS string) AS value",
            "CAST(pos AS int) AS pos",
        )
    )
    xsetid = base.filter("_cmd = 'XSETID'").selectExpr(
        "_db AS db_id",
        "seq",
        "element_at(argv, 2) AS key",
        "'madd' AS rtype",
        "'stream_meta' AS entry_type",
        "'last_id' AS member",
        "element_at(argv, 3) AS value",
        "0 AS pos",
    )

    return (
        a.unionByName(b).unionByName(c).unionByName(d)
        .unionByName(e_rows).unionByName(e_auto).unionByName(xdel).unionByName(xsetid)
    )


def compact_entries(entries: DataFrame) -> DataFrame:
    """Change entries -> final key state (the RdbMerger analogue for the
    key/value model): last-writer-wins at key level, per-member last-writer
    for hash/set/zset, positional survival for lists, TTL attach.

    Tombstone per key = the latest of: FLUSH in its db, key-level DEL, and
    key-level SET (a SET string-overwrites containers *and* clears TTL —
    expire entries must postdate it to survive). Output:
    ``(db_id, key, entry_type, member, value, ord, seq, expire)`` — one row
    per string key / container member, ``ord`` ordering list elements.

    Plan: two hash aggregations (key level, member level) + one shuffle join
    on (db_id, key) — all map-side combined; scales with distinct keys, not
    stream length. The input is persisted and materialized eagerly: six
    downstream branches (flush / key-level / TTL / tombstone / member /
    list) reference it, and without the cache each branch recomputes the
    whole upstream command parse (measured 13.6 s -> ~3 s at sf0.1; same
    rationale as the minhash signature tables in functions/dedup.py).
    """
    from pyspark import StorageLevel

    # selectExpr SQL strings throughout for the same reason as
    # commands_to_entries: the six branches below built hundreds of Column
    # objects one py4j round trip at a time, dominating every consumer's
    # driver-side construction cost. Same expressions, JVM-side parse.
    entries = entries.persist(StorageLevel.MEMORY_AND_DISK)
    entries.count()
    flush = (
        entries.filter("rtype = 'flush'")
        .groupBy("db_id")
        .agg(F.max("seq").alias("flush_seq"))
    )
    key_level = (
        entries.filter("rtype IN ('set', 'del')")
        .groupBy("db_id", "key")
        .agg(F.expr("max_by(struct(rtype, value, seq), seq)").alias("k"))
        .selectExpr("db_id", "key", "k.rtype AS k_op", "k.value AS k_value", "k.seq AS k_seq")
    )
    ttl = (
        entries.filter("rtype IN ('expire', 'persist')")
        .groupBy("db_id", "key")
        .agg(F.expr("max_by(struct(rtype, member, value, seq), seq)").alias("e"))
        .selectExpr(
            "db_id", "key", "e.rtype AS e_op", "e.member AS e_kind",
            "e.value AS e_value", "e.seq AS e_seq",
        )
    )

    # tombstone relation: every key with any key-level event (+ db flushes).
    # Persisted+materialized: FOUR downstream branches (strings, members,
    # lists, TTL attach) join against it, and uncached each re-runs the
    # distinct + two joins over the full entry set.
    tomb = (
        entries.select("db_id", "key").distinct()
        .join(flush, "db_id", "left")
        .join(key_level, ["db_id", "key"], "left")
        .selectExpr(
            "db_id",
            "key",
            "greatest(coalesce(flush_seq, -1L), coalesce(k_seq, -1L)) AS tomb_seq",
            "coalesce(flush_seq, -1L) AS db_tomb_seq",
            "k_op",
            "k_value",
            "k_seq",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tomb.count()

    strings = tomb.filter("k_op = 'set' AND k_seq > db_tomb_seq").selectExpr(
        "db_id", "key", "'string' AS entry_type",
        "CAST(NULL AS string) AS member",
        "k_value AS value", "CAST(0 AS long) AS ord",
        "k_seq AS seq",
    )

    member_last = (
        entries.filter("rtype IN ('madd', 'mdel') AND entry_type != 'list'")
        .groupBy("db_id", "key", "entry_type", "member")
        .agg(F.expr("max_by(struct(rtype, value, seq), seq)").alias("m"))
        .selectExpr(
            "db_id", "key", "entry_type", "member",
            "m.rtype AS m_op", "m.value AS m_value", "m.seq AS m_seq",
        )
    )
    members = (
        member_last.join(tomb.select("db_id", "key", "tomb_seq"), ["db_id", "key"], "left")
        .filter("m_op = 'madd' AND m_seq > coalesce(tomb_seq, -1L)")
        .selectExpr(
            "db_id", "key", "entry_type", "member",
            "m_value AS value",
            "CAST(0 AS long) AS ord",
            "m_seq AS seq",
        )
    )
    # XDEL tombstones a whole stream entry (every id:field member of that
    # id) without knowing its fields: join on the id prefix, keep rows that
    # postdate the delete (an XADD re-adding the id survives, like Redis)
    xdels = (
        entries.filter("rtype = 'xdel'")
        .groupBy("db_id", "key", F.col("member").alias("_sid"))
        .agg(F.max("seq").alias("xdel_seq"))
    )
    members = (
        members.withColumn(
            "_sid",
            F.expr("CASE WHEN entry_type = 'stream' THEN substring_index(member, ':', 1) END"),
        )
        .join(xdels, ["db_id", "key", "_sid"], "left")
        .filter("xdel_seq IS NULL OR seq > xdel_seq")
        .drop("_sid", "xdel_seq")
    )

    # lists: every surviving element in final order. Each LPUSH lands further
    # left than everything before it, each RPUSH further right, so
    # ord = ±seq * 2^20 + pos (sign from push direction; LPUSH pos < 0)
    # reconstructs the exact final list under any interleaving.
    lists = (
        entries.filter("entry_type = 'list' AND rtype = 'madd'")
        .join(tomb.select("db_id", "key", "tomb_seq"), ["db_id", "key"], "left")
        .filter("seq > coalesce(tomb_seq, -1L)")
        .selectExpr(
            "db_id", "key", "'list' AS entry_type",
            "CAST(NULL AS string) AS member",
            "value",
            f"(CASE WHEN pos < 0 THEN -seq ELSE seq END) * {1 << 20}L + pos AS ord",
            "seq",
        )
    )

    state = strings.unionByName(members).unionByName(lists)
    # TTL attach: expire must postdate the tombstone (DEL/FLUSH *and* SET both
    # reset TTL; container writes don't)
    live_ttl = (
        ttl.join(tomb.select("db_id", "key", "tomb_seq"), ["db_id", "key"], "left")
        .filter("e_op = 'expire' AND e_seq > coalesce(tomb_seq, -1L)")
        .selectExpr("db_id", "key", "concat_ws(':', e_kind, e_value) AS expire")
    )
    return state.join(live_ttl, ["db_id", "key"], "left")
