"""Pre-flight checks before a migration/sync task — dt-precheck parity.

Reference checks (dt-precheck/src): source/target connectivity, database &
table existence, permissions, CDC prerequisites (binlog/wal level), struct
supportability. The Spark-side analogues for a lake/parquet + JDBC world:

- source readability (path exists, parquet footer parses)        <- connectivity
- filter config matches at least one table                        <- struct existence
- primary keys registered for tables that will CDC-merge          <- CDC prereq
  (no PK => the reference falls back to serial whole-row apply;
   we flag it so the task picks the spill path deliberately)
- every column type translates to the target dialect without loss
  (complex types degrade to JSON on RDB targets -> warning)

Each check yields a CheckResult; ``ok=False`` results should block the task
(the reference aborts on fatal prechecks, dt-precheck/src/checker/*).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ape_dts_spark import session
from ape_dts_spark.config.rdb_filter import RdbFilter
from ape_dts_spark.sources.snapshot import read_parquet


@dataclass
class CheckResult:
    check: str
    object: str
    ok: bool
    detail: str = ""
    # non-fatal advisory (the reference's CheckResult carries a separate
    # warn error, check_result.rs: build_with_err(err, warn))
    warn: str = ""


def check_source_readable(spark: SparkSession, sf_dir: str, tables: list[str]) -> list[CheckResult]:
    out = []
    for tb in tables:
        path = f"{sf_dir}/{tb}.parquet"
        if not os.path.exists(path):
            out.append(CheckResult("source_readable", tb, False, f"missing {path}"))
            continue
        try:
            read_parquet(spark, path).schema
            out.append(CheckResult("source_readable", tb, True))
        except Exception as e:  # corrupt footer, permission, ...
            out.append(CheckResult("source_readable", tb, False, str(e)[:200]))
    return out


def check_filter_matches(filt: RdbFilter, schema: str, tables: list[str]) -> list[CheckResult]:
    matched = [tb for tb in tables if not filt.filter_tb(schema, tb)]
    return [
        CheckResult(
            "filter_matches",
            f"{schema}.*",
            bool(matched),
            f"{len(matched)}/{len(tables)} tables selected",
        )
    ]


def check_primary_keys(registry: dict[str, list[str]], tables: list[str]) -> list[CheckResult]:
    out = []
    for tb in tables:
        keys = registry.get(tb, [])
        out.append(
            CheckResult(
                "primary_keys",
                tb,
                bool(keys),
                "no key columns: CDC merge degrades to serial whole-row apply" if not keys else ",".join(keys),
            )
        )
    return out


_LOSSY_FOR_RDB = (T.ArrayType, T.MapType, T.StructType)


def check_type_support(spark: SparkSession, sf_dir: str, tables: list[str], dialect: str) -> list[CheckResult]:
    out = []
    for tb in tables:
        path = f"{sf_dir}/{tb}.parquet"
        if not os.path.exists(path):
            continue
        schema = read_parquet(spark, path).schema
        lossy = [f.name for f in schema.fields if isinstance(f.dataType, _LOSSY_FOR_RDB)]
        if lossy and dialect in ("mysql", "pg", "starrocks"):
            out.append(
                CheckResult("type_support", tb, True, f"complex columns degrade to JSON: {','.join(lossy)}")
            )
        else:
            out.append(CheckResult("type_support", tb, True))
    return out


def check_target_writable(target_dir: str) -> list[CheckResult]:
    """Sink connectivity/permission analogue: the target path must be
    creatable and writable (reference: target connection + privilege checks,
    dt-precheck/src/checker/*)."""
    try:
        os.makedirs(target_dir, exist_ok=True)
        probe = os.path.join(target_dir, ".precheck_probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
        return [CheckResult("target_writable", target_dir, True)]
    except OSError as e:
        return [CheckResult("target_writable", target_dir, False, str(e)[:200])]


def check_key_columns_exist(
    spark: SparkSession, sf_dir: str, registry: dict[str, list[str]]
) -> list[CheckResult]:
    """Every registered merge key must exist in the table schema and carry a
    hashable scalar type — a complex-typed or missing key breaks the merge
    path at runtime, so it fails here instead (struct supportability)."""
    out = []
    for tb, keys in registry.items():
        path = f"{sf_dir}/{tb}.parquet"
        if not keys or not os.path.exists(path):
            continue
        schema = read_parquet(spark, path).schema
        cols = {f.name: f.dataType for f in schema.fields}
        for k in keys:
            if k not in cols:
                out.append(CheckResult("key_columns_exist", f"{tb}.{k}", False, "key column missing"))
            elif isinstance(cols[k], _LOSSY_FOR_RDB):
                out.append(
                    CheckResult(
                        "key_columns_exist", f"{tb}.{k}", False,
                        f"complex-typed key ({cols[k].simpleString()}) cannot merge",
                    )
                )
            else:
                out.append(CheckResult("key_columns_exist", f"{tb}.{k}", True))
    return out


_VALID_EVENTS = {"insert", "update", "delete", "ddl"}


def check_filter_config(filt: RdbFilter) -> list[CheckResult]:
    """Filter-config sanity (reference: config checker): do_events values
    must be known row types; where_conditions entries must carry a non-empty
    condition."""
    out = []
    bad_events = sorted(e for e in filt._events if e not in _VALID_EVENTS)
    out.append(
        CheckResult(
            "filter_config", "do_events", not bad_events,
            f"unknown event types: {','.join(bad_events)}" if bad_events else "",
        )
    )
    bad_conds = [k for k, cond in filt._where.items() if not (cond or "").strip()]
    out.append(
        CheckResult(
            "filter_config", "where_conditions", not bad_conds,
            f"{len(bad_conds)} empty condition(s)" if bad_conds else "",
        )
    )
    return out


def check_cdc_source(spark: SparkSession, source_dir: str) -> list[CheckResult]:
    """CDC prerequisite analogue: the change-stream directory must exist and
    its envelopes must parse with the fields ordered apply depends on
    (db/table/seq) — the lake-world stand-in for 'binlog is ON and
    ROW-format' (dt-precheck cdc prerequisite checkers)."""
    from pyspark.sql import functions as F

    if not os.path.isdir(source_dir):
        return [CheckResult("cdc_source", source_dir, False, "source dir missing")]
    try:
        sample = spark.read.text(source_dir).limit(100)
        parsed = sample.select(
            F.get_json_object("value", "$.source.db").alias("db"),
            F.get_json_object("value", "$.source.table").alias("tb"),
            F.get_json_object("value", "$.source.seq").alias("seq"),
        )
        n = parsed.count()
        bad = parsed.filter(F.col("db").isNull() | F.col("seq").isNull()).count()
        if n == 0:
            return [CheckResult("cdc_source", source_dir, True, "empty source (ok, stream may start later)")]
        return [
            CheckResult(
                "cdc_source", source_dir, bad == 0,
                f"{bad}/{n} sampled envelopes missing db/seq" if bad else f"{n} envelopes sampled",
            )
        ]
    except Exception as e:
        return [CheckResult("cdc_source", source_dir, False, str(e)[:200])]


def check_fk_config(tables: list[str], fk_spec: str) -> list[CheckResult]:
    """FK-mode preflight (dt-precheck's structure checks + plans/fk_order):
    the foreign_keys config must parse (child:parent pairs), reference known
    tables, and be acyclic — a cycle would force full-serial apply, which the
    operator refuses explicitly rather than silently degrading."""
    from ape_dts_spark.plans.fk_order import fk_levels, parse_fk_spec

    out: list[CheckResult] = []
    for part in filter(None, (p.strip() for p in fk_spec.split(","))):
        if ":" not in part:
            out.append(CheckResult("fk_config_parse", part, False, "expected child:parent"))
            continue
        child, parent = (s.strip() for s in part.split(":", 1))
        if not child or not parent:
            # parse_fk_spec silently drops empty-sided parts; a green
            # precheck over a spec the apply stage ignores is exactly the
            # disagreement this check exists to prevent
            out.append(
                CheckResult("fk_config_parse", part, False, "empty child or parent")
            )
    edges = parse_fk_spec(fk_spec)  # shared with task.run_task apply staging
    for child, parent in edges:
        for t in (child, parent):
            if t not in tables:
                out.append(
                    CheckResult(
                        "fk_table_known", t, False, f"edge {child}:{parent}: not in task tables"
                    )
                )
    _, cyclic = fk_levels(tables, edges)
    out.append(
        CheckResult(
            "fk_acyclic",
            ",".join(cyclic) or "-",
            not cyclic,
            "reference cycle would force serial apply" if cyclic else "",
        )
    )
    if not any(not r.ok for r in out):
        out.insert(0, CheckResult("fk_config_parse", fk_spec, True))
    return out


_JDBC_DRIVERS = {
    "mysql": "com.mysql.cj.jdbc.Driver",
    "mariadb": "org.mariadb.jdbc.Driver",
    "postgresql": "org.postgresql.Driver",
    "clickhouse": "com.clickhouse.jdbc.ClickHouseDriver",
    "sqlserver": "com.microsoft.sqlserver.jdbc.SQLServerDriver",
}


def check_jdbc_config(spark: SparkSession, url: str, props: dict | None = None) -> list[CheckResult]:
    """Connectivity-adjacent prechecks for a JDBC source/sink that work
    without a live database (dt-precheck's connectivity/permission checkers
    need a reachable server; in a sandboxed run these degrade to the checks
    that CAN fail early): URL dialect parse, credential presence, and
    driver-class availability on the JVM classpath. With a reachable DB the
    first partitioned read is itself the live probe."""
    props = props or {}
    out: list[CheckResult] = []
    parts = url.split(":", 2)
    if len(parts) < 3 or parts[0] != "jdbc" or not parts[1]:
        return [CheckResult("jdbc_url", url, False, "expected jdbc:<dialect>://host[:port]/db")]
    dialect = parts[1]
    known = dialect in _JDBC_DRIVERS
    out.append(
        CheckResult("jdbc_url", url, known, "" if known else f"unknown dialect {dialect!r}")
    )
    out.append(
        CheckResult(
            "jdbc_credentials",
            dialect,
            bool(props.get("user")),
            "" if props.get("user") else "no 'user' in connection properties",
        )
    )
    if known:
        cls = props.get("driver", _JDBC_DRIVERS[dialect])
        loadable = session.driver_class_loadable(spark, cls)
        out.append(
            CheckResult(
                "jdbc_driver_class", cls, loadable,
                "" if loadable else "driver jar not on the Spark classpath (add via spark.jars)",
            )
        )
    return out


def run_prechecks(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    filt: RdbFilter | None = None,
    schema: str = "default",
    registry: dict[str, list[str]] | None = None,
    dialect: str = "mysql",
    target_dir: str | None = None,
    cdc_source_dir: str | None = None,
    fk_spec: str | None = None,
) -> list[CheckResult]:
    results = check_source_readable(spark, sf_dir, tables)
    if fk_spec:
        results += check_fk_config(tables, fk_spec)
    if filt is not None:
        results += check_filter_matches(filt, schema, tables)
        results += check_filter_config(filt)
    if registry is not None:
        results += check_primary_keys(registry, tables)
        results += check_key_columns_exist(spark, sf_dir, registry)
    results += check_type_support(spark, sf_dir, tables, dialect)
    if target_dir is not None:
        results += check_target_writable(target_dir)
    if cdc_source_dir is not None:
        results += check_cdc_source(spark, cdc_source_dir)
    return results


# ---------------------------------------------------------------------------
# CDC-prerequisite prechecks as pure functions over a CAPTURED server-variable
# snapshot (round 8). The reference's precheckers pull these with live
# ``SHOW VARIABLES`` / ``SHOW [settings]`` / ``db.hello()`` queries
# (dt-precheck/src/fetcher/*); this sandbox has no live servers, so the check
# logic — the part with actual semantics — operates on the dict those fetches
# would produce. Message strings mirror the reference byte-for-byte (incl.
# its 'max_wel_senders' typo) so a user reading a precheck log sees the same
# diagnostics; multi-variable errors join with ';' in the fetch-list order
# (the reference iterates a HashMap, so its order is unspecified — we pin the
# cdc_configs declaration order, mysql_prechecker.rs:92).
# ---------------------------------------------------------------------------

import re as _re

# mysql_prechecker.rs:17
MYSQL_SUPPORT_DB_VERSION_REGEX = r"5\..*|8\..*"
# pg_prechecker.rs:18 (server_version_num form, e.g. 120000 = v12)
PG_SUPPORT_DB_VERSION_NUM_MIN = 120000
# mongo_prechecker.rs:14
MONGO_SUPPORTED_VERSION_REGEX = r"4.*|5.0.*|6.0.*|7.0.*"

# advise strings shown beside a failed check (check_result.rs:54-55)
CDC_ADVISE = {
    "mysql": "(1)open 'log_bin' configuration. (2)set 'binlog_format' configuration to 'row'. (3)set 'binlog_row_image' configuration to 'full'.",
    "pg": "(1)set 'wal_level' configuration to 'logical'. (2)make sure that the number of 'max_replication_slots' configured is sufficient. (3)make sure that the number of 'max_wal_senders' configured is sufficient.",
    "mongo": "make sure that the configured link address is the master node under a replica set architecture.",
}


def check_mysql_version(version: str) -> CheckResult:
    """MySQL 5.x / 8.x support gate (mysql_prechecker.rs:40-68)."""
    if not version:
        return CheckResult("database_version", "mysql", False, "found no version info.")
    if not _re.match(MYSQL_SUPPORT_DB_VERSION_REGEX, version):
        return CheckResult(
            "database_version", "mysql", False, f"mysql version:[{version}] is invalid."
        )
    return CheckResult("database_version", "mysql", True)


def check_mysql_cdc_vars(variables: dict, is_source: bool = True) -> CheckResult:
    """log_bin/binlog_format/binlog_row_image prerequisites over a captured
    ``SHOW VARIABLES`` snapshot (mysql_prechecker.rs:77-145). Target-side is
    a no-op like the reference (line 80-89)."""
    if not is_source:
        return CheckResult("cdc_supported", "mysql", True, "target: not checked")
    errs = []
    for k in ("log_bin", "binlog_format", "binlog_row_image"):
        v = str(variables.get(k, "")).lower()
        if k == "log_bin" and v != "on":
            errs.append(f"log_bin setting:[{v}] is not 'on'.")
        elif k == "binlog_format" and v != "row":
            errs.append(f"binlog_format setting:[{v}] is not 'row'.")
        elif k == "binlog_row_image" and v != "full":
            errs.append(f"binlog_row_image setting:[{v}] is not 'full'")
    return CheckResult(
        "cdc_supported", "mysql", not errs, ";".join(errs),
        warn="" if not errs else CDC_ADVISE["mysql"],
    )


def check_pg_version(version_num: int | str) -> CheckResult:
    """PG >= 12 support gate over server_version_num (pg_prechecker.rs:46-74)."""
    if version_num in ("", None):
        return CheckResult("database_version", "pg", False, "found no version info")
    n = int(version_num)
    if n < PG_SUPPORT_DB_VERSION_NUM_MIN:
        return CheckResult(
            "database_version", "pg", False, f"version:{n} is not supported yet"
        )
    return CheckResult("database_version", "pg", True)


def check_pg_cdc_vars(
    variables: dict, existing_slots: list | None = None, is_source: bool = True
) -> CheckResult:
    """wal_level/max_replication_slots/max_wal_senders prerequisites plus the
    slot-headroom probe over captured settings + ``pg_replication_slots``
    names (pg_prechecker.rs:83-160). The 'max_wel_senders' spelling is the
    reference's own (pg_prechecker.rs:130)."""
    if not is_source:
        return CheckResult("cdc_supported", "pg", True, "target: not checked")
    errs = []
    wal_level = str(variables.get("wal_level", "")).lower()
    if wal_level != "logical":
        errs.append(
            f"wal_level should not be '{variables.get('wal_level', '')}', need to be 'logical'."
        )
    max_slots = int(variables.get("max_replication_slots", 0))
    if max_slots < 1:
        errs.append(
            f"max_replication_slots needs to be greater than 0. current is '{max_slots}'"
        )
    max_senders = int(variables.get("max_wal_senders", 0))
    if max_senders < 1:
        errs.append(
            f"max_wel_senders needs to be greater than 0, current is '{max_senders}'"
        )
    if not errs and existing_slots is not None and max_slots == len(existing_slots):
        errs.append(
            f"the current number of slots:[{max_slots}] has reached max_replication_slots,"
            " and new slots cannot be created"
        )
    return CheckResult(
        "cdc_supported", "pg", not errs, ";".join(errs),
        warn="" if not errs else CDC_ADVISE["pg"],
    )


def check_mongo_version(version: str) -> CheckResult:
    """Mongo 4.x/5.0/6.0/7.0 support gate (mongo_prechecker.rs:14,38-58)."""
    if not version:
        return CheckResult("database_version", "mongo", False, "found no version info.")
    if not _re.match(MONGO_SUPPORTED_VERSION_REGEX, version):
        return CheckResult(
            "database_version", "mongo", False, f"mongo version:[{version}] is invalid."
        )
    return CheckResult("database_version", "mongo", True)


def check_mongo_cdc(hello: dict, is_source: bool = True) -> CheckResult:
    """Replica-set-primary prerequisite over a captured ``db.hello()``
    document (mongo_prechecker.rs:64-114): oplog tailing needs a replicaSet
    and the configured address must be the master; mongos ('isdbgrid') is
    accepted as-is."""
    if not is_source:
        return CheckResult("cdc_supported", "mongo", True, "target: not checked")
    ok = float(hello.get("ok", 0.0)) >= 1.0
    primary = str(hello.get("primary", "") or "")
    me = str(hello.get("me", "") or "")
    is_mongos = hello.get("msg") == "isdbgrid"
    err = ""
    if not ok:
        err = "fetching mongodb instance status with 'db.hello()' failed."
    elif is_mongos:
        err = ""
    elif not primary or not me:
        err = "mongodb is not a replicaSet architecture."
    elif primary != me:
        err = "the mongodb instance is not a master."
    return CheckResult(
        "cdc_supported", "mongo", not err, err,
        warn="" if not err else CDC_ADVISE["mongo"],
    )


def run_cdc_prechecks(
    db_type: str,
    variables: dict,
    existing_slots: list | None = None,
    hello: dict | None = None,
    version: str | int = "",
    is_source: bool = True,
) -> list:
    """One-call CDC prerequisite bundle per db_type over captured snapshots
    (the reference's Prechecker trait sequence: version then cdc_supported,
    dt-precheck/src/prechecker/traits.rs)."""
    if db_type == "mysql":
        return [check_mysql_version(str(version)), check_mysql_cdc_vars(variables, is_source)]
    if db_type == "pg":
        return [check_pg_version(version), check_pg_cdc_vars(variables, existing_slots, is_source)]
    if db_type == "mongo":
        return [check_mongo_version(str(version)), check_mongo_cdc(hello or {}, is_source)]
    raise ValueError(f"unknown db_type {db_type!r}")


# ---------------------------------------------------------------------------
# live connection prechecks (r16) — CheckItem::CheckDatabaseConnection over
# the repo's own wire clients (dt-precheck/src/fetcher/*/ build_connection):
# each check opens a REAL protocol session against the endpoint, completes
# the handshake (incl. auth when configured), probes the lightest liveness
# surface the protocol offers, and closes. Failures (refused, reset, auth
# rejected, protocol damage) land in CheckResult.detail — never raise.
# ---------------------------------------------------------------------------


def check_mysql_connection(
    host: str, port: int, user: str = "repl", password: str = "",
    timeout: float = 5.0,
) -> CheckResult:
    """v10 handshake + native-password auth + a COM_QUERY ping
    (mysql_fetcher.rs build_connection parity). Detail carries the
    server-reported version on success."""
    from ape_dts_spark.sources.mysql_binlog_client import MysqlBinlogClient

    client = MysqlBinlogClient(host, port, user=user, password=password,
                              timeout=timeout)
    try:
        client.connect()
        client.query_ok("SET @master_binlog_checksum = @@global.binlog_checksum")
        return CheckResult("database_connection", f"mysql://{host}:{port}", True,
                           client.server_version)
    except (ValueError, OSError) as e:
        return CheckResult("database_connection", f"mysql://{host}:{port}", False,
                           str(e)[:200])
    finally:
        client.close()


def check_pg_connection(
    host: str, port: int, user: str = "repl", database: str = "postgres",
    password: str | None = None, timeout: float = 5.0,
) -> CheckResult:
    """v3 walsender startup (replication=database) + IDENTIFY_SYSTEM
    (pg_fetcher.rs build_connection parity). Detail carries
    server_version/system id on success."""
    from ape_dts_spark.sources.pg_replication import PgReplicationClient

    client = PgReplicationClient(host, port, user=user, database=database,
                                password=password, timeout=timeout)
    try:
        client.connect()
        ident = client.identify_system()
        ver = client.parameters.get("server_version", "")
        return CheckResult(
            "database_connection", f"pg://{host}:{port}/{database}", True,
            f"server_version={ver} systemid={ident.get('systemid', '')}")
    except (ValueError, OSError) as e:
        return CheckResult("database_connection", f"pg://{host}:{port}/{database}",
                           False, str(e)[:200])
    finally:
        client.close()


def check_redis_connection(
    host: str, port: int, password: str | None = None, timeout: float = 5.0,
) -> CheckResult:
    """RESP session + AUTH (when configured) + PING -> +PONG
    (redis_fetcher.rs build_connection parity)."""
    from ape_dts_spark.sources.redis_psync import PsyncClient

    client = PsyncClient(host, port, password=password, timeout=timeout)
    try:
        client.connect()
        assert client.conn is not None
        client.conn.send_cmd("PING")
        kind, v, _ = client.conn.read_value()
        if kind == "status" and v in ("PONG", "OK"):
            return CheckResult("database_connection", f"redis://{host}:{port}", True, str(v))
        return CheckResult("database_connection", f"redis://{host}:{port}", False,
                           f"unexpected PING reply: {kind} {v!r}")
    except (ValueError, OSError) as e:
        return CheckResult("database_connection", f"redis://{host}:{port}", False,
                           str(e)[:200])
    finally:
        client.close()


def check_mongo_connection(
    host: str, port: int, username: str | None = None,
    password: str | None = None, timeout: float = 5.0,
) -> CheckResult:
    """OP_MSG hello handshake + SCRAM-SHA-256 when credentials are given
    (mongo_fetcher.rs build_connection parity). Detail carries the
    replica-set name and wire-version range."""
    from ape_dts_spark.sources.mongo_client import MongoWireClient

    client = MongoWireClient(host, port, username=username, password=password,
                            timeout=timeout)
    try:
        client.connect()
        h = client.hello
        return CheckResult(
            "database_connection", f"mongodb://{host}:{port}", True,
            f"setName={h.get('setName', '')} wire="
            f"{h.get('minWireVersion', 0)}-{h.get('maxWireVersion', 0)}")
    except (ValueError, OSError) as e:
        return CheckResult("database_connection", f"mongodb://{host}:{port}",
                           False, str(e)[:200])
    finally:
        client.close()


def run_connection_prechecks(endpoints: list) -> list:
    """One CheckDatabaseConnection per endpoint: ``(kind, host, port)`` or
    ``(kind, host, port, opts_dict)`` with kind in mysql/pg/redis/mongo —
    the connectivity phase the reference runs before any other precheck
    (prechecker/traits.rs sequence)."""
    dispatch = {
        "mysql": check_mysql_connection,
        "pg": check_pg_connection,
        "redis": check_redis_connection,
        "mongo": check_mongo_connection,
    }
    out = []
    for ep in endpoints:
        kind, host, port = ep[0], ep[1], ep[2]
        opts = ep[3] if len(ep) > 3 else {}
        if kind not in dispatch:
            out.append(CheckResult("database_connection", f"{kind}://{host}:{port}",
                                   False, f"unknown endpoint kind {kind!r}"))
            continue
        out.append(dispatch[kind](host, port, **opts))
    return out


def check_redis_psync_permission(
    host: str, port: int, password: str | None = None, timeout: float = 5.0,
) -> CheckResult:
    """The reference's ONLY live account-permission probe
    (redis_prechecker.rs:120-215 — mysql/pg/mongo check_permission are
    unconditional passes whose failures surface at the connection/CDC
    checks instead): attempt the replication handshake itself, REPLCONF
    listening-port + ``PSYNC ? -1``, because PSYNC needs replica privileges
    beyond plain AUTH. Success carries the master's FULLRESYNC identity."""
    from ape_dts_spark.sources.redis_psync import PsyncClient

    client = PsyncClient(host, port, password=password, timeout=timeout)
    try:
        full = client.start_psync()
        if not full:
            return CheckResult("account_permission", f"redis://{host}:{port}",
                               False, "master answered CONTINUE to PSYNC ? -1")
        return CheckResult(
            "account_permission", f"redis://{host}:{port}", True,
            f"replid={client.repl_id} offset={client.repl_offset}")
    except (ValueError, OSError) as e:
        return CheckResult("account_permission", f"redis://{host}:{port}",
                           False, str(e)[:200])
    finally:
        client.close()
