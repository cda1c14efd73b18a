"""Structure migration (DDL translation + struct check) and precheck tests."""

from pyspark.sql import types as T

from ape_dts_spark.config.rdb_filter import RdbFilter
from ape_dts_spark.plans.struct_migration import IndexDef, TableDef, struct_check, to_create_table, to_index_ddl
from ape_dts_spark.precheck import run_prechecks

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DecimalType(18, 2), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
    ]
)

TD = TableDef(schema="default", tb="orders", columns=ORDERS, primary_keys=["o_orderkey"])


def test_mysql_ddl():
    ddl = to_create_table(TD, "mysql")
    assert "CREATE TABLE `default`.`orders`" in ddl
    assert "`o_orderkey` BIGINT NOT NULL" in ddl
    assert "`o_totalprice` DECIMAL(18,2)" in ddl
    assert "`o_orderdate` DATETIME(6)" in ddl
    assert "`tags` JSON" in ddl
    assert "PRIMARY KEY (`o_orderkey`)" in ddl


def test_pg_ddl():
    ddl = to_create_table(TD, "pg")
    assert '"o_totalprice" NUMERIC(18,2)' in ddl
    assert '"tags" TEXT[]' in ddl
    assert 'PRIMARY KEY ("o_orderkey")' in ddl


def test_clickhouse_ddl_soft_delete():
    ddl = to_create_table(TD, "clickhouse")
    assert "ENGINE = ReplacingMergeTree(`_ape_dts_timestamp`)" in ddl
    assert "`_ape_dts_is_deleted` UInt8" in ddl
    assert "ORDER BY (`o_orderkey`)" in ddl
    assert "`o_custkey` Nullable(Int64)" in ddl
    assert "`o_orderkey` Int64" in ddl  # pk not nullable


def test_starrocks_ddl():
    ddl = to_create_table(TD, "starrocks")
    assert "PRIMARY KEY (`o_orderkey`)" in ddl
    assert "`_ape_dts_is_deleted` BOOLEAN" in ddl
    assert "DISTRIBUTED BY HASH (`o_orderkey`)" in ddl


def test_sparksql_ddl():
    ddl = to_create_table(TD, "sparksql")
    assert "USING parquet" in ddl
    assert "`o_orderkey` BIGINT NOT NULL" in ddl
    assert "`tags` ARRAY<STRING>" in ddl


def test_struct_check_detects_drift():
    drifted = T.StructType(
        [f for f in ORDERS.fields if f.name != "tags"]
        + [T.StructField("extra", T.StringType(), True)]
    )
    drifted = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), False),
            T.StructField("o_custkey", T.IntegerType(), True),  # type drift
            T.StructField("o_orderstatus", T.StringType(), False),  # nullable drift
            T.StructField("o_totalprice", T.DecimalType(18, 2), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("extra", T.StringType(), True),  # extra
        ]
    )
    dst = TableDef(schema="default", tb="orders", columns=drifted, primary_keys=[])
    issues = {(i["kind"], i["object"]) for i in struct_check(TD, dst)}
    assert ("missing_column", "tags") in issues
    assert ("type_mismatch", "o_custkey") in issues
    assert ("nullable_mismatch", "o_orderstatus") in issues
    assert ("extra_column", "extra") in issues
    assert ("pk_mismatch", "PRIMARY KEY") in issues


def test_struct_check_clean():
    assert struct_check(TD, TD) == []


def test_prechecks(spark, sf_dir):
    filt = RdbFilter(do_tbs="default.orders,default.lineitem")
    res = run_prechecks(
        spark,
        sf_dir,
        ["orders", "lineitem", "nosuch"],
        filt=filt,
        registry={"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"], "nosuch": []},
    )
    by = {(r.check, r.object): r for r in res}
    assert by[("source_readable", "orders")].ok
    assert not by[("source_readable", "nosuch")].ok
    assert by[("filter_matches", "default.*")].ok
    assert by[("primary_keys", "orders")].ok
    assert not by[("primary_keys", "nosuch")].ok


IDX = [
    IndexDef("idx_name", ("name",)),
    IndexDef("uq_email", ("email", "tenant"), unique=True),
]


def _indexed_td():
    cols = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("tenant", T.StringType()),
    ])
    return TableDef("db", "users", cols, primary_keys=["id"], indexes=IDX)


def test_index_ddl_all_dialects():
    td = _indexed_td()
    my = to_index_ddl(td, "mysql")
    assert my[0] == "CREATE INDEX `idx_name` ON `db`.`users` (`name`)"
    assert my[1].startswith("CREATE UNIQUE INDEX `uq_email`")
    pg = to_index_ddl(td, "pg")
    assert pg[1] == 'CREATE UNIQUE INDEX "uq_email" ON "db"."users" ("email", "tenant")'
    ch = to_index_ddl(td, "clickhouse")
    assert "ADD INDEX `idx_name`" in ch[0] and ch[1].startswith("-- skipped")
    sr = to_index_ddl(td, "starrocks")
    assert "USING BITMAP" in sr[0] and sr[1].startswith("-- skipped")
    ss = to_index_ddl(td, "sparksql")
    assert all(s.startswith("-- skipped") for s in ss)  # no index objects


def test_struct_check_index_drift():
    src_td = _indexed_td()
    dst_td = _indexed_td()
    # drop one index, weaken the unique constraint on the other
    dst_td.indexes = [IndexDef("uq_email", ("email", "tenant"), unique=False)]
    kinds = {i["kind"] for i in struct_check(src_td, dst_td)}
    assert kinds == {"missing_index", "index_mismatch"}
    assert struct_check(src_td, _indexed_td()) == []


def test_precheck_breadth(spark, sf_dir, tmp_path):
    """New dt-precheck parity slice: target writability, key existence/type,
    filter-config validity, CDC-source envelope sanity."""
    import json as _json

    from ape_dts_spark.precheck import run_prechecks

    cdc_dir = str(tmp_path / "cdc")
    import os as _os
    _os.makedirs(cdc_dir)
    with open(_os.path.join(cdc_dir, "b.jsonl"), "w") as f:
        f.write(_json.dumps({"op": "c", "after": {"x": 1},
                             "source": {"db": "d", "table": "t", "ts_ms": 1, "seq": 1}}) + "\n")

    res = run_prechecks(
        spark,
        sf_dir,
        ["orders", "nation"],
        filt=RdbFilter(do_events="insert,bogus"),
        registry={"orders": ["o_orderkey"], "nation": ["no_such_col"]},
        target_dir=str(tmp_path / "tgt"),
        cdc_source_dir=cdc_dir,
    )
    by = {}
    for r in res:
        by.setdefault(r.check, []).append(r)
    assert all(r.ok for r in by["target_writable"])
    assert all(r.ok for r in by["cdc_source"])
    # bogus event type flagged, valid one passes through
    ev = {r.object: r.ok for r in by["filter_config"]}
    assert ev["do_events"] is False and ev["where_conditions"] is True
    keys = {r.object: r.ok for r in by["key_columns_exist"]}
    assert keys["orders.o_orderkey"] is True
    assert keys["nation.no_such_col"] is False


def test_source_readable_flags_a_non_parquet_file(spark, tmp_path, spark_jobs):
    """A .parquet directory holding a file that is not parquet fails
    source_readable; a good table passes without a Spark job."""
    from ape_dts_spark.precheck import check_source_readable

    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("not a parquet file\n")
    spark.range(3).write.parquet(str(tmp_path / "good.parquet"))
    with spark_jobs() as jobs:
        res = {r.object: r for r in check_source_readable(spark, str(tmp_path), ["bad", "good"])}
    assert res["bad"].ok is False and res["bad"].detail
    assert res["good"].ok is True
    assert jobs.n == 0


def test_precheck_cdc_source_missing(spark, tmp_path):
    from ape_dts_spark.precheck import check_cdc_source

    res = check_cdc_source(spark, str(tmp_path / "nope"))
    assert res[0].ok is False


def test_database_sequence_comment_objects():
    from ape_dts_spark.plans.struct_migration import (
        SequenceDef,
        to_comment_ddl,
        to_create_table,
        to_database_ddl,
        to_sequence_ddl,
    )

    assert to_database_ddl("db", "pg") == 'CREATE SCHEMA IF NOT EXISTS "db"'
    assert to_database_ddl("db", "mysql") == "CREATE DATABASE IF NOT EXISTS `db`"

    seq = SequenceDef("users_id_seq", start=100, increment=2, owned_by="users.id")
    pg = to_sequence_ddl("db", seq, "pg")
    assert pg[0] == 'CREATE SEQUENCE IF NOT EXISTS "db"."users_id_seq" START WITH 100 INCREMENT BY 2'
    assert 'OWNED BY "db"."users"."id"' in pg[1]
    assert to_sequence_ddl("db", seq, "mysql")[0].startswith("-- sequence")
    assert to_sequence_ddl("db", seq, "clickhouse")[0].startswith("-- skipped")

    cols = T.StructType([
        T.StructField("id", T.LongType(), False, {"comment": "surrogate key"}),
        T.StructField("name", T.StringType()),
    ])
    td = TableDef("db", "users", cols, primary_keys=["id"], comment="user table")
    ddl = to_create_table(td, "mysql")
    assert "COMMENT 'surrogate key'" in ddl
    oux = to_comment_ddl(td)
    assert oux[0] == 'COMMENT ON TABLE "db"."users" IS \'user table\''
    assert oux[1] == 'COMMENT ON COLUMN "db"."users"."id" IS \'surrogate key\''


def test_migration_plan_structure_filter():
    """migration_plan assembles database -> sequence -> table -> index ->
    comment in order and gates object families via do_structures."""
    from ape_dts_spark.config.rdb_filter import RdbFilter
    from ape_dts_spark.plans.struct_migration import SequenceDef, migration_plan

    td = TableDef(
        schema="db",
        tb="t",
        columns=T.StructType([T.StructField("id", T.LongType(), False)]),
        primary_keys=("id",),
        indexes=(IndexDef("ix_id", ("id",), unique=False),),
    )
    seqs = [SequenceDef("t_id_seq", start=1, increment=1)]

    full = migration_plan("db", [td], "pg", sequences=seqs)
    joined = "\n".join(full)
    assert joined.index("CREATE SCHEMA") < joined.index("CREATE SEQUENCE")
    assert joined.index("CREATE SEQUENCE") < joined.index("CREATE TABLE")
    assert joined.index("CREATE TABLE") < joined.index("CREATE INDEX")

    only_tables = migration_plan(
        "db", [td], "pg", sequences=seqs,
        rdb_filter=RdbFilter(do_structures="table"),
    )
    assert any("CREATE TABLE" in s for s in only_tables)
    assert not any("CREATE SCHEMA" in s or "CREATE SEQUENCE" in s or "CREATE INDEX" in s
                   for s in only_tables)


def test_identifier_and_comment_escaping():
    """Special-character identifiers (mysql_to_mysql_case_sensitive /
    special-char tests): embedded quote chars double, comment quotes escape."""
    import pyspark.sql.types as T

    from ape_dts_spark.plans.struct_migration import IndexDef, TableDef, to_create_table, to_index_ddl, to_comment_ddl

    cols = T.StructType([
        T.StructField("weird`col", T.LongType(), False),
        T.StructField('quo"ted', T.StringType(), True,
                      metadata={"comment": "it's quoted"}),
    ])
    td = TableDef(schema="my`db", tb='t"x', columns=cols, primary_keys=["weird`col"],
                  comment="don't drop",
                  indexes=[IndexDef("ix`1", ("weird`col",))])
    my = to_create_table(td, "mysql")
    assert "`weird``col`" in my and "`my``db`" in my
    assert "COMMENT 'it''s quoted'" in my
    pg = to_create_table(td, "pg")
    assert '"quo""ted"' in pg and '"t""x"' in pg
    assert any("'don''t drop'" in s for s in to_comment_ddl(td))
    assert any("`ix``1`" in s for s in to_index_ddl(td, "mysql"))


def test_upsert_sql_identifier_escaping(spark):
    from ape_dts_spark.sinks.upsert_sql import _quoted, _table

    assert _quoted("mysql", "a`b") == "`a``b`"
    assert _quoted("pg", 'a"b') == '"a""b"'
    df = spark.createDataFrame([("d`b", "t`b")], "schema string, tb string")
    assert df.select(_table("mysql").alias("t")).collect()[0]["t"] == "`d``b`.`t``b`"


def test_fk_config_precheck():
    from ape_dts_spark.precheck import check_fk_config

    tables = ["region", "nation", "customer"]
    ok = check_fk_config(tables, "nation:region, customer:nation")
    assert all(r.ok for r in ok)
    bad = check_fk_config(tables, "nation:region, bogus")
    assert any(r.check == "fk_config_parse" and not r.ok for r in bad)
    unknown = check_fk_config(tables, "customer:planet")
    assert any(r.check == "fk_table_known" and not r.ok for r in unknown)
    cyc = check_fk_config(["a", "b"], "a:b,b:a")
    assert any(r.check == "fk_acyclic" and not r.ok for r in cyc)


def test_udf_udt_rbac_pg_ddl_round_trip():
    """The three remaining structure_type.rs object kinds (Udf/Udt/Rbac) ride
    the migration plan with real PG DDL and survive a schema_object_check
    round-trip; drift in any family is reported."""
    from ape_dts_spark.plans.struct_migration import (
        RbacDef,
        SequenceDef,
        UdfDef,
        UdtDef,
        migration_plan,
        schema_object_check,
    )

    udts = [UdtDef("mood", kind="enum", values=("sad", "ok", "happy")),
            UdtDef("pair", kind="composite", attributes=(("a", "integer"), ("b", "text")))]
    udfs = [UdfDef("add2", args="a integer, b integer", returns="integer",
                   language="sql", body="SELECT a + b")]
    rbac = [RbacDef("analyst", grants=("SELECT ON TABLE orders",))]
    plan = migration_plan("db", [TD], "pg", udts=udts, udfs=udfs, rbac=rbac)
    text = "\n".join(plan)
    assert 'CREATE TYPE "db"."mood" AS ENUM (\'sad\', \'ok\', \'happy\')' in text
    assert 'CREATE TYPE "db"."pair" AS ("a" integer, "b" text)' in text
    assert 'CREATE OR REPLACE FUNCTION "db"."add2"(a integer, b integer)' in text
    assert "RETURNS integer LANGUAGE sql AS $body$ SELECT a + b $body$" in text
    assert 'CREATE ROLE "analyst"' in text
    assert 'GRANT SELECT ON TABLE orders TO "analyst"' in text
    # types precede tables; grants come last
    assert text.index("CREATE TYPE") < text.index("CREATE TABLE") < text.index("GRANT ")

    src = {"udfs": udfs, "udts": udts, "rbac": rbac, "sequences": [SequenceDef("s1")]}
    assert schema_object_check(src, dict(src)) == []
    drifted = {
        "udfs": [],  # dropped function
        "udts": [UdtDef("mood", kind="enum", values=("sad", "happy")), udts[1]],
        "rbac": rbac + [RbacDef("intern")],
        "sequences": [SequenceDef("s1")],
    }
    kinds = {i["kind"] for i in schema_object_check(src, drifted)}
    assert kinds == {"missing_udf", "udt_mismatch", "extra_rbac"}


def test_udf_udt_rbac_other_dialects_meta_log():
    """Dialects without these object kinds meta-log instead of silently
    dropping; RBAC-capable engines emit real CREATE ROLE/GRANT."""
    from ape_dts_spark.plans.struct_migration import RbacDef, UdfDef, UdtDef, to_rbac_ddl, to_udf_ddl, to_udt_ddl

    assert to_udt_ddl("db", UdtDef("mood", values=("a",)), "mysql")[0].startswith("-- skipped:")
    assert to_udf_ddl("db", UdfDef("f"), "sparksql")[0].startswith("-- skipped:")
    assert to_rbac_ddl("db", RbacDef("r"), "sparksql")[0].startswith("-- skipped:")
    ch = to_rbac_ddl("db", RbacDef("r", grants=("SELECT ON db.*",)), "clickhouse")
    assert ch == ["CREATE ROLE IF NOT EXISTS `r`", "GRANT SELECT ON db.* TO `r`"]


def test_migration_plan_filters_new_object_kinds():
    from ape_dts_spark.plans.struct_migration import RbacDef, UdfDef, UdtDef, migration_plan

    f = RdbFilter(do_structures="table,udf")
    plan = migration_plan(
        "db", [TD], "pg",
        udts=[UdtDef("mood", values=("a",))],
        udfs=[UdfDef("f", body="SELECT 1")],
        rbac=[RbacDef("r")],
        rdb_filter=f,
    )
    text = "\n".join(plan)
    assert "CREATE OR REPLACE FUNCTION" in text and "CREATE TABLE" in text
    assert "CREATE TYPE" not in text and "CREATE ROLE" not in text


def test_jdbc_config_prechecks(spark):
    from ape_dts_spark.precheck import check_jdbc_config

    bad = check_jdbc_config(spark, "mysql://host/db")
    assert len(bad) == 1 and not bad[0].ok and "jdbc:<dialect>" in bad[0].detail

    unknown = check_jdbc_config(spark, "jdbc:weird://h/db", {"user": "u"})
    assert any(r.check == "jdbc_url" and not r.ok for r in unknown)

    res = {r.check: r for r in check_jdbc_config(spark, "jdbc:mysql://h:3306/db", {"user": "u"})}
    assert res["jdbc_url"].ok and res["jdbc_credentials"].ok
    # in this container no driver jar is shipped: the check must FAIL loudly
    # with the remediation, not pass silently
    assert not res["jdbc_driver_class"].ok and "classpath" in res["jdbc_driver_class"].detail

    nouser = {r.check: r for r in check_jdbc_config(spark, "jdbc:postgresql://h/db")}
    assert not nouser["jdbc_credentials"].ok


def test_struct_revise_plan_full_vocabulary(spark):
    """struct_revise_plan covers the discrepancy kinds the gated drifted-twin
    corpus doesn't reach: nullability drift (SET/DROP NOT NULL vs MODIFY
    re-statement), index add/mismatch/extra (drop+recreate), and the
    pk-mismatch manual comment."""
    from pyspark.sql import types as T

    from ape_dts_spark.plans.struct_migration import IndexDef, TableDef, struct_revise_plan

    cols = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("bal", T.DecimalType(12, 2), True),
        ]
    )
    src = TableDef(
        schema="app", tb="users", columns=cols, primary_keys=["id"],
        indexes=[IndexDef("ix_name", ["name"], False), IndexDef("ix_bal", ["bal"], True)],
    )
    dst_cols = T.StructType(
        [
            T.StructField("id", T.LongType(), True),       # nullable drift
            T.StructField("name", T.StringType(), True),
            # bal missing -> ADD COLUMN
            T.StructField("legacy", T.StringType(), True),  # extra -> DROP
        ]
    )
    dst = TableDef(
        schema="app", tb="users", columns=dst_cols, primary_keys=[],
        indexes=[IndexDef("ix_name", ["name"], True)],      # unique drift
        # ix_bal missing entirely
    )
    my = struct_revise_plan(src, dst, "mysql")
    assert "ALTER TABLE `app`.`users` ADD COLUMN `bal` DECIMAL(12,2)" in my
    assert "ALTER TABLE `app`.`users` MODIFY COLUMN `id` BIGINT NOT NULL" in my
    assert "ALTER TABLE `app`.`users` DROP COLUMN `legacy`" in my
    assert "DROP INDEX `ix_name` ON `app`.`users`" in my
    assert any(s.startswith("CREATE INDEX `ix_name`") for s in my)
    assert any("ix_bal" in s and "UNIQUE" in s for s in my)
    assert any(s.startswith("-- manual: PRIMARY KEY mismatch") for s in my)

    pg = struct_revise_plan(src, dst, "pg")
    assert 'ALTER TABLE "app"."users" ALTER COLUMN "id" SET NOT NULL' in pg
    assert 'ALTER TABLE "app"."users" ADD COLUMN "bal" NUMERIC(12,2)' in pg
    # reverse drift: target NOT NULL where source is nullable -> DROP NOT NULL
    back = struct_revise_plan(dst, src, "pg")
    assert 'ALTER TABLE "app"."users" ALTER COLUMN "id" DROP NOT NULL' in back


def test_struct_revise_plan_executes_and_converges_live(spark):
    """The PG-dialect revise plan is not just string-shaped: executed on a
    LIVE engine (DuckDB speaks the PG DDL dialect), it converges a drifted
    table to the source structure — re-running struct_check against the
    re-introspected live table yields zero column discrepancies."""
    import duckdb
    from pyspark.sql import types as T

    from ape_dts_spark.plans.struct_migration import TableDef, struct_check, struct_revise_plan

    src_cols = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("bal", T.DecimalType(12, 2), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    src = TableDef(schema="app", tb="users", columns=src_cols)
    con = duckdb.connect()
    con.execute("CREATE SCHEMA app")
    # drifted live table: bal missing, note mistyped, extra legacy column
    con.execute(
        'CREATE TABLE app.users ("id" BIGINT NOT NULL, "name" TEXT, '
        '"note" BIGINT, "legacy" TEXT)'
    )

    def introspect() -> TableDef:
        rows = con.execute(
            "SELECT column_name, data_type, is_nullable FROM information_schema.columns "
            "WHERE table_schema = 'app' AND table_name = 'users' ORDER BY ordinal_position"
        ).fetchall()
        m = {"BIGINT": T.LongType(), "VARCHAR": T.StringType(),
             "DECIMAL(12,2)": T.DecimalType(12, 2)}
        return TableDef(
            schema="app", tb="users",
            columns=T.StructType(
                [T.StructField(n, m[dt], null == "YES") for n, dt, null in rows]
            ),
        )

    plan = struct_revise_plan(src, introspect(), "pg")
    for stmt in plan:
        if not stmt.startswith("--"):
            con.execute(stmt)
    # NUMERIC(12,2) renders as DECIMAL(12,2) in DuckDB's catalog; TEXT as VARCHAR
    issues = struct_check(src, introspect())
    assert issues == [], issues
