"""Runnable tour of the at-rest CDC transports — every replication log the
engine can recover state from WITHOUT a live server connection, each with a
deterministic writer (fixture generator / dump sink) and a distributed
parser, and each driving the same downstream compact+apply machinery:

  1. MySQL binlog files        sources/binlog_file.py   (v4 events, CRC32,
                               GTID chain, TRANSACTION_PAYLOAD, binary JSON)
  2. PG pgoutput segments      sources/pgoutput_file.py (XLogData framing,
                               replica identities, v2 streamed txns)
  3. Mongo oplog dumps         sources/oplog_file.py    (BSON, $v:2 deltas,
                               applyOps, per-_id fold)
  4. Kafka log segments        sources/kafka_segment.py (record-batch v2,
                               CRC32C, gzip, envelope decode)
  5. Redis AOF directory       sources/aof_manifest.py  (manifest + base RDB
                               + incr RESP, state composition)

Each also has a Structured-Streaming tail (stream_* variants) for
continuous ingestion with checkpoint resume — see tests/test_binlog_file.py
and tests/test_pgoutput.py for pipeline-driving examples.

Usage: python examples/at_rest_cdc.py   (writes fixtures under /tmp)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from ape_dts_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("at-rest-cdc-demo")
    base = tempfile.mkdtemp(prefix="at_rest_cdc_")

    # 1. MySQL binlog -------------------------------------------------------
    from ape_dts_spark.sources import binlog_file as bf

    users = bf.BinlogTable(
        "db", "users",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("name", bf.MYSQL_TYPE_VARCHAR, 255)),
        table_id=11,
    )
    tables = {("db", "users"): users}
    txns = [[(("db", "users"), "insert", None, {"id": i, "name": f"u{i}"})]
            for i in range(1, 6)]
    txns.append([(("db", "users"), "delete", {"id": 3, "name": "u3"}, None)])
    d = os.path.join(base, "binlog")
    os.makedirs(d)
    bf.write_binlog_files(txns, tables, d, per_file=3)
    n = (bf.read_binlog_files(spark, d, tables)
         .filter(F.col("row_type").isin("insert", "delete")).count())
    print(f"binlog      : {n} change rows from a 2-file rotation chain")

    # 2. PG pgoutput --------------------------------------------------------
    from ape_dts_spark.sources import pgoutput_file as pgf

    t = pgf.PgTable("public", "users",
                    (("id", 20, True), ("name", 25, False)), rel_id=7)
    ptables = {("public", "users"): t}
    ptxns = [[(("public", "users"), "insert", None, {"id": i, "name": f"u{i}"})]
             for i in range(1, 4)]
    d = os.path.join(base, "pgwal")
    os.makedirs(d)
    pgf.write_pgoutput_files(ptxns, ptables, d)
    rows = pgf.read_pgoutput_files(spark, d).filter(F.col("row_type") == "insert")
    print(f"pgoutput    : {rows.count()} inserts, self-described (no registry)")

    # 3. Mongo oplog --------------------------------------------------------
    from ape_dts_spark.sources import bson_codec as bc
    from ape_dts_spark.sources import oplog_file as ofl

    entries = [
        ofl.entry_insert("app.users", {"_id": 1, "name": "a", "tags": {"x": 1}},
                         bc.Timestamp(10, 1)),
        ofl.entry_update_v2("app.users", 1,
                            {"u": {"name": "aa"}, "stags": {"i": {"y": 2}}},
                            bc.Timestamp(11, 1)),
    ]
    d = os.path.join(base, "oplog")
    os.makedirs(d)
    ofl.write_oplog_files(entries, d)
    state = ofl.fold_oplog_state(ofl.read_oplog_files(spark, d)).collect()
    print(f"oplog       : folded state {json.loads(state[0]['doc'])}")

    # 4. Kafka segments -----------------------------------------------------
    from ape_dts_spark.sources import kafka_segment as ks

    msgs = [(b"k", json.dumps({"schema": "db", "tb": "t", "operation": "insert",
                               "before": None, "after": {"id": i}, "seq": i}).encode(),
             None) for i in range(40)]
    d = os.path.join(base, "kafka")
    ks.write_segment_files(msgs, d, "cdc", 0, per_batch=16, per_segment=20,
                           compression="gzip")
    got = ks.read_kafka_segments(spark, d).count()
    print(f"kafka       : {got} messages from gzip record batches (CRC32C ok)")

    # 5. Redis AOF directory ------------------------------------------------
    from ape_dts_spark.sources import aof_manifest as am
    from ape_dts_spark.sources.redis import compact_entries

    base_entries = [{"db_id": 0, "key": "greeting", "entry_type": "string",
                     "member": None, "value": "hello", "ord": 0, "expire_ms": None}]
    incr = [["SET", "greeting", "world"], ["SADD", "tags", "x", "y"]]
    d = os.path.join(base, "appendonlydir")
    am.write_manifest_dir(base_entries, [incr], d)
    final = compact_entries(am.read_aof_manifest(spark, d)).collect()
    kv = {r["key"]: r["value"] or r["member"] for r in final}
    print(f"aof manifest: recovered keys {sorted(kv)}")

    print(f"\nfixtures under {base}")


if __name__ == "__main__":
    main()
