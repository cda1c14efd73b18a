"""A Structured-Streaming tail of a change-file directory collects the same
rows as the batch scan of that directory, ``seq`` included.

Both paths run the one file scan runner (``session._scan_files``); this
checks that the streaming side keeps the per-file decode whole — in
particular the chain ``seq`` globalization, which a one-file micro-batch
(``max_files_per_trigger=1``) would lose if the stream path decoded files
without their place in the chain.
"""

from __future__ import annotations

import os

import pytest

from ape_dts_spark.sources import binlog_file as bf
from ape_dts_spark.sources import bson_codec as bc
from ape_dts_spark.sources import kafka_segment as ks
from ape_dts_spark.sources import oplog_file as of
from ape_dts_spark.sources import pgoutput_file as pg

BINLOG_TABLES = {
    ("db", "users"): bf.BinlogTable(
        "db", "users",
        (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("name", bf.MYSQL_TYPE_VARCHAR, 255)),
        101,
    )
}
PG_TABLES = {
    ("public", "users"): pg.PgTable(
        "public", "users", (("id", 20, True), ("name", 25, False)),
        rel_id=77, replident="d",
    )
}


def _binlog(spark, out, stream):
    bf.write_binlog_files(
        [[(("db", "users"), "insert", None, {"id": i, "name": f"u{i}"})] for i in range(7)],
        BINLOG_TABLES, out, per_file=3,
    )
    if stream:
        return bf.stream_binlog_files(spark, out, BINLOG_TABLES, max_files_per_trigger=1)
    return bf.read_binlog_files(spark, out, BINLOG_TABLES)


def _pgoutput(spark, out, stream):
    pg.write_pgoutput_files(
        [[(("public", "users"), "insert", None, {"id": i, "name": f"u{i}"})] for i in range(7)],
        PG_TABLES, out, per_file=3,
    )
    if stream:
        return pg.stream_pgoutput_files(spark, out, max_files_per_trigger=1)
    return pg.read_pgoutput_files(spark, out)


def _oplog(spark, out, stream):
    of.write_oplog_files(
        [of.entry_insert("db.u", {"_id": i}, bc.Timestamp(1, i)) for i in range(7)],
        out, per_file=3,
    )
    if stream:
        return of.stream_oplog_files(spark, out, max_files_per_trigger=1)
    return of.read_oplog_files(spark, out)


def _kafka(spark, out, stream):
    msgs = [(f"k{i}".encode(), f"v{i}".encode(), None) for i in range(25)]
    ks.write_segment_files(msgs, out, "t", 0, per_batch=5, per_segment=10)
    if stream:
        return ks.stream_kafka_segments(spark, out, max_files_per_trigger=1)
    return ks.read_kafka_segments(spark, out)


def _canon(row) -> tuple:
    """A sortable, hashable form of a collected row (maps as sorted items)."""
    return tuple(
        (k, tuple(sorted(v.items())) if isinstance(v, dict) else v)
        for k, v in row.asDict().items()
    )


@pytest.mark.parametrize("source", [_binlog, _pgoutput, _oplog, _kafka],
                         ids=["binlog", "pgoutput", "oplog", "kafka"])
def test_stream_tail_equals_batch_scan(spark, tmp_path, source):
    batch_dir, stream_dir = str(tmp_path / "batch"), str(tmp_path / "stream")
    os.makedirs(batch_dir), os.makedirs(stream_dir)
    want = sorted(_canon(r) for r in source(spark, batch_dir, stream=False).collect())
    got = []
    q = (
        source(spark, stream_dir, stream=True)
        .writeStream.foreachBatch(lambda b, _id: got.extend(_canon(r) for r in b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(want) > 5
    assert sorted(got) == want
