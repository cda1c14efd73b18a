"""Watermarked windowed aggregation + applyInPandasWithState stateful dedup."""

import os

from pyspark.sql import functions as F

from ape_dts_spark import demo
from ape_dts_spark.streaming.cdc import parse_debezium, read_json_change_stream, write_debezium_jsonl
from ape_dts_spark.streaming.windowed import (
    heartbeat_lag,
    session_windows,
    stateful_seq_dedup,
    windowed_event_counts,
)

from tests.test_streaming import PAYLOAD, ev


def test_windowed_counts_batch(spark, sf_dir):
    ev_df = demo.load(spark, sf_dir, "events")
    out = windowed_event_counts(ev_df, window="1 day")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == ev_df.count()
    # windows are aligned day buckets
    assert all((r["window_end"] - r["window_start"]).days == 1 for r in rows)


def test_windowed_counts_streaming(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_in")
    demo.load(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = windowed_event_counts(stream, window="1 day", watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT SUM(n) AS n FROM win_counts").collect()[0]["n"]
    assert got == demo.load(spark, sf_dir, "events").count()


def test_session_windows_batch_merges_gaps(spark, sf_dir):
    ev_df = demo.load(spark, sf_dir, "events")
    out = session_windows(ev_df, gap="30 minutes", key_cols=["user_id"])
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == ev_df.count()
    # session bounds: end = last event + gap, so every session spans >= gap
    assert all(r["session_end_ms"] - r["session_start_ms"] >= 30 * 60 * 1000 for r in rows)
    # sessions of one user never overlap
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start_ms"], r["session_end_ms"]))
    for spans in by_user.values():
        spans.sort()
        assert all(a_end <= b_start for (_, a_end), (b_start, _) in zip(spans, spans[1:]))


def test_session_windows_streaming(spark, sf_dir, tmp_path):
    src = str(tmp_path / "sess_in")
    demo.load(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = session_windows(stream, gap="30 minutes", key_cols=["user_id"], watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT SUM(n_events) AS n FROM sess_counts").collect()[0]["n"]
    assert got == demo.load(spark, sf_dir, "events").count()


def test_stateful_seq_dedup_drops_replays(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_debezium_jsonl(
        [
            ev("c", after={"id": 1, "name": "a", "bal": 1}, seq=1),
            ev("u", before={"id": 1, "name": "a", "bal": 1}, after={"id": 1, "name": "a", "bal": 2}, seq=2),
            ev("c", after={"id": 2, "name": "b", "bal": 9}, seq=3),
            # replay of seq 2 for key 1 (e.g. a source reconnect replaying the log)
            ev("u", before={"id": 1, "name": "a", "bal": 1}, after={"id": 1, "name": "a", "bal": 2}, seq=2),
            # fresh event after the replay
            ev("u", before={"id": 1, "name": "a", "bal": 2}, after={"id": 1, "name": "a", "bal": 3}, seq=4),
        ],
        os.path.join(src, "b1.jsonl"),
    )
    changes = read_json_change_stream(spark, src, PAYLOAD)
    deduped = stateful_seq_dedup(changes, ["id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM deduped ORDER BY seq").collect()
    seqs = [r["seq"] for r in rows]
    assert seqs == [1, 2, 3, 4]  # the replayed seq=2 appears once


def test_heartbeat_lag(spark, sf_dir):
    ev_df = demo.load(spark, sf_dir, "events")
    row = heartbeat_lag(ev_df).collect()[0]
    assert row["n_events"] == ev_df.count()
    assert row["max_event_ts"] == ev_df.agg(F.max("ts")).collect()[0][0]


def test_sliding_counts_every_event_in_two_buckets(spark, sf_dir):
    from ape_dts_spark import demo
    from ape_dts_spark.streaming import windowed as wd
    from pyspark.sql import functions as F

    ev = demo.load(spark, sf_dir, "events")
    out = wd.sliding_event_counts(ev, window="2 days", slide="1 day")
    total = out.agg(F.sum("n")).first()[0]
    assert total == 2 * ev.count()


def test_stream_stream_interval_join_batch_twin(spark):
    """Batch-mode hand case for the stream-stream join (identical plan minus
    watermark): right events pair iff same key and ts within [l.ts, l.ts+10s];
    bounds are inclusive on both ends."""
    from ape_dts_spark.streaming.windowed import stream_stream_interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:01:00")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:05"),   # in window
            (1, "2024-01-01 00:00:10"),   # boundary: inclusive
            (1, "2024-01-01 00:00:11"),   # past upper bound
            (1, "2023-12-31 23:59:59"),   # before lower bound
            (2, "2024-01-01 00:01:03"),   # in window, other key
            (9, "2024-01-01 00:00:05"),   # no matching key
        ],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    out = stream_stream_interval_join(left, right, key="k", ts_col="ts", lower_s=0, upper_s=10)
    pairs = sorted((r["l.k"] if "l.k" in r else r[0], str(r[3])) for r in out.collect())
    assert len(pairs) == 3


def test_windowed_counts_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The at-scale state backend: the same watermarked windowed aggregation
    runs under the RocksDB state store provider (rocksdbjni ships on
    Spark's classpath) and produces identical results to the default
    HDFS-backed store. At 100 TB of stream state, RocksDB is the provider
    that keeps executor heaps bounded (state lives off-heap/on-disk with
    changelog checkpointing) — this pins the code path as actually runnable,
    not just a deployment note."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    src = str(tmp_path / "stream_in")
    demo.load(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = windowed_event_counts(stream, window="1 day", watermark="1 day")
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("win_counts_rocks")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)
    rocks = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts_rocks").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in windowed_event_counts(
            demo.load(spark, sf_dir, "events"), window="1 day"
        ).collect()
    }
    assert rocks == batch
