"""Watermarked windowed aggregation + custom stateful operators.

The reference needs neither (source logs are totally ordered, SURVEY §2.8) —
these are the multi-source/streaming extensions a Spark-native engine adds:

- ``windowed_event_counts``: event-time tumbling windows with a watermark, so
  late data is folded in until the watermark passes and state is then
  evicted — the standard Structured Streaming windowed-agg shape. State per
  (window, event_type) only; scales horizontally with key cardinality.
- ``stateful_seq_dedup``: ``applyInPandasWithState`` operator that drops
  change events at-or-below the last applied ``seq`` per key — the
  exactly-once replay guard as a *streaming* operator (the batch engine gets
  the same via the target's epoch bookkeeping). State = one long per key,
  with TTL via the configured timeout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows with late-data tolerance = watermark.

    Works on batch DataFrames too (same plan, watermark is a no-op there).
    Output: (window_start, window_end, event_type, n, total_value).
    """
    # Watermarks require TIMESTAMP (with local tz); parquet micros columns
    # arrive as TIMESTAMP_NTZ. The cast is value-preserving under the UTC
    # session timezone the engine pins (session.py).
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "2 days",
    slide: str = "1 day",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    window/slide overlapping buckets (`F.window` with a slide duration —
    the moving-average / rolling-rate shape next to the tumbling operator).
    Works on batch DataFrames too. Output: (window_start, window_end,
    event_type, n)."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization via ``F.session_window`` — merge events whose
    inter-arrival gap is under ``gap`` into one session per key.

    Session end = last event + gap (Spark's contract; windows are
    end-exclusive, so an event exactly ``gap`` later starts a new session).
    Output bounds are epoch millis (BIGINT) so results are timezone- and
    engine-canonical. Works on batch and streaming inputs; streaming state is
    per (key, open session) and evicted by the watermark.

    100-TB shape: one shuffle on the grouping keys; Spark merges sessions
    inside the aggregation (no self-join, no window-function sort over the
    whole table like the gaps-and-islands SQL formulation needs).
    """
    key_cols = key_cols or ["user_id"]
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming and watermark:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
        )
        .select(
            *key_cols,
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
            "n_purchases",
        )
    )


_DEDUP_STATE_SCHEMA = "ks array<string>, seqs array<long>"
_DEDUP_OUT_SCHEMA = (
    "schema string, tb string, row_type string, seq long, key string"
)
_DEDUP_COLS = ["schema", "tb", "row_type", "seq", "key"]
# hash buckets per (schema, tb); each is one state group, so one Python call
# per bucket per trigger
_STATE_BUCKETS = 64


def _dedup_fn(key: tuple, pdfs, state: GroupState):
    """Emit only events with seq above the stored per-key high-water mark;
    replays inside the same micro-batch are deduped too. The group is one
    hash BUCKET of keys (see stateful_seq_dedup), so this runs once per
    bucket per trigger instead of once per key — the per-group Python
    invocation was the dominant cost at ~12k keys/trigger (guide §4
    boundary cost; §2.3 "aggregate before you shuffle" in spirit). State is
    the bucket's (key -> max_seq) map as two parallel arrays.

    The group's Arrow chunks are concatenated BEFORE sorting — advancing a
    key's watermark chunk-by-chunk would wrongly drop a later chunk whose
    seqs sit below an earlier chunk's max (chunk order within a batch is
    shuffle-nondeterministic)."""
    if state.exists:
        ks, seqs = state.get
        last = dict(zip(ks, seqs))
    else:
        last = {}
    # materializing the bucket's chunks is bounded: one bucket's events in
    # one micro-batch (state scope), not the whole stream
    chunks = list(pdfs)
    whole = chunks[0] if len(chunks) == 1 else (
        pd.concat(chunks) if chunks else pd.DataFrame()
    )
    if len(whole):
        # vectorized per-key monotonic filter: sort by (key, seq), drop
        # in-batch replays, keep rows above the stored high-water mark.
        # The mark comparison runs on exact Python ints (a pandas .map would
        # promote to float64 via the NaN fill and lose int64 exactness past
        # 2^53 — seq is declared long).
        whole = whole.sort_values(["key", "seq"]).drop_duplicates(["key", "seq"])
        mask = [
            s > last.get(k2, -1)
            for k2, s in zip(whole["key"].tolist(), whole["seq"].tolist())
        ]
        fresh = whole[mask]
        if len(fresh):
            last.update(fresh.groupby("key", sort=False)["seq"].max().to_dict())
            state.update((list(last.keys()), [int(v) for v in last.values()]))
            yield fresh[_DEDUP_COLS]
            return
    state.update((list(last.keys()), [int(v) for v in last.values()]))


def stateful_seq_dedup(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Custom stateful streaming operator: per-key monotonic-seq filter.

    Input: the canonical change stream. Output: the stream minus replays
    (events whose seq <= the per-key maximum already seen). Keys with NULL
    key columns pass through grouped under the NULL key (they keep their own
    watermark). State: one long per (schema, tb, key), stored per bucket.

    Grouping is by (schema, tb, hash-bucket(key)) rather than the key
    itself: ``applyInPandasWithState`` invokes the Python function once per
    group per trigger, and at ~12k live keys that per-group call overhead
    dominated the operator (measured: the whole gate ~13 s with per-key
    groups). Bucketing keeps state partitioning deterministic (xxhash64 of
    the key, stable across triggers) while the per-bucket function handles
    its keys vectorized. ``_STATE_BUCKETS`` gives every state partition a
    few groups at any realistic shuffle width; results are bucket-count
    independent.
    """
    key = F.concat_ws(
        "\x01",
        *[
            F.coalesce(
                F.when(F.col("row_type") == "delete", F.col("before").getField(k))
                .otherwise(F.col("after").getField(k))
                .cast("string"),
                F.lit("\x00"),
            )
            for k in key_cols
        ],
    )
    slim = changes.select(
        "schema", "tb", "row_type", "seq", key.alias("key")
    ).withColumn("_bucket", F.pmod(F.xxhash64("key"), F.lit(_STATE_BUCKETS)))
    return slim.groupBy("schema", "tb", "_bucket").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def heartbeat_lag(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Downstream-lag metric: max event time seen (the heartbeat analogue,
    mysql_cdc_extractor.rs:468-540) — subtract from now() for lag."""
    return events.agg(
        F.max(ts_col).alias("max_event_ts"), F.count(F.lit(1)).alias("n_events")
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    lower_s: int = 0,
    upper_s: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with every
    right event of the same ``key`` whose timestamp falls in
    ``[left.ts + lower_s, left.ts + upper_s]`` seconds — the event-correlation
    operator (purchase -> follow-up error, impression -> click) Structured
    Streaming implements with symmetric join state.

    Both sides carry an event-time watermark and the join condition bounds
    event-time distance, which is exactly what lets Spark EVICT join state:
    a buffered left row can stop matching once the right watermark passes
    left.ts + upper_s (and vice versa), so state is bounded by the watermark
    horizon x arrival rate, not the stream length — the 100-TB contract.
    Works identically on batch frames (condition becomes a plain interval
    join; watermark is a no-op), so the streaming gate has an exact batch
    oracle. Choose ``watermark`` >= the real disorder bound: rows later than
    it are dropped by design.
    """
    l = left.alias("l")
    r = right.alias("r")
    if left.isStreaming:
        l = left.withWatermark(ts_col, watermark).alias("l")
    if right.isStreaming:
        r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (
            F.col(f"r.{ts_col}")
            >= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {lower_s} SECONDS")
        )
        & (
            F.col(f"r.{ts_col}")
            <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {upper_s} SECONDS")
        )
    )
    return l.join(r, cond, "inner")
