"""Rate limiting (limiter.py) — max_rps/max_mbps token buckets and their
micro-batch admission into CdcPipeline.

Reference parity: dt-common/src/limiter/rate_limiter.rs (governor
per-second quota; 0 = unlimited), buffer_limiter.rs:12-99 (records+bytes
composition, acquire loops all limiters), config keys
task_config.rs:463-473.
"""

import os

from ape_dts_spark.limiter import PipelineLimiter, TokenBucket, from_config


class Clock:
    def __init__(self):
        self.t = 100.0
        self.slept = []

    def now(self):
        return self.t

    def sleep(self, s):
        self.slept.append(s)
        self.t += s


def test_token_bucket_sustained_rate():
    c = Clock()
    b = TokenBucket(rate=100.0, clock=c.now, sleep=c.sleep)
    # first acquire passes on the full initial bucket
    assert b.acquire(100) == 0.0
    # immediately asking for another 100 must wait a full second
    w = b.acquire(100)
    assert abs(w - 1.0) < 1e-9
    # after real time passes, tokens accrue and no sleep is needed
    c.t += 0.5
    assert b.acquire(50) == 0.0


def test_token_bucket_overdraft_prepays():
    """A batch larger than one second's quota still admits — it pre-pays
    the wait (the faithful micro-batch translation of until_n_ready; the
    reference errors instead because it CAN split, rs:44-51)."""
    c = Clock()
    b = TokenBucket(rate=10.0, clock=c.now, sleep=c.sleep)
    b.acquire(10)  # drain the initial bucket
    w = b.acquire(35)
    assert abs(w - 3.5) < 1e-9


def test_zero_rate_unlimited():
    c = Clock()
    b = TokenBucket(rate=0.0, clock=c.now, sleep=c.sleep)
    assert b.acquire(10**9) == 0.0 and c.slept == []


def test_pipeline_limiter_composes_records_and_bytes():
    c = Clock()
    lim = PipelineLimiter(max_rps=100, max_mbps=1, clock=c.now, sleep=c.sleep)
    # 100 records fits the records bucket; 2 MiB overdraws the 1 MiB/s bucket
    slept = lim.acquire(100, 2 * 1024 * 1024)
    assert abs(slept - 1.0) < 1e-9  # 1 MiB deficit at 1 MiB/s
    assert lim.reader_options(2.0) == {"maxOffsetsPerTrigger": "200"}
    assert PipelineLimiter(max_rps=0).reader_options() == {}


def test_from_config_keys():
    from ape_dts_spark.config.task_config import TaskConfig

    cfg = TaskConfig.from_string(
        "[extractor]\ndb_type=mysql\nextract_type=cdc\nmax_rps=500\n"
        "[sinker]\ndb_type=mysql\nsink_type=write\n"
        "[filter]\n[router]\n[pipeline]\n[parallelizer]\n[runtime]\n"
    )
    lim = from_config(cfg.extractor)
    assert lim is not None and lim.max_rps == 500
    assert from_config(cfg.sinker) is None


def _debezium_pipe(spark, root, limiter):
    """A CdcPipeline over a fresh target under ``root`` and a two-insert
    Debezium batch for it."""
    from pyspark.sql import types as T

    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.streaming.cdc import CdcPipeline, parse_debezium, write_debezium_jsonl

    payload = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("name", T.StringType()),
        T.StructField("bal", T.LongType()),
    ])
    table = ParquetTable(spark, str(root / "tgt"), payload)
    pipe = CdcPipeline(spark, table, key_cols=["id"], limiter=limiter)

    def ev(i):
        return {"op": "c", "before": None, "after": {"id": i, "name": f"u{i}", "bal": i},
                "source": {"db": "d", "table": "t", "ts_ms": 1_700_000_000_000, "seq": i}}

    src = root / "src"
    src.mkdir(parents=True)
    write_debezium_jsonl([ev(1), ev(2)], os.path.join(src, "b1.jsonl"))
    return pipe, parse_debezium(spark.read.text(str(src)), payload)


def test_cdc_pipeline_throttles_batches(spark, tmp_path):
    """apply_batch acquires its record count: with a tiny max_rps, the
    second batch records throttle_sec > 0 while state stays correct."""
    from pyspark.sql import functions as F

    c = Clock()
    lim = PipelineLimiter(max_rps=2, clock=c.now, sleep=c.sleep)
    pipe, batch = _debezium_pipe(spark, tmp_path, lim)
    pipe.apply_batch(batch, batch_id=0)
    assert pipe.metrics[-1]["throttle_sec"] == 0.0  # initial bucket covers it
    pipe.apply_batch(batch.withColumn("seq", F.col("seq") + 10), batch_id=1)
    assert pipe.metrics[-1]["throttle_sec"] > 0.0  # bucket drained -> slept
    assert sorted(r["id"] for r in pipe.target.current().collect()) == [1, 2]


def test_rps_limiter_adds_no_job_to_apply_batch(spark, spark_jobs, tmp_path):
    """An rps-only limiter charges the record count apply_batch's stats agg
    already has: the limited batch runs as many Spark jobs as an unlimited
    one."""
    c = Clock()
    runs = {}
    for name, lim in [("unlimited", None), ("rps", PipelineLimiter(max_rps=2, clock=c.now, sleep=c.sleep))]:
        pipe, batch = _debezium_pipe(spark, tmp_path / name, lim)
        with spark_jobs() as jobs:
            pipe.apply_batch(batch, batch_id=0)
        runs[name] = jobs.n
    assert runs["rps"] == runs["unlimited"] > 0, runs


def test_mbps_limiter_rides_the_stats_pass(spark, spark_jobs, tmp_path):
    """A max_mbps limiter's byte sum rides apply_batch's observed stats
    pass: the limited batch runs as many Spark jobs as an unlimited one and
    is charged the batch's JSON byte length, counted as admit_batch's own
    agg counts it."""
    from pyspark.sql import functions as F

    class Recording(PipelineLimiter):
        def acquire(self, n_records, n_bytes=0):
            self.charged = (n_records, n_bytes)
            return super().acquire(n_records, n_bytes)

    c = Clock()
    runs = {}
    for name, lim in [("unlimited", None), ("mbps", Recording(max_mbps=1, clock=c.now, sleep=c.sleep))]:
        pipe, batch = _debezium_pipe(spark, tmp_path / name, lim)
        with spark_jobs() as jobs:
            pipe.apply_batch(batch, batch_id=0)
        runs[name] = jobs.n
    assert runs["mbps"] == runs["unlimited"] > 0, runs
    want = batch.agg(F.sum(F.length(F.to_json(F.struct(*batch.columns))))).first()[0]
    assert lim.charged == (2, want) and want > 0


def test_admit_batch_charges_bytes(spark):
    """max_mbps-only limiter must deduct real batch bytes (ADVICE r7: bytes
    bucket was silently a no-op when only max_mbps was set)."""
    c = Clock()
    lim = PipelineLimiter(max_rps=0, max_mbps=1, clock=c.now, sleep=c.sleep)
    # ~3 MiB of JSON payload -> 2 MiB overdraft at 1 MiB/s after the full
    # initial bucket -> ~2 s sleep
    import pyspark.sql.functions as F

    df = spark.range(3).select(F.lit("x" * (1024 * 1024)).alias("payload"))
    slept = lim.admit_batch(df)
    assert slept > 1.5, slept
    # rps-only limiter stays a plain count (no bytes agg)
    lim2 = PipelineLimiter(max_rps=1, max_mbps=0, clock=c.now, sleep=c.sleep)
    assert lim2.admit_batch(df) >= 0.0 and not lim2.wants_bytes
