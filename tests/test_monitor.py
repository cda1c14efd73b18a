"""Monitoring counters (monitor.py — dt-common/src/monitor/** parity):
time-window aggregations with expiry, no-window accumulators, monitor.log
formatting, and the CDC pipeline ride-along."""

import pytest

from ape_dts_spark.monitor import Monitor, NoWindowCounter, TimeWindowCounter


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t


def test_time_window_aggregations():
    clk = FakeClock()
    c = TimeWindowCounter(window_secs=10, clock=clk)
    c.add(5, ts=1000.0)
    c.add(7, ts=1000.5)   # same second as ts=1000.0 bucket
    c.add(3, ts=1004.0)
    assert c.sum() == 15 and c.count() == 3
    assert c.avg() == 5.0
    assert c.avg_by_sec() == 1.5  # 15 / window(10)
    assert c.max() == 7
    assert c.max_by_sec() == 12   # the 1000-second bucket: 5 + 7


def test_time_window_expiry():
    clk = FakeClock()
    c = TimeWindowCounter(window_secs=10, clock=clk)
    c.add(100, ts=995.0)
    c.add(1, ts=1004.0)
    assert c.sum() == 101
    clk.t = 1006.0  # 995 now falls off the 10s window
    assert c.sum() == 1 and c.max() == 1 and c.max_by_sec() == 1


def test_no_window_latest():
    c = NoWindowCounter()
    c.add(10)
    c.add(5)
    assert c.latest() == 15


def test_monitor_log_lines():
    clk = FakeClock()
    m = Monitor(window_secs=10, clock=clk)
    m.add("extractor", "record_count", 13, ts=1000.0)
    m.add("sinker", "synced_record_count", 13)
    lines = m.log_lines()
    assert "extractor | record_count | avg_by_sec=1.3 | sum=13 | max_by_sec=13" in lines
    assert "sinker | synced_record_count | latest=13" in lines


def test_cdc_pipeline_monitor_ride_along(spark, tmp_path):
    import os

    from pyspark.sql import types as T

    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.streaming.cdc import CdcPipeline, parse_debezium, write_debezium_jsonl

    payload = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())])
    events = [
        {"op": "c", "after": {"id": 1, "v": 1},
         "source": {"db": "d", "table": "t", "ts_ms": 1700000000000, "seq": 1}},
        {"op": "c", "after": {"id": 2, "v": 2},
         "source": {"db": "d", "table": "t", "ts_ms": 1700000000001, "seq": 2}},
    ]
    src = tmp_path / "src"
    os.makedirs(src)
    write_debezium_jsonl(events, str(src / "b.jsonl"))
    table = ParquetTable(spark, str(tmp_path / "tbl"), payload)
    mon = Monitor(window_secs=60)
    pipe = CdcPipeline(spark, table, ["id"], monitor=mon)
    pipe.apply_batch(parse_debezium(spark.read.text(str(src)), payload), batch_id=0)
    rendered = "\n".join(mon.log_lines())
    assert "extractor | record_count" in rendered and "sum=2" in rendered
    assert "sinker | synced_record_count | latest=2" in rendered
    # the apply wall time (compact -> merge_apply -> commit) is reported
    # both as the monitor counter and in the batch metrics
    apply_ms = pipe.metrics[-1]["apply_ms"]
    assert apply_ms > 0
    (rt_line,) = [ln for ln in mon.log_lines() if ln.startswith("sinker | rt_per_batch_us |")]
    aggs = dict(kv.split("=") for kv in rt_line.split(" | ")[2:])
    assert set(aggs) == {"avg", "max"}
    assert float(aggs["max"]) == pytest.approx(apply_ms * 1e3, rel=1e-5)


def test_prometheus_exposition():
    clk = FakeClock()
    m = Monitor(window_secs=10, clock=clk)
    m.add("extractor", "record_count", 13, ts=1000.0)
    m.add("sinker", "synced_record_count", 13)
    lines = m.prometheus_lines()
    assert 'ape_dts_extractor_record_count{aggregation="sum"} 13' in lines
    assert 'ape_dts_sinker_synced_record_count{aggregation="latest"} 13' in lines
