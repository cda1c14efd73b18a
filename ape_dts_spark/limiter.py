"""Pipeline rate limiting — max_rps / max_mbps token buckets and buffer
capacity, the ``[extractor]``/``[sinker]`` knobs of the reference
(dt-common/src/limiter/: rate_limiter.rs governor quota per second,
buffer_limiter.rs:12-77 composing records+bytes limiters from
RateLimiterConfig/CapacityLimiterConfig; config keys task_config.rs:463-473).

Spark mapping: the unit of admission is the MICRO-BATCH, not the row — a
foreachBatch pipeline acquires its batch's (records, bytes) against the
bucket before applying, sleeping out any overdraft, which bounds sustained
throughput at the configured rate exactly like the reference's
``until_n_ready``. Static bounds compose with it: ``reader_options`` caps
batch size at the source (maxFilesPerTrigger / maxOffsetsPerTrigger), so a
single trigger can never overdraw more than one batch's worth.

A zero rate means unlimited (the reference logs and substitutes u32::MAX,
rate_limiter.rs:17-22 — same semantics here without the sentinel).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class TokenBucket:
    """Sustained-rate token bucket: capacity = one second's quota (the
    governor per-second shape). ``acquire`` blocks (sleeps) until n tokens
    accumulate; n larger than the capacity is still admitted — it just
    pre-pays the wait — unlike the reference, which errors on
    over-capacity acquires (rs:44-51); a micro-batch pipeline cannot split
    a batch, so waiting is the faithful translation."""

    rate: float  # tokens per second; <= 0 = unlimited
    clock: object = time.monotonic
    sleep: object = time.sleep
    _level: float = field(default=0.0, repr=False)
    _last: float | None = field(default=None, repr=False)

    def acquire(self, n: float) -> float:
        """Admit ``n`` units; returns seconds slept."""
        if self.rate <= 0 or n <= 0:
            return 0.0
        now = self.clock()
        if self._last is None:
            self._last = now
            self._level = self.rate  # start full: first batch passes
        self._level = min(self.rate, self._level + (now - self._last) * self.rate)
        self._last = now
        if n <= self._level:
            self._level -= n
            return 0.0
        deficit = n - self._level
        wait = deficit / self.rate
        self.sleep(wait)
        self._level = 0.0
        self._last = self.clock()
        return wait


def batch_bytes(columns: list[str]):
    """One row's byte charge: the length of the row's columns as JSON text,
    the same order of magnitude as the reference's malloc-size accounting
    on DtData."""
    from pyspark.sql import functions as F

    return F.length(F.to_json(F.struct(*columns)))


@dataclass
class PipelineLimiter:
    """The BufferLimiter composition: optional records/sec and bytes/sec
    buckets acquired together per batch (buffer_limiter.rs:79-99 loops all
    limiters)."""

    max_rps: int = 0
    max_mbps: int = 0
    clock: object = time.monotonic
    sleep: object = time.sleep

    def __post_init__(self) -> None:
        self._records = TokenBucket(float(self.max_rps), self.clock, self.sleep)
        self._bytes = TokenBucket(float(self.max_mbps) * 1024 * 1024, self.clock, self.sleep)

    def acquire(self, n_records: int, n_bytes: int = 0) -> float:
        slept = self._records.acquire(n_records)
        slept += self._bytes.acquire(n_bytes)
        return slept

    @property
    def wants_bytes(self) -> bool:
        return self.max_mbps > 0

    def admit_batch(self, batch) -> float:
        """Admit a micro-batch DataFrame: one agg computes (records, bytes)
        and both buckets acquire together (buffer_limiter.rs:79-99). Bytes =
        ``batch_bytes`` summed over the rows. The bytes agg only runs when
        max_mbps is configured; a pure max_rps limiter counts the batch. A
        caller that already summed both (``CdcPipeline``'s stats pass) calls
        ``acquire`` directly."""
        from pyspark.sql import functions as F

        if not self.wants_bytes:
            return self.acquire(batch.count())
        row = batch.agg(
            F.count(F.lit(1)).alias("n"), F.sum(batch_bytes(batch.columns)).alias("b"),
        ).collect()[0]
        return self.acquire(int(row["n"]), int(row["b"] or 0))

    def reader_options(self, trigger_secs: float = 1.0) -> dict:
        """Static source-side caps so one trigger cannot overdraw more than
        ~one budget interval (maps the reference's buffer_size admission to
        Spark reader knobs; apply to the options the source supports)."""
        if self.max_rps <= 0:
            return {}
        budget = max(1, int(self.max_rps * trigger_secs))
        return {"maxOffsetsPerTrigger": str(budget)}


def from_config(section) -> PipelineLimiter | None:
    """``[extractor]``/``[sinker]`` SectionConfig -> limiter (None when
    unconfigured), reading the reference's keys max_rps / max_mbps
    (task_config.rs:463-473)."""
    rps = section.get_int("max_rps", 0)
    mbps = section.get_int("max_mbps", 0)
    if rps <= 0 and mbps <= 0:
        return None
    return PipelineLimiter(max_rps=rps, max_mbps=mbps)
