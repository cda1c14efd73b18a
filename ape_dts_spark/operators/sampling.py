"""Sampling operators.

Reference: source-side sampling via ``LIMIT ceil(rows * rate / 100)`` with the
row estimate from catalog stats or EXPLAIN
(dt-connector/src/extractor/mysql/mysql_snapshot_extractor.rs:1187-1275), and
checker-side deterministic key-hash sampling (docs/en/snapshot/check.md:7-15).

Spark-native: ``df.sample`` for rate sampling (pushed into the scan's row-group
iteration), and a deterministic key-mod / key-hash filter for repeatable check
sampling — the latter is reproducible across engines and across runs, which is
what a source↔target comparison needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_rate(df: DataFrame, rate_percent: float, seed: int = 42) -> DataFrame:
    """Bernoulli sampling at rate_percent (0-100]."""
    return df.sample(fraction=rate_percent / 100.0, seed=seed)


def mod_sample(df: DataFrame, key_col: str, modulus: int = 100, keep_below: int = 10) -> DataFrame:
    """Deterministic sampling: keep rows where key % modulus < keep_below.

    Engine-portable (same rows selected by any SQL engine), used by the checker
    for repeatable partial checks of huge tables.
    """
    return df.filter(F.pmod(F.col(key_col), F.lit(modulus)) < keep_below)
