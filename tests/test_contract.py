"""Driver-contract surface invariants: every queries() entry is oracle-
gated, no orphan oracles, and the 50-slot correctness window stays fully
populated (the external gate checks only the first 50 dict entries)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def test_every_query_is_oracle_gated():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs), "orphan oracle entries"
    missing = [q for q in qs if q not in oracles]
    assert not missing, f"queries without oracles: {missing}"


def test_window_is_full_and_callable():
    import __spark_entry__ as e

    qs = e.queries()
    names = list(qs)
    assert len(names) >= 50, "the driver checks 50 rows; keep the window full"
    assert len(set(names)) == len(names)
    assert all(callable(fn) for fn in qs.values())
