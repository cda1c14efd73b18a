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


_WORKER_IMPORT = """
import sys
sys.path.insert(0, sys.argv[1])
from ape_dts_spark.session import get_spark

def kernel(batches):
    from ape_dts_spark.functions import dedup
    for pdf in batches:
        yield pdf.assign(n=dedup.N_HASHES)

rows = get_spark("worker-path").range(2).mapInPandas(kernel, "id long, n long").collect()
print(sorted((r.id, r.n) for r in rows))
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    # the workers must load the session's own tree even when neither their cwd
    # nor the environment names the checkout
    import os
    import subprocess

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    root = str(Path(__file__).resolve().parents[1])
    res = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORT, root],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == "[(0, 64), (1, 64)]"
