import sys
import uuid
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ape_dts_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", shuffle_partitions=4)


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` then ``jobs.n`` is the number of
    Spark jobs the block started on this thread (tagged through
    ``setJobGroup``, counted by the status tracker once the listener bus
    has drained)."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    @contextmanager
    def count():
        saved = {p: sc.getLocalProperty(p) for p in props}
        group = f"spark_jobs-{uuid.uuid4().hex}"
        jobs = SimpleNamespace(n=0)
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            for p, v in saved.items():
                sc.setLocalProperty(p, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count
