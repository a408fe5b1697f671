from __future__ import annotations

import pytest

from database_per_keyword_analysis_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dpka-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn): the Spark jobs `fn()` runs, counted through a job
    group (the tests/test_stats.py idiom)."""
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        tag = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    return count


@pytest.fixture
def hdfs_scheme(monkeypatch):
    """Make the Hadoop FileSystem of every index path report scheme
    `hdfs`, so size-gated driver paths see non-local storage."""
    from database_per_keyword_analysis_spark.operators import scale as SC

    class Remote:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def getScheme(self):
            return "hdfs"

    local = SC._hadoop_path

    def remote(spark, path):
        p, fs = local(spark, path)
        return p, Remote(fs)

    monkeypatch.setattr(SC, "_hadoop_path", remote)
