import pytest
from pyspark.sql import SparkSession

from knowledge_nexus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("knx-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_cached_frames():
    """After each module (and its own fixtures) tears down, release what its
    tests cached: the one test JVM is shared by every module, and frames a
    test persisted or localCheckpointed would otherwise hold storage memory
    for the rest of the run."""
    yield
    s = SparkSession.getActiveSession()
    if s is None:
        return
    s.catalog.clearCache()
    for rdd in s.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
