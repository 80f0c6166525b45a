from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mare_spark.session import get_spark

    spark = get_spark("mare_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def cached_entries(spark) -> int:
    """Plans the session's cache manager currently holds."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
